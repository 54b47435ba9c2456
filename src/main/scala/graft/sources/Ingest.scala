package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Lake-ingest helpers (S13/S14/P9).
  *
  * `jsonBlocks` ports the reference's brace-balancing tokenizer
  * (utils/helpers.py:13-32): some log shippers concatenate JSON
  * objects with no delimiter (`{..}{..}{..}`); this splits them into
  * one object per element. Intentional divergence: this version is
  * string-aware (braces inside quoted strings don't count), where the
  * reference miscounts on payloads containing literal braces — a
  * strictly-more-correct superset. Used via flatMap over whole-file
  * text — each blob splits independently, so ingest parallelizes per
  * file.
  */
object Ingest {

  /** Split a blob of concatenated JSON objects into complete objects. */
  def splitJsonBlocks(blob: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = -1
    var inString = false
    var escaped = false
    var i = 0
    while (i < blob.length) {
      val c = blob.charAt(i)
      if (inString) {
        if (escaped) escaped = false
        else if (c == '\\') escaped = true
        else if (c == '"') inString = false
      } else c match {
        case '"' if depth > 0 => inString = true
        case '{' =>
          if (depth == 0) start = i
          depth += 1
        case '}' if depth > 0 =>
          depth -= 1
          if (depth == 0) out += blob.substring(start, i + 1)
        case _ =>
      }
      i += 1
    }
    out.result()
  }

  /** Distributed form: dataset of blobs → dataset of JSON objects. */
  def jsonBlocks(blobs: Dataset[String]): Dataset[String] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap(splitJsonBlocks _)
  }

  /** CloudTrail delivery filename classifier (P9,
    * utils/helpers.py:10,39-41) as a plan-side predicate on
    * input_file_name — case-insensitive like the reference's re.I.
    */
  def isCloudtrailFile = input_file_name().rlike("(?i)\\d+_cloudtrail_.+\\.json\\.gz$")

  /** WARC-lite record splitter — the crawl-native container's text
    * profile, the S13 tokenizer family applied to fetcher output:
    * concatenated `WARC/1.0` records explode into one row each with
    * the three headers a curation pipeline routes on (type, target
    * URI, declared content length) extracted case-insensitively and
    * the payload as the text between the header block's blank line
    * and the next record (trailing newlines stripped).
    *
    * Deliberate profile bounds (documented, not hidden): this is the
    * TEXT profile — payloads carrying a literal line `WARC/1.0` split
    * early and byte-exact `Content-Length` framing of binary payloads
    * is the DSv2 binary source's job, not a column program's. The
    * declared length is carried through (`content_length`) so a
    * consumer can audit mismatches.
    *
    * Scale shape: pure per-row column program (split + regex
    * extracts), map-only in the scan; one posexplode per record — no
    * shuffle, no UDF.
    */
  def warcRecords(df: DataFrame, textCol: String = "body",
      idCol: String = "doc_id"): DataFrame = {
    val recs = filter(
      split(regexp_replace(col(textCol), "\r", ""), "(?m)^WARC/1\\.0\n"),
      r => r =!= "")
    df.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(recs).as(Seq("rec_idx", "rec")))
      .withColumn("head", regexp_extract(col("rec"), "(?s)^(.*?)\n\n", 1))
      .withColumn("warc_type", nullIfEmpty(regexp_extract(col("head"),
        "(?im)^warc-type: *(.*?) *$", 1)))
      .withColumn("target_uri", nullIfEmpty(regexp_extract(col("head"),
        "(?im)^warc-target-uri: *(.*?) *$", 1)))
      .withColumn("content_length", expr(
        "try_cast(regexp_extract(head, '(?im)^content-length: *([0-9]+) *$', 1) AS BIGINT)"))
      .withColumn("payload", regexp_replace(
        regexp_extract(col("rec"), "(?s)^.*?\n\n(.*)$", 1), "\n+$", ""))
      .select("doc_id", "rec_idx", "warc_type", "target_uri",
        "content_length", "payload")
  }

  private def nullIfEmpty(c: org.apache.spark.sql.Column) =
    when(c === "", null).otherwise(c)
}
