package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[Scratch]] lifecycle: every query that writes files for
  * itself does so in a directory of its own call, deleted before the
  * call returns, and no call reuses data an earlier call derived.
  */
class ScratchSpec extends AnyFunSuite with SparkSuite {

  val writers: Seq[String] = Seq(
    "q39_csv_roundtrip", "q75_jsonl_roundtrip", "q76_orc_roundtrip",
    "q51_lake_roundtrip", "q57_incremental_dedup_served",
    "q108_lake_compact", "q109_dpp_join", "q114_hll_persist_union",
    "q119_keyed_merge", "q122_file_skipping", "q126_corrupt_quarantine",
    "q134_schema_evolution", "q135_time_travel", "q136_version_diff",
    "q137_keyed_purge", "q143_bloom_point_lookup",
    "q325_jsonblocks_v2_source", "q412_warc_binary_source",
    "q414_warc_image_chain", "q417_warc_html_text_chain",
    "q120_stream_upsert", "q361_seq_batch_stream_equiv",
    "q67_bucketed_join")

  /** Scale per writer: at sf0.001 the user ids are 0–14, so q122's
    * user_id range and q137's surviving keys hold no row there. */
  private val scaleOf: Map[String, String] = Map(
    "q122_file_skipping" -> "sf0.01", "q137_keyed_purge" -> "sf0.01")
    .withDefaultValue("sf0.001")

  test("a second call of each directory-writing query returns the same " +
      "rows, and no call leaves a file in the scratch root") {
    def call(q: String): Seq[String] = {
      val df = SparkEntry.queries(q)(spark, sf(scaleOf(q)))
      assert(Scratch.root.list().isEmpty, q)
      df.collect().toSeq.map(_.toString).sorted
    }
    for (q <- writers) {
      val first = call(q)
      val second = call(q)
      assert(first.nonEmpty, q)
      assert(second === first, q)
    }
  }

  test("each call of q211 scans lineitem: no call reads the graph an " +
      "earlier call derived") {
    val s = spark.newSession()
    def lineitemScans(): Int = executionsOf(s) {
      SparkEntry.queries("q211_kcore")(s, sf()).collect(): Unit
    }.count(_.sparkPlan.collect { case f: FileSourceScanExec => f }
      .exists(_.relation.location.rootPaths.exists(_.getName == "lineitem.parquet")))
    val first = lineitemScans()
    val second = lineitemScans()
    assert(first > 0 && second > 0, (first, second))
  }
}
