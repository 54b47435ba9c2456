package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Temporal

/** Versioned keyed table — [[KeyedTable]]'s LWW upsert semantics plus
  * a transaction log, giving TIME TRAVEL: every merge writes NEW
  * per-bucket directories (history is never overwritten) and appends
  * a version manifest mapping each hash bucket to the directory that
  * currently holds it. Reading version v resolves v's manifest;
  * untouched buckets keep POINTING at older transactions' files, so
  * a merge costs its delta and history costs nothing extra — the
  * Delta/Iceberg snapshot idea reduced to its relational core.
  *
  *   dir/
  *     _log/v00001.json   {"version":1,"live":{"3":"data/t1/bucket=3",…}}
  *     data/t1/bucket=3/…parquet      (written by txn 1, immutable)
  *     data/t2/bucket=3/…parquet      (txn 2 superseded bucket 3)
  *
  * The manifest is bucket-count-sized (driver-trivial at any table
  * size); the rewrite quantum is the bucket, as in [[KeyedTable]].
  * Tombstones ride in history like any row — so "key k at version v"
  * answers exactly what the table said then, deletes included.
  */
object VersionedTable {

  private def logDir(dir: String) = new java.io.File(dir, "_log")

  /** Highest committed version, 0 if the table doesn't exist yet. */
  def currentVersion(dir: String): Int = {
    val d = logDir(dir)
    if (!d.exists()) 0
    else d.listFiles().map(_.getName)
      .collect { case n if n.matches("v\\d+\\.json") =>
        n.stripPrefix("v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  private def liveMap(dir: String, version: Int): Map[Int, String] = {
    val f = new java.io.File(logDir(dir), f"v$version%05d.json")
    require(f.exists(), s"version $version not in the log at $dir")
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    // manifest shape is flat and self-written — a targeted parse keeps
    // this dependency-free ("bucket":"path" pairs inside "live")
    "\"(\\d+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1).toInt -> m.group(2)).toMap
  }

  /** One scan per TRANSACTION directory (buckets sharing a txn read
    * together with the txn as basePath, so the hive `bucket=` column
    * comes back as a partition column) — a version touching 16
    * buckets across 3 txns costs 3 reads, not 16.
    */
  private def readLive(spark: SparkSession, dir: String,
      live: Map[Int, String]): DataFrame = {
    live.toSeq
      .groupBy { case (_, rel) => rel.substring(0, rel.indexOf("/bucket=")) }
      .toSeq.sortBy(_._1)
      .map { case (txnRel, entries) =>
        spark.read.option("basePath", s"$dir/$txnRel")
          .parquet(entries.map { case (_, rel) => s"$dir/$rel" }: _*)
          .withColumn("bucket", col("bucket").cast("long"))
      }
      .reduce(_.unionByName(_))
  }

  /** Read version `v` (default: latest) — tombstones filtered. */
  def read(spark: SparkSession, dir: String, version: Int = -1): DataFrame = {
    val v = if (version > 0) version else currentVersion(dir)
    require(v > 0, s"no committed version at $dir")
    readLive(spark, dir, liveMap(dir, v))
      .where(!col("deleted")).drop("bucket")
  }

  /** LWW-merge `source` as a new committed version; returns the new
    * version's read view. Same contract as [[KeyedTable.merge]] —
    * associative and commutative across batches — plus history.
    */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keyCol: String, tsCol: String = "ts", tieCol: String = "event_id",
      buckets: Int = 16): DataFrame = {
    val withDel =
      if (source.columns.contains("deleted")) source
      else source.withColumn("deleted", lit(false))
    val src = withDel
      .withColumn("bucket", KeyedTable.bucketOf(col(keyCol), buckets))
      .localCheckpoint() // ONE source pass: touched-list + merge reuse it
    val touched = src.select("bucket").distinct()
      .collect().map(_.getLong(0).toInt).sorted
    val v = currentVersion(dir)
    val live = if (v == 0) Map.empty[Int, String] else liveMap(dir, v)
    val touchedLive = touched.flatMap(b => live.get(b).map(b -> _)).toMap
    val tgt = if (touchedLive.isEmpty) None
      else Some(readLive(spark, dir, touchedLive))
    val merged = Temporal.latestByKey(
      tgt.fold(src)(t => t.unionByName(src)), Seq(keyCol), tsCol, tieCol)
    val txn = s"data/t${v + 1}"
    merged.write.mode(SaveMode.ErrorIfExists)
      .partitionBy("bucket").parquet(s"$dir/$txn")
    // a txn only materializes buckets it holds rows for — resolve the
    // ACTUAL directories written, not the requested touch list
    val written = new java.io.File(s"$dir/$txn").listFiles()
      .map(_.getName).collect { case n if n.startsWith("bucket=") =>
        n.stripPrefix("bucket=").toInt }
    val newLive = live ++ written.map(b => b -> s"$txn/bucket=$b")
    val entries = newLive.toSeq.sortBy(_._1)
      .map { case (b, p) => s""""$b":"$p"""" }.mkString(",")
    val json = s"""{"version":${v + 1},"live":{$entries}}"""
    logDir(dir).mkdirs()
    val tmp = new java.io.File(logDir(dir), s".v${v + 1}.tmp")
    java.nio.file.Files.write(tmp.toPath, json.getBytes("UTF-8"))
    val fin = new java.io.File(logDir(dir), f"v${v + 1}%05d.json")
    require(tmp.renameTo(fin), s"commit race: ${fin.getName} exists")
    read(spark, dir)
  }
}
