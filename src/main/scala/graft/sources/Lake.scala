package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.criteria.Criteria
import graft.Tables

/** The write side of the reference's lake layout (alerta.py:136-146
  * reads `year=/month=/day=/hour=` Athena partitions; startup.sh's
  * firehose writes them): events land hive-partitioned by UTC hour so
  * the alert engine's 2-hour window prunes to 2 directories at plan
  * time no matter how large the lake grows.
  *
  * Small-file discipline: a naive `partitionBy` write emits one file
  * per (task × partition) — at 1000 tasks × 24 hours that is 24k
  * files/day of KB-scale junk, the classic lake killer. We shuffle by
  * the partition key first (`repartition(partition cols)`), so each
  * hour writes exactly one file per shuffle partition that actually
  * holds that hour. `filesPerHour` salts the shuffle so one hot hour
  * can spread over several writers — an UPPER BOUND, not a guarantee:
  * (hour, salt) keys hash into `spark.sql.shuffle.partitions`
  * reducers, so the realized fan-out is capped by that setting and
  * thinned by hash collisions; size shuffle partitions ≥ the total
  * fan-out you want.
  */
object Lake {

  /** The four hive partition columns of the lake layout. */
  val partitionCols: Seq[String] = Seq("year", "month", "day", "hour")

  /** The layout prep of [[write]]: derive the UTC-hour partition
    * columns and drop rows with a null timestamp (no home partition;
    * the reference's firehose path would dead-letter them).
    */
  def partitionedByHour(df: DataFrame, tsCol: String = "ts"): DataFrame =
    Criteria.withPartitionColumns(df.where(col(tsCol).isNotNull), col(tsCol))

  /** Write `df` hive-partitioned by the UTC hour of `tsCol`. */
  def write(df: DataFrame, dir: String, tsCol: String = "ts",
      filesPerHour: Int = 1): DataFrame = {
    val cols = partitionCols
    val partitioned = partitionedByHour(df, tsCol)
    val spread =
      if (filesPerHour <= 1) partitioned.repartition(cols.map(col): _*)
      // salt the writer shuffle so one hot hour fans over N files
      else partitioned.repartition((cols.map(col) :+
        pmod(xxhash64(struct(df.columns.map(col): _*)), lit(filesPerHour))): _*)
    spread.write.mode(SaveMode.Overwrite).partitionBy(cols: _*).parquet(dir)
    read(df.sparkSession, dir)
  }

  /** Compact a lake directory in place of its small files: read
    * `dir`, shuffle back to ONE file per hive partition (the inverse
    * of [[write]]'s salted fan-out), and rewrite to `outDir`. The
    * nightly job that undoes streaming's per-batch file spray —
    * at 1000 executors a day of micro-batches leaves O(100k) KB-scale
    * files per table, and scan cost at 100 TB is dominated by file
    * OPEN overhead, not bytes. Row content is untouched (LakeSpec
    * pins parity); only layout changes.
    *
    * `filesPerPartition > 1` keeps a bounded fan-out for partitions
    * that outgrow one writer — same salting discipline as [[write]].
    */
  def compact(spark: SparkSession, dir: String, outDir: String,
      filesPerPartition: Int = 1): DataFrame = {
    val df = spark.read.option("basePath", dir).parquet(dir)
    val keys = partitionCols.map(col)
    val spread =
      if (filesPerPartition <= 1) df.repartition(keys: _*)
      else df.repartition((keys :+
        pmod(xxhash64(struct(df.columns.map(col): _*)),
          lit(filesPerPartition))): _*)
    spread.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(outDir)
    read(spark, outDir)
  }

  /** Read a lake directory back. Partition columns arrive as strings
    * (zero-padded, reference parity); equality predicates on them
    * prune at planning time (PlanSpec/LakeSpec assert the scan's
    * partition count).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    // hive partition discovery infers year=2024 as INT unless told
    // otherwise; the reference's Athena DDL types them as strings
    val raw = spark.read
      .option("basePath", dir)
      .parquet(dir)
    Tables.normalizeTs(raw)
  }
}
