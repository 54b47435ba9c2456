package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketed-table writer: the co-located-join layout. A fact table
  * bucketed by its join key joins another table bucketed by the same
  * key (same bucket count) with NO shuffle of either side — the scan
  * itself reports `HashPartitioning(key, n)`, so `EnsureRequirements`
  * inserts no Exchange. At 100 TB this converts the nightly
  * orders⋈lineitem from a full two-sided shuffle into a local merge
  * per bucket; BucketingSpec pins the exchange-free plan shape.
  *
  * The reference has no persistent layout layer (every Athena query
  * re-shuffles inside Presto); this is the Spark-native answer to the
  * same recurring-join workload.
  */
object Bucketing {

  /** Write `df` as a bucketed, per-bucket-sorted external parquet
    * table at `path`. The pre-write `repartition(buckets, key)` uses
    * the SAME Murmur3 hash as the bucketing spec, so each write task
    * holds exactly one bucket → one file per bucket (no small-file
    * fan-out, and per-bucket sort order survives in a single run).
    * Overwrite mode replaces an existing table of that name and the
    * files at `path` (dropping an EXTERNAL table alone leaves them).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int, path: String): Unit =
    df.repartition(buckets, col(bucketCol))
      .write.format("parquet").mode("overwrite")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .option("path", path)
      .saveAsTable(table)

  /** Shuffle-free equi-join of two tables bucketed on the join keys
    * with equal bucket counts. The `merge` hint pins sort-merge (a
    * broadcast pick would hide the bucketing story the layout paid
    * for — and at 100 TB neither side broadcasts anyway).
    */
  def colocatedJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String): DataFrame =
    left.join(right.hint("merge"), col(leftKey) === col(rightKey))
}
