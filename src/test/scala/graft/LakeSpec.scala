package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Lake

/** Write side of the hour-partitioned lake layout (Lake.write) plus
  * the property that justifies it: equality predicates on the derived
  * partition columns prune the read to the matching directories at
  * planning time.
  */
class LakeSpec extends AnyFunSuite with SparkSuite {

  private lazy val tmp = tempDir("graft-lake-spec").toString

  test("round-trip preserves rows; null timestamps are dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "2024-03-05 10:15:00", "a"),
      (2L, "2024-03-05 11:20:00", "b"),
      (3L, "2024-03-05 11:40:00", "c"))
      .toDF("id", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
      .union(Seq((4L, null: String, "d")).toDF("id", "ts", "v")
        .withColumn("ts", col("ts").cast("timestamp")))
    val dir = s"$tmp/rt"
    val back = Lake.write(df, dir)
    // row 4 has no home partition; the other three survive intact
    assert(back.count() == 3)
    assert(back.select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // partition values are zero-padded strings, Athena-DDL style
    assert(back.select("month").distinct().as[String].collect().toSet == Set("03"))
    assert(back.where(col("hour") === "10").count() == 1)
  }

  test("hour-equality predicates prune the scan to one directory") {
    import spark.implicits._
    val df = (0 until 48).map(h =>
        (h.toLong, f"2024-03-${5 + h / 24}%02d ${h % 24}%02d:00:00", "x"))
      .toDF("id", "ts", "v")
    val dir = s"$tmp/prune"
    val withTs = df.withColumn("ts", col("ts").cast("timestamp"))
    Lake.write(withTs, dir)
    val pruned = Lake.read(spark, dir).where(
      col("year") === "2024" && col("month") === "03" &&
        col("day") === "05" && col("hour") === "07")
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.relation.partitionSchema.nonEmpty)
    // one hour directory selected out of 48
    assert(scans.head.selectedPartitions.partitionCount == 1)
    assert(pruned.count() == 1)
  }

  test("compact collapses a fanned-out hour back to one file, rows intact") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, "2024-03-05 10:00:30", s"v$i"))
      .toDF("id", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val src = s"$tmp/compact_src"
    val out = s"$tmp/compact_out"
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minP = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val (adv0, minP0) = (spark.conf.get(adv, "64MB"), spark.conf.get(minP, "1MB"))
    spark.conf.set(adv, "1b"); spark.conf.set(minP, "1b")
    try Lake.write(df, src, filesPerHour = 4)
    finally { spark.conf.set(adv, adv0); spark.conf.set(minP, minP0) }
    def files(root: String) = new java.io.File(
      s"$root/year=2024/month=03/day=05/hour=10")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(src) > 1) // the spray compact exists to undo
    val back = Lake.compact(spark, src, out)
    assert(files(out) == 1)
    // content parity: same ids, same payloads
    assert(back.select("id", "v").orderBy("id").collect().toSeq ===
      df.select("id", "v").orderBy("id").collect().toSeq)
  }

  test("filesPerHour spreads one hot hour over several files") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, "2024-03-05 10:00:30", s"v$i"))
      .toDF("id", "ts", "v")
      .withColumn("ts", col("ts").cast("timestamp"))
    val dir = s"$tmp/fan"
    // at real scale a hot hour's salt partitions each exceed AQE's
    // 64MB advisory size and stay separate writers; at toy scale AQE
    // would re-merge them — shrink the advisory floor so the fan-out
    // mechanism itself is what's under test
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val minP = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val (adv0, minP0) = (spark.conf.get(adv, "64MB"), spark.conf.get(minP, "1MB"))
    spark.conf.set(adv, "1b"); spark.conf.set(minP, "1b")
    try Lake.write(df, dir, filesPerHour = 4)
    finally { spark.conf.set(adv, adv0); spark.conf.set(minP, minP0) }
    val hourDir = new java.io.File(
      s"$dir/year=2024/month=03/day=05/hour=10")
    val parts = hourDir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts > 1, s"expected >1 parquet files, got $parts")
    assert(Lake.read(spark, dir).count() == 100)
  }
}
