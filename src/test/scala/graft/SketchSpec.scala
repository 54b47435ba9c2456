package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Approximate-sketch surface: error bounds of the fixed-size
  * aggregates a 100 TB pipeline uses where exact shuffles don't scale.
  */
class SketchSpec extends AnyFunSuite with SparkSuite {

  test("approx_count_distinct (HLL++) stays within its rsd bound") {
    val rows = Tables(spark, sf(), "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("approx"),
        countDistinct(col("user_id")).as("exact"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (approx, exact) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      // 2% rsd → 3-sigma bound ~6%; generous margin keeps this stable
      assert(math.abs(approx - exact) / exact <= 0.06,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("approx_percentile tracks the exact interpolated percentile") {
    val rows = Tables(spark, sf(), "events")
      .groupBy("event_type")
      .agg(expr("approx_percentile(value, 0.5, 1000)").as("approx_p50"),
        expr("percentile(value, 0.5)").as("exact_p50"),
        expr("min(value)").as("lo"), expr("max(value)").as("hi"))
      .collect()
    rows.foreach { r =>
      val (ap, ep) = (r.getDouble(1), r.getDouble(2))
      val span = r.getDouble(4) - r.getDouble(3)
      // approx_percentile returns a real data value within rank
      // accuracy 1/1000 of the true percentile; bound the value gap by
      // a small fraction of the group's range
      assert(math.abs(ap - ep) <= math.max(span * 0.05, 1e-6),
        s"${r.getString(0)}: approx=$ap exact=$ep span=$span")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // local files are tiny; drop the size gates so the rule fires the
      // same way it would on a 100 TB fact table
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val l = Tables(spark, sf(), "lineitem")
      val p = Tables(spark, sf(), "part").where(col("p_size") <= 2)
      val q = l.join(p, col("l_partkey") === col("p_partkey")).groupBy("p_brand").count()
      val optimized = q.queryExecution.optimizedPlan.toString.toLowerCase
      assert(optimized.contains("bloom"),
        s"expected an injected bloom filter in:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("DataSketches HLL state round-trips parquet and unions losslessly") {
    import spark.implicits._
    // sketch built in two halves, persisted, unioned on read-back ==
    // sketch built in one pass over everything — merge associativity
    // is what makes yesterday's sketch reusable tomorrow
    val d = (1L to 3000L).map(i => (i % 2, i % 701)).toDF("half", "v")
    val dir = tempDir("hll_rt_").toString
    d.groupBy("half").agg(hll_sketch_agg(col("v"), lit(12)).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    val onePass = d.agg(
      hll_sketch_estimate(hll_sketch_agg(col("v"), lit(12))).as("est"))
      .head().getLong(0)
    assert(merged === onePass)
    // and the estimate is exact-adjacent at this cardinality (701 « 2^12)
    assert(math.abs(merged - 701L) <= 701L / 20)
  }

  test("HLL partial aggregation: the distinct shuffle carries sketches, not values") {
    val plan = Tables(spark, sf(), "events")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("u"))
      .queryExecution.executedPlan.toString
    // partial_approx_count_distinct before the exchange = map-side
    // sketch merge; exact countDistinct would instead expand + shuffle
    // every distinct pair
    assert(plan.contains("partial_approx_count_distinct"))
  }
}
