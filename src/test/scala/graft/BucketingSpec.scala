package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Bucketing

/** Pins the co-located-join contract (q67): both sides bucketed on
  * the join key with equal bucket counts → the sort-merge join runs
  * with ZERO shuffle exchanges, and the result is row-identical to
  * the plain (shuffled) join.
  */
class BucketingSpec extends AnyFunSuite with SparkSuite {

  private def at(table: String): String = s"${tempDir("buckets_")}/$table"

  test("bucketed join is exchange-free and row-identical to the plain join") {
    val o = Tables(spark, sf(), "orders").select("o_orderkey", "o_orderpriority")
    val l = Tables(spark, sf(), "lineitem").select("l_orderkey", "l_extendedprice")
    Bucketing.writeBucketed(o, "t_orders_b", "o_orderkey", 4, at("t_orders_b"))
    Bucketing.writeBucketed(l, "t_lineitem_b", "l_orderkey", 4, at("t_lineitem_b"))

    val joined = Bucketing.colocatedJoin(
      spark.table("t_orders_b"), spark.table("t_lineitem_b"),
      "o_orderkey", "l_orderkey")
    // materialize first: under AQE the final plan exists only after run
    val n = joined.count()
    assert(n === o.join(l, col("o_orderkey") === col("l_orderkey")).count())

    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
    assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")

    // value check on a sample row set: bucketing must not change rows
    val a = joined.groupBy("o_orderpriority").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val b = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }

  test("writeBucketed is re-runnable: same table name overwrites cleanly") {
    val o = Tables(spark, sf(), "orders").select("o_orderkey", "o_orderpriority")
    val path = at("t_orders_rw")
    Bucketing.writeBucketed(o, "t_orders_rw", "o_orderkey", 2, path)
    // external-table drop leaves files; a second write must not trip
    // the non-empty-location CTAS guard
    Bucketing.writeBucketed(o, "t_orders_rw", "o_orderkey", 2, path)
    assert(spark.table("t_orders_rw").count() === o.count())
  }

  test("writeBucketed lands one file per bucket (no small-file fan-out)") {
    val o = Tables(spark, sf(), "orders").select("o_orderkey", "o_orderpriority")
    Bucketing.writeBucketed(o, "t_orders_files", "o_orderkey", 4,
      at("t_orders_files"))
    val loc = spark.sql("DESCRIBE TABLE EXTENDED t_orders_files").collect()
      .find(_.getString(0) == "Location").map(_.getString(1)).get
    val files = new java.io.File(new java.net.URI(loc))
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === 4, files.map(_.getName).mkString(", "))
  }
}
