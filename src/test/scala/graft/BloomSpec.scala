package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bloom

class BloomSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("bloom has no false negatives over inserted keys") {
    val keys = (0L until 1000L).toDF("k")
    val words = Bloom.build(keys, "k")
    val misses = keys.where(!Bloom.mightContain(words, col("k"))).count()
    assert(misses === 0)
  }

  test("bloom false-positive rate is near the (k=2, m) design point") {
    val words = Bloom.build((0L until 1000L).toDF("k"), "k")
    // 10k keys guaranteed absent (disjoint range)
    val fps = (1000000L until 1010000L).toDF("k")
      .where(Bloom.mightContain(words, col("k"))).count()
    // design fp ≈ (2000/131072)^2 ≈ 2e-4 → expect ~2; generous bound
    assert(fps < 100, s"false positives: $fps")
  }

  test("null keys never pass the probe") {
    val words = Bloom.build((0L until 10L).toDF("k"), "k")
    val d = Seq(Option(5L), Option.empty[Long]).toDF("k")
    assert(d.where(Bloom.mightContain(words, col("k"))).count() === 1)
  }

  test("the bloom prunes most non-joining fact rows before the join") {
    val fact = Tables(spark, sf(), "lineitem")
    val dim = Tables(spark, sf(), "orders").where(col("o_totalprice") > 450000)
    val words = Bloom.build(dim.select(col("o_orderkey")), "o_orderkey")
    val kept = fact.where(Bloom.mightContain(words, col("l_orderkey"))).count()
    val total = fact.count()
    val trueMatch = fact.join(dim, col("l_orderkey") === col("o_orderkey")).count()
    // kept is the true-match rows plus a small fp margin
    assert(kept >= trueMatch)
    assert(kept <= trueMatch + total / 50, s"kept=$kept true=$trueMatch total=$total")
  }
}
