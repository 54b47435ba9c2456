package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bloom
import graft.sources.BloomSkipping

class BloomSkippingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("driver posLong is bit-identical to the Column pos") {
    // the index is built with the Column path and probed with the
    // driver path — any divergence silently turns pruning into data
    // loss, so pin parity across sign and magnitude extremes
    val keys = Seq(0L, 1L, 63L, 64L, 1000003L, -1L, -1000003L,
      Int.MaxValue.toLong, Long.MaxValue / 2, -(1L << 40), 123456789L)
    for (mBits <- Seq(1 << 10, 1 << 16); salt <- Seq(0L, Bloom.Salt)) {
      val got = keys.toDF("k")
        .select(Bloom.pos(col("k"), salt, mBits).as("p"))
        .collect().map(_.getLong(0)).toSeq
      val want = keys.map(Bloom.posLong(_, salt, mBits))
      assert(got === want, s"mBits=$mBits salt=$salt")
    }
  }

  test("index prunes files a key is absent from; read equals full scan") {
    // 8 files, keys range-clustered so each key lives in exactly one
    // file — the layout the index should rediscover from bits alone
    val rows = (0L until 512L).map(k => (k, s"v$k"))
    val dir = tempDir("bloomidx_").toString + "/t"
    rows.toDF("k", "v").repartitionByRange(8, col("k"))
      .write.parquet(dir)
    BloomSkipping.buildIndex(spark, dir, "k", mBits = 1 << 13)
    val total = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(total === 8)

    val cand = BloomSkipping.candidateFiles(spark, dir, Seq(100L))
    assert(cand.nonEmpty && cand.size <= 2, s"kept ${cand.size} of $total")

    val got = BloomSkipping.readKeys(spark, dir, "k", Seq(100L, 300L, 501L))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    assert(got === Seq((100L, "v100"), (300L, "v300"), (501L, "v501")))
  }

  test("absent keys read empty; nulls in the key column are harmless") {
    val dir = tempDir("bloomidx2_").toString + "/t"
    Seq(Some(1L), Some(2L), None, Some(3L)).toDF("k")
      .withColumn("v", col("k") * 10).repartition(2)
      .write.parquet(dir)
    BloomSkipping.buildIndex(spark, dir, "k")
    assert(BloomSkipping.readKeys(spark, dir, "k", Seq(99L)).count() === 0L)
    assert(BloomSkipping.readKeys(spark, dir, "k", Seq(2L))
      .select("v").as[Long].collect().toSeq === Seq(20L))
  }
}
