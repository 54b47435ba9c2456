package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Skipping, ZOrder}

class SkippingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("manifest prunes files on BOTH z-ordered dimensions") {
    val grid = for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong * 64 + y, x.toLong, y.toLong)
    val dir = tempDir("skip_").toString + "/z"
    ZOrder.write(grid.toDF("id", "x", "y"), dir, "x", "y", files = 16)
    Skipping.buildManifest(spark, dir, Seq("x", "y"))
    val total = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    // a narrow range on EITHER dimension must drop most files — that
    // is the property a single-column sort cannot give on dim 2
    val cx = Skipping.candidateFiles(spark, dir, "x", 10, 20).size
    val cy = Skipping.candidateFiles(spark, dir, "y", 10, 20).size
    assert(cx <= total / 2, s"x-prune kept $cx of $total")
    assert(cy <= total / 2, s"y-prune kept $cy of $total")
    // and the pruned read returns exactly the full-scan answer
    val got = Skipping.readRange(spark, dir, "y", 10, 20)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = grid.filter(g => g._3 >= 10 && g._3 <= 20).map(_._1).sorted
    assert(got === want)
  }

  test("empty range reads empty; full range reads everything") {
    val d = (0L until 100L).map(i => (i, i % 10, i / 10)).toDF("id", "x", "y")
    val dir = tempDir("skip2_").toString + "/z"
    ZOrder.write(d, dir, "x", "y", files = 4)
    Skipping.buildManifest(spark, dir, Seq("x", "y"))
    assert(Skipping.readRange(spark, dir, "x", 1000, 2000).count() === 0)
    assert(Skipping.readRange(spark, dir, "x", 0, 9).count() === 100)
  }
}
