package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ZOrder

class ZOrderSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("interleave places x bits at even and y bits at odd positions") {
    val d = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("x", "y")
    val r = d.select(ZOrder.interleave(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def ref(x: Long, y: Long): Long = (0 until 16).map(i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    assert(r === Seq(ref(0, 0), ref(1, 0), ref(0, 1), ref(3, 5),
      ref(65535, 65535)))
    assert(ref(1, 0) === 1L && ref(0, 1) === 2L)
  }

  test("z-order layout keeps BOTH dims tight per file; a sort keeps one") {
    // 64×64 grid, 16 files: z-order partitions the square into level-2
    // quadrants, so every file spans ≤ 1/4 of each dimension's range.
    // The x-sorted baseline keeps x tight but every file spans ALL of y.
    val grid = for { x <- 0 until 64; y <- 0 until 64 }
      yield (x.toLong * 64 + y, x.toLong, y.toLong)
    val d = grid.toDF("id", "x", "y")
    val zdir = tempDir("zorder_").toString
    val sdir = tempDir("xsort_").toString
    ZOrder.write(d, zdir, "x", "y", files = 16)
    d.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(sdir)
    def spans(dir: String): Seq[(Long, Long)] = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
      files.map { f =>
        val m = spark.read.parquet(f)
          .agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")))
          .head()
        (m.getLong(0), m.getLong(1))
      }
    }
    val z = spans(zdir)
    assert(z.nonEmpty)
    // range boundaries are SAMPLED, so a file may straddle a quadrant
    // edge — assert on span totals, which straddles barely move: ideal
    // z files span 15 in each dim (16 quadrants × ~15 ≈ 240), the
    // x-sorted baseline spans the FULL y range in every file (16 × 63
    // = 1008). Halfway (600) separates the regimes with wide margin.
    val (zxSum, zySum) = (z.map(_._1).sum, z.map(_._2).sum)
    assert(zxSum < 600 && zySum < 600, s"z spans too wide: $z")
    val s = spans(sdir)
    // the sorted baseline's y span is the full range in every file —
    // that's the skipping z-order buys on the second dimension
    assert(s.forall { case (_, ys) => ys === 63L })
  }

  test("z-written files hold exactly the input rows") {
    val d = (0 until 500).map(i => (i.toLong, (i * 7 % 100).toLong,
      (i * 13 % 100).toLong)).toDF("id", "x", "y")
    val dir = tempDir("zorder_rt_").toString
    ZOrder.write(d, dir, "x", "y", files = 4)
    val back = spark.read.parquet(dir)
    assert(back.columns.sorted.toSeq === Seq("id", "x", "y"))
    assert(back.select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      === (0L until 500L))
  }
}
