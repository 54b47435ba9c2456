package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable

class VersionedTableSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
  def tmp(): String =
    tempDir("vt_").toString + "/t"
  def row(k: Long, id: Long, m: Int, v: String, del: Boolean = false) =
    (k, id, ts(m), v, del)
  def toDf(rows: Seq[(Long, Long, Timestamp, String, Boolean)]): DataFrame =
    rows.toDF("k", "event_id", "ts", "v", "deleted")
  def state(dir: String, version: Int = -1): Map[Long, String] =
    VersionedTable.read(spark, dir, version).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap

  test("time travel: every version stays readable as it was") {
    val dir = tmp()
    VersionedTable.merge(spark, dir, toDf(Seq(
      row(1, 10, 1, "a1"), row(2, 11, 1, "b1"))), "k")
    VersionedTable.merge(spark, dir, toDf(Seq(
      row(1, 12, 5, "a2"), row(3, 13, 5, "c1"))), "k")
    VersionedTable.merge(spark, dir, toDf(Seq(
      row(2, 14, 9, "x", del = true))), "k")
    assert(VersionedTable.currentVersion(dir) === 3)
    assert(state(dir, 1) === Map(1L -> "a1", 2L -> "b1"))
    assert(state(dir, 2) === Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
    assert(state(dir, 3) === Map(1L -> "a2", 3L -> "c1")) // k=2 deleted
    assert(state(dir) === state(dir, 3))                  // latest = v3
  }

  test("untouched buckets share files across versions (merge cost = delta)") {
    val dir = tmp()
    VersionedTable.merge(spark, dir,
      toDf((0L until 64L).map(k => row(k, k, 1, s"v$k"))), "k")
    VersionedTable.merge(spark, dir, toDf(Seq(row(7, 100, 9, "v7b"))), "k")
    // v2's manifest must re-point at v1's directories everywhere
    // except key 7's bucket
    def live(v: Int): Map[Int, String] = {
      val f = new java.io.File(s"$dir/_log", f"v$v%05d.json")
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "\"(\\d+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
        .map(m => m.group(1).toInt -> m.group(2)).toMap
    }
    val (v1, v2) = (live(1), live(2))
    val repointed = v2.filter { case (b, p) => v1.get(b).contains(p) }
    assert(v2.size === v1.size)
    assert(v1.size - repointed.size === 1, "exactly one bucket rewritten")
    assert(state(dir)(7L) === "v7b" && state(dir).size === 64)
  }

  test("stale updates lose against history exactly as in KeyedTable") {
    val dir = tmp()
    VersionedTable.merge(spark, dir, toDf(Seq(row(1, 10, 8, "new"))), "k")
    VersionedTable.merge(spark, dir, toDf(Seq(row(1, 11, 2, "old"))), "k")
    assert(state(dir) === Map(1L -> "new")) // v2 keeps the newer row
    assert(state(dir, 1) === Map(1L -> "new"))
  }
}
