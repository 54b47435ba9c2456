package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KeyedTable

class KeyedTableSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  def ts(m: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
  def tmp(): String =
    tempDir("keyed_").toString + "/t"

  def row(k: Long, id: Long, m: Int, v: String, del: Boolean = false) =
    (k, id, ts(m), v, del)
  def toDf(rows: Seq[(Long, Long, Timestamp, String, Boolean)]): DataFrame =
    rows.toDF("k", "event_id", "ts", "v", "deleted")
  def state(dir: String): Map[Long, (Long, String)] =
    KeyedTable.read(spark, dir).collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("event_id"), r.getAs[String]("v"))).toMap

  test("LWW: newer wins, stale update loses, tombstone deletes and revives") {
    val dir = tmp()
    KeyedTable.merge(spark, dir, toDf(Seq(
      row(1, 10, 5, "a"), row(2, 11, 5, "b"))), "k", tieCol = "event_id")
    // newer row for k=1; STALE row for k=2 (older ts) must lose
    KeyedTable.merge(spark, dir, toDf(Seq(
      row(1, 12, 9, "a2"), row(2, 9, 1, "stale"))), "k", tieCol = "event_id")
    assert(state(dir) === Map(1L -> (12L, "a2"), 2L -> (11L, "b")))
    // tombstone k=1 at m=10: gone from the read view
    KeyedTable.merge(spark, dir, toDf(Seq(
      row(1, 13, 10, "x", del = true))), "k", tieCol = "event_id")
    assert(state(dir) === Map(2L -> (11L, "b")))
    // a stale update (m=7 < tombstone's m=10) must NOT resurrect
    KeyedTable.merge(spark, dir, toDf(Seq(
      row(1, 14, 7, "zombie"))), "k", tieCol = "event_id")
    assert(state(dir) === Map(2L -> (11L, "b")))
    // a genuinely newer write revives the key
    KeyedTable.merge(spark, dir, toDf(Seq(
      row(1, 15, 11, "alive"))), "k", tieCol = "event_id")
    assert(state(dir) === Map(1L -> (15L, "alive"), 2L -> (11L, "b")))
  }

  test("merge rewrites ONLY the touched bucket directories") {
    val dir = tmp()
    // keys 0..63 spread over all 16 buckets
    KeyedTable.merge(spark, dir,
      toDf((0L until 64L).map(k => row(k, k, 1, s"v$k"))), "k",
      tieCol = "event_id")
    def files(): Map[String, Set[String]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles()
          .map(_.getName).filter(_.endsWith(".parquet")).toSet).toMap
    val before = files()
    // 64 hashed keys leave at most a few of the 16 buckets empty
    assert(before.size >= 12)
    // one-key update touches exactly one bucket
    KeyedTable.merge(spark, dir, toDf(Seq(row(7, 100, 9, "v7b"))), "k",
      tieCol = "event_id")
    val after = files()
    val changed = before.keys.filter(b => before(b) != after(b)).toSeq
    assert(changed.size === 1, s"expected 1 rewritten bucket, got $changed")
    assert(state(dir)(7L) === ((100L, "v7b")))
    assert(state(dir).size === 64)
  }

  test("purge removes keys from STORAGE, tombstones included; empty buckets die") {
    val dir = tmp()
    KeyedTable.merge(spark, dir, toDf(Seq(
      row(1, 10, 1, "a"), row(2, 11, 1, "b"),
      row(3, 12, 1, "c", del = true))), "k", tieCol = "event_id")
    KeyedTable.purge(spark, dir, Seq(1L, 3L).toDF("k"), "k")
    // the read view keeps only k=2
    assert(state(dir) === Map(2L -> (11L, "b")))
    // storage-level: a raw scan (tombstones visible) holds NO trace of
    // the purged keys — that's the difference from a logical delete
    val raw = spark.read.option("basePath", dir).parquet(dir)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(raw === Set(2L))
    // purging the last key leaves no stale files — the returned view
    // (which survives even a fully-emptied table) reads zero rows
    val emptied = KeyedTable.purge(spark, dir, Seq(2L).toDF("k"), "k")
    assert(emptied.count() === 0)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("bucket=")))
  }

  test("merge is associative: any batching converges to the same table") {
    val rows = (0 until 40).map { i =>
      row(i % 7, 100L + i, (i * 3) % 30, s"v$i", del = i % 11 == 0)
    }
    val one = tmp()
    KeyedTable.merge(spark, one, toDf(rows), "k", tieCol = "event_id")
    val three = tmp()
    // adversarial split: NOT time-ordered batches
    KeyedTable.merge(spark, three, toDf(rows.drop(25)), "k", tieCol = "event_id")
    KeyedTable.merge(spark, three, toDf(rows.take(10)), "k", tieCol = "event_id")
    KeyedTable.merge(spark, three, toDf(rows.slice(10, 25)), "k",
      tieCol = "event_id")
    assert(state(one) === state(three))
  }
}
