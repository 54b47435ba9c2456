package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SequenceReplay
import graft.streaming.StreamingAlertsTws.withRocksDb

/** Batch ↔ streaming equivalence of the sequence semantics on the
  * MIDDLE-DEADMAN shape (q358's): the same spec drives the batch
  * SequenceEngine (via the SequenceReplay tick scheduler) and the
  * streaming N-slot transformWithState chain over identical events,
  * and the fired sets must coincide — including the abort (noisy
  * quiet-window) and never-completes cases. This is the spec-level
  * twin of the q361 oracle gate, on the shape where the two
  * implementations are most likely to diverge (time-driven middle
  * trips vs event-driven advancement).
  */
class ReplaySpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")
  def tsH(hour: Int, minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")

  test("middle-deadman sequence: batch replay and streaming chain " +
      "fire identical (value, t0, t_last, dm_count) sets") {
    val spec: graft.model.AlertDoc.Doc = Map(
      "alert_name" -> "mid_dm_equiv",
      "alert_type" -> "sequence",
      "lifespan" -> "1 hour",
      "summary" -> "{{slots.1.metadata.count}} errors then clicks",
      "slots" -> Seq(
        Map("alert_type" -> "threshold",
          "criteria" -> "event_type='purchase'",
          "aggregation_key" -> "user_id",
          "threshold" -> 1, "event_sample_count" -> 0),
        Map("alert_type" -> "deadman",
          "criteria" -> ("event_type='error' AND " +
            "user_id='{{slots.0.metadata.value}}' AND " +
            "ts > CAST('{{slots.0.utctimestamp}}' AS TIMESTAMP)"),
          "aggregation_key" -> "user_id",
          "threshold" -> 1, "lifespan" -> "10 minutes",
          "event_sample_count" -> 0),
        Map("alert_type" -> "threshold",
          "criteria" -> ("event_type='click' AND " +
            "user_id='{{slots.0.metadata.value}}' AND " +
            "ts > CAST('{{slots.1.utctimestamp}}' AS TIMESTAMP)"),
          "aggregation_key" -> "user_id",
          "threshold" -> 2, "event_sample_count" -> 0)))

    // user 1: quiet window (1 error ≤ 1) → 2 clicks after its end →
    //   completes with t_last = the 2nd click.
    // user 2: 3 errors in the window → aborted; its clicks are noise.
    // user 3: quiet window but only ONE click → never completes.
    var id = 0L
    def ev(t: Timestamp, u: Long, ty: String): (Timestamp, Long, String, Long) = {
      id += 1; (t, u, ty, id)
    }
    val rows = Seq(
      ev(ts(0), 1, "purchase"), ev(ts(5), 1, "error"),
      ev(ts(15), 1, "click"), ev(ts(20), 1, "click"),
      ev(ts(0), 2, "purchase"), ev(ts(2), 2, "error"),
      ev(ts(4), 2, "error"), ev(ts(6), 2, "error"),
      ev(ts(15), 2, "click"), ev(ts(16), 2, "click"),
      ev(ts(0), 3, "purchase"), ev(ts(15), 3, "click"))

    // batch side: the replay scheduler driving the real SequenceEngine
    val df = rows.toDF("ts", "user_id", "event_type", "event_id")
    val batch = SequenceReplay.run(spark, df, spec)
      .map(f => (f.value, f.t0_us, f.t_last_us, f.dm_count)).toSet

    // streaming side: the same spec through the N-slot TWS chain
    withRocksDb(spark) {
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec, watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("mid_dm_equiv")
        .outputMode(OutputMode.Append).start()
      try {
        mem.addData(rows: _*)
        q.processAllAvailable()
        // advance the watermark past every window boundary
        mem.addData(ev(tsH(12, 0), 9, "purchase"))
        q.processAllAvailable()
        mem.addData(ev(tsH(12, 1), 9, "purchase"))
        q.processAllAvailable()
        val stream = spark.table("mid_dm_equiv").collect()
          .filter(_.getAs[String]("value") != "9")
          .map(r => (r.getAs[String]("value"), r.getAs[Long]("t0_us"),
            r.getAs[Long]("t_last_us"), r.getAs[Long]("dm_count"))).toSet
        val usOf = (t: Timestamp) => t.getTime * 1000L
        assert(stream === Set(("1", usOf(ts(0)), usOf(ts(20)), 0L)))
        assert(batch === stream,
          s"batch $batch != stream $stream — the two sequence " +
            "implementations diverged")
      } finally q.stop()
    }
  }

  test("seeded property: random traces fire identical (value, t0, t_last, " +
      "dm_count) sets through batch replay and the streaming chain") {
    val t0 = ts(0).getTime
    def at(minute: Int) = new Timestamp(t0 + minute * 60000L)
    def slot(k: Int, kind: String, ty: String, extra: (String, Any)*): Map[String, Any] = {
      // later slots carry the key pin and the window bound as cross-slot
      // templates for the batch engine; the chain strips them into its
      // per-key state
      val crit = if (k == 0) s"event_type='$ty'" else s"event_type='$ty' AND " +
        "user_id='{{slots.0.metadata.value}}' AND " +
        s"ts > CAST('{{slots.${k - 1}.utctimestamp}}' AS TIMESTAMP)"
      Map[String, Any]("alert_type" -> kind, "criteria" -> crit,
        "aggregation_key" -> "user_id", "event_sample_count" -> 0) ++ extra
    }
    // threshold-only, final-deadman and middle-deadman chains
    val shapes = Seq(
      ("thr_only", Seq(slot(0, "threshold", "purchase", "threshold" -> 2),
        slot(1, "threshold", "click", "threshold" -> 2))),
      ("final_dm", Seq(slot(0, "threshold", "purchase", "threshold" -> 1),
        slot(1, "deadman", "error", "threshold" -> 1))),
      ("middle_dm", Seq(slot(0, "threshold", "purchase", "threshold" -> 1),
        slot(1, "deadman", "error", "threshold" -> 0, "lifespan" -> "10 minutes"),
        slot(2, "threshold", "click", "threshold" -> 1))))
    val rnd = new scala.util.Random(20261017)
    val casesPerShape = 12
    var id = 0L
    val fired = shapes.zipWithIndex.map { case ((name, slots), si) =>
      val spec: graft.model.AlertDoc.Doc = Map("alert_name" -> name,
        "alert_type" -> "sequence", "lifespan" -> "1 hour",
        "summary" -> "{{slots.0.metadata.value}}", "slots" -> slots)
      val thr0 = graft.model.AlertDoc.int(slots.head, "threshold", 1)
      // Each key gets thr0 slot-0 events (thr0 - 1, never tripping, one
      // time in four), all inside the first 10 minutes, so every
      // slot-0 trip precedes every expiry: a key never has fresh slot-0
      // events for a second attempt, which the batch engine would open
      // and the chain would not (the replay's single-attempt
      // contract). Later-slot events spread over 90 minutes on
      // distinct minutes per key, so traces hit window and deadline
      // boundaries.
      val rows = (0 until casesPerShape).flatMap { c =>
        val user = (si + 1) * 100L + c
        val minutes = rnd.shuffle((0 until 90).toList)
        val purchases = minutes.filter(_ < 10)
          .take(thr0 - (if (rnd.nextInt(4) == 0) 1 else 0))
        val rest = minutes.filterNot(purchases.contains)
        val later = slots.drop(1).flatMap { sl =>
          val ty = graft.model.AlertDoc.str(sl, "criteria").split("'")(1)
          Seq.fill(rnd.nextInt(4))(ty)
        }
        (purchases.map(m => (m, "purchase")) ++ rest.take(later.size).zip(later))
          .map { case (m, ty) => id += 1; (at(m), user, ty, id) }
      }
      val batch = SequenceReplay.run(spark,
        rows.toDF("ts", "user_id", "event_type", "event_id"), spec)
        .map(f => (f.value, f.t0_us, f.t_last_us, f.dm_count)).toSet
      implicit val sc = spark.sqlContext
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      val q = withRocksDb(spark) {
        graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
          mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
          spec, watermarkDelay = "1 minute")
          .writeStream.format("memory").queryName(s"prop_$name")
          .outputMode(OutputMode.Append).start()
      }
      val stream = try {
        mem.addData(rows: _*)
        q.processAllAvailable()
        // unrelated traffic advances the watermark past every deadline
        mem.addData((tsH(13, 0), 9L, "view", 0L))
        q.processAllAvailable()
        mem.addData((tsH(13, 1), 9L, "view", 0L))
        q.processAllAvailable()
        spark.table(s"prop_$name").collect()
          .map(r => (r.getAs[String]("value"), r.getAs[Long]("t0_us"),
            r.getAs[Long]("t_last_us"), r.getAs[Long]("dm_count"))).toSet
      } finally q.stop()
      assert(batch === stream, s"$name: batch $batch != stream $stream")
      stream
    }
    // the traces exercise both outcomes, and a deadman window that
    // holds events but stays within its threshold
    val all = fired.flatten
    assert(all.nonEmpty && all.size < shapes.size * casesPerShape,
      s"fired per shape: $fired")
    assert(all.exists(_._4 > 0), s"no deadman count above 0: $fired")
  }
}
