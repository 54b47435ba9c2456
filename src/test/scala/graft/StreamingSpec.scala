package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingAlerts
import graft.streaming.StreamingAlertsTws.withRocksDb

class StreamingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")
  def tsH(hour: Int, minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")

  case class Ev(ts: Timestamp, user_id: Long, event_type: String)
  case class TbEv(ts: Timestamp, user_id: Long, event_id: Long)

  test("thresholdStream fires per closed window when count >= threshold") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val spec = Map[String, Any]("alert_name" -> "spike",
      "criteria" -> "event_type='purchase'",
      "aggregation_key" -> "user_id", "threshold" -> 2)
    val out = StreamingAlerts.thresholdStream(mem.toDF(), spec,
      windowDuration = "15 minutes", watermarkDelay = "5 minutes")
    val q = out.writeStream.format("memory").queryName("thr")
      .outputMode(OutputMode.Append).start()
    try {
      // 3 purchases for user 1 and 1 for user 2 inside 10:00-10:15
      mem.addData(Ev(ts(1), 1, "purchase"), Ev(ts(2), 1, "purchase"),
        Ev(ts(3), 1, "purchase"), Ev(ts(4), 2, "purchase"),
        Ev(ts(5), 9, "view"))
      q.processAllAvailable()
      // advance watermark far past the window to close it
      mem.addData(Ev(tsH(11, 30), 3, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("thr").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[String]("value") === "1")
      assert(rows.head.getAs[Long]("count") === 3L)
      assert(rows.head.getAs[String]("summary").contains("spike"))
    } finally q.stop()
  }

  test("deadmanStream fires when a key goes silent past its lifespan") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val spec = Map[String, Any]("alert_name" -> "heartbeat",
      "criteria" -> "event_type='heartbeat'",
      "aggregation_key" -> "user_id")
    val out = StreamingAlerts.deadmanStream(mem.toDF(), spec,
      lifespan = "30 minutes", watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("dm")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Ev(ts(0), 1, "heartbeat"), Ev(ts(1), 2, "heartbeat"))
      q.processAllAvailable()
      // user 2 keeps beating; user 1 goes silent. Watermark advances
      // past 10:30 (user 1's deadline) via user 2's later events.
      mem.addData(Ev(tsH(11, 0), 2, "heartbeat"))
      q.processAllAvailable()
      mem.addData(Ev(tsH(12, 0), 2, "heartbeat"))
      q.processAllAvailable()
      val fired = spark.table("dm").collect()
      assert(fired.map(_.getAs[String]("value")).contains("1"))
      assert(!fired.map(_.getAs[String]("value")).contains("2"))
      assert(fired.head.getAs[String]("summary").contains("missing"))
    } finally q.stop()
  }

  test("deadman fires on TOTAL criteria silence while other traffic advances the clock") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val spec = Map[String, Any]("alert_name" -> "heartbeat",
      "criteria" -> "event_type='heartbeat'",
      "aggregation_key" -> "user_id")
    val out = StreamingAlerts.deadmanStream(mem.toDF(), spec,
      lifespan = "30 minutes", watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("dm2")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Ev(ts(0), 1, "heartbeat"))
      q.processAllAvailable()
      // ALL heartbeats stop — only unrelated events keep flowing.
      // Pre-fix, the criteria filter sat above the watermark and the
      // clock froze: this exact scenario (the deadman's whole purpose)
      // never fired.
      mem.addData(Ev(tsH(11, 0), 9, "view"))
      q.processAllAvailable()
      mem.addData(Ev(tsH(12, 0), 9, "view"))
      q.processAllAvailable()
      mem.addData(Ev(tsH(13, 0), 9, "view"))
      q.processAllAvailable()
      val fired = spark.table("dm2").collect()
      assert(fired.map(_.getAs[String]("value")).toSeq === Seq("1"))
    } finally q.stop()
  }

  test("familyCriteria strips template-bearing conjuncts, keeps the rest") {
    import graft.streaming.StreamingAlertsTws.{familyCriteria, topLevelConjuncts}
    assert(familyCriteria(
      "event_type='click' AND user_id='{{slots.0.metadata.value}}'")
      === "event_type='click'")
    // AND inside a quoted string is data, not a connective
    assert(topLevelConjuncts("a='x AND y' AND b='{{z}}'")
      === Seq("a='x AND y'", "b='{{z}}'"))
    // parenthesized OR group survives as one conjunct
    assert(familyCriteria(
      "(event_type='a' OR event_type='b') AND k='{{v}}'")
      === "(event_type='a' OR event_type='b')")
    // fully-templated criteria → empty family (slot watches all events)
    assert(familyCriteria("user_id='{{slots.0.metadata.value}}'") === "")
  }

  test("a slot whose criteria is ENTIRELY template-bearing watches " +
      "every event of the key (documented match-all family)") {
    implicit val sc = spark.sqlContext
    withRocksDb(spark) {
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      val spec = Map[String, Any]("alert_name" -> "all_templated",
        "lifespan" -> "1 hour",
        "summary" -> "follow-ups for {{slots.0.metadata.value}}",
        "slots" -> Seq(
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id", "threshold" -> 1),
          // no template-free conjunct at all: the family strips to
          // empty → lit(true), i.e. ANY 2 events of the key after t0
          // advance the slot; the key-pinning the template expresses
          // is enforced structurally by the groupByKey, and the
          // criteria itself only surfaces RENDERED on the alert
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" ->
              "json_extract_scalar(details,'$.user')='{{slots.0.metadata.value}}'",
            "threshold" -> 2)))
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec, watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("alltpl")
        .outputMode(OutputMode.Append).start()
      try {
        var id = 0L
        def ev(t: Timestamp, u: Long, ty: String) = { id += 1; (t, u, ty, id) }
        mem.addData(ev(ts(0), 1, "purchase"),
          ev(ts(1), 1, "view"), ev(ts(2), 1, "error"), // any 2 events trip
          ev(ts(0), 2, "view")) // key 2 never trips slot 0
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 10), 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 11), 9, "view"))
        q.processAllAvailable()
        val rows = spark.table("alltpl").collect()
        assert(rows.map(_.getAs[String]("value")).toSeq === Seq("1"))
        assert(rows.head.getAs[String]("criteria")
          === "json_extract_scalar(details,'$.user')='1'")
      } finally q.stop()
    }
  }

  test("N-slot TWS sequence chains thresholds into a deadman; " +
      "rendered last-slot criteria embeds the previous slot's value") {
    implicit val sc = spark.sqlContext
    withRocksDb(spark) {
      case class EvId(ts: Timestamp, user_id: Long, event_type: String,
        event_id: Long)
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      val spec = Map[String, Any]("alert_name" -> "chain3",
        "lifespan" -> "1 hour",
        "summary" -> ("{{slots.1.metadata.count}} clicks then " +
          "{{slots.2.metadata.count}} errors for {{slots.2.metadata.value}}"),
        "slots" -> Seq(
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id", "threshold" -> 3),
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='click' AND user_id='{{slots.0.metadata.value}}'",
            "threshold" -> 2),
          Map[String, Any]("alert_type" -> "deadman",
            "criteria" -> "event_type='error' AND user_id='{{slots.1.metadata.value}}'",
            "threshold" -> 1)))
      val df = mem.toDF().toDF("ts", "user_id", "event_type", "event_id")
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        df, spec, watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("nseq")
        .outputMode(OutputMode.Append).start()
      try {
        var id = 0L
        def ev(t: Timestamp, u: Long, ty: String): (Timestamp, Long, String, Long) = {
          id += 1; (t, u, ty, id)
        }
        // batch 1: purchases only — the chain must carry progress
        // across microbatches (incremental finalized processing)
        mem.addData(
          ev(ts(0), 1, "purchase"), ev(ts(1), 1, "purchase"),
          ev(ts(2), 1, "purchase"), // t0(u1)=10:02
          ev(ts(0), 2, "purchase"), ev(ts(1), 2, "purchase"),
          ev(ts(2), 2, "purchase"),
          ev(ts(0), 3, "purchase"), ev(ts(1), 3, "purchase")) // u3: only 2
        q.processAllAvailable()
        // batch 2: clicks + errors — u1 stays quiet (1 error), u2 noisy
        mem.addData(
          ev(ts(3), 1, "click"), ev(ts(4), 1, "click"), // t1(u1)=10:04
          ev(ts(5), 1, "error"),
          ev(ts(3), 2, "click"), ev(ts(4), 2, "click"),
          ev(ts(5), 2, "error"), ev(ts(6), 2, "error"), ev(ts(7), 2, "error"))
        q.processAllAvailable()
        assert(spark.table("nseq").isEmpty) // windows still open
        // batch 3: unrelated traffic at 11:30 advances the watermark
        // past both deadlines (t0 + 1h = 11:02)
        mem.addData(ev(tsH(11, 30), 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 31), 9, "view"))
        q.processAllAvailable()
        val rows = spark.table("nseq").collect()
        assert(rows.map(_.getAs[String]("value")).toSeq === Seq("1"))
        val r = rows.head
        // the rendered slot-2 criteria embeds slot-1's value (the key)
        assert(r.getAs[String]("criteria")
          === "event_type='error' AND user_id='1'")
        assert(r.getAs[String]("summary") === "2 clicks then 1 errors for 1")
        assert(r.getAs[Long]("dm_count") === 1L)
      } finally q.stop()
    }
  }

  test("N-slot TWS: mid-chain expiry is silent; all-threshold chain " +
      "completes on its last trip") {
    implicit val sc = spark.sqlContext
    withRocksDb(spark) {
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      def spec(slots: Seq[Map[String, Any]]) = Map[String, Any](
        "alert_name" -> "nseq2", "lifespan" -> "30 minutes",
        "summary" -> "done {{slots.0.metadata.value}}", "slots" -> slots)
      val thr = (crit: String, t: Int) => Map[String, Any](
        "alert_type" -> "threshold", "criteria" -> crit,
        "aggregation_key" -> "user_id", "threshold" -> t)
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec(Seq(thr("event_type='purchase'", 2),
          thr("event_type='click'", 1))),
        watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("nseq2")
        .outputMode(OutputMode.Append).start()
      try {
        var id = 0L
        def ev(t: Timestamp, u: Long, ty: String) = { id += 1; (t, u, ty, id) }
        // u1: 2 purchases then a click inside the window → completes
        // u2: 2 purchases, click arrives AFTER t0+30min → expires silently
        mem.addData(
          ev(ts(0), 1, "purchase"), ev(ts(1), 1, "purchase"),
          ev(ts(2), 1, "click"),
          ev(ts(0), 2, "purchase"), ev(ts(1), 2, "purchase"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 0), 2, "click")) // past u2's deadline
        q.processAllAvailable()
        mem.addData(ev(tsH(12, 0), 9, "view"), ev(tsH(12, 1), 9, "view"))
        q.processAllAvailable()
        val rows = spark.table("nseq2").collect()
        assert(rows.map(_.getAs[String]("value")).toSeq === Seq("1"))
        assert(rows.head.getAs[Long]("dm_count") === 0L) // threshold-final
        assert(rows.head.getAs[String]("summary") === "done 1")
      } finally q.stop()
    }
  }

  test("N-slot TWS: a MIDDLE deadman slot trips on quiet, aborts on noise") {
    implicit val sc = spark.sqlContext
    withRocksDb(spark) {
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      val spec = Map[String, Any]("alert_name" -> "quiet_then_click",
        "lifespan" -> "1 hour",
        "summary" -> ("{{slots.1.metadata.count}} errors then click for " +
          "{{slots.0.metadata.value}}"),
        "slots" -> Seq(
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id", "threshold" -> 2),
          Map[String, Any]("alert_type" -> "deadman",
            "criteria" -> "event_type='error'",
            "threshold" -> 0, "lifespan" -> "10 minutes"),
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='click'", "threshold" -> 1)))
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec, watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("middm")
        .outputMode(OutputMode.Append).start()
      try {
        var id = 0L
        def ev(t: Timestamp, u: Long, ty: String) = { id += 1; (t, u, ty, id) }
        // u1: 2 purchases (t0=10:01), QUIET 10 min (deadman trips at
        // 10:11), click 10:15 → completes
        // u2: same purchases, but an error at 10:05 violates the
        // quiet window → sequence aborts; its 10:15 click is ignored
        mem.addData(
          ev(ts(0), 1, "purchase"), ev(ts(1), 1, "purchase"),
          ev(ts(15), 1, "click"),
          ev(ts(0), 2, "purchase"), ev(ts(1), 2, "purchase"),
          ev(ts(5), 2, "error"), ev(ts(15), 2, "click"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 30), 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 31), 9, "view"))
        q.processAllAvailable()
        val rows = spark.table("middm").collect()
        assert(rows.map(_.getAs[String]("value")).toSeq === Seq("1"))
        val r = rows.head
        assert(r.getAs[String]("summary") === "0 errors then click for 1")
        // t_last is the click trip (the final THRESHOLD slot)
        assert(r.getAs[Long]("t_last_us") === ts(15).getTime * 1000L)
        assert(r.getAs[Long]("dm_count") === 0L)
      } finally q.stop()
    }
  }

  test("N-slot TWS: consecutive middle deadmans cascade in one tick") {
    implicit val sc = spark.sqlContext
    withRocksDb(spark) {
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      val spec = Map[String, Any]("alert_name" -> "double_quiet",
        "lifespan" -> "2 hours",
        "summary" -> "{{slots.0.metadata.value}} stayed quiet twice",
        "slots" -> Seq(
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id", "threshold" -> 1),
          Map[String, Any]("alert_type" -> "deadman",
            "criteria" -> "event_type='error'",
            "threshold" -> 0, "lifespan" -> "10 minutes"),
          Map[String, Any]("alert_type" -> "deadman",
            "criteria" -> "event_type='signup'",
            "threshold" -> 0, "lifespan" -> "10 minutes"),
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='click'", "threshold" -> 1)))
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec, watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("dq")
        .outputMode(OutputMode.Append).start()
      try {
        var id = 0L
        def ev(t: Timestamp, u: Long, ty: String) = { id += 1; (t, u, ty, id) }
        // purchase 10:00 → quiet errors to 10:10 → quiet signups to
        // 10:20 → click 10:25: BOTH windows and the click resolve in
        // the same late-watermark tick (the cascade)
        mem.addData(ev(ts(0), 1, "purchase"), ev(ts(25), 1, "click"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 0), 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 1), 9, "view"))
        q.processAllAvailable()
        val rows = spark.table("dq").collect()
        assert(rows.map(_.getAs[String]("value")).toSeq === Seq("1"))
        assert(rows.head.getAs[Long]("t_last_us") === ts(25).getTime * 1000L)
      } finally q.stop()
    }
  }

  test("N-slot TWS: a final-threshold event AT the inclusive sequence " +
      "deadline still completes when the watermark lands exactly on it") {
    implicit val sc = spark.sqlContext
    withRocksDb(spark) {
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      val spec = Map[String, Any]("alert_name" -> "boundary",
        "lifespan" -> "1 hour",
        "summary" -> "{{slots.0.metadata.value}} completed at the deadline",
        "slots" -> Seq(
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id", "threshold" -> 1),
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='click'", "threshold" -> 1)))
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec, watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("bdry")
        .outputMode(OutputMode.Append).start()
      try {
        var id = 0L
        def ev(t: Timestamp, u: Long, ty: String) = { id += 1; (t, u, ty, id) }
        // purchase 10:00 → click at EXACTLY 11:00 = t0 + lifespan (the
        // inclusive deadline). Round-minute traffic at 11:01 puts the
        // watermark (delay 1 min) EXACTLY on 11:00 — the click is still
        // active (ts == wm) at the expiry tick and must be folded, not
        // silently dropped with the sequence.
        mem.addData(ev(ts(0), 1, "purchase"), ev(tsH(11, 0), 1, "click"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 1), 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 1), 9, "view"))
        q.processAllAvailable()
        val rows = spark.table("bdry").collect()
        assert(rows.map(_.getAs[String]("value")).toSeq === Seq("1"))
        assert(rows.head.getAs[Long]("t_last_us") === tsH(11, 0).getTime * 1000L)
        // a click STRICTLY past the deadline must still expire silently
        mem.addData(ev(ts(5), 2, "purchase"))
        q.processAllAvailable()
        mem.addData(ev(tsH(11, 6), 2, "click")) // 11:05 deadline + 1 min
        q.processAllAvailable()
        mem.addData(ev(tsH(12, 0), 9, "view"))
        q.processAllAvailable()
        mem.addData(ev(tsH(12, 1), 9, "view"))
        q.processAllAvailable()
        assert(spark.table("bdry").collect()
          .map(_.getAs[String]("value")).toSeq === Seq("1"))
      } finally q.stop()
    }
  }

  test("N-slot TWS state stays bounded by the watermark horizon for " +
      "keys that never complete (no per-batch growth)") {
    implicit val sc = spark.sqlContext
    withRocksDb(spark) {
      val mem = MemoryStream[(Timestamp, Long, String, Long)]
      // threshold 1000 never trips: the key sits in slot 0 forever
      // while events keep arriving — the r5 leak shape. Finalized
      // events must fold into the O(1) chain row; only the
      // watermark-delay window of actives may stay buffered.
      val spec = Map[String, Any]("alert_name" -> "nevercomplete",
        "lifespan" -> "30 days",
        "summary" -> "{{slots.0.metadata.value}}",
        "slots" -> Seq(
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id", "threshold" -> 1000),
          Map[String, Any]("alert_type" -> "threshold",
            "criteria" -> "event_type='click'", "threshold" -> 1)))
      val out = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec, watermarkDelay = "1 minute")
      val q = out.writeStream.format("memory").queryName("bounded")
        .outputMode(OutputMode.Append).start()
      try {
        var id = 0L
        val rowsPerBatch = scala.collection.mutable.ArrayBuffer.empty[Long]
        for (b <- 1 to 12) {
          // 10 purchases per batch, event time advancing 2 min/batch —
          // the watermark (delay 1 min) finalizes each batch's events
          // during the next one
          mem.addData((1 to 10).map { i =>
            id += 1
            (new Timestamp(ts(0).getTime + (b * 120L + i) * 1000L),
              1L, "purchase", id)
          }: _*)
          q.processAllAvailable()
          rowsPerBatch += Option(q.lastProgress)
            .flatMap(p => p.stateOperators.headOption)
            .map(_.numRowsTotal).getOrElse(0L)
        }
        // 120 events fed to one never-completing key: state must NOT
        // grow linearly with batches. Allow the chain row + timer +
        // one watermark-window of buffered actives, nothing more.
        val early = rowsPerBatch.slice(2, 5).max
        val late = rowsPerBatch.takeRight(3).max
        assert(late > 0, s"no state rows observed — probe broken: $rowsPerBatch")
        assert(late <= early + 2,
          s"state grew with batch count: $rowsPerBatch")
        assert(late < 40, s"state not bounded: $rowsPerBatch")
      } finally q.stop()
    }
  }

  /** One N-slot chain over a memory stream of (ts, user_id,
    * event_type) events, started on the RocksDB store. `add` feeds one
    * micro-batch (event ids in arrival order) and drains it; `rows`
    * reads the sink. Watermark delay 1 minute: the chain only emits
    * once the watermark passes the deciding events, so pins feed a
    * later event to advance it.
    */
  private class Chain(spec: Map[String, Any], sink: String) {
    private implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val mem = MemoryStream[(Timestamp, Long, String, Long)]
    private var id = 0L
    val query = withRocksDb(spark) {
      graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
        mem.toDF().toDF("ts", "user_id", "event_type", "event_id"),
        spec, watermarkDelay = "1 minute")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append).start()
    }
    def add(evs: (Timestamp, Long, String)*): Unit = {
      mem.addData(evs.map { case (t, u, ty) => id += 1; (t, u, ty, id) }: _*)
      query.processAllAvailable()
    }
    def rows: Array[org.apache.spark.sql.Row] = spark.table(sink).collect()
    def values: Seq[String] = rows.map(_.getAs[String]("value")).toSeq.sorted
  }

  private def slot(alertType: String, criteria: String,
      extra: (String, Any)*): Map[String, Any] =
    Map[String, Any]("alert_type" -> alertType, "criteria" -> criteria) ++
      extra ++ Map("aggregation_key" -> "user_id")

  test("sequenceStream expires partially-filled sequences past their lifespan") {
    val c = new Chain(Map("alert_name" -> "slow_seq", "lifespan" -> "30 minutes",
      "summary" -> "{{slots.0.metadata.value}}",
      "slots" -> Seq(slot("threshold", "event_type='purchase'", "threshold" -> 2),
        slot("threshold", "event_type='error'"))), "expseq")
    try {
      // user 1 trips slot 0 at 10:01, then goes silent past the 30-min
      // lifespan. User 3's first purchase is at 10:00 but slot 0 trips
      // only at its second, 10:25: the lifespan runs from the TRIP, as
      // in batch, where the inflight doc — and its expiration — is
      // created when slot 0 fires (Shells.sequence). Its 10:40 error
      // is inside (10:25, 10:55] and completes it.
      c.add((ts(0), 1, "purchase"), (ts(1), 1, "purchase"),
        (ts(0), 3, "purchase"), (ts(25), 3, "purchase"), (ts(40), 3, "error"))
      c.add((tsH(12, 0), 2, "view")) // advances the watermark → expiry
      // the error arrives too late: the sequence was expired, and a
      // lone error can't fill slot 0 (criteria mismatch)
      c.add((tsH(12, 1), 1, "error"))
      c.add((tsH(12, 30), 2, "view"))
      c.add((tsH(12, 31), 2, "view"))
      assert(c.values === Seq("3"))
    } finally c.query.stop()
  }

  test("sequenceStream survives slot criteria that evaluate to SQL NULL") {
    val c = new Chain(Map("alert_name" -> "null_pred",
      "slots" -> Seq(slot("threshold", "event_type='purchase'"),
        // the predicate is NULL on every event, which must coalesce to
        // false instead of killing the query
        slot("threshold", "CAST(NULL AS BOOLEAN)"))), "nullseq")
    try {
      c.add((ts(1), 1, "purchase"), (ts(2), 1, "purchase"))
      c.add((tsH(11, 0), 9, "view")) // would throw pre-fix
      c.add((tsH(11, 1), 9, "view"))
      assert(c.rows.isEmpty)
    } finally c.query.stop()
  }

  test("sequenceStream completes ordered slots per key") {
    val c = new Chain(Map("alert_name" -> "buy_then_fail",
      "summary" -> "{{slots.0.metadata.value}}: buy -> fail",
      "slots" -> Seq(slot("threshold", "event_type='purchase'"),
        slot("threshold", "event_type='error'"))), "seqs")
    try {
      // user 1: purchase then error (completes); user 2: error then
      // purchase (wrong order — slot 0 only fires on purchase, then
      // awaits an error that never comes)
      c.add((ts(1), 1, "purchase"), (ts(2), 1, "error"),
        (ts(1), 2, "error"), (ts(2), 2, "purchase"))
      c.add((tsH(11, 0), 9, "view"))
      c.add((tsH(11, 1), 9, "view"))
      assert(c.values === Seq("1"))
      // the summary is the spec's template rendered over the filled
      // slots, as batch createSequenceAlerts renders it
      assert(c.rows.head.getAs[String]("summary") === "1: buy -> fail")
      assert(c.rows.head.getAs[Long]("t0_us") === ts(1).getTime * 1000L)
      assert(c.rows.head.getAs[Long]("t_last_us") === ts(2).getTime * 1000L)
    } finally c.query.stop()
  }

  test("sequenceStream slot with threshold>1 needs that many matches to advance") {
    val c = new Chain(Map("alert_name" -> "two_buys_then_fail",
      "slots" -> Seq(slot("threshold", "event_type='purchase'", "threshold" -> 2),
        slot("threshold", "event_type='error'"))), "thseq")
    try {
      // user 1: two purchases fill slot 0, the error completes — the
      // same fill condition batch Trigger.threshold applies (count >=
      // slot threshold). user 2: ONE purchase then an error — slot 0
      // stays half-filled, the error must not advance anything.
      c.add((ts(1), 1, "purchase"), (ts(2), 1, "purchase"), (ts(3), 1, "error"),
        (ts(1), 2, "purchase"), (ts(2), 2, "error"))
      c.add((ts(10), 9, "view"))
      assert(c.values === Seq("1"))
      // a second purchase from user 2 fills slot 0; a following error
      // then completes user 2's sequence too (its 10:02 error precedes
      // the trip and does not count)
      c.add((ts(11), 2, "purchase"), (ts(12), 2, "error"))
      c.add((ts(30), 9, "view"))
      c.add((ts(31), 9, "view"))
      assert(c.values === Seq("1", "2"))
    } finally c.query.stop()
  }

  test("sequenceStream deadman slot fills on absence, aborts on violation") {
    // purchase, then 30 quiet minutes WITHOUT a heartbeat → alert
    val c = new Chain(Map("alert_name" -> "buy_then_silence", "lifespan" -> "1 day",
      "summary" -> "{{slots.0.metadata.value}} went quiet",
      "slots" -> Seq(slot("threshold", "event_type='purchase'"),
        slot("deadman", "event_type='heartbeat'", "lifespan" -> "30 minutes"))),
      "dmseq")
    try {
      // both users purchase at 10:01; user 2 heartbeats once at 10:10.
      // The slot sets no threshold, so the batch deadman default of 0
      // applies (Trigger.deadman) and one heartbeat violates it.
      c.add((ts(1), 1, "purchase"), (ts(1), 2, "purchase"), (ts(10), 2, "heartbeat"))
      // watermark to 10:36: both (10:01, 10:31] windows are closed
      c.add((ts(37), 9, "view"))
      c.add((ts(38), 9, "view"))
      assert(c.values === Seq("1"))
      assert(c.rows.head.getAs[String]("summary") === "1 went quiet")
      assert(c.rows.head.getAs[Long]("dm_count") === 0L)
      // user 2's violated window ABORTS the sequence instead of
      // restarting it, as in batch: the deadman is scored once at its
      // window end and a violated slot never fills (ReplaySpec, q358) —
      // however long user 2 then stays quiet
      c.add((tsH(11, 0), 9, "view"))
      c.add((tsH(11, 1), 9, "view"))
      assert(c.values === Seq("1"))
    } finally c.query.stop()
  }

  test("sequenceStream: lifespan expiry beats a later deadman window close") {
    // sequence lifespan 30 min but the deadman's own window is 2 hours:
    // the window is cut at the sequence deadline (10:31), and the click
    // that would complete the chain comes after it — no alert, ever
    // (expire_sequence_alerts wins over a late fill)
    val mid = new Chain(Map("alert_name" -> "expires_first", "lifespan" -> "30 minutes",
      "slots" -> Seq(slot("threshold", "event_type='purchase'"),
        slot("deadman", "event_type='heartbeat'", "lifespan" -> "2 hours"),
        slot("threshold", "event_type='click'"))), "dmexp")
    // a FINAL deadman with the same windows is scored at the sequence
    // deadline instead: batch evaluates a deadman slot at
    // min(previous trip + own window, expiration), when the doc is
    // still inflight (expiry drops it only strictly after), and the
    // quiet window completes the sequence
    val last = new Chain(Map("alert_name" -> "capped_final", "lifespan" -> "30 minutes",
      "slots" -> Seq(slot("threshold", "event_type='purchase'"),
        slot("deadman", "event_type='heartbeat'", "lifespan" -> "2 hours"))), "dmcap")
    try {
      Seq(mid, last).foreach { c =>
        c.add((ts(1), 1, "purchase"), (ts(45), 1, "click"))
        // watermark far past BOTH the expiry (10:31) and the window
        // close (12:01)
        c.add((tsH(13, 0), 9, "view"))
        // late user-1 traffic after the deadline must not resurrect
        // the expired sequence either
        c.add((tsH(13, 5), 1, "click"))
        c.add((tsH(13, 30), 9, "view"))
        c.add((tsH(13, 31), 9, "view"))
      }
      assert(mid.rows.isEmpty)
      assert(last.values === Seq("1"))
      assert(last.rows.head.getAs[Long]("t0_us") === ts(1).getTime * 1000L)
    } finally { mid.query.stop(); last.query.stop() }
  }

  test("N-slot TWS: a spec without lifespan gets the batch default of 3 days") {
    val c = new Chain(Map("alert_name" -> "default_lifespan",
      "slots" -> Seq(slot("threshold", "event_type='purchase'"),
        slot("threshold", "event_type='error'"))), "dflt")
    def day(d: Int, h: Int, m: Int) =
      Timestamp.valueOf(f"2026-01-$d%02d $h%02d:$m%02d:00")
    try {
      // Shells.sequence defaults lifespan to 3 days: user 1's error 71
      // hours after its trip completes; user 2's, 3 days and 1 minute
      // after, comes too late
      c.add((day(1, 10, 0), 1, "purchase"), (day(1, 10, 0), 2, "purchase"))
      c.add((day(4, 9, 0), 1, "error"), (day(4, 10, 1), 2, "error"))
      c.add((day(5, 0, 0), 9, "view"))
      c.add((day(5, 0, 1), 9, "view"))
      assert(c.values === Seq("1"))
    } finally c.query.stop()
  }

  case class Doc(ts: Timestamp, doc_id: Long, text: String)

  test("dedupStream passes first arrival per content hash, drops dups") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Doc]
    val out = graft.streaming.StreamingPipeline.dedupStream(mem.toDF())
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Doc(ts(1), 1, "the quick brown fox"),
        Doc(ts(2), 2, "the quick brown fox"), // exact dup, later ts
        Doc(ts(3), 3, "an entirely different doc"))
      q.processAllAvailable()
      // duplicate arriving in a later batch, still within the watermark
      mem.addData(Doc(ts(4), 4, "the quick brown fox"))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids === Array(1L, 3L))
    } finally q.stop()
  }

  case class UrlDoc(ts: Timestamp, doc_id: Long, url: String)

  test("urlGateStream: a 1,000-domain blocklist gates as DATA — one " +
      "broadcast anti-join per label depth, subdomain matching intact") {
    implicit val sc = spark.sqlContext
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint, BROADCAST}
    val mem = MemoryStream[UrlDoc]
    // 1,000 domains across two label depths: 999 two-label + one
    // four-label — a predicate-chain gate would fold 1,000 ORs into
    // the plan; the data gate's plan size is O(label depths)
    val domains = ((1 to 998).map(i => s"junk$i.example") ++
      Seq("tracker.net", "ads.deep.example.org")).toDF("domain")
    val out = graft.streaming.StreamingPipeline.urlGateStream(
      mem.toDF(), domains, "url", "ts", "10 minutes")
    // the stream gate probes the FIXED depth range 1..8 (not the
    // list's current depths) so a blocklist swap that introduces a
    // brand-new label depth is still gated without a query rebuild —
    // plan size is O(8), independent of the 1,000 domains
    val antiJoins = out.queryExecution.analyzed.collect {
      case j: Join if j.joinType == LeftAnti => j
    }
    assert(antiJoins.size === 8, "one LeftAnti per depth in the fixed 1..8 range")
    val bcast = out.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }
    assert(bcast.size === 8, "the blocklist side of each anti-join is broadcast")
    val q = out.writeStream.format("memory").queryName("urlgate_bl")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        UrlDoc(ts(1), 1, "https://ok.site.com/a"),
        UrlDoc(ts(2), 2, "https://sub.tracker.net/x"),      // subdomain of 2-label entry
        UrlDoc(ts(3), 3, "https://tracker.net/x"),          // exact 2-label hit
        UrlDoc(ts(4), 4, "https://ads.deep.example.org/y"), // exact 4-label hit
        UrlDoc(ts(5), 5, "https://deep.example.org/y"),     // PARENT of the 4-label entry: passes
        UrlDoc(ts(6), 6, "https://junk7.example/z"),        // one of the 998
        UrlDoc(ts(7), 7, "https://tracker.net.evil/z"))     // suffix mismatch: passes
      q.processAllAvailable()
      val ids = spark.table("urlgate_bl").collect()
        .map(_.getAs[Long]("doc_id")).sorted
      assert(ids === Array(1L, 5L, 7L))
    } finally q.stop()
  }

  test("crawlerTrapsStream: the dedup → aggregation chain counts each " +
      "canonical URL once — replaying the stream moves no counter") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[UrlDoc]
    val out = graft.streaming.StreamingPipeline
      .crawlerTrapsStream(mem.toDF(), minUrls = 3)
    val q = out.writeStream.format("memory").queryName("trap_stream")
      .outputMode(OutputMode.Update).start()
    def counts() = spark.table("trap_stream").collect()
      .groupBy(r => r.getAs[String]("template"))
      .map { case (t, rs) => t -> rs.map(_.getAs[Long]("n_urls")).max }
    try {
      val urls = Seq(
        UrlDoc(ts(1), 1, "https://ex.com/cal/2024/01"),
        UrlDoc(ts(2), 2, "https://ex.com/cal/2024/02"),
        UrlDoc(ts(3), 3, "https://ex.com/cal/2025/03"),
        UrlDoc(ts(4), 4, "https://ex.com/about"),
        UrlDoc(ts(5), 5, "https://ex.com/cal/2024/01?utm_source=x")) // dup canonical
      mem.addData(urls: _*)
      q.processAllAvailable()
      val first = counts()
      assert(first === Map("ex.com/cal/<n>/<n>" -> 3L, "ex.com/about" -> 1L))
      val trapRows = spark.table("trap_stream").collect()
        .filter(_.getAs[Long]("n_urls") >= 3L)
      assert(trapRows.forall(_.getAs[Boolean]("is_trap")))
      // replay: every canonical key is already in dedup state →
      // nothing reaches the aggregation, no counter moves
      mem.addData(urls: _*)
      q.processAllAvailable()
      assert(counts() === first)
    } finally q.stop()
  }

  test("corpusFilterStream drops exact corpus content, passes novel docs") {
    implicit val sc = spark.sqlContext
    val corpus = Seq((100L, "the quick brown fox jumps over dogs"),
      (101L, "some other corpus document body here")).toDF("doc_id", "text")
    val sigs = graft.ops.DocDedup.signatures(corpus)
    val mem = MemoryStream[Doc]
    val out = graft.streaming.StreamingPipeline.corpusFilterStream(mem.toDF(), sigs)
    val q = out.writeStream.format("memory").queryName("cfs")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Doc(ts(1), 1, "the quick brown fox jumps over dogs"), // exact dup → drop
        Doc(ts(2), 2, "a completely new document arrives"))   // novel → pass
      q.processAllAvailable()
      val ids = spark.table("cfs").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids === Array(2L))
    } finally q.stop()
  }

  test("nearDupAlarmStream fires verified band hits against the corpus snapshot") {
    implicit val sc = spark.sqlContext
    val near = "the quick brown fox jumps over the lazy dog today"
    val corpus = Seq(
      (100L, near),                                            // near-dup target
      (101L, "entirely unrelated corpus content words here")).toDF("doc_id", "text")
    val sigs = graft.ops.DocDedup.signatures(corpus)
    val mem = MemoryStream[Doc]
    val out = graft.streaming.StreamingPipeline.nearDupAlarmStream(mem.toDF(), sigs)
    val q = out.writeStream.format("memory").queryName("nda")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Doc(ts(1), 1, near),                                   // identical → all bands fire
        Doc(ts(2), 2, "nothing in common with anything"),      // no alarm
        Doc(ts(3), 3, "xz " + near))                           // shifted near-dup
      q.processAllAvailable()
      val rows = spark.table("nda").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("c_id"),
          r.getAs[Long]("jac_micro")))
      // doc 1 is byte-identical to corpus 100: every band collides and
      // jaccard is exactly 1 — four alarm rows, one per band
      assert(rows.count(t => t._1 == 1L && t._2 == 100L && t._3 == 1000000L) === 4)
      assert(!rows.exists(_._1 == 2L))
      // doc 3 = "xz" + the corpus text: 9 shingles, 8 shared →
      // jac = 8/9 ≥ 0.5 — at least one band must collide, all verified
      val d3 = rows.filter(_._1 == 3L)
      assert(d3.nonEmpty && d3.forall(t => t._2 == 100L && t._3 == 888888L))

      // parity: the batch serving path agrees a near-dup exists for 1 and 3
      val fresh = Seq((1L, near), (3L, "xz " + near)).toDF("doc_id", "text")
      val batch = graft.ops.DocDedup.incrementalFromSignatures(sigs, fresh)
        .collect().map(r => (r.getLong(0), r.get(1))).toMap
      assert(batch(1L) === 100L && batch(3L) === 100L)
    } finally q.stop()
  }

  test("nearDupAlarmStream rejects a snapshot with mismatched signature width") {
    implicit val sc = spark.sqlContext
    val sigs = graft.ops.DocDedup.signatures(
      Seq((100L, "one two three four five")).toDF("doc_id", "text"),
      numHashes = 32)
    val mem = MemoryStream[Doc]
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingPipeline.nearDupAlarmStream(mem.toDF(), sigs)
    }
    assert(e.getMessage.contains("32-hash"))
  }

  test("decontaminateStream flags eval-gram overlap map-only, " +
      "stateless across batches") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val evals = Seq(
      (100L, "alpha beta gamma epsilon"),
      (101L, "beta gamma delta zeta"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[Doc]
    val out = graft.streaming.StreamingPipeline
      .decontaminateStream(mem.toDF(), evals)
    val q = out.writeStream.format("memory").queryName("dcs")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Doc(ts(1), 1, "alpha beta gamma delta"), // shares abg(100), bgd(101)
        Doc(ts(2), 2, "beta gamma alpha"),       // same words, no shared gram
        Doc(ts(3), 3, "x y"))                    // too short for a 3-gram
      q.processAllAvailable()
      // second batch: statelessness — same doc text flags again
      mem.addData(Doc(ts(4), 4, "beta gamma delta qq"))
      q.processAllAvailable()
      val rows = spark.table("dcs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      // doc 1: distinct shared grams {abg, bgd} = 2, earliest eval 100;
      // doc 4: {bgd} = 1, earliest eval 101 (the gram is not in 100)
      assert(rows.toSeq === Seq((1L, 2L, 100L), (4L, 1L, 101L)))
    } finally q.stop()
  }

  test("selfDedupStream: within a batch the min-id doc is the bucket " +
      "rep; across batches arrival order wins") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val text = "one two three four five six"
    val mem = MemoryStream[Doc]
    val out = graft.streaming.StreamingPipeline.selfDedupStream(mem.toDF())
    val q = out.toDF().writeStream.format("memory").queryName("sds")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: ids 5 and 9, identical text → 5 is rep (in-batch
      // min-id order), 9 flags against 5 on every band with jac 1.0
      mem.addData(Doc(ts(1), 5, text), Doc(ts(2), 9, text))
      q.processAllAvailable()
      val b1 = spark.table("sds").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).distinct
      assert(b1.toSeq === Seq((9L, 5L, 1000000L)))
      // batch 2: id 3 (SMALLER than 5) arrives later → flags against
      // the RESIDENT rep 5 — arrival order, not id order
      mem.addData(Doc(ts(3), 3, text))
      q.processAllAvailable()
      val b2 = spark.table("sds").collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.sorted
      assert(b2.toSeq === Seq((3L, 5L), (9L, 5L)))
      // disjoint doc never flags
      mem.addData(Doc(ts(4), 11, "alpha beta gamma delta epsilon"))
      q.processAllAvailable()
      assert(spark.table("sds").collect()
        .map(_.getLong(0)).distinct.sorted.toSeq === Seq(3L, 9L))
    } finally q.stop()
  }

  test("gopherGateStream keepOnly filters to keep=0-mask rows, " +
      "matching the batch bundle's verdicts") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    // 50 words, mean word length in-range, contains 'the'
    val good = (1 to 25).map(i => s"the word$i").mkString(" ")
    val bad = "x1 x2 x3"                                    // too short, no stopword
    val mem = MemoryStream[Doc]
    val out = graft.streaming.StreamingPipeline
      .gopherGateStream(mem.toDF(), minStopHits = 1L, keepOnly = true)
    val q = out.writeStream.format("memory").queryName("ggs")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(Doc(ts(1), 1, good), Doc(ts(2), 2, bad))
      q.processAllAvailable()
      val rows = spark.table("ggs").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L))
      // verdicts equal the batch op's on the same rows
      val batch = graft.ops.TextAnalysis.gopherRules(
        Seq((1L, good), (2L, bad)).toDF("doc_id", "text"),
        minStopHits = 1L).where("keep").collect()
      assert(rows.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("ewmaStream accumulates state across batches, matching the batch fold") {
    implicit val sc = spark.sqlContext
    case class VEv(ts: Timestamp, user_id: Long, event_id: Long, value: Double)
    val mem = MemoryStream[(Timestamp, Long, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "event_id", "value")
    val out = graft.streaming.StreamingPipeline.ewmaStream(df).toDF()
    val q = out.writeStream.format("memory").queryName("ewm")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: out-of-order arrival inside the batch (sorted by ts)
      mem.addData((ts(10), 7L, 2L, 3.0), (ts(5), 7L, 1L, 1.0))
      q.processAllAvailable()
      // batch 2: one more event — state carries across batches
      mem.addData((ts(20), 7L, 3L, 2.0))
      q.processAllAvailable()
      val rows = spark.table("ewm").collect()
        .filter(_.getAs[Long]("user_id") == 7L)
        .sortBy(_.getAs[Long]("n_events"))
      // after batch 1: ((0>>1)+1e6)>>1 + 3e6 = 3.5e6
      assert(rows.head.getAs[Long]("ewma_micro") === 3500000L)
      // after batch 2: (3.5e6>>1) + 2e6 = 3.75e6 — same as one batch
      // of all three events (q80's fold)
      assert(rows.last.getAs[Long]("ewma_micro") === 3750000L)
      assert(rows.last.getAs[Long]("n_events") === 3L)
    } finally q.stop()
  }

  test("streaming session_window agrees with batch sessionize on testdata") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q87_stream_sessionize")(spark, sf())
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us"))).toSet
    val want = graft.ops.Temporal
      .sessionize(Tables(spark, sf(), "events"), "user_id", "ts", 1800000000L)
      .select(col("key"), col("n_events"), col("start_us"), col("end_us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("heavyHittersStream: bounded state still surfaces the heavy key across batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    // k=2 with 1 bucket forces constant evictions; user 7 is 40% of a
    // stream with 6 distinct light keys — the MG guarantee (count >
    // N/(k+1) = N/3) says 7 must survive in state no matter the order
    val out = graft.streaming.StreamingPipeline
      .heavyHittersStream(mem.toDF(), k = 2, buckets = 1).toDF()
    val q = out.writeStream.format("memory").queryName("mg")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1: heavy key 7 interleaved with singletons 1..3
      mem.addData(Ev(ts(1), 7, "e"), Ev(ts(1), 1, "e"), Ev(ts(1), 7, "e"),
        Ev(ts(1), 2, "e"), Ev(ts(1), 7, "e"), Ev(ts(1), 3, "e"))
      q.processAllAvailable()
      // batch 2: state carries over; more singletons can't evict 7
      mem.addData(Ev(ts(2), 7, "e"), Ev(ts(2), 4, "e"), Ev(ts(2), 7, "e"),
        Ev(ts(2), 5, "e"), Ev(ts(2), 7, "e"), Ev(ts(2), 6, "e"))
      q.processAllAvailable()
      val rows = spark.table("mg").collect()
      // the LAST emission (processed = 12) must contain key 7
      val last = rows.filter(_.getAs[Long]("processed") === 12L)
      assert(last.nonEmpty && last.exists(_.getAs[Long]("item") === 7L))
      // state stayed within capacity in every emission
      rows.groupBy(_.getAs[Long]("processed")).foreach { case (_, rs) =>
        assert(rs.length <= 2)
      }
    } finally q.stop()
  }

  test("tokenBucketStream: burst spends, sustained throttles, state survives batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[TbEv]
    // capacity 2, refill 10 min (600e6 µs): two quick allows, third
    // minute-spaced event finds only 120 s credit → denied
    val out = graft.streaming.StreamingPipeline.tokenBucketStream(
      mem.toDF(), capacity = 2, refillUs = 600000000L)
    val q = out.writeStream.format("memory").queryName("tb")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(TbEv(ts(0), 1L, 1L), TbEv(ts(1), 1L, 2L),
        TbEv(ts(2), 1L, 3L))
      q.processAllAvailable()
      // carried state: 28 min later the bucket is back at the cap
      mem.addData(TbEv(ts(30), 1L, 4L))
      q.processAllAvailable()
      val rows = spark.table("tb").collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Boolean]("allowed"), r.getAs[Long]("avail_us"))).toMap
      assert(rows(1L) === ((true, 1200000000L)))
      assert(rows(2L) === ((true, 660000000L)))
      assert(rows(3L) === ((false, 120000000L)))
      assert(rows(4L) === ((true, 1200000000L)))
      // batch parity: the same replay through Temporal.tokenBucket
      val batch = Seq((ts(0), 1L, 1L), (ts(1), 1L, 2L), (ts(2), 1L, 3L),
        (ts(30), 1L, 4L)).toDF("ts", "user_id", "event_id")
      val b = graft.ops.Temporal.tokenBucket(batch, capacity = 2,
        refillUs = 600000000L).collect()
        .map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Boolean]("allowed"), r.getAs[Long]("avail_us"))).toMap
      assert(b === rows)
    } finally q.stop()
  }

  test("funnelStream: in-order batches match the batch funnel; LWW emission") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = graft.streaming.StreamingPipeline.funnelStream(
      mem.toDF(), "view", "purchase", windowUs = 600000000L)
    val q = out.writeStream.format("memory").queryName("fnl")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 view@0 + purchase@5 (converted); u2 purchase-only
      // (no funnel row); u3 view@2 (open)
      mem.addData(Ev(ts(0), 1L, "view"), Ev(ts(5), 1L, "purchase"),
        Ev(ts(1), 2L, "purchase"), Ev(ts(2), 3L, "view"))
      q.processAllAvailable()
      // batch 2 (later event times): u3's purchase lands 20 min after
      // its view — outside the 10-min window → not converted; u1 gets
      // a LATER purchase that must NOT displace its earlier second
      mem.addData(Ev(ts(22), 3L, "purchase"), Ev(ts(30), 1L, "purchase"))
      q.processAllAvailable()
      // last emission per key wins
      val rows = spark.table("fnl").collect()
        .map(r => (r.getAs[Long]("user_id"),
          (r.getAs[Long]("first_us"), Option(r.getAs[Any]("second_us")),
            r.getAs[Int]("converted"))))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(!rows.contains(2L))
      // batch parity on the full replay
      val batch = Seq((ts(0), 1L, "view"), (ts(5), 1L, "purchase"),
        (ts(1), 2L, "purchase"), (ts(2), 3L, "view"),
        (ts(22), 3L, "purchase"), (ts(30), 1L, "purchase"))
        .toDF("ts", "user_id", "event_type")
      val b = graft.ops.Analytics.funnel(batch, "view", "purchase",
        windowUs = 600000000L).collect()
        .map(r => (r.getAs[Long]("key"),
          (r.getAs[Long]("first_us"), Option(r.getAs[Any]("second_us")),
            r.getAs[Int]("converted")))).toMap
      assert(rows === b)
      assert(rows(1L)._3 === 1)   // converted inside the window
      assert(rows(3L)._3 === 0)   // second arrived, window exceeded
    } finally q.stop()
  }

  test("leaderboardStream: windowed counts accumulate across batches (Complete)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = graft.streaming.StreamingPipeline.leaderboardStream(
      mem.toDF(), windowDuration = "1 hour")
    val q = out.writeStream.format("memory").queryName("ldr")
      .outputMode(OutputMode.Complete).start()
    try {
      mem.addData(Ev(ts(0), 1L, "view"), Ev(ts(1), 1L, "view"),
        Ev(ts(2), 1L, "purchase"))
      q.processAllAvailable()
      mem.addData(Ev(ts(30), 1L, "view"))   // same 10:00 window
      q.processAllAvailable()
      val rows = spark.table("ldr").collect()
        .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("cnt"))
        .toMap
      assert(rows === Map("view" -> 3L, "purchase" -> 1L))
    } finally q.stop()
  }

  test("centroidStream: integer sums fold across batches; LWW rows match batch") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Int, Seq[Float])]
    val out = graft.streaming.StreamingPipeline.centroidStream(
      mem.toDF().toDF("label", "embedding"), dim = 2)
    val q = out.writeStream.format("memory").queryName("cent")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData((0, Seq(1.0f, 0.0f)), (1, Seq(-0.3f, 0.5f)))
      q.processAllAvailable()
      mem.addData((0, Seq(0.0f, 1.0f)))
      q.processAllAvailable()
      // last emission per (label, idx) is the serving value
      val rows = spark.table("cent").collect()
        .map(r => (r.getAs[Int]("label"), r.getAs[Int]("idx")) ->
          (r.getAs[Long]("n"), r.getAs[Long]("sum_micro"),
            r.getAs[Long]("mean_micro")))
        .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
      assert(rows((0, 0)) === ((2L, 1000000L, 500000L)))
      assert(rows((0, 1)) === ((2L, 1000000L, 500000L)))
      // -0.3f widens to -0.30000001…, so the micro floor is -300001 —
      // exactly the float-widening the batch op (and oracle) produce
      assert(rows((1, 0)) === ((1L, -300001L, -300001L)))
      assert(rows((1, 1)) === ((1L, 500000L, 500000L)))
      // equality with the batch op on the full replay
      val batch = Seq((0L, Seq(1.0f, 0.0f), 0), (1L, Seq(-0.3f, 0.5f), 1),
        (2L, Seq(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
      val b = graft.ops.Similarity.labelCentroidsMicro(batch).collect()
        .map(r => (r.getAs[Int]("label"), r.getAs[Int]("idx")) ->
          (r.getAs[Long]("n"), r.getAs[Long]("sum_micro"),
            r.getAs[Long]("mean_micro"))).toMap
      assert(rows === b)
    } finally q.stop()
  }

  test("seqPairStream: min/max state folds across batches; tail matches batch op") {
    implicit val sc = spark.sqlContext
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = graft.streaming.StreamingPipeline.seqPairStream(
      mem.toDF().toDF("user_id", "event_type", "ts"))
    val q = out.writeStream.format("memory").queryName("seqp")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 sees B at 30 first; batch 2 delivers the EARLIER
      // A at 10 — min-state must absorb out-of-order arrival
      mem.addData((1L, "B", t(30)), (2L, "A", t(5)))
      q.processAllAvailable()
      mem.addData((1L, "A", t(10)), (1L, "B", t(40)), (2L, "B", t(3)))
      q.processAllAvailable()
      // final emission per (u, t) carries the cumulative state
      val drained = spark.table("seqp")
        .groupBy("u", "t").agg(
          org.apache.spark.sql.functions.min("lo").as("lo"),
          org.apache.spark.sql.functions.max("hi").as("hi"))
      val got = graft.ops.Analytics.pairSupportFromUt(drained).collect()
        .map(r => (r.getAs[String]("first_type"),
          r.getAs[String]("then_type")) -> r.getAs[Long]("support_users"))
        .toMap
      val batch = Seq((1L, "B", t(30)), (2L, "A", t(5)), (1L, "A", t(10)),
        (1L, "B", t(40)), (2L, "B", t(3)))
        .toDF("user_id", "event_type", "ts")
      val want = graft.ops.Analytics.sequentialPairSupport(batch).collect()
        .map(r => (r.getAs[String]("first_type"),
          r.getAs[String]("then_type")) -> r.getAs[Long]("support_users"))
        .toMap
      assert(got === want)
      // u1: A(10) before B(40) counts even though B arrived first
      assert(got(("A", "B")) === 1L)
    } finally q.stop()
  }

  test("rfmStream: commutative R/F/M state folds across batches") {
    implicit val sc = spark.sqlContext
    def t(day: Long) = new java.sql.Timestamp(day * 86400 * 1000)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val out = graft.streaming.StreamingPipeline.rfmStream(
      mem.toDF().toDF("user_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("rfm")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 2 delivers an EARLIER day for u1 — max-state must hold
      mem.addData((1L, t(5), 10.0), (2L, t(3), 5.0))
      q.processAllAvailable()
      mem.addData((1L, t(2), 2.5), (2L, t(4), 1.0))
      q.processAllAvailable()
      val fin = spark.table("rfm")
        .groupBy("u").agg(
          org.apache.spark.sql.functions.max("last_d").as("last_d"),
          org.apache.spark.sql.functions.max("f").as("f"),
          org.apache.spark.sql.functions.max("m_c").as("m_c"))
        .collect()
        .map(r => r.getAs[Long]("u") ->
          (r.getAs[Long]("last_d"), r.getAs[Long]("f"),
            r.getAs[Long]("m_c"))).toMap
      assert(fin(1L) === (5L, 2L, 1250L)) // day 2 did NOT regress last_d
      assert(fin(2L) === (4L, 2L, 600L))
    } finally q.stop()
  }

  case class SeqEv(ts: Timestamp, user_id: Long, event_id: Long,
      event_type: String)

  test("TWS sequence processors re-arm without deleting a timer that " +
      "already fired") {
    import org.apache.spark.sql.execution.streaming.operators.stateful.transformwithstate.timers.TimerStateImpl
    implicit val sc = spark.sqlContext
    val spec: graft.model.AlertDoc.Doc = Map(
      "alert_name" -> "buy_then_quiet", "lifespan" -> "30 minutes",
      "summary" -> "{{slots.0.metadata.value}} bought, then no error",
      "slots" -> Seq(
        Map("alert_type" -> "threshold", "criteria" -> "event_type='purchase'",
          "aggregation_key" -> "user_id", "threshold" -> 1),
        Map("alert_type" -> "deadman",
          "criteria" -> "event_type='error' AND user_id='{{slots.0.metadata.value}}'",
          "threshold" -> 0)))
    val (values, messages) = logged(classOf[TimerStateImpl].getName) {
      withRocksDb(spark) {
        val mem = MemoryStream[SeqEv]
        val q = graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
            mem.toDF(), spec, watermarkDelay = "1 minute")
          .writeStream.format("memory").queryName("rearmn")
          .outputMode(OutputMode.Append).start()
        try {
          // user 1 trips slot 0 and arms a timer at the next watermark
          // tick; the later batches carry only other users' events, so
          // that timer fires with the deadman window still open and the
          // key re-arms, until the watermark passes the deadline
          Seq(SeqEv(ts(0), 1, 1, "purchase"), SeqEv(ts(10), 9, 2, "view"),
              SeqEv(tsH(11, 0), 9, 3, "view"), SeqEv(tsH(11, 1), 9, 4, "view"))
            .foreach { e => mem.addData(e); q.processAllAvailable() }
          spark.table("rearmn").select("value").as[String].collect().toSeq
        } finally q.stop()
      }
    }
    assert(values === Seq("1"))
    assert(!messages.exists(_.startsWith("Failed to delete timer")), messages)
  }

  test("transformWithState sequence: cross-slot criteria renders the slot-0 value") {
    // the reference's threshold→deadman scenario
    // (tests/test_alerts.py:345-435): slot 0 trips on the T-th
    // qualifying event, the deadman window then watches for absence,
    // and the rendered slot-1 criteria must contain the SLOT-0 value
    // (its `assert "bitwarden" in criteria` shape). The deadman family
    // (event_type='bitwarden') is derived from the templated criteria.
    val c = new Chain(Map(
      "alert_name" -> "root_no_pw_manager",
      "alert_type" -> "sequence",
      "lifespan" -> "30 minutes",
      "summary" -> ("{{slots.0.metadata.count}} root logins by " +
        "{{slots.0.metadata.value}} without use of a password manager " +
        "({{slots.1.metadata.count}} uses)"),
      "slots" -> Seq(
        slot("threshold", "event_type='root_login'", "threshold" -> 2),
        slot("deadman", "event_type='bitwarden' AND " +
          "user_id='{{slots.0.metadata.value}}'", "threshold" -> 1))),
      "seqtws")
    try {
      // user 1: two root logins, NO bitwarden access → completes.
      // user 2: two root logins but two bitwarden accesses inside the
      // window → deadman violated, no alert.
      // user 3: four root logins, more than the threshold, all before
      // the deadline, and one bitwarden access inside the window (two
      // more outside it). The summary renders slot 0's count as the
      // threshold that tripped it — the batch engine saves the slot
      // doc at the trip and never updates it — and slot 1's as the
      // deadman window count.
      c.add((ts(1), 1, "root_login"), (ts(2), 1, "root_login"),
        (ts(1), 2, "root_login"), (ts(2), 2, "root_login"),
        (ts(10), 2, "bitwarden"), (ts(11), 2, "bitwarden"),
        (ts(0), 3, "bitwarden"), (ts(1), 3, "root_login"),
        (ts(2), 3, "root_login"), (ts(3), 3, "root_login"),
        (ts(20), 3, "root_login"), (ts(25), 3, "bitwarden"),
        (ts(40), 3, "bitwarden"))
      // advance the watermark past every deadline (t0 + 30 min)
      c.add((tsH(12, 0), 9, "root_login"))
      c.add((tsH(12, 1), 9, "view"))
      assert(c.values === Seq("1", "3"))
      val r = c.rows.map(r => r.getAs[String]("value") -> r).toMap
      // the bitwarden assertion shape: rendered criteria carries
      // the slot-0 aggregation value
      assert(r("1").getAs[String]("criteria") ===
        "event_type='bitwarden' AND user_id='1'")
      assert(r("1").getAs[String]("summary") ===
        "2 root logins by 1 without use of a password manager (0 uses)")
      assert(r("1").getAs[Long]("dm_count") === 0L)
      // t0 = the 2nd (threshold-th) root login's event time
      assert(r("1").getAs[Long]("t0_us") === ts(2).getTime * 1000L)
      assert(r("3").getAs[String]("summary") ===
        "2 root logins by 3 without use of a password manager (1 uses)")
      assert(r("3").getAs[Long]("dm_count") === 1L)
      assert(r("3").getAs[Long]("t0_us") === ts(2).getTime * 1000L)
    } finally c.query.stop()
  }

  test("selfDedupStream state is one row per occupied bucket and " +
      "re-sending the corpus adds ZERO rows (bounded-state contract)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // dup of 1
      (3L, "completely different words compose this other document here now"))
    val out = graft.streaming.StreamingPipeline
      .selfDedupStream(mem.toDF().toDF("doc_id", "text"))
    val q = out.toDF().writeStream.format("memory").queryName("sds_state")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      val afterFirst = q.lastProgress.stateOperators.head.numRowsTotal
      // docs 1 and 3 each occupy up to 4 band buckets; the dup doc 2
      // lands in doc 1's buckets — state counts BUCKETS, not docs
      assert(afterFirst > 0 && afterFirst <= 8,
        s"expected <= 2 docs x 4 bands rows, got $afterFirst")
      // the dup fired against the earliest occupant
      val fired = spark.table("sds_state").collect()
      assert(fired.map(_.getAs[Long]("doc_id")).distinct.toSeq === Seq(2L))
      assert(fired.forall(_.getAs[Long]("c_id") == 1L))
      // replay the whole corpus: every bucket already has its
      // representative, so state must not grow by a single row
      mem.addData(docs: _*)
      q.processAllAvailable()
      val afterReplay = q.lastProgress.stateOperators.head.numRowsTotal
      assert(afterReplay === afterFirst,
        s"state grew on replay: $afterFirst -> $afterReplay")
      // a genuinely new doc claims new buckets: growth is bucket-shaped
      mem.addData((9L, "nine distinct fresh tokens never seen in any earlier text"))
      q.processAllAvailable()
      val afterNew = q.lastProgress.stateOperators.head.numRowsTotal
      assert(afterNew > afterReplay && afterNew <= afterReplay + 4)
    } finally q.stop()
  }

  case class FullEv(ts: Timestamp, user_id: Long, event_type: String,
      event_id: Long, value: Double)
  case class EmbRow(label: Int, embedding: Seq[Double])

  test("ewmaStream state is one row per key: replaying known keys adds " +
      "ZERO rows, a new key adds one (bounded-state plateau)") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[FullEv]
    val out = graft.streaming.StreamingPipeline
      .ewmaStream(mem.toDF())
    val q = out.toDF().writeStream.format("memory").queryName("ewma_plateau")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(
        FullEv(ts(1), 1L, "a", 10L, 1.0),
        FullEv(ts(2), 2L, "a", 11L, 2.0),
        FullEv(ts(3), 3L, "a", 12L, 3.0))
      q.processAllAvailable()
      val afterFirst = q.lastProgress.stateOperators.head.numRowsTotal
      assert(afterFirst === 3L)
      // replay traffic for the SAME keys: folds advance, state doesn't grow
      mem.addData(FullEv(ts(4), 1L, "a", 13L, 4.0),
        FullEv(ts(5), 2L, "a", 14L, 5.0))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 3L)
      // a new key claims exactly one state row
      mem.addData(FullEv(ts(6), 9L, "a", 15L, 6.0))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 4L)
    } finally q.stop()
  }

  test("uniform bounded-state plateau: replaying the SAME rows adds " +
      "ZERO state rows in every keyed stream (state = live keys, " +
      "never stream length)") {
    implicit val sc = spark.sqlContext
    val P = graft.streaming.StreamingPipeline
    val batch = Seq(
      FullEv(ts(1), 1L, "a", 10L, 1.0), FullEv(ts(2), 2L, "a", 11L, 2.0),
      FullEv(ts(3), 3L, "a", 12L, 3.0), FullEv(ts(4), 1L, "b", 13L, 4.0))
    val cases: Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        OutputMode)] = Seq(
      ("tokenBucket", df => P.tokenBucketStream(df).toDF(),
        OutputMode.Append()),
      ("heavyHitters", df => P.heavyHittersStream(df).toDF(),
        OutputMode.Update()),
      ("seqPair", df => P.seqPairStream(df).toDF(), OutputMode.Append()),
      ("beacon", df => P.beaconStream(df).toDF(), OutputMode.Append()),
      ("spray", df => P.sprayStream(df).toDF(), OutputMode.Append()),
      ("rfm", df => P.rfmStream(df).toDF(), OutputMode.Append()),
      ("funnel", df => P.funnelStream(df, "a", "b").toDF(),
        OutputMode.Append()),
      ("recrawlStats", df => P.recrawlStatsStream(df,
        urlCol = "user_id", contentCol = "event_type").toDF(),
        OutputMode.Update()))
    cases.foreach { case (name, build, mode) =>
      val mem = MemoryStream[FullEv]
      val q = build(mem.toDF()).writeStream.format("memory")
        .queryName(s"plateau_$name").outputMode(mode).start()
      try {
        mem.addData(batch: _*); q.processAllAvailable()
        val n1 = q.lastProgress.stateOperators.head.numRowsTotal
        assert(n1 > 0, s"$name: state should exist after the first batch")
        mem.addData(batch: _*); q.processAllAvailable()
        assert(q.lastProgress.stateOperators.head.numRowsTotal === n1,
          s"$name: replaying known keys must not grow state")
      } finally q.stop()
    }
    // centroid's input is an embedding stream, not events
    val memE = MemoryStream[EmbRow]
    val qc = P.centroidStream(memE.toDF(), dim = 2).toDF()
      .writeStream.format("memory").queryName("plateau_centroid")
      .outputMode(OutputMode.Append()).start()
    try {
      val rows = Seq(EmbRow(0, Seq(0.1, 0.2)), EmbRow(1, Seq(0.3, 0.4)))
      memE.addData(rows: _*); qc.processAllAvailable()
      assert(qc.lastProgress.stateOperators.head.numRowsTotal === 2L)
      memE.addData(rows: _*); qc.processAllAvailable()
      assert(qc.lastProgress.stateOperators.head.numRowsTotal === 2L)
    } finally qc.stop()
    // prioritySample's input is a document stream; its state is the
    // bounded (k+1)-heap per stratum — one row per LABEL, and feeding
    // more docs than k never grows it past the label count
    val memD = MemoryStream[(Long, String, String)]
    val qp = P.prioritySampleStream(
        memD.toDF().toDF("doc_id", "text", "source"), k = 2).toDF()
      .writeStream.format("memory").queryName("plateau_prisample")
      .outputMode(OutputMode.Update()).start()
    try {
      memD.addData((1L, "a b", "s"), (2L, "a", "s"), (3L, "a b c", "t"))
      qp.processAllAvailable()
      assert(qp.lastProgress.stateOperators.head.numRowsTotal === 2L)
      // four more docs in stratum s: the heap absorbs them, state
      // stays one row per label
      memD.addData((4L, "x", "s"), (5L, "x y", "s"), (6L, "y", "s"),
        (7L, "z", "s"))
      qp.processAllAvailable()
      assert(qp.lastProgress.stateOperators.head.numRowsTotal === 2L)
    } finally qp.stop()
  }

  test("decontaminateStream tokenizes trailing/interior spaces exactly " +
      "like the batch twin (split keeps empty tokens)") {
    // doc 1 ends with a space: its 3-grams over [x,y,z,''] include
    // "y z " — a kernel that drops trailing empties would miss the
    // eval hit entirely
    val corpus = Seq((1L, "x y z "), (2L, "p q r")).toDF("doc_id", "text")
    val evals = Seq((10L, "a y z "), (11L, "p  q")).toDF("doc_id", "text")
    val stream = graft.streaming.StreamingPipeline
      .decontaminateStream(corpus, evals).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hit_shingles"),
        r.getAs[Long]("eval_hit"))).toSet
    val batch = graft.ops.Curation.decontaminate(corpus, evals).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("hit_shingles"),
        r.getAs[Long]("eval_hit"))).toSet
    assert(stream === batch)
    assert(stream.exists(_._1 == 1L), "the trailing-space hit must fire")
  }

  // ── checkpoint-restore pins ─────────────────────────────────────────
  // One test per keyed-state SHAPE (shingle array, scalar struct,
  // bounded list): run N batches, STOP the query, restart from the
  // same checkpoint, and assert output continuity + state-row carry-
  // over. This is the only class of streaming defect nothing else
  // catches — a state-encoder change that serializes fine within one
  // run but cannot DEserialize what the previous binary wrote fails
  // here instead of shipping silently.

  private def withCheckpoint[T](f: String => T): T =
    f(tempDir("graft_ckpt").toString)

  /** Start `df` against `ckpt` draining every micro-batch into a
    * buffer (the memory sink cannot RECOVER from a checkpoint; a
    * foreachBatch sink can — this is the restartable test harness).
    */
  private def startBuffered(df: org.apache.spark.sql.DataFrame,
      ckpt: String, mode: OutputMode)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]) = {
    val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = df.writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => b.collect().foreach(buf.add))
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .start()
    (q, buf)
  }

  test("checkpoint restart: selfDedupStream (shingle-array state) — a " +
      "post-restart duplicate fires against the pre-restart " +
      "representative, state rows carry over") {
    implicit val sc = spark.sqlContext
    withCheckpoint { dir =>
      val mem = MemoryStream[(Long, String)]
      def build() = graft.streaming.StreamingPipeline
        .selfDedupStream(mem.toDF().toDF("doc_id", "text")).toDF()
      val (q1, _) = startBuffered(build(), dir, OutputMode.Append)
      val stateBefore = try {
        mem.addData(
          (1L, "the quick brown fox jumps over the lazy dog today"))
        q1.processAllAvailable()
        q1.lastProgress.stateOperators.head.numRowsTotal
      } finally q1.stop()
      assert(stateBefore > 0L)
      val (q2, buf2) = startBuffered(build(), dir, OutputMode.Append)
      try {
        mem.addData(
          (2L, "the quick brown fox jumps over the lazy dog today"))
        q2.processAllAvailable()
        // the dup fired against doc 1 — its BandRep (repId + sorted
        // shingle array) round-tripped through the state store
        import scala.jdk.CollectionConverters._
        val fired = buf2.asScala
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("c_id")))
          .toSeq.distinct
        assert(fired === Seq((2L, 1L)),
          s"expected the restarted state to match doc 2 to rep 1, got " +
            fired.mkString(","))
        // the dup claims no new buckets: restored rows == before
        assert(q2.lastProgress.stateOperators.head.numRowsTotal
          === stateBefore)
      } finally q2.stop()
    }
  }

  test("checkpoint restart: ewmaStream (scalar-struct state) — the " +
      "fold continues from the checkpointed (n, acc), not from zero") {
    implicit val sc = spark.sqlContext
    withCheckpoint { dir =>
      val mem = MemoryStream[FullEv]
      def build() = graft.streaming.StreamingPipeline
        .ewmaStream(mem.toDF()).toDF()
      val (q1, _) = startBuffered(build(), dir, OutputMode.Update)
      try {
        // acc: (0>>1)+1_000_000 = 1_000_000; (>>1)+2_000_000 = 2_500_000
        mem.addData(FullEv(ts(1), 1L, "a", 10L, 1.0),
          FullEv(ts(2), 1L, "a", 11L, 2.0))
        q1.processAllAvailable()
      } finally q1.stop()
      val (q2, buf2) = startBuffered(build(), dir, OutputMode.Update)
      try {
        mem.addData(FullEv(ts(3), 1L, "a", 12L, 4.0))
        q2.processAllAvailable()
        val r = buf2.toArray(Array.empty[org.apache.spark.sql.Row])
        assert(r.length === 1)
        // continued fold: n 2→3, acc (2_500_000>>1)+4_000_000; a
        // reset state would read (1, 4_000_000)
        assert(r(0).getAs[Long]("n_events") === 3L)
        assert(r(0).getAs[Long]("ewma_micro") === 5250000L)
      } finally q2.stop()
    }
  }

  test("checkpoint restart: prioritySampleStream (bounded-list state) — " +
      "the heap and the update counter both survive the restart") {
    implicit val sc = spark.sqlContext
    withCheckpoint { dir =>
      val mem = MemoryStream[(Long, String, String)]
      def build() = graft.streaming.StreamingPipeline
        .prioritySampleStream(
          mem.toDF().toDF("doc_id", "text", "source"), k = 2).toDF()
      val (q1, buf1) = startBuffered(build(), dir, OutputMode.Update)
      val sampleBefore = try {
        mem.addData((1L, "a b c", "s"), (2L, "d e f g", "s"),
          (3L, "h i", "s"))
        q1.processAllAvailable()
        buf1.toArray(Array.empty[org.apache.spark.sql.Row])
          .map(r => r.getAs[Long]("doc_id")).toSet
      } finally q1.stop()
      assert(sampleBefore.size === 2)
      val (q2, buf2) = startBuffered(build(), dir, OutputMode.Update)
      try {
        mem.addData((4L, "j", "s"))
        q2.processAllAvailable()
        val rows = buf2.toArray(Array.empty[org.apache.spark.sql.Row])
        // upd continued 1→2 (a reset state would emit upd = 1)
        assert(rows.forall(_.getAs[Long]("upd") === 2L),
          rows.map(_.getAs[Long]("upd")).mkString(","))
        // the merged sample still draws on pre-restart docs: the
        // 1-token newcomer cannot displace both incumbents
        val ids = rows.map(_.getAs[Long]("doc_id")).toSet
        assert(ids.intersect(sampleBefore).nonEmpty,
          s"sample lost every pre-restart doc: $ids vs $sampleBefore")
      } finally q2.stop()
    }
  }

  test("checkpoint restart: heavyHittersStream (map state) — the " +
      "Misra-Gries counter map survives and keeps accumulating") {
    implicit val sc = spark.sqlContext
    withCheckpoint { dir =>
      val mem = MemoryStream[FullEv]
      def build() = graft.streaming.StreamingPipeline
        .heavyHittersStream(mem.toDF(), k = 4, buckets = 1).toDF()
      val (q1, _) = startBuffered(build(), dir, OutputMode.Update)
      try {
        mem.addData((1 to 5).map(i =>
          FullEv(ts(i), 7L, "a", 10L + i, 1.0)): _*)
        q1.processAllAvailable()
      } finally q1.stop()
      val (q2, buf2) = startBuffered(build(), dir, OutputMode.Update)
      try {
        mem.addData(FullEv(ts(9), 7L, "a", 20L, 1.0))
        q2.processAllAvailable()
        val rows = buf2.toArray(Array.empty[org.apache.spark.sql.Row])
          .filter(_.getAs[Long]("item") === 7L)
        assert(rows.nonEmpty)
        // continued map: est 5 → 6, processed 5 → 6; a reset state
        // would emit (1, 1)
        assert(rows.forall(r => r.getAs[Long]("est") === 6L &&
          r.getAs[Long]("processed") === 6L),
          rows.map(r => (r.getAs[Long]("est"),
            r.getAs[Long]("processed"))).mkString(","))
      } finally q2.stop()
    }
  }

  test("checkpoint restart: crawlerTrapsStream (dedup + aggregation — " +
      "TWO state stores in one query) — a post-restart duplicate " +
      "stays deduped and the template counter continues, not resets") {
    implicit val sc = spark.sqlContext
    withCheckpoint { dir =>
      val mem = MemoryStream[UrlDoc]
      def build() = graft.streaming.StreamingPipeline
        .crawlerTrapsStream(mem.toDF(), minUrls = 3L)
      val (q1, _) = startBuffered(build(), dir, OutputMode.Update)
      val stateBefore = try {
        mem.addData(
          UrlDoc(ts(1), 1L, "https://h.ex/cal/2024/01"),
          UrlDoc(ts(2), 2L, "https://h.ex/cal/2024/02"))
        q1.processAllAvailable()
        // dedup + agg: both operators hold rows
        q1.lastProgress.stateOperators.map(_.numRowsTotal).sum
      } finally q1.stop()
      assert(stateBefore >= 3L, s"expected 2 dedup + 1 agg state " +
        s"rows before restart, got $stateBefore")
      val (q2, buf2) = startBuffered(build(), dir, OutputMode.Update)
      try {
        mem.addData(
          // duplicate of doc 1's URL: the DEDUP store must drop it
          UrlDoc(ts(3), 3L, "https://h.ex/cal/2024/01"),
          // new distinct URL: the AGG store must continue 2 → 3
          UrlDoc(ts(4), 4L, "https://h.ex/cal/2025/07"))
        q2.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val latest = buf2.asScala
          .filter(_.getAs[String]("template") === "h.ex/cal/<n>/<n>")
          .map(r => (r.getAs[Long]("n_urls"), r.getAs[Boolean]("is_trap")))
          .toSeq
        // 3, never 1 (reset agg) and never 4 (lost dedup state): the
        // count crosses minUrls=3 exactly because BOTH stores restored
        assert(latest.nonEmpty && latest.last === ((3L, true)),
          s"expected the restarted counter at (3, true), got $latest")
      } finally q2.stop()
    }
  }

  test("dsirGateStream hashes per CODE POINT like the batch kernel: " +
      "non-BMP words (surrogate pairs) bucket identically") {
    import org.apache.spark.sql.functions._
    // doc 1 carries an emoji word (U+1F600, a surrogate pair in
    // UTF-16) and a rare-CJK word (U+20000); a UTF-16-unit scorer
    // would fold each half separately and land in a different bucket
    // than the weight table trained batch-side
    val corpus = Seq((1L, "😀 ok 😀x"),
      (2L, "plain words here"),
      (3L, "𠀀 mixed a😀b")).toDF("doc_id", "text")
    val target = Seq((9L, "😀 target")).toDF("doc_id", "text")
    val w = graft.ops.Curation.dsirWeights(corpus, target, buckets = 64)
    // batch replay of the gate arithmetic with the q22 h37 kernel
    // (split(w,'') + ascii(c) — code-point aware by Java regex)
    val h37 = "aggregate(filter(split(w, ''), c -> c <> ''), 0L, " +
      "(a, c) -> (a * 37 + ascii(c)) % 2147483647)"
    val batch = corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .withColumn("bucket", expr(h37) % 64L)
      .join(w, Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        expr("sum(lam) div count(1)").as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the gate is map-only (no state), so it runs on a batch frame
    val gate = graft.streaming.StreamingPipeline
      .dsirGateStream(corpus, w, minScore = Long.MinValue, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gate === batch)
    assert(gate.map(_._1) === Set(1L, 2L, 3L))
  }
}
