package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig}
import org.apache.spark.sql.types.StringType

import graft.functions.Paths
import graft.model.AlertDoc
import graft.model.AlertDoc.Doc

/** The armed flush timer (wrapped so absent state is null, not 0). */
case class SeqTimerState(timerMs: Long)

/** One buffered event for the N-slot streaming sequence: a bitmask of
  * the slot families the event belongs to (bit k set = matches slot
  * k's template-free family predicate), event-time micros, and the id
  * tiebreaker. Top-level — encoder codegen cannot reach nested case
  * classes.
  */
case class NSeqEvent(mask: Long, tsUs: Long, id: Long)

/** Chain progress for the N-slot sequence: next slot to fill, trip
  * times of the filled slots (µs), progress count inside the current
  * threshold slot, and the running window count when the final slot
  * is a deadman. Only FINALIZED events (below the watermark) ever
  * advance the chain, so this state is replay-stable.
  */
case class NSeqChain(slotIdx: Int, trips: Seq[Long], curCount: Long,
    dmCount: Long, counts: Seq[Long])

/** One slot of the N-slot streaming sequence: kind ("threshold" |
  * "deadman"), trigger threshold, and — for deadman slots — the
  * slot's own window in ms (0 = the rest of the sequence window).
  */
case class NSeqSlot(kind: String, threshold: Long, windowMs: Long)

/** Completed N-slot streaming sequence alert: slot-0 trip time, the
  * last THRESHOLD slot's trip time, the final deadman window count
  * (0 when the last slot is a threshold), the rendered last-slot
  * criteria and the final summary.
  */
case class StreamNSeqAlert(alert_name: String, value: String,
    t0_us: Long, t_last_us: Long, dm_count: Long, criteria: String,
    summary: String)

/** The N-slot sequence state machine on `transformWithState` — the
  * streaming twin of [[graft.engine.SequenceEngine]]'s full N-slot
  * driver loop (alerta.py:274-317 fills slots strictly in order;
  * deadman slots are legal at ANY position > 0, alerta.py:310-316).
  *
  * Semantics: slot 0 is a threshold keyed by the aggregation value.
  * A threshold slot k trips at its T_k-th family event inside
  * `(t_{k-1}, t_0 + lifespan]` in (event-time, id) order. A deadman
  * slot k watches `(t_{k-1}, end_k]` with
  * `end_k = min(t_{k-1} + window_k, t_0 + lifespan)` (window_k = the
  * slot's own `lifespan`; 0 = the rest of the sequence window): when
  * the clock passes end_k with ≤ `threshold` family events the slot
  * trips AT end_k and the chain continues; with more, the sequence
  * ABORTS silently (the quiet period was violated). A sequence whose
  * window closes mid-chain expires silently
  * (expire_sequence_alerts, alerta.py:240-248).
  *
  * Only watermark-FINALIZED events advance the chain (no future
  * arrival can be ordered before them — Spark's late-row filter), so
  * trips are replay-stable and the buffer holds at most one
  * watermark-delay of events per key; deadman windows evaluate
  * in-fold once a finalized event passes their end, or against the
  * watermark (counting still-buffered actives exactly) at a timer.
  * Active events are also SIMULATED through the chain to arm the
  * next deadline timer early, so a key that goes silent after
  * tripping still completes when the global watermark passes its
  * boundary.
  *
  * Reported slot counts (`{{slots.k.metadata.count}}`): a threshold
  * slot reports its threshold, the count that tripped it, and a
  * deadman slot its exact window count — the batch engine's meaning,
  * which saves a slot's doc when it trips and never updates it (later
  * events of a tripped slot do not raise its count).
  */
class NSeqTwsProcessor(name: String, slotSpecs: Seq[NSeqSlot],
    lifespanMs: Long, lastCriteriaTpl: String, summaryTpl: String)
    extends StatefulProcessor[String, (String, Long, Long, Long), StreamNSeqAlert] {

  require(slotSpecs.nonEmpty && slotSpecs.head.kind == "threshold",
    "slot 0 must be a threshold")
  require(slotSpecs.forall(sp => sp.kind == "threshold" || sp.kind == "deadman"),
    s"unknown slot alert_type in ${slotSpecs.map(_.kind).mkString(",")}")
  require(slotSpecs.zipWithIndex.drop(1).dropRight(1).forall { case (sp, _) =>
    sp.kind == "threshold" || sp.windowMs > 0L },
    "a deadman at a middle position needs its own window (slot lifespan)")

  private val last = slotSpecs.size - 1
  private val lastIsDeadman = slotSpecs(last).kind == "deadman"
  private val lastThrIdx = slotSpecs.lastIndexWhere(_.kind == "threshold")
  private val lifespanUs = lifespanMs * 1000L

  @transient private var buf: org.apache.spark.sql.streaming.ListState[NSeqEvent] = _
  @transient private var chain: org.apache.spark.sql.streaming.ValueState[NSeqChain] = _
  @transient private var armed: org.apache.spark.sql.streaming.ValueState[SeqTimerState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buf = getHandle.getListState[NSeqEvent](
      "nbuf", Encoders.product[NSeqEvent], TTLConfig.NONE)
    chain = getHandle.getValueState[NSeqChain](
      "nchain", Encoders.product[NSeqChain], TTLConfig.NONE)
    armed = getHandle.getValueState[SeqTimerState](
      "narmed", Encoders.product[SeqTimerState], TTLConfig.NONE)
  }

  private def rearm(at: Long): Unit = {
    val prev = Option(armed.get()).map(_.timerMs)
    if (!prev.contains(at)) {
      prev.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(at)
      armed.update(SeqTimerState(at))
    }
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, Long, Long, Long)],
      timerValues: TimerValues): Iterator[StreamNSeqAlert] = {
    rows.foreach(r => buf.appendValue(NSeqEvent(r._2, r._3, r._4)))
    rearm(timerValues.getCurrentWatermarkInMs() + 1)
    Iterator.empty
  }

  private def seqEndUs(trips: Seq[Long]): Long = trips.head + lifespanUs

  /** Deadman slot k's window end: its own window capped by the
    * sequence deadline.
    */
  private def dmEndUs(k: Int, trips: Seq[Long]): Long = {
    val own = if (slotSpecs(k).windowMs > 0L)
      trips.last + slotSpecs(k).windowMs * 1000L else Long.MaxValue
    math.min(own, seqEndUs(trips))
  }

  /** Feed events (already (ts, id)-sorted) through the chain from the
    * given state. Deadman windows whose end a later finalized event
    * has passed evaluate in-fold (the window is fully finalized at
    * that point). Returns None when a deadman window was violated —
    * the sequence aborts.
    */
  private def advance(st: NSeqChain, evs: Seq[NSeqEvent]): Option[NSeqChain] = {
    var k = st.slotIdx; var trips = st.trips
    var cur = st.curCount; var dm = st.dmCount
    var counts = st.counts
    var aborted = false
    var idx = 0
    while (!aborted && idx < evs.size) {
      val e = evs(idx)
      // time-driven deadman trips this event's arrival finalizes (the
      // window is entirely below this finalized event, hence exact)
      while (!aborted && k <= last && slotSpecs(k).kind == "deadman" &&
          trips.nonEmpty && e.tsUs > dmEndUs(k, trips)) {
        if (dm <= slotSpecs(k).threshold) {
          trips = trips :+ dmEndUs(k, trips); counts = counts :+ dm
          k += 1; dm = 0L
        } else aborted = true // window violated — sequence aborts
      }
      if (!aborted) {
        if (k <= last && trips.nonEmpty && e.tsUs > seqEndUs(trips)) {
          // beyond the sequence deadline: nothing more can consume it
        } else if (k <= last && slotSpecs(k).kind == "threshold") {
          val afterPrev = trips.isEmpty || e.tsUs > trips.last
          if (((e.mask >> k) & 1L) == 1L && afterPrev) {
            cur += 1
            if (cur >= slotSpecs(k).threshold) {
              trips = trips :+ e.tsUs; counts = counts :+ cur
              k += 1; cur = 0L
            }
          }
        } else if (k <= last && slotSpecs(k).kind == "deadman" &&
            ((e.mask >> k) & 1L) == 1L && e.tsUs > trips.last &&
            e.tsUs <= dmEndUs(k, trips)) {
          dm += 1
        }
      }
      idx += 1
    }
    if (aborted) None else Some(NSeqChain(k, trips, cur, dm, counts))
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[StreamNSeqAlert] = {
    armed.clear() // the firing timer; Spark deletes it after this call
    val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
    val st0 = Option(chain.get()).getOrElse(NSeqChain(0, Nil, 0L, 0L, Nil))
    val evs = buf.get().toVector
    val (fin, act) = evs.partition(_.tsUs < wmUs)

    def clearAll(): Unit = { buf.clear(); chain.clear() }
    def emit(st: NSeqChain): Iterator[StreamNSeqAlert] = {
      val slotDocs: Seq[AlertDoc.Doc] = slotSpecs.zipWithIndex.map {
        case (sp, i) =>
          val c = if (sp.kind == "deadman") st.counts(i) else sp.threshold
          Map("metadata" -> Map("value" -> key, "count" -> c),
            "triggered" -> true)
      }
      val doc: AlertDoc.Doc = Map("alert_name" -> name, "slots" -> slotDocs)
      val dmOut = if (lastIsDeadman) st.counts.last else 0L
      Iterator.single(StreamNSeqAlert(name, key, st.trips.head,
        st.trips(lastThrIdx), dmOut,
        graft.functions.Template.render(lastCriteriaTpl, doc),
        graft.functions.Template.render(summaryTpl, doc)))
    }

    advance(st0, fin.sortBy(e => (e.tsUs, e.id))) match {
      case None => clearAll(); Iterator.empty // deadman violated
      case Some(folded) =>
        // watermark-driven deadman trips: the window end has passed
        // the clock, so its membership is exact — count the still-
        // active in-window events too (they can only be at ts == end
        // == wm, and later slots start strictly after end)
        var st = folded; var aborted = false
        while (!aborted && st.slotIdx <= last &&
            slotSpecs(st.slotIdx).kind == "deadman" && st.trips.nonEmpty &&
            wmUs >= dmEndUs(st.slotIdx, st.trips)) {
          val k = st.slotIdx
          val end = dmEndUs(k, st.trips)
          val dmTot = st.dmCount + act.count(a =>
            ((a.mask >> k) & 1L) == 1L && a.tsUs > st.trips.last &&
              a.tsUs <= end)
          if (dmTot <= slotSpecs(k).threshold)
            st = NSeqChain(k + 1, st.trips :+ end, 0L, 0L,
              st.counts :+ dmTot)
          else aborted = true
        }
        if (aborted) { clearAll(); Iterator.empty }
        else if (st.slotIdx > last) { clearAll(); emit(st) }
        else if (st.trips.nonEmpty && wmUs >= seqEndUs(st.trips)) {
          // The watermark reached the sequence deadline with the chain
          // still open. The deadline is INCLUSIVE (window contract
          // `<= t0 + lifespan`), and when wm lands EXACTLY on it an
          // event AT the deadline is still active (ts >= wm) — fold
          // those boundary actives through the chain (the deadman loop
          // above counts them the same way) so a final-threshold trip
          // at the inclusive deadline still emits instead of being
          // silently expired. When wm is strictly past the deadline
          // the filter is empty and this is the plain expiry path.
          val boundary = act.filter(_.tsUs <= seqEndUs(st.trips))
            .sortBy(e => (e.tsUs, e.id))
          val res = advance(st, boundary) match {
            case Some(s2) if s2.slotIdx > last => emit(s2)
            case _ => Iterator.empty // expired mid-chain (or violated)
          }
          clearAll(); res
        } else {
          // persist; arm the nearest pending boundary. Candidates:
          // (a) the earliest still-active event's FINALIZATION tick —
          // the chain only advances on finalized events, so a key
          // whose inputs stop must still wake when the global
          // watermark passes its buffered events; (b) the pending
          // deadman window end / sequence deadline, from the real
          // chain or one PROVISIONALLY simulated through active
          // events, so a silent tripped key completes on time.
          chain.update(st)
          buf.clear()
          if (act.nonEmpty) buf.appendList(act.toArray)
          val chainBoundary = Some(st).filter(_.trips.nonEmpty)
            .orElse(advance(st, act.sortBy(e => (e.tsUs, e.id))).filter(_.trips.nonEmpty))
            .map { s =>
              val b = if (s.slotIdx <= last &&
                  slotSpecs(s.slotIdx).kind == "deadman")
                dmEndUs(s.slotIdx, s.trips) else seqEndUs(s.trips)
              (b + 999L) / 1000L
            }
          val actBoundary =
            if (act.isEmpty) None
            else Some(act.map(_.tsUs).min / 1000L + 1L)
          (chainBoundary.toSeq ++ actBoundary.toSeq)
            .minOption.foreach(rearm)
          Iterator.empty
        }
    }
  }
}

/** The one streaming sequence engine: [[sequenceStreamTwsN]] runs
  * every streamed sequence spec — `AlertaStreamMain`'s and the
  * sequence-twin queries' — on [[NSeqTwsProcessor]].
  */
object StreamingAlertsTws {

  /** Runs `body` with `settings` on the session's conf, then restores
    * the previous values. A streaming query keeps the conf it started
    * with (`StreamExecution` clones it when constructed), so wrapping
    * a query's `start()` leaves queries started outside untouched.
    */
  private[graft] def withConf[T](s: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val saved = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** [[withConf]] with the RocksDB state store transformWithState needs. */
  def withRocksDb[T](s: SparkSession)(body: => T): T =
    withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)

  /** Split a criteria string on top-level ANDs (outside parens and
    * single-quoted strings) — the corpus's criteria are conjunctions,
    * and the template-bearing conjunct is always a whole conjunct.
    */
  private[graft] def topLevelConjuncts(criteria: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0; var inStr = false; var i = 0
    val s = criteria
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { cur += c; if (c == '\'') inStr = false; i += 1 }
      else if (c == '\'') { cur += c; inStr = true; i += 1 }
      else if (c == '(') { depth += 1; cur += c; i += 1 }
      else if (c == ')') { depth -= 1; cur += c; i += 1 }
      else if (depth == 0 && (c == 'A' || c == 'a') &&
          i + 3 <= s.length &&
          s.substring(i, i + 3).equalsIgnoreCase("AND") &&
          (i == 0 || !s.charAt(i - 1).isLetterOrDigit && s.charAt(i - 1) != '_') &&
          (i + 3 == s.length || !s.charAt(i + 3).isLetterOrDigit && s.charAt(i + 3) != '_')) {
        out += cur.result(); cur.clear(); i += 3
      } else { cur += c; i += 1 }
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The template-free FAMILY part of a slot's criteria: drop every
    * top-level conjunct carrying a `{{…}}` cross-slot reference (those
    * resolve per key at render time — the key-pinning they express is
    * enforced structurally by the groupByKey). Empty result → `true`
    * (the slot watches every event of the key).
    *
    * CONTRACT for the all-templated edge: a slot whose criteria is
    * ENTIRELY template-bearing (no template-free conjunct at all)
    * deliberately gets the match-all family — every event of the key
    * advances it, and the templated criteria only surfaces RENDERED on
    * the emitted alert. This is correct when the templates express
    * key-pinning (the corpus shape); a template over a NON-key field
    * cannot be evaluated pre-state and is out of this contract —
    * authors must carry at least one template-free conjunct for such
    * slots. Spec-pinned in StreamingSpec ("ENTIRELY template-bearing").
    */
  private[graft] def familyCriteria(criteria: String): String =
    topLevelConjuncts(criteria).filterNot(_.contains("{{"))
      .mkString(" AND ")

  private[graft] def familyColumn(criteria: String): org.apache.spark.sql.Column = {
    val fam = familyCriteria(criteria).trim
    if (fam.isEmpty) lit(true)
    else coalesce(graft.criteria.Criteria.toColumn(fam), lit(false))
  }

  /** The full N-SLOT sequence as a stream — [[NSeqTwsProcessor]]'s
    * driver and the one streaming sequence engine: derives each slot's
    * family predicate from its criteria automatically
    * (template-bearing conjuncts stripped), tags each event with a
    * slot-membership bitmask, and runs one keyed chain state machine
    * per slot-0 `aggregation_key` value. Slot 0 is a threshold; later
    * slots are thresholds or deadmans (a middle deadman needs its own
    * `lifespan`). Defaults follow the batch engine: sequence
    * `lifespan` 3 days (`Shells.sequence`), slot `threshold` 1 for
    * threshold slots and 0 for deadman slots (`Trigger`). Needs ≥2
    * slots, a slot-0 `aggregation_key` that resolves against the events
    * and an `idCol` column; a spec that breaks these throws here, when
    * the stream is built. Run it on the RocksDB state store
    * ([[withRocksDb]]).
    */
  def sequenceStreamTwsN(events: DataFrame, spec: Doc,
      tsCol: String = "ts", idCol: String = "event_id",
      watermarkDelay: String = "10 minutes"): Dataset[StreamNSeqAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    val name = AlertDoc.str(spec, "alert_name", "unnamed")
    val lifespanMs = graft.functions.Dates.interval(
      AlertDoc.str(spec, "lifespan", "3 days")).toMillis
    val slots = AlertDoc.docs(spec, "slots")
    require(slots.size >= 2, s"sequenceStreamTwsN wants ≥2 slots, got ${slots.size}")
    val slotSpecs = slots.map { s =>
      val w = AlertDoc.str(s, "lifespan", "")
      val kind = AlertDoc.str(s, "alert_type", "threshold")
      NSeqSlot(kind,
        AlertDoc.long(s, "threshold", if (kind == "deadman") 0L else 1L),
        if (w.isEmpty) 0L else graft.functions.Dates.interval(w).toMillis)
    }
    val keyPath = AlertDoc.str(slots.head, "aggregation_key")
    require(Paths.leafType(events.schema, keyPath).isDefined,
      s"slot 0 aggregation_key '$keyPath' does not resolve against the events")
    val keyCol = Paths.column(events.schema, keyPath).cast(StringType)
    val famCols = slots.map(s => familyColumn(AlertDoc.str(s, "criteria")))
    val maskCol = famCols.zipWithIndex.map { case (c, i) =>
      when(coalesce(c, lit(false)), lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    val keyed = StreamingAlerts.whereAfterWatermark(
      events
        .withColumn("__ts", col(tsCol).cast("timestamp"))
        .withWatermark("__ts", watermarkDelay)
        .withColumn("__k", keyCol)
        .withColumn("__mask", maskCol),
      col("__mask") =!= 0L && col("__k").isNotNull &&
        col("__ts").isNotNull && col(idCol).isNotNull)
      .select(col("__k"), col("__mask"),
        unix_micros(col("__ts")).as("__us"),
        col(idCol).cast("long").as("__id"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
    keyed.transformWithState(
      new NSeqTwsProcessor(name, slotSpecs, lifespanMs,
        AlertDoc.str(slots.last, "criteria"), AlertDoc.str(spec, "summary")),
      TimeMode.EventTime(), OutputMode.Append)
  }
}
