package graft.engine

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.criteria.Criteria
import graft.functions.{Dates, Paths}
import graft.model.AlertDoc
import graft.model.AlertDoc.Doc
import graft.store.{AlertStore, InflightStore}

/** Tick-by-tick replay scheduler for the BATCH [[SequenceEngine]], so
  * its completed sequences can be pinned against the streaming N-slot
  * chain ([[graft.streaming.StreamingAlertsTws.sequenceStreamTwsN]])
  * on identical events — the two independent implementations of the
  * reference's sequence semantics (alerta.py:274-317) checking each
  * other.
  *
  * The reference's batch engine is run on a cadence by an external
  * scheduler; WHERE the runs land decides which window each slot sees.
  * This replay plays that scheduler with event-time-exact cadence so
  * the batch engine's observable trips coincide with the streaming
  * chain's:
  *
  *  - definition evaluations run at every slot-0 family event time, so
  *    a threshold trip lands exactly ON its T-th event's timestamp
  *    (`utctimestamp` = the tick) — the same instant the chain trips;
  *  - an inflight doc waiting on a threshold slot advances at its
  *    key's family event times after the previous trip;
  *  - a deadman slot is evaluated exactly AT its window end
  *    (min(prevTrip + own window, sequence expiration)) — the instant
  *    the streaming chain scores the quiet window;
  *  - expiry runs before advancement each tick with the engine's own
  *    strict-`isBefore` check, so events AT the inclusive sequence
  *    deadline still count (the same boundary contract the chain's
  *    watermark fold implements).
  *
  * All slot DECISIONS (trip counts, dedup, capture, render, expiry,
  * completion) stay inside the engine — the replay only picks run
  * times, the one degree of freedom the reference leaves to ops.
  *
  * Divergences reconciled by the scheduler, both documented contracts:
  *  - single attempt per key: after a key's slot 0 trips once, its
  *    later definition ticks are dropped. The chain keys one state
  *    machine per value (no overlapping sequences); the batch engine
  *    dedups by event id, which would let a key whose sequence EXPIRED
  *    re-fire on the same (no-longer-inflight) events.
  *  - the slot criteria carry their window bounds as cross-slot
  *    templates (`ts > CAST('{{slots.K.utctimestamp}}' AS TIMESTAMP)`)
  *    — the batch engine queries a LAKE per slot and needs the bound
  *    in the query text, while the chain gets it structurally from
  *    per-key state. The streaming side strips template-bearing
  *    conjuncts into the family automatically, so ONE spec drives
  *    both paths.
  *
  * Scale contract: the replay is a VERIFICATION harness, driver-paced
  * by design (the batch engine's loop is driver-side, SURVEY §2 S1-S3)
  * — events must be pre-filtered to a bounded key subset by the spec's
  * slot-0 criteria; every per-tick Spark job then runs on a pinned
  * single-partition lake. It is not a production path: the scalable
  * implementation of the same semantics IS the streaming chain.
  */
object SequenceReplay {

  /** One completed sequence, on the comparison key the streaming chain
    * emits: aggregation value, slot-0 trip, last THRESHOLD trip, exact
    * final-deadman window count (0 when the last slot is a threshold).
    */
  case class Fired(value: String, t0_us: Long, t_last_us: Long, dm_count: Long)

  /** Default ceiling on distinct slot-0 keys [[run]] will replay.
    * `run` THROWS past it (and pays one distinct+count probe per
    * invocation to check) — callers with intentionally wide specs
    * must pass `maxReplayKeys` explicitly. The cap exists because the
    * tick loop is O(keys × slots) driver-side work by design; the
    * streaming chain is the unbounded-key path.
    */
  val DefaultMaxReplayKeys: Int = 1000

  private def us(i: Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  private def meta(slot: Doc): Doc = slot.get("metadata") match {
    case Some(m: Map[_, _]) => m.asInstanceOf[Doc]
    case _                  => Map.empty
  }

  def run(spark: SparkSession, events: DataFrame, spec: Doc,
      idField: String = "event_id", tsField: String = "ts",
      maxReplayKeys: Int = DefaultMaxReplayKeys): Seq[Fired] = {
    val name = AlertDoc.str(spec, "alert_name", "unnamed")
    val slots = AlertDoc.docs(spec, "slots")
    require(slots.size >= 2, "sequence replay wants >= 2 slots")
    val keyPath = AlertDoc.str(slots.head, "aggregation_key")

    // template-free family predicate per slot — the same derivation
    // the streaming chain uses, so both paths watch identical events
    val famCols = slots.map(sl => graft.streaming.StreamingAlertsTws
      .familyColumn(AlertDoc.str(sl, "criteria")))

    // bounded subset lake: slot-0's criteria carries the key-subset
    // predicate, and a broadcast semi-join restricts EVERY slot's
    // family to keys that can actually open a sequence — later-slot
    // families (template conjuncts stripped) would otherwise admit
    // all keys. One pinned partition so the per-tick jobs are flat.
    val evKeyCol = Paths.column(events.schema, keyPath).cast(StringType)
    val slot0Keys = events.where(famCols.head && evKeyCol.isNotNull)
      .select(evKeyCol.as("__rk")).distinct()
    // This is a VERIFICATION harness: the driver-paced tick loop is
    // O(keys × slots) driver work by design. Refuse loudly when a
    // mis-scoped spec would turn it into an accidental production
    // path (a wild slot-0 family admitting the whole key universe) —
    // the bounded batch/streaming engines are the scale paths.
    val slot0KeyCount = slot0Keys.limit(maxReplayKeys + 1).count()
    require(slot0KeyCount <= maxReplayKeys,
      s"SequenceReplay saw > $maxReplayKeys distinct slot-0 keys — " +
        "this harness replays driver-paced and is bounded by contract; " +
        "scope the spec's slot-0 criteria or use the streaming engine " +
        "(StreamingAlertsTws) for production-sized key sets")
    val lake = events
      .where(famCols.reduce(_ || _))
      .where(col(idField).isNotNull && col(tsField).isNotNull)
      .join(broadcast(slot0Keys), evKeyCol === col("__rk"), "left_semi")
      .coalesce(1).localCheckpoint()
    val keyCol = Paths.column(lake.schema, keyPath).cast(StringType)

    implicit val instantOrd: Ordering[Instant] =
      Ordering.by(i => (i.getEpochSecond, i.getNano))

    // per-slot per-key family event times — the replay's schedule
    val famTs: Seq[Map[String, Vector[Instant]]] = famCols.map { c =>
      lake.where(c && keyCol.isNotNull)
        .select(keyCol.as("k"), col(tsField).as("t"))
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toInstant))
        .groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).sorted.toVector }
    }

    var now: Instant = Instant.EPOCH
    def fetch(criteria: String): Option[DataFrame] =
      Some(lake.where(Criteria.toColumn(criteria) &&
        col(tsField) <= lit(java.sql.Timestamp.from(now))))

    graft.Scratch.withDir("replay") { dir =>
      val alerts = new AlertStore(dir.getPath)
      val inflight = new InflightStore(dir.getPath)
      val engine = new SequenceEngine(spark, alerts, inflight, fetch, idField)

      def firstUnfilled(doc: Doc): Int =
        AlertDoc.docs(doc, "slots").indexWhere(s => !s.contains("triggered"))
      def keyOf(doc: Doc): String =
        AlertDoc.str(meta(AlertDoc.docs(doc, "slots").head), "value")
      def deadmanDeadline(doc: Doc, idx: Int): Instant = {
        val ss = AlertDoc.docs(doc, "slots")
        val prev = Dates.toUTC(AlertDoc.str(ss(idx - 1), "utctimestamp"))
        val exp = Dates.toUTC(AlertDoc.str(doc, "expiration"))
        val ownStr = AlertDoc.str(ss(idx), "lifespan", "")
        if (ownStr.isEmpty) exp
        else Seq(prev.plus(Dates.interval(ownStr)), exp).min
      }

      val ticks = scala.collection.mutable.TreeSet.empty[Instant]
      // a threshold-T slot cannot trip before its T-th candidate event
      // exists, so the earlier ticks are provably no-op engine runs —
      // schedule from the T-th candidate onward only
      val thr0 = math.max(AlertDoc.int(slots.head, "threshold", 1), 1)
      famTs.head.values.foreach(_.drop(thr0 - 1).foreach(ticks += _))
      val tripped = scala.collection.mutable.Set.empty[String]

      // only strictly-FUTURE ticks may be (re-)scheduled — consumed tick
      // times would otherwise re-enter the set every loop iteration and
      // the replay would spin on an unadvanceable doc forever
      def schedule(doc: Doc): Unit = {
        val idx = firstUnfilled(doc)
        if (idx > 0) {
          val ss = AlertDoc.docs(doc, "slots")
          if (AlertDoc.str(ss(idx), "alert_type") == "deadman") {
            val dl = deadmanDeadline(doc, idx)
            if (dl.isAfter(now)) ticks += dl
          } else {
            val prev = Dates.toUTC(AlertDoc.str(ss(idx - 1), "utctimestamp"))
            val exp = Dates.toUTC(AlertDoc.str(doc, "expiration"))
            val thr = math.max(AlertDoc.int(ss(idx), "threshold", 1), 1)
            famTs(idx).getOrElse(keyOf(doc), Vector.empty)
              .filter(t => t.isAfter(prev) && !t.isAfter(exp))
              .drop(thr - 1) // can't trip before the T-th in-window candidate
              .filter(_.isAfter(now))
              .foreach(ticks += _)
          }
        }
      }

      while (ticks.nonEmpty) {
        now = ticks.head
        ticks -= now
        // the reference's phase order (Q4): expiry, inflight, definitions
        engine.expireSequenceAlerts(now)
        inflight.all().foreach { doc =>
          val idx = firstUnfilled(doc)
          if (idx > 0) {
            val ss = AlertDoc.docs(doc, "slots")
            val due =
              if (AlertDoc.str(ss(idx), "alert_type") == "deadman")
                deadmanDeadline(doc, idx) == now
              else famTs(idx).getOrElse(keyOf(doc), Vector.empty).contains(now)
            if (due) engine.processSequenceAlert(doc, now)
          }
        }
        val defDue = famTs.head.exists { case (k, v) =>
          !tripped(k) && v.contains(now) }
        if (defDue) {
          engine.processSequenceAlert(spec, now)
          inflight.all().foreach(d => tripped += keyOf(d))
        }
        engine.createSequenceAlerts()
        inflight.all().foreach(schedule)
      }

      val lastThr = slots.lastIndexWhere(sl =>
        AlertDoc.str(sl, "alert_type", "threshold") == "threshold")
      alerts.all()
        .filter(d => AlertDoc.str(d, "alert_name") == name)
        .map { d =>
          val ss = AlertDoc.docs(d, "slots")
          val dm =
            if (AlertDoc.str(ss.last, "alert_type") == "deadman")
              AlertDoc.long(meta(ss.last), "count", 0L)
            else 0L
          Fired(keyOf(d),
            us(Dates.toUTC(AlertDoc.str(ss.head, "utctimestamp"))),
            us(Dates.toUTC(AlertDoc.str(ss(lastThr), "utctimestamp"))),
            dm)
        }
    }
  }
}
