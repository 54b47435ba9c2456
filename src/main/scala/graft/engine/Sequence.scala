package graft.engine

import java.time.Instant

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{Dates, Template}
import graft.model.{AlertDoc, Shells}
import graft.model.AlertDoc.Doc
import graft.store.{AlertStore, InflightStore}

/** The sequence correlation engine (Q1-Q5, alerta.py:274-317 +
  * 210-248): ordered multi-slot alerts with a lifespan window.
  *
  * The loop is inherently driver-side — slot N's criteria is Mustache-
  * rendered against the *data* of slots 0..N-1 (alerta.py:291), so
  * each slot evaluation synthesizes a new query; no static DAG can
  * express it. Each slot evaluation, though, is one distributed Spark
  * job (criteria filter → dedup anti-joins → trigger aggregation), and
  * only the first unfilled slot of each sequence is queried per run
  * (early termination, alerta.py:283-285).
  *
  * `fetch` returns the criteria-filtered event window (None = query
  * failure → log-and-continue, alerta.py:289-294 contract).
  */
class SequenceEngine(
    spark: SparkSession,
    alerts: AlertStore,
    inflight: InflightStore,
    fetch: String => Option[DataFrame],
    idField: String = "eventid") {

  private val log = org.apache.log4j.Logger.getLogger(getClass)

  /** The first unfilled slot of a sequence (early termination,
    * alerta.py:283-285) with its criteria rendered: cross-slot template
    * refs resolve against the full alert doc, BEFORE SQL parsing —
    * dynamic, data-dependent query synthesis (alerta.py:291).
    */
  private case class NextSlot(alert: Doc, slots: Seq[Doc], index: Int, criteria: String) {
    def slot: Doc = slots(index)
  }

  private def nextSlot(params: Doc, now: Instant): Option[NextSlot] = {
    val alert = AlertDoc.merge(params, Shells.sequence(params, now))
    val slots = AlertDoc.docs(alert, "slots")
    val index = slots.indexWhere(s => !s.contains("triggered"))
    if (index < 0) None
    else Some(NextSlot(alert, slots, index,
      Template.render(AlertDoc.str(slots(index), "criteria"), alert)))
  }

  /** The next slot as the fire-probe sees it ([[Trigger.mayFire]]):
    * threshold slots only — a deadman slot must evaluate absence — and
    * None when the doc does not even render, so the exact path meets
    * the failure where it does today.
    */
  def slotEvaluation(params: Doc, now: Instant): Option[Trigger.Evaluation] =
    Try(nextSlot(params, now)).toOption.flatten.collect {
      case n if AlertDoc.str(n.slot, "alert_type") == "threshold" =>
        Trigger.Evaluation(n.criteria, n.slot, slot = true)
    }

  /** process_sequence_alert (alerta.py:274-317). */
  def processSequenceAlert(params: Doc, now: Instant = Dates.utcnow()): Unit =
    nextSlot(params, now).foreach { case NextSlot(alert, slots, index, criteria) =>
      val slot = slots(index)
      val events: Option[DataFrame] =
        try fetch(criteria)
        catch { case e: Exception => log.error(s"query failed: $criteria", e); None }

      def saveSlotAlerts(triggered: DataFrame): Unit =
        triggered.collect().foreach { row =>
          val filled = slots.updated(index, Rows.toDoc(row))
          inflight.save(alert + ("slots" -> filled))
        }

      AlertDoc.str(slot, "alert_type") match {
        case "threshold" =>
          events.foreach { ev =>
            // threshold slots dedup against both stores (alerta.py:297-308)
            val fresh = Dedup.removePreviouslyAlerted(
              Dedup.removeInflightEvents(ev, inflight.inflightEventIds(spark, idField), idField),
              alerts.alertedEventIds(spark, idField), idField)
            saveSlotAlerts(Trigger.threshold(fresh, slot, now))
          }
        case "deadman" =>
          // deadman slots skip dedup entirely — the Q5 quirk
          // (alerta.py:310-316); an untriggered deadman stays unfilled.
          // A FAILED query (None) leaves the slot unfilled too — an
          // errored criteria must not masquerade as "zero events" and
          // falsely advance the sequence.
          events.foreach(ev => saveSlotAlerts(Trigger.deadman(ev, slot, now)))
        case other =>
          log.warn(s"unknown slot alert_type '$other' — skipped")
      }
    }

  /** create_sequence_alerts (alerta.py:218-237): all slots filled
    * (`events` present) → render final summary over the full doc, save
    * to alerts, drop inflight.
    */
  def createSequenceAlerts(): Seq[Doc] =
    inflight.all().flatMap { doc =>
      val slots = AlertDoc.docs(doc, "slots")
      if (slots.forall(_.contains("events"))) {
        val rendered = doc +
          ("summary" -> Template.render(AlertDoc.str(doc, "summary"), doc))
        val saved = alerts.save(rendered)
        inflight.delete(AlertDoc.str(doc, "_id"))
        Some(saved)
      } else None
    }

  /** expire_sequence_alerts (alerta.py:240-248). */
  def expireSequenceAlerts(now: Instant = Dates.utcnow()): Unit =
    inflight.all().foreach { doc =>
      val exp = AlertDoc.str(doc, "expiration")
      if (exp.nonEmpty && Dates.toUTC(exp).isBefore(now))
        inflight.delete(AlertDoc.str(doc, "_id"))
    }
}
