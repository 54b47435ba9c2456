package graft.engine

import java.time.Instant

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.criteria.Criteria
import graft.functions.Dates
import graft.model.{AlertDoc, Shells}
import graft.model.AlertDoc.Doc
import graft.store.{AlertStore, InflightStore}

/** One engine run — the reference's `main` (alerta.py:481-515) phase
  * order: ① advance inflight sequences, ② evaluate definitions,
  * ③ complete filled sequences, ④ expire timed-out ones.
  *
  * Scale deviation from the reference (SURVEY.md §4 caching win): the
  * reference submits one Athena scan of the same 2-hour window per
  * spec per run; here the window is scanned once, cached, and every
  * spec's criteria is a filter over the shared cache — identical
  * semantics, N× less I/O. At cluster scale the cache is the hot last
  * 2 hours of partitions.
  *
  * The fire-probe: on most runs most specs fire nothing, yet each
  * evaluation costs a multi-stage query. Before ①, one query
  * ([[Trigger.mayFire]]) bounds every threshold evaluation of the run
  * — each threshold spec, and the first unfilled threshold slot of
  * each inflight doc and sequence spec, criteria rendered — and ①/②
  * run the exact path (fetch → dedup → trigger → save) only for those
  * that may fire. Skipping is exact, not a heuristic:
  *   - the probe dedups against the pre-run alerted ids (and inflight
  *     ids, for slots); phases ① and ② only add ids (deletes come in
  *     ③/④), so it removes no more than the exact path does;
  *   - it counts without the per-spec `limit`, so its group counts
  *     bound the exact path's from above;
  *   - key values are built as [[Trigger.threshold]] builds them (NULL
  *     keys drop out) and a NULL criteria result matches nothing;
  *   - deadman specs and slots, evaluations whose criteria or key does
  *     not build or resolve, and everything when the probe query
  *     throws are never skipped — the exact path runs and logs them
  *     as before;
  *   - a skipped slot saves nothing, as a zero-row trigger does.
  */
class Runner(
    spark: SparkSession,
    val alerts: AlertStore,
    val inflight: InflightStore,
    limit: Int = 1000) {

  private val log = org.apache.log4j.Logger.getLogger(getClass)

  /** `evaluations` counts the specs and inflight docs of phases ① and
    * ②; `evaluationsSkipped` those the fire-probe ruled out.
    */
  case class RunStats(alertsSaved: Int, sequencesCompleted: Int,
      evaluations: Int, evaluationsSkipped: Int)

  def runOnce(lake: DataFrame, specs: Seq[Doc],
      now: Instant = Dates.utcnow()): RunStats = {
    val window = windowed(lake, now).cache()
    // dedup identity: the reference envelope's `eventid`; the local
    // test lake spells it `event_id`
    val idField = Seq("eventid", "event_id").find(lake.columns.contains)
      .getOrElse("eventid")
    try {
      val fetch: String => Option[DataFrame] = criteria =>
        try Some(window.where(Criteria.toColumn(criteria)).limit(limit))
        catch { case e: Exception => log.error(s"bad criteria: $criteria", e); None }

      val seq = new SequenceEngine(spark, alerts, inflight, fetch, idField)
      var saved = 0

      // the fire-probe, over the pre-run stores
      val docs = inflight.all()
      val evals = docs.map(seq.slotEvaluation(_, now)) ++ specs.map { params =>
        AlertDoc.str(params, "alert_type") match {
          case "threshold" => Try(Shells.threshold(params, now)).toOption.map(shell =>
            Trigger.Evaluation(AlertDoc.str(shell, "criteria"), shell, slot = false))
          case "sequence" => seq.slotEvaluation(params, now)
          case _          => None
        }
      }
      val mayFire = Trigger.mayFire(window, evals, alerts.alertedEventIds(spark, idField),
        inflight.inflightEventIds(spark, idField), idField)
      val (docsMayFire, specsMayFire) = mayFire.splitAt(docs.size)

      // ① advance stored inflight sequences first, utcepoch-desc
      // (alerta.py:210-215, 495)
      docs.lazyZip(docsMayFire).foreach { (doc, may) =>
        if (may) seq.processSequenceAlert(doc, now)
      }

      // ② evaluate definitions (alerta.py:499-506)
      specs.lazyZip(specsMayFire).foreach { (params, may) =>
        if (may) AlertDoc.str(params, "alert_type") match {
          case "threshold" => saved += processThreshold(params, fetch, now, idField)
          case "deadman"   => saved += processDeadman(params, fetch, now)
          case "sequence"  => seq.processSequenceAlert(params, now)
          case other       => log.warn(s"unknown alert_type '$other' — skipped")
        }
      }

      // ③ complete + ④ expire (alerta.py:510-513)
      val completed = seq.createSequenceAlerts()
      seq.expireSequenceAlerts(now)
      RunStats(saved + completed.size, completed.size, mayFire.size, mayFire.count(!_))
    } finally window.unpersist()
  }

  /** process_threshold_alert (alerta.py:462-478): shell → query →
    * dedup → trigger → save.
    */
  private def processThreshold(params: Doc, fetch: String => Option[DataFrame],
      now: Instant, idField: String): Int = {
    val shell = Shells.threshold(params, now)
    fetch(AlertDoc.str(shell, "criteria")).map { ev =>
      val fresh = Dedup.removePreviouslyAlerted(
        ev, alerts.alertedEventIds(spark, idField), idField)
      val rows = Trigger.threshold(fresh, shell, now).collect()
      rows.foreach(r => alerts.save(shell ++ Rows.toDoc(r)))
      rows.length
    }.getOrElse(0)
  }

  /** process_deadman_alert (alerta.py:413-425): NO dedup — a deadman
    * fires every run while the condition holds (SURVEY.md §3.2).
    * A FAILED query (fetch = None) is log-and-continue like every
    * other spec — "no rows came back" must never be conflated with
    * "zero events matched", or a broken criteria would false-fire the
    * absence alert every run.
    */
  private def processDeadman(params: Doc, fetch: String => Option[DataFrame],
      now: Instant): Int = {
    val shell = Shells.deadman(params, now)
    fetch(AlertDoc.str(shell, "criteria")).map { ev =>
      val rows = Trigger.deadman(ev, shell, now).collect()
      rows.foreach(r => alerts.save(shell ++ Rows.toDoc(r)))
      rows.length
    }.getOrElse(0)
  }

  /** The 2-hour lookback (S1): partition-column predicates when the
    * lake is hour-partitioned (pruning!), else an event-time filter.
    */
  private def windowed(lake: DataFrame, now: Instant): DataFrame = {
    val cols = lake.columns.toSet
    if (Set("year", "month", "day", "hour").subsetOf(cols))
      lake.where(Criteria.partitionWindow(now))
    else if (cols.contains("utctimestamp"))
      lake.where(Criteria.timeWindow(lake("utctimestamp"), now))
    else if (cols.contains("ts"))
      lake.where(Criteria.timeWindow(lake("ts"), now))
    else lake
  }
}
