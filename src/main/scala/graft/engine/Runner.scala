package graft.engine

import java.time.Instant
import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors, Future, TimeUnit}

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
  *
  * Deadman specs overlap the probe: the reference evaluates a run's
  * specs one after another (alerta.py:499-506), but a deadman's query
  * reads only the window — no dedup, no store — so nothing phases ①
  * or ② save can change its rows. Each deadman spec's evaluation is
  * therefore submitted, at the start of the run, to a pool of daemon
  * threads owned by the run (at most one per deadman spec, at most
  * `defaultParallelism`); phase ② waits for it at the spec's position
  * and saves its rows there, or rethrows its exception there, so the
  * store sees exactly the sequential order. The probe and every
  * threshold and sequence evaluation stay on the calling thread: the
  * threshold exact path dedups against ids saved earlier in the run.
  *
  * Every job of a run carries the run's own job group and a
  * description naming its evaluation (`fire-probe`, `threshold <name>`,
  * `deadman <name>`, `sequence <name>`); the thread's previous group
  * and description are restored afterwards. A run that exits while a
  * deadman task still runs cancels its group with the group's future
  * jobs; on every exit the pool is drained before the window is
  * unpersisted, so no job or pool thread outlives the run.
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
    val fetch: String => Option[DataFrame] = criteria =>
      try Some(window.where(Criteria.toColumn(criteria)).limit(limit))
      catch { case e: Exception => log.error(s"bad criteria: $criteria", e); None }

    // process_deadman_alert (alerta.py:413-425) up to its save, beside
    // the probe: NO dedup — a deadman fires every run while the
    // condition holds (SURVEY.md §3.2). A FAILED query (fetch = None)
    // is log-and-continue like every other spec — "no rows came back"
    // must never be conflated with "zero events matched", or a broken
    // criteria would false-fire the absence alert every run.
    // The scheduler keeps refusing jobs of a group cancelled with its
    // future jobs, so each run needs its own.
    val group = s"runner-${UUID.randomUUID()}"
    val deadmans = specs.indices.filter(i => AlertDoc.str(specs(i), "alert_type") == "deadman")
    val pool = Option.when(deadmans.nonEmpty)(Executors.newFixedThreadPool(
      math.min(deadmans.size, spark.sparkContext.defaultParallelism), (r: Runnable) => {
        val t = new Thread(r, "runner-deadman"); t.setDaemon(true); t
      }))
    val deadman: Map[Int, Future[Seq[Doc]]] = pool.toSeq.flatMap { p =>
      deadmans.map { i =>
        val params = specs(i)
        i -> p.submit(new Callable[Seq[Doc]] {
          def call(): Seq[Doc] = labeled(group, s"deadman ${name(params)}") {
            val shell = Shells.deadman(params, now)
            fetch(AlertDoc.str(shell, "criteria")).toSeq.flatMap { ev =>
              Trigger.deadman(ev, shell, now).collect().toSeq.map(r => shell ++ Rows.toDoc(r))
            }
          }
        })
      }
    }.toMap
    try {
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
      val mayFire = labeled(group, "fire-probe") {
        Trigger.mayFire(window, evals, alerts.alertedEventIds(spark, idField),
          inflight.inflightEventIds(spark, idField), idField)
      }
      val (docsMayFire, specsMayFire) = mayFire.splitAt(docs.size)

      // ① advance stored inflight sequences first, utcepoch-desc
      // (alerta.py:210-215, 495)
      docs.lazyZip(docsMayFire).foreach { (doc, may) =>
        if (may) labeled(group, s"sequence ${name(doc)}")(seq.processSequenceAlert(doc, now))
      }

      // ② evaluate definitions (alerta.py:499-506); a deadman's rows are
      // saved at its position, so a later threshold dedups against them
      specs.lazyZip(specsMayFire).lazyZip(specs.indices).foreach { (params, may, i) =>
        if (may) AlertDoc.str(params, "alert_type") match {
          case "threshold" => saved += labeled(group, s"threshold ${name(params)}") {
            processThreshold(params, fetch, now, idField)
          }
          case "deadman" =>
            val rows = try deadman(i).get() catch { case e: ExecutionException => throw e.getCause }
            rows.foreach(alerts.save)
            saved += rows.size
          case "sequence" => labeled(group, s"sequence ${name(params)}") {
            seq.processSequenceAlert(params, now)
          }
          case other => log.warn(s"unknown alert_type '$other' — skipped")
        }
      }

      // ③ complete + ④ expire (alerta.py:510-513)
      val completed = seq.createSequenceAlerts()
      seq.expireSequenceAlerts(now)
      RunStats(saved + completed.size, completed.size, mayFire.size, mayFire.count(!_))
    } finally {
      // an early exit leaves deadman tasks running: fail their jobs and
      // any they submit later, then wait for them without interrupting
      // a thread inside Spark
      if (deadman.values.exists(!_.isDone))
        spark.sparkContext.cancelJobGroupAndFutureJobs(group)
      try pool.foreach { p =>
        p.shutdown()
        p.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      } finally window.unpersist()
    }
  }

  private def name(params: Doc): String = AlertDoc.str(params, "alert_name", "unnamed")

  /** `body` with the thread's job group set to the run's `group` and its
    * job description to `desc`, restoring the thread's own afterwards.
    */
  private def labeled[A](group: String, desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val before = keys.map(sc.getLocalProperty)
    sc.setJobGroup(group, desc)
    try body finally keys.lazyZip(before).foreach(sc.setLocalProperty)
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
