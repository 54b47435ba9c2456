package graft

import java.nio.file.Files
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Runner
import graft.model.AlertDoc
import graft.store.{AlertStore, InflightStore}

/** End-to-end engine runs over the local events lake: the reference's
  * cron-run semantics (alerta.py:481-515) — 2-hour lookback window,
  * threshold dedup across runs, deadman re-firing every run.
  */
class RunnerSpec extends AnyFunSuite with SparkSuite {

  // inside the last hour of sf0.001 events (2024-01-01..2024-01-30)
  val now: Instant = Instant.parse("2024-01-30T23:30:00Z")

  def mkRunner(): Runner = {
    val dir = tempDir("graft-runner").toString
    new Runner(spark, new AlertStore(dir), new InflightStore(dir))
  }

  val thresholdSpec = Map[String, Any](
    "alert_name" -> "purchases", "alert_type" -> "threshold",
    "criteria" -> "event_type='purchase'",
    "summary" -> "user {{metadata.value}} purchased {{metadata.count}}x",
    "aggregation_key" -> "user_id", "threshold" -> 1,
    "event_sample_count" -> 0)

  val deadmanSpec = Map[String, Any](
    "alert_name" -> "no_refunds", "alert_type" -> "deadman",
    "criteria" -> "event_type='refund'",
    "summary" -> "expected refund events are missing",
    "aggregation_key" -> "user_id", "threshold" -> 0)

  val purchaseThenError = Map[String, Any](
    "alert_name" -> "purchase_then_error", "alert_type" -> "sequence",
    "lifespan" -> "1 hour",
    "summary" -> "user {{slots.1.metadata.value}} purchased then errored",
    "slots" -> Seq(
      Map[String, Any]("alert_name" -> "buy", "alert_type" -> "threshold",
        "criteria" -> "event_type='purchase'",
        "summary" -> "{{metadata.count}} purchases by {{metadata.value}}",
        "aggregation_key" -> "user_id", "threshold" -> 1, "event_sample_count" -> 0),
      Map[String, Any]("alert_name" -> "fail", "alert_type" -> "threshold",
        // cross-slot ref: the error must belong to the user captured
        // by slot 0 of THIS inflight doc
        "criteria" -> "event_type='error' AND user_id = {{slots.0.metadata.value}}",
        "summary" -> "error by {{metadata.value}}",
        "aggregation_key" -> "user_id", "threshold" -> 1, "event_sample_count" -> 0)))

  test("run fires threshold alerts within the 2-hour window; dedup stops re-fire") {
    val runner = mkRunner()
    val lake = Tables(spark, sf(), "events")

    val stats1 = runner.runOnce(lake, Seq(thresholdSpec, deadmanSpec), now)
    assert(stats1.alertsSaved > 1) // >=1 threshold group + 1 deadman
    val saved = runner.alerts.all()
    val thresholds = saved.filter(d => AlertDoc.str(d, "alert_name") == "purchases")
    val deadmans = saved.filter(d => AlertDoc.str(d, "alert_name") == "no_refunds")
    assert(thresholds.nonEmpty)
    assert(thresholds.head("summary").toString.matches("user \\d+ purchased \\d+x"))
    assert(deadmans.size === 1)
    assert(deadmans.head("summary").toString.contains("expected refund events are missing"))
    // events were captured with ids for dedup
    assert(AlertDoc.seq(thresholds.head, "events").nonEmpty)

    // run 2 over the same window: threshold events already alerted →
    // A2 anti-join removes them, no new threshold alerts; the deadman
    // has no dedup and fires again (SURVEY.md §3.2).
    val before = runner.alerts.all().size
    runner.runOnce(lake, Seq(thresholdSpec, deadmanSpec), now)
    val after = runner.alerts.all()
    assert(after.count(d => AlertDoc.str(d, "alert_name") == "purchases") ===
      thresholds.size) // unchanged
    assert(after.count(d => AlertDoc.str(d, "alert_name") == "no_refunds") === 2)
  }

  test("window excludes events outside current+previous hour") {
    val runner = mkRunner()
    val lake = Tables(spark, sf(), "events")
    // a time where the lake has no events at all
    runner.runOnce(lake, Seq(thresholdSpec), Instant.parse("2030-01-01T00:00:00Z"))
    assert(runner.alerts.all().isEmpty)
  }

  test("sequence lifecycle end-to-end over the real lake (§3.3 phase order)") {
    val runner = mkRunner()
    val lake = Tables(spark, sf("sf0.01"), "events")
    // run 1: slot 0 fires per purchasing user → one inflight doc per group
    runner.runOnce(lake, Seq(purchaseThenError), now)
    val created = runner.inflight.count
    assert(created > 1)
    assert(runner.alerts.all().isEmpty)

    // run 2: phase ① advances each inflight (rendered slot-1 criteria);
    // only user 54 purchased AND errored in the window → exactly one
    // sequence completes (phase ③) and leaves inflight
    runner.runOnce(lake, Seq(purchaseThenError), now)
    val completed = runner.alerts.all()
    assert(completed.size === 1)
    assert(completed.head("summary").toString === "user 54 purchased then errored")
    val slots = AlertDoc.docs(completed.head, "slots")
    assert(slots.forall(_.contains("events")))
    assert(runner.inflight.count === created - 1)
  }

  test("deadman with broken criteria skips — never false-fires on query failure") {
    val runner = mkRunner()
    val broken = deadmanSpec ++ Map("criteria" -> "THIS IS NOT ((( SQL")
    val stats = runner.runOnce(Tables(spark, sf(), "events"), Seq(broken), now)
    // a failed query must read as "unknown", not "zero events matched"
    assert(stats.alertsSaved === 0)
    assert(runner.alerts.all().isEmpty)
  }

  test("blank criteria means everything (batch/streaming contract parity)") {
    val runner = mkRunner()
    val noCriteria = thresholdSpec - "criteria"
    val stats = runner.runOnce(Tables(spark, sf(), "events"), Seq(noCriteria), now)
    // shells default criteria to "" — the spec evaluates over all
    // events instead of dying in expr("")
    assert(stats.alertsSaved > 0)
  }

  test("yaml specs load and dispatch (S6)") {
    val dir = tempDir("graft-specs")
    Files.writeString(dir.resolve("a.yml"),
      """alert_name: "purchases"
        |alert_type: "threshold"
        |criteria: "event_type='purchase'"
        |summary: "user {{metadata.value}} {{metadata.count}}"
        |aggregation_key: "user_id"
        |threshold: 1
        |""".stripMargin)
    val specs = graft.model.AlertSpecs.loadAll(dir.toString + "/*.yml")
    assert(specs.size === 1)
    assert(AlertDoc.str(specs.head, "alert_type") === "threshold")
    val runner = mkRunner()
    runner.runOnce(Tables(spark, sf(), "events"), specs, now)
    assert(runner.alerts.all().nonEmpty)
  }

  // --- the fire-probe ------------------------------------------------------

  test("fire-probe: a spec whose events an earlier spec saved this run does not fire") {
    val runner = mkRunner()
    val again = thresholdSpec + ("alert_name" -> "purchases_again")
    val stats = runner.runOnce(Tables(spark, sf(), "events"), Seq(thresholdSpec, again), now)
    // the probe dedups against the store as it was before the run, so it
    // keeps both; the exact path sees what the first spec just saved
    assert(stats.evaluations === 2 && stats.evaluationsSkipped === 0)
    val names = runner.alerts.all().map(AlertDoc.str(_, "alert_name"))
    assert(names.nonEmpty && names.forall(_ == "purchases"))
  }

  test("fire-probe: a deadman fires on an empty window, a quiet threshold is skipped") {
    val runner = mkRunner()
    val stats = runner.runOnce(Tables(spark, sf(), "events"),
      Seq(thresholdSpec, deadmanSpec), Instant.parse("2030-01-01T00:00:00Z"))
    assert(stats.evaluations === 2 && stats.evaluationsSkipped === 1)
    assert(runner.alerts.all().map(AlertDoc.str(_, "alert_name")) === Seq("no_refunds"))
  }

  test("fire-probe: bad criteria and an unresolvable key are logged, not skipped") {
    val runner = mkRunner()
    val badCriteria = thresholdSpec ++ Map("alert_name" -> "bad_criteria",
      "criteria" -> "THIS IS NOT ((( SQL")
    val badKey = thresholdSpec ++ Map("alert_name" -> "bad_key",
      "aggregation_key" -> "no.such.key")
    val (stats, messages) = logged("graft.engine.Runner", "graft.engine.Trigger$") {
      runner.runOnce(Tables(spark, sf(), "events"), Seq(badCriteria, badKey), now)
    }
    assert(messages.exists(_.startsWith("bad criteria: THIS IS NOT")))
    assert(messages.exists(_.startsWith("aggregation_key 'no.such.key' does not resolve")))
    assert(stats.evaluationsSkipped === 0)
    assert(runner.alerts.all().isEmpty)
  }

  test("fire-probe failure: the run takes the exact path, which fails as it did") {
    // the criteria throws at run time in the probe and on the exact path;
    // a probe that swallowed its failure and skipped would return quietly
    val runner = mkRunner()
    val failing = thresholdSpec + ("criteria" -> "assert_true(value < 0) IS NULL")
    val (_, messages) = logged("graft.engine.Trigger$") {
      intercept[Exception](runner.runOnce(Tables(spark, sf(), "events"), Seq(failing), now))
    }
    assert(messages.exists(_.startsWith("fire-probe failed")))
  }

  test("fire-probe: skipped inflight slots leave their docs unchanged") {
    val runner = mkRunner()
    val lake = Tables(spark, sf("sf0.01"), "events")
    runner.runOnce(lake, Seq(purchaseThenError), now)
    val before = runner.inflight.all()
    val stats = runner.runOnce(lake, Seq(purchaseThenError), now)
    // one doc completes (see the lifecycle test); every other doc's slot
    // 1 and the spec's slot 0, whose events are all inflight, are skipped
    assert(stats.sequencesCompleted === 1)
    assert(stats.evaluations === before.size + 1)
    assert(stats.evaluationsSkipped === before.size)
    val after = runner.inflight.all()
    assert(after.size === before.size - 1 && after.toSet.subsetOf(before.toSet))
  }

  // --- deadman evaluations beside the probe --------------------------------

  def names(runner: Runner): Seq[String] = runner.alerts.all().map(AlertDoc.str(_, "alert_name"))

  test("concurrent deadman: a later threshold dedups against the ids it saved") {
    val lake = Tables(spark, sf(), "events")
    // every purchasing user is under this bound, so the deadman saves
    // each purchase group with its events
    val fewPurchases = deadmanSpec ++ Map("alert_name" -> "few_purchases",
      "criteria" -> "event_type='purchase'", "threshold" -> 1000)
    val alone = mkRunner()
    alone.runOnce(lake, Seq(thresholdSpec), now)
    assert(names(alone).nonEmpty)

    val runner = mkRunner()
    val stats = runner.runOnce(lake, Seq(fewPurchases, thresholdSpec), now)
    // the same two specs one run after the other: the store order of
    // evaluating them in sequence
    val sequential = mkRunner()
    sequential.runOnce(lake, Seq(fewPurchases), now)
    sequential.runOnce(lake, Seq(thresholdSpec), now)
    assert(stats.evaluationsSkipped === 0)
    assert(names(runner).nonEmpty && names(runner).forall(_ == "few_purchases"))
    assert(runner.alerts.all().map(_ - "_id") === sequential.alerts.all().map(_ - "_id"))
  }

  test("concurrent deadman: a deadman whose shell throws surfaces that " +
      "exception at its position") {
    val runner = mkRunner()
    val badShell = deadmanSpec ++ Map("alert_name" -> "bad_shell", "threshold" -> "not a number")
    val e = intercept[NumberFormatException] {
      runner.runOnce(Tables(spark, sf(), "events"),
        Seq(thresholdSpec, badShell, deadmanSpec), now)
    }
    assert(e.getMessage.contains("not a number"))
    // the threshold before it saved; the deadman after it never did
    assert(names(runner).nonEmpty && names(runner).forall(_ == "purchases"))
  }

  test("concurrent deadman: no job of a run is active after it returns or throws") {
    val sc = spark.sparkContext
    // the status store trails the scheduler by its listener queue
    def active(): Seq[Int] = {
      val deadline = System.nanoTime() + 500L * 1000 * 1000
      var ids = sc.statusTracker.getActiveJobIds.toSeq
      while (ids.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(10)
        ids = sc.statusTracker.getActiveJobIds.toSeq
      }
      ids
    }
    val lake = Tables(spark, sf("sf0.01"), "events")
    mkRunner().runOnce(lake, Seq(thresholdSpec, deadmanSpec), now)
    assert(active().isEmpty)

    // the threshold at position 0 throws while the deadman's job, 0.3 s
    // per window row, has seconds left to run
    val failing = thresholdSpec + ("criteria" -> "assert_true(value < 0) IS NULL")
    val slow = deadmanSpec + ("criteria" -> "reflect('java.lang.Thread', 'sleep', 300L) IS NOT NULL")
    intercept[Exception](mkRunner().runOnce(lake, Seq(failing, slow), now))
    assert(active().isEmpty)
  }

  test("every job of a run carries a description naming its evaluation; " +
      "the caller's is restored") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val lake = Tables(spark, sf(), "events")
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    val descs = try {
      sc.setJobDescription("caller")
      mkRunner().runOnce(lake, Seq(thresholdSpec, deadmanSpec, purchaseThenError), now)
      assert(sc.getLocalProperty("spark.job.description") === "caller")
      // listener events arrive in order: a marker job closes the run's
      sc.setJobDescription("marker")
      spark.range(1).count()
      Iterator.continually(seen.poll(10, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "marker").toSeq
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    assert(descs.nonEmpty && !descs.exists(d => d == "<none>" || d == "caller"), descs)
    assert(Set("fire-probe", "threshold purchases", "deadman no_refunds",
      "sequence purchase_then_error").subsetOf(descs.toSet), descs)
  }
}
