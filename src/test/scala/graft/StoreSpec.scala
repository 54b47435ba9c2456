package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Dedup
import graft.model.Shells
import graft.store.{AlertStore, InflightStore}

/** Dedup across all three event placements + expiry — mirrors
  * tests/test_alerts.py:114-202.
  */
class StoreSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  def tmp(): String = tempDir("graft-store").toString

  val sampleEvents = Seq(
    Map("eventid" -> "aaa-1", "source" -> "cloudtrail"),
    Map("eventid" -> "aaa-2", "source" -> "cloudtrail"))

  def eventsDf = Seq(("aaa-1", "cloudtrail"), ("aaa-2", "cloudtrail"))
    .toDF("eventid", "source")

  test("alert with no events: dedup is a no-op") {
    val store = new AlertStore(tmp())
    store.save(Shells.threshold(Map("alert_name" -> "test")))
    val fresh = Dedup.removePreviouslyAlerted(eventsDf, store.alertedEventIds(spark))
    assert(fresh.count() === 2)
  }

  test("previously alerted events are removed (top-level events)") {
    val store = new AlertStore(tmp())
    store.save(Shells.threshold(Map()) + ("events" -> sampleEvents))
    val fresh = Dedup.removePreviouslyAlerted(eventsDf, store.alertedEventIds(spark))
    assert(fresh.count() === 0)
  }

  test("inflight events are removed from slot 0 and slot 1 placements") {
    for (slotIdx <- Seq(0, 1)) {
      val store = new InflightStore(tmp())
      val slots = Seq.tabulate(3)(i =>
        if (i == slotIdx) Map("events" -> sampleEvents) else Map("events" -> Seq()))
      store.save(Shells.sequence(Map()) + ("slots" -> slots))
      assert(store.count === 1)
      val fresh = Dedup.removeInflightEvents(eventsDf, store.inflightEventIds(spark))
      assert(fresh.count() === 0)
    }
  }

  test("alerted ids cover slots inside saved alerts too") {
    val store = new AlertStore(tmp())
    store.save(Shells.sequence(Map()) + ("slots" -> Seq(Map("events" -> sampleEvents))))
    assert(Dedup.removePreviouslyAlerted(eventsDf, store.alertedEventIds(spark)).count() === 0)
  }

  test("inflight upsert by _id replaces; insert without _id appends") {
    val store = new InflightStore(tmp())
    val d1 = store.save(Shells.sequence(Map("alert_name" -> "a")))
    assert(store.count === 1)
    store.save(d1 + ("alert_name" -> "a2"))
    assert(store.count === 1)
    assert(store.all().head("alert_name") === "a2")
    store.save(Shells.sequence(Map("alert_name" -> "b")))
    assert(store.count === 2)
  }

  test("store state survives reopen (jsonl round-trip)") {
    val dir = tmp()
    val d = new InflightStore(dir).save(Shells.sequence(Map("alert_name" -> "persist")))
    val reopened = new InflightStore(dir)
    assert(reopened.count === 1)
    assert(reopened.all().head("_id") === d("_id"))
  }

  test("alerted ids stay current across saves and match a reopened store") {
    val dir = tmp()
    val store = new AlertStore(dir)
    def ids(s: AlertStore): Set[String] =
      s.alertedEventIds(spark).as[String].collect().toSet
    store.save(Shells.threshold(Map()) + ("events" -> sampleEvents.take(1)))
    assert(ids(store) === Set("aaa-1")) // the id set now exists; saves grow it
    store.save(Shells.sequence(Map()) + ("slots" -> Seq(Map("events" -> sampleEvents))))
    store.save(Shells.threshold(Map()) + ("events" -> Seq(Map("eventid" -> "bbb-1"))))
    assert(ids(store) === Set("aaa-1", "aaa-2", "bbb-1"))
    assert(ids(store) === ids(new AlertStore(dir)))
    assert(store.alertedEventIds(spark).count() === 3) // no duplicates
  }
}
