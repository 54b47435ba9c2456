package graft

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.criteria.Criteria
import graft.engine.SequenceEngine
import graft.functions.Dates
import graft.model.{AlertDoc, Shells}
import graft.store.{AlertStore, InflightStore}

/** Sequence lifecycle parity — mirrors tests/test_alerts.py:278-435:
  * inflight creation, cross-slot criteria templating, completion with
  * final-summary render + inflight removal, expiry, and the
  * threshold+deadman combined sequence.
  */
class SequenceSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  def mkStores(): (AlertStore, InflightStore) = {
    val dir = tempDir("graft-seq").toString
    (new AlertStore(dir), new InflightStore(dir))
  }

  /** Small lake: cloudtrail root logins + a onelogin event keyed by the
    * cloudtrail identity type — lets slot-1 criteria reference slot-0
    * results.
    */
  def lake: DataFrame = spark.read.json(Seq(
    """{"source":"cloudtrail","eventid":"ct-1","useridentity":{"type":"Root","arn":"arn:root"},
       "sourceipaddress":"6.9.9.93","details":"{}"}""",
    """{"source":"cloudtrail","eventid":"ct-2","useridentity":{"type":"Root","arn":"arn:root"},
       "sourceipaddress":"6.7.8.93","details":"{}"}""",
    """{"source":"onelogin","eventid":"ol-1","useridentity":{"type":"None","arn":""},
       "sourceipaddress":"1.2.3.4","details":"{\"user_name\":\"Root\"}"}""").toDS)

  def fetch(criteria: String): Option[DataFrame] =
    Some(lake.where(Criteria.toColumn(criteria)))

  val thresholdSlot0 = Map(
    "alert_name" -> "root_login", "alert_type" -> "threshold",
    "criteria" -> "source='cloudtrail' AND useridentity.type='Root'",
    "summary" -> "aws {{metadata.value}} {{metadata.count}} root logins",
    "event_snippet" -> "from IP {{sourceipaddress}}",
    "aggregation_key" -> "useridentity.arn",
    "threshold" -> 1, "event_sample_count" -> 5)

  test("two-threshold sequence: create inflight, advance with cross-slot ref, complete") {
    val (alerts, inflight) = mkStores()
    val engine = new SequenceEngine(spark, alerts, inflight, fetch)
    val spec = Map(
      "alert_name" -> "seq_test", "alert_type" -> "sequence",
      "lifespan" -> "1 hour",
      "summary" -> "{{slots.0.metadata.count}} root logins then onelogin by {{slots.1.metadata.value}}",
      "slots" -> Seq(
        thresholdSlot0,
        Map("alert_name" -> "related_onelogin", "alert_type" -> "threshold",
          "criteria" -> "source='onelogin' AND json_extract_scalar(details,'$.user_name')='{{slots.0.events.0.useridentity.type}}'",
          "summary" -> "onelogin {{metadata.value}}",
          "aggregation_key" -> "details.user_name",
          "threshold" -> 1, "event_sample_count" -> 0)))

    // run 1: definition evaluated, slot 0 fires → inflight created
    engine.processSequenceAlert(spec)
    assert(inflight.count === 1)
    val doc = inflight.all().head
    val slot0 = AlertDoc.docs(doc, "slots").head
    assert(slot0("triggered") === true)
    assert(AlertDoc.docs(doc, "slots")(1).get("triggered").isEmpty)
    assert(slot0("summary").toString.contains("2 root logins"))
    assert(slot0("summary").toString.contains("from IP 6.9.9.93"))
    // not complete yet
    assert(engine.createSequenceAlerts().isEmpty)

    // run 2: inflight advanced — slot 1 criteria renders the cross-slot
    // ref {{slots.0.events.0.useridentity.type}} → 'Root'
    inflight.all().foreach(engine.processSequenceAlert(_))
    assert(inflight.count === 1)
    val advanced = inflight.all().head
    assert(AlertDoc.docs(advanced, "slots")(1).get("triggered").contains(true))

    // completion: final summary rendered over the full doc, inflight removed
    val completed = engine.createSequenceAlerts()
    assert(completed.size === 1)
    assert(completed.head("summary").toString === "2 root logins then onelogin by Root")
    assert(inflight.count === 0)
    assert(alerts.all().size === 1)
  }

  test("threshold+deadman sequence (README scenario): deadman absence completes it") {
    val (alerts, inflight) = mkStores()
    val engine = new SequenceEngine(spark, alerts, inflight, fetch)
    val spec = Map(
      "alert_name" -> "root without password manager", "alert_type" -> "sequence",
      "lifespan" -> "1 hour",
      "summary" -> "{{slots.0.metadata.count}} aws root logins from {{slots.0.events.0.sourceipaddress}} without use of a password manager",
      "slots" -> Seq(
        thresholdSlot0,
        Map("alert_name" -> "no_password_manager_use", "alert_type" -> "deadman",
          "criteria" -> "source='bitwarden' AND json_extract_scalar(details,'$.itemid')='root_item_id'",
          "summary" -> "Expected bitwarden aws root item access",
          "aggregation_key" -> "details.actinguserid",
          "threshold" -> 0, "event_sample_count" -> 0,
          "tags" -> Seq("deadman", "bitwarden"))))

    engine.processSequenceAlert(spec)
    assert(inflight.count === 1)
    // deadman slot: no bitwarden events → fires
    inflight.all().foreach(engine.processSequenceAlert(_))
    val completed = engine.createSequenceAlerts()
    assert(completed.size === 1)
    val summary = completed.head("summary").toString
    assert(summary.contains("without use of a password manager"))
    assert(summary.contains("2 aws root logins"))
    assert(summary.contains("from 6.9.9.93") || summary.contains("from 6.7.8.93"))
    assert(inflight.count === 0)
  }

  test("sequence slot events dedup against inflight state (threshold slots only)") {
    val (alerts, inflight) = mkStores()
    val engine = new SequenceEngine(spark, alerts, inflight, fetch)
    val spec = Map("alert_type" -> "sequence", "alert_name" -> "s",
      "slots" -> Seq(thresholdSlot0, thresholdSlot0 + ("alert_name" -> "slot2")))
    engine.processSequenceAlert(spec)
    assert(inflight.count === 1)
    // same events presented again for a NEW sequence: inflight dedup
    // removes them, slot 0 can't fire, no second inflight doc
    engine.processSequenceAlert(spec)
    assert(inflight.count === 1)
  }

  test("expiry removes timed-out inflight docs (test_alerts.py:183-202)") {
    val (alerts, inflight) = mkStores()
    val engine = new SequenceEngine(spark, alerts, inflight, fetch)
    val lastWeek = Dates.utcnow().minusSeconds(7 * 24 * 3600)
    val doc = Shells.sequence(Map(
      "utctimestamp" -> Dates.iso(lastWeek), "lifespan" -> "1 day",
      "slots" -> Seq(Map("alert_name" -> "pending"))))
    inflight.save(doc)
    assert(inflight.count === 1)
    engine.expireSequenceAlerts()
    assert(inflight.count === 0)
  }

  test("unexpired inflight docs survive expiry") {
    val (alerts, inflight) = mkStores()
    val engine = new SequenceEngine(spark, alerts, inflight, fetch)
    inflight.save(Shells.sequence(Map("lifespan" -> "3 days",
      "slots" -> Seq(Map("alert_name" -> "pending")))))
    engine.expireSequenceAlerts()
    assert(inflight.count === 1)
  }
}
