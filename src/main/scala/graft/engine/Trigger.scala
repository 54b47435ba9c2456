package graft.engine

import java.time.Instant

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.criteria.Criteria
import graft.functions.{Dates, Paths, Template}
import graft.model.AlertDoc
import graft.model.AlertDoc.Doc

/** Threshold / deadman trigger evaluation — the reference's
  * `determine_threshold_trigger` (alerta.py:428-459) and
  * `determine_deadman_trigger` (alerta.py:358-410) re-expressed as one
  * single-pass DataFrame pipeline:
  *
  *   groupBy(aggregation key) → count + collect_list(event struct)
  *   → trigger filter (>= / <=) → count-desc order (mostCommon O1)
  *   → alert columns + in-plan Mustache rendering of summary+snippets.
  *
  * The reference's two passes (Counter, then a Python re-scan per
  * group to attach events) collapse into the aggregate; rendering is
  * a compiled `concat` column, so the whole evaluation is one Spark
  * job with map-side partial aggregation and no driver loop. Alerts
  * stay bounded (events per rule per run are LIMIT-capped upstream,
  * alerta.py:147), so `collect_list` memory is bounded by design.
  */
object Trigger {

  /** G2: fire on count >= threshold. */
  def threshold(events: DataFrame, spec: Doc, now: Instant = Dates.utcnow()): DataFrame = {
    val groups = grouped(events, aggKey(spec)).where(col("__count") >= minCount(spec))
    alertify(groups, spec, now, events.schema)
  }

  private def minCount(spec: Doc): Int = AlertDoc.int(spec, "threshold", 1)

  /** One threshold evaluation of a run as [[mayFire]] bounds it: the
    * criteria (a slot's already rendered) and the spec or slot that
    * supplies `aggregation_key` and `threshold`. A `slot` evaluation
    * also drops inflight event ids (alerta.py:297-308).
    */
  case class Evaluation(criteria: String, spec: Doc, slot: Boolean)

  /** The fire-probe: one query over the run's window answers, for every
    * threshold evaluation at once, whether [[threshold]] could return a
    * row. Each window row is tagged with the (evaluation, key value)
    * pairs whose criteria it matches, after the same [[Dedup]]
    * anti-joins against the ids passed in; an evaluation may fire when
    * its largest group reaches its threshold.
    *
    * Returns one flag per entry, false only where the evaluation
    * provably fires nothing. `None` entries (deadman, which must
    * evaluate absence; unknown types), evaluations whose criteria or
    * key fails to build, resolve or is nondeterministic, and every
    * entry when the probe query throws are true, so the caller's exact
    * path runs and logs them as before.
    */
  def mayFire(window: DataFrame, evals: Seq[Option[Evaluation]],
      alertedIds: => DataFrame, inflightIds: => DataFrame,
      idField: String): Seq[Boolean] = {
    val probed: Map[Int, (Int, Column, Boolean)] = evals.zipWithIndex.flatMap {
      case (Some(e), k) => probeTag(window, e, k).map(k -> _)
      case _            => None
    }.toMap
    def tags(slot: Boolean) = probed.values.collect { case (_, t, `slot`) => t }.toSeq
    def matches(rows: => DataFrame, ts: Seq[Column]): Option[DataFrame] =
      if (ts.isEmpty) None
      else Some(rows.select(explode(array(ts: _*)).as("t"))
        .where(col("t.v").isNotNull).select("t.k", "t.v"))
    val largest: Option[Map[Int, Long]] =
      if (probed.isEmpty) Some(Map.empty)
      else try {
        val fresh = Dedup.removePreviouslyAlerted(window, alertedIds, idField)
        val tagged = (matches(fresh, tags(slot = false)) ++ matches(
          Dedup.removeInflightEvents(fresh, inflightIds, idField), tags(slot = true)))
          .reduce(_ unionByName _)
        Some(tagged.groupBy("k", "v").count().groupBy("k").agg(max("count"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
      } catch {
        case NonFatal(e) =>
          log.warn("fire-probe failed — evaluating every spec", e)
          None
      }
    evals.indices.map(k => (largest, probed.get(k)) match {
      case (Some(counts), Some((th, _, _))) => counts.get(k).exists(_ >= th)
      case _                                => true
    })
  }

  /** The probe's tag for one evaluation — (threshold, tag column, slot)
    * — or None when the exact path must see it: its key is blank or
    * unresolvable (logged in [[grouped]]), or its criteria fails to
    * parse or analyse in the same `where` that `Runner`'s fetch builds.
    * The key value is built exactly as [[grouped]] builds it; a NULL
    * criteria result tags nothing.
    */
  private def probeTag(window: DataFrame, e: Evaluation,
      k: Int): Option[(Int, Column, Boolean)] =
    try {
      val key = aggKey(e.spec)
      val criteria = Criteria.toColumn(e.criteria)
      val analysed = window.where(criteria).queryExecution.analyzed
      if (key.trim.isEmpty || Paths.leafType(window.schema, key).isEmpty ||
          !analysed.expressions.forall(_.deterministic)) None
      else Some((minCount(e.spec), when(criteria, struct(lit(k).as("k"),
        Paths.column(window.schema, key).cast(StringType).as("v"))), e.slot))
    } catch { case NonFatal(_) => None }

  /** G3: fire on count <= threshold; absent events/groups synthesize
    * the deadman meta-event and a zero count (alerta.py:366-386).
    *
    * One plan: the groups are gathered into one list, and an empty list
    * becomes the (key, 0) meta-group (alerta.py:384-386). Its attached
    * events are empty by construction — no event can have key-value ==
    * the key string when no event produced any key value at all (the
    * reference's meta-event never matches either, alerta.py:399-403).
    * One `__count <= threshold` filter then serves both cases, and the
    * aggregation runs once. The gathered list is alert-scale: the
    * runner caps the events of one evaluation (`limit`).
    */
  def deadman(events: DataFrame, spec: Doc, now: Instant = Dates.utcnow()): DataFrame = {
    val th = AlertDoc.int(spec, "threshold", 0)
    val key = aggKey(spec)
    val g = grouped(events, key)
    val meta = array(struct(lit(key).as("__value"), lit(0L).as("__count"),
      from_json(lit("[]"), ArrayType(events.schema)).as("__events")))
    val groups = g.agg(collect_list(struct(g.columns.map(col): _*)).as("__gs"))
      .select(explode(when(size(col("__gs")) === 0, meta)
        .otherwise(col("__gs"))).as("__g"))
      .select("__g.*")
    alertify(groups.where(col("__count") <= th), spec, now, events.schema)
  }

  private def aggKey(spec: Doc): String = AlertDoc.str(spec, "aggregation_key")

  /** mostCommon (G1): group-count by the dotted aggregation key, with
    * the group's events collected and deterministically ordered.
    * Events with no value at the key path don't form groups (the
    * reference's keypaths() only yields existing leaves).
    */
  private val log = org.apache.log4j.Logger.getLogger(getClass)

  private def grouped(events: DataFrame, dottedKey: String): DataFrame = {
    // a blank or unresolvable key makes every __value NULL — the rule
    // would silently never fire, indistinguishable from a quiet lake.
    // Be loud about it (the bad-criteria path already is).
    if (dottedKey.trim.isEmpty)
      log.warn("aggregation_key is blank — rule can never fire")
    else if (Paths.leafType(events.schema, dottedKey).isEmpty)
      log.warn(s"aggregation_key '$dottedKey' does not resolve against the " +
        s"event schema — rule can never fire")
    val keyCol = Paths.column(events.schema, dottedKey).cast(StringType)
    val evStruct = struct(events.columns.map(col): _*)
    events
      .withColumn("__value", keyCol)
      .where(col("__value").isNotNull)
      .groupBy("__value")
      .agg(
        count(lit(1)).as("__count"),
        sort_array(collect_list(evStruct)).as("__events"))
  }

  /** Build the alert rows: spec fields as literals, `metadata.value/
    * count` from the group, the group's events, and the summary
    * rendered in-plan — base template over the alert context, then
    * " " + snippet for each of the first `event_sample_count` events
    * (alerta.py:453-458 append semantics, trailing-space quirks
    * included).
    */
  private def alertify(groups: DataFrame, spec: Doc, now: Instant,
      eventSchema: StructType): DataFrame = {
    val tags = AlertDoc.seq(spec, "tags").map(_.toString)
    val sampleCount = AlertDoc.int(spec, "event_sample_count", 0)
    val summaryTpl = AlertDoc.str(spec, "summary")
    val snippetTpl = AlertDoc.str(spec, "event_snippet")

    val base = groups
      .orderBy(col("__count").desc, col("__value"))
      .select(
        lit(AlertDoc.str(spec, "alert_name", "unnamed")).as("alert_name"),
        lit(AlertDoc.str(spec, "alert_type")).as("alert_type"),
        lit(Dates.iso(now)).as("utctimestamp"),
        lit(AlertDoc.str(spec, "severity", "INFO")).as("severity"),
        lit(AlertDoc.str(spec, "category")).as("category"),
        (if (tags.isEmpty) array().cast(ArrayType(StringType))
         else array(tags.map(lit): _*)).as("tags"),
        // record the same default the evaluation used: threshold
        // alerts fire at count >= 1 when unspecified, deadman at <= 0
        lit(AlertDoc.int(spec, "threshold",
          if (AlertDoc.str(spec, "alert_type") == "threshold") 1 else 0)).as("threshold"),
        lit(AlertDoc.str(spec, "aggregation_key")).as("aggregation_key"),
        lit(AlertDoc.str(spec, "criteria")).as("criteria"),
        lit(snippetTpl).as("event_snippet"),
        lit(sampleCount).as("event_sample_count"),
        lit(true).as("triggered"),
        struct(col("__value").as("value"), col("__count").as("count")).as("metadata"),
        col("__events").as("events"))

    val summaryBase = Template.compile(summaryTpl, base.schema)
    val snippets =
      if (sampleCount <= 0) lit("")
      else coalesce(
        array_join(
          transform(
            slice(col("events"), 1, sampleCount),
            e => concat(lit(" "),
              Template.compile(snippetTpl, eventSchema, name => e.getField(name)))),
          ""),
        lit(""))
    base.withColumn("summary", concat(summaryBase, snippets))
      .select("alert_name", "alert_type", "utctimestamp", "severity", "summary",
        "event_snippet", "event_sample_count", "category", "tags", "threshold",
        "aggregation_key", "criteria", "triggered", "metadata", "events")
  }
}
