package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StringType

import graft.criteria.Criteria
import graft.functions.Paths
import graft.model.AlertDoc
import graft.model.AlertDoc.Doc

/** Streaming alert evaluation (SURVEY.md §2.8 note / BASELINE.json
  * north star): the cron-batch 2-hour lookback becomes watermarked
  * event-time windows; deadman silence becomes a keyed event-time
  * timeout in `flatMapGroupsWithState`.
  *
  * Contract differences from batch, by design:
  *   - threshold: one alert per (window, group) instead of per run —
  *     the window IS the dedup, so the A2 anti-join disappears.
  *   - deadman: absence can't be aggregated (empty groups emit no
  *     rows); it's a keyed event-time timeout — when the watermark
  *     passes last-seen + lifespan, the alert fires.
  *
  * Sequences have one streaming engine, the N-slot transformWithState
  * chain [[StreamingAlertsTws.sequenceStreamTwsN]], which holds the
  * batch [[graft.engine.SequenceEngine]]'s semantics (ReplaySpec).
  */
object StreamingAlerts {

  case class StreamAlert(alert_name: String, value: String, count: Long,
      window_start: Timestamp, window_end: Timestamp, summary: String)

  /** G2 as a stream: criteria filter → watermark → tumbling-window
    * group-count → threshold filter. Emits in append mode when the
    * watermark closes a window.
    */
  def thresholdStream(events: DataFrame, spec: Doc,
      tsCol: String = "ts", windowDuration: String = "15 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val th = AlertDoc.int(spec, "threshold", 1)
    val name = AlertDoc.str(spec, "alert_name", "unnamed")
    val keyCol = Paths.column(events.schema, AlertDoc.str(spec, "aggregation_key"))
      .cast(StringType)
    // cast then watermark FIRST (same rule as deadmanStream: a cast
    // after withWatermark mints an untagged attribute), and watermark
    // BEFORE the criteria filter: the event-time clock must advance on
    // ANY lake traffic, or a quiet criteria would freeze window
    // close-out (and for deadman, starve the very absence signal it
    // exists to detect)
    whereAfterWatermark(
      events
        .withColumn("__ts", col(tsCol).cast("timestamp"))
        .withWatermark("__ts", watermarkDelay)
        .withColumn("__value", keyCol),
      // null event times are EXPLICITLY out of contract (window()
      // would silently drop them anyway — make the drop part of the
      // declared semantics so oracles state it too)
      criteriaColumn(spec) && col("__value").isNotNull && col("__ts").isNotNull)
      .groupBy(window(col("__ts"), windowDuration), col("__value"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= th)
      .select(
        lit(name).as("alert_name"),
        col("__value").as("value"),
        col("cnt").as("count"),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        concat(lit(s"$name: "), col("__value"), lit(" x"), col("cnt")).as("summary"))
  }

  /** Blank criteria means "everything" (shells default to "" when the
    * author omits it); NULL from three-valued logic never passes.
    */
  private[streaming] def criteriaColumn(spec: Doc): Column = {
    val text = AlertDoc.str(spec, "criteria").trim
    if (text.isEmpty) lit(true) else coalesce(Criteria.toColumn(text), lit(false))
  }

  /** Filter that STAYS above the watermark node. Catalyst pushes
    * deterministic predicates through EventTimeWatermark, which would
    * re-starve the event-time clock the moment criteria traffic stops
    * (the exact condition a deadman watches for). Marking the
    * predicate non-deterministic pins it: every lake event reaches the
    * watermark operator, then the filter applies.
    */
  private val clockSafeFilter =
    udf((b: Boolean) => b).asNondeterministic()

  private[streaming] def whereAfterWatermark(df: DataFrame, pred: Column): DataFrame =
    df.where(clockSafeFilter(coalesce(pred, lit(false))))

  case class LastSeen(lastMs: Long)

  /** G3 as a stream: keyed event-time timeout. Every qualifying event
    * refreshes the key's state; when the watermark passes
    * last-seen + lifespan with no refresh, the deadman fires (once per
    * silence — state resets so a comeback re-arms it).
    */
  def deadmanStream(events: DataFrame, spec: Doc,
      tsCol: String = "ts", lifespan: String = "1 hour",
      watermarkDelay: String = "10 minutes"): Dataset[StreamAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    val name = AlertDoc.str(spec, "alert_name", "unnamed")
    // the spec's lifespan wins (same knob the batch engine reads);
    // the parameter is only the default for spec-less callers
    val lifespanMs = graft.functions.Dates.interval(
      AlertDoc.str(spec, "lifespan", lifespan)).toMillis
    val keyCol = Paths.column(events.schema, AlertDoc.str(spec, "aggregation_key"))
      .cast(StringType)
    // cast then watermark FIRST (a cast after withWatermark mints an
    // untagged attribute), and before the criteria filter so the clock
    // advances on any traffic — a deadman whose monitored events go
    // totally silent must still see the watermark move
    val keyed = whereAfterWatermark(
      events
        .withColumn("__ts", col(tsCol).cast("timestamp"))
        .withWatermark("__ts", watermarkDelay)
        .withColumn("__value", keyCol),
      criteriaColumn(spec) && col("__value").isNotNull && col("__ts").isNotNull)
      .select(col("__value").as("k"), col("__ts").as("ts"))
      .as[(String, Timestamp)]
      .groupByKey(_._1)

    keyed.flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
      (key: String, rows: Iterator[(String, Timestamp)],
       state: GroupState[LastSeen]) => {
        if (state.hasTimedOut) {
          val last = state.getOption.map(_.lastMs).getOrElse(0L)
          state.remove() // re-arms when the key comes back
          Iterator.single(StreamAlert(name, key, 0L,
            new Timestamp(last), new Timestamp(last + lifespanMs),
            s"$name: expected events from $key are missing"))
        } else {
          val maxMs = rows.map(_._2.getTime).max
          val prev = state.getOption.map(_.lastMs).getOrElse(0L)
          val last = math.max(prev, maxMs)
          state.update(LastSeen(last))
          // a timeout below the current watermark throws and kills the
          // query (a short lifespan + watermark delay can produce one);
          // clamping fires the timeout at the next watermark advance
          state.setTimeoutTimestamp(
            math.max(last + lifespanMs, state.getCurrentWatermarkMs() + 1))
          Iterator.empty
        }
      })
  }
}
