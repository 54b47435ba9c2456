package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.criteria.Criteria

/** SURVEY.md §2 engine-layer operators (G1-G3, A1-A5, T4-T5, O1-O4)
  * expressed as standalone queries over the local `events` table for
  * the driver's DuckDB oracle. The full alert pipeline (shells,
  * templating, stores, sequences) lives in graft.engine / graft.model;
  * these entries pin the relational core of each operator.
  *
  * Local-table mapping (repo:FIXTURES.md §1): `props` plays `details`
  * (JSON string), `user_id` plays the aggregation key, `event_type`
  * plays `source`, `event_id` plays `eventid`.
  */
private[graft] object QueriesAlert {
  import SparkEntryRegistry.Q

  // The flagship criteria exercises every Presto construct in the
  // reference corpus (SURVEY.md §2.2): envelope equality, AND,
  // json_extract_scalar, CAST(... AS INTEGER), position(x IN y).
  private val prestoCriteria =
    "event_type='purchase' AND CAST(json_extract_scalar(props,'$.k') AS INTEGER) > 50" +
      " AND position('pur' IN event_type) = 1"
  private val duckCriteria =
    "event_type='purchase' AND CAST(json_extract_string(props,'$.k') AS INTEGER) > 50" +
      " AND position('pur' IN event_type) = 1"

  // identical text executed by Spark AND DuckDB (dialect-portable ANSI)
  private val RollupSql =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  private val SetOpsSql =
    """(SELECT user_id FROM events WHERE event_type = 'click'
      | INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase')
      |EXCEPT SELECT user_id FROM events WHERE event_type = 'error' AND value > 195
      |ORDER BY user_id""".stripMargin

  private val ExistsSql =
    """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Drain a streaming DataFrame into a memory sink (AvailableNow) and
    * return the sink table. The drain's checkpoint is a fresh
    * [[Scratch]] directory (a reused one would RESUME and skip the
    * data batch): private to one query, local, single-writer, deleted
    * when the drain returns and never restarted from, so the query
    * starts under three settings that drop durability it cannot use
    * (they reach only this query:
    * `StreamExecution` clones the session conf when it is built):
    *  - the FileSystem-based checkpoint manager renames with plain
    *    `FileSystem.rename`; the default FileContext manager resolves
    *    symlinks on every rename, which Hadoop's local file system does
    *    by forking `readlink` when native Hadoop is absent;
    *  - no checkpoint checksums: Spark's `.crc` sidecar per checkpoint
    *    file guards only a restart, which a drain never makes;
    *  - one shuffle partition: each stateful operator keeps one state
    *    store instead of one per partition; drains replay test tables
    *    of at most sf0.1.
    * The sink is a temp view of `s`; a drain that throws drops it, so
    * no partial table outlives the failure.
    */
  private[graft] def drainToMemory(s: SparkSession, df: DataFrame, sink: String,
      mode: org.apache.spark.sql.streaming.OutputMode): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    s.catalog.dropTempView(sink)
    try Scratch.withDir(sink) { cp =>
      val q = graft.streaming.StreamingAlertsTws.withConf(s,
          "spark.sql.streaming.checkpointFileManagerClass" ->
            ("org.apache.spark.sql.execution.streaming.checkpointing." +
              "FileSystemBasedCheckpointFileManager"),
          "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> "1") {
        df.writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", cp.getAbsolutePath)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
    } catch { case e: Throwable =>
      s.catalog.dropTempView(sink)
      throw e
    }
    s.table(sink)
  }

  /** Events replayed as a file stream: the glob's one-char class makes
    * the sf dir (not the file) the FileStreamSource base path; the
    * schema is read as stored (ts = nanos long under nanosAsLong) and
    * normalizeTs restores the µs timestamp.
    */
  private[graft] def eventStream(s: SparkSession, dir: String): DataFrame =
    tableStream(s, dir, "events")

  /** Any testdata table replayed as a file stream. One microbatch
    * regardless of file count: q54's DISTINCT oracle equivalence (and
    * every "single-microbatch replay == batch fold" parity contract)
    * needs the whole replay inside a single batch — across batches
    * the advancing watermark could drop late keys and expire dedup
    * state, both diverging from the batch op. The file schema comes
    * from the per-path cache of [[Tables.readCachedSchema]], so
    * building the plan runs no schema-inference job after the first.
    */
  private[graft] def tableStream(s: SparkSession, dir: String,
      name: String): DataFrame = {
    val raw = Tables.readCachedSchema(s, s"$dir/$name.parquet").schema
    Tables.normalizeTs(s.readStream.schema(raw)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(s"$dir/$name.[p]arquet"))
  }

  def registry: Seq[Q] = Seq(
    // streaming ingest dedup through the oracle gate: first arrival
    // per content key passes, duplicates drop within the watermark
    // horizon. Projected to the key pair, the output is exactly the
    // DISTINCT set — append mode emits first arrivals immediately, so
    // an AvailableNow drain is complete (no trailing-window caveat).
    Q("q54_stream_dedup",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val keyed = eventStream(s, dir)
          .where(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("ts").isNotNull)
          .withColumn("text", concat_ws("|", col("user_id"), col("event_type")))
        val deduped = graft.streaming.StreamingPipeline.dedupStream(keyed)
          .select(col("user_id"), col("event_type"))
        drainToMemory(s, deduped, "q54_sink", OutputMode.Append())
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND ts IS NOT NULL
             |ORDER BY 1, 2""".stripMargin)),

    // The STREAMING threshold path through the oracle gate: events
    // replayed as a file stream (AvailableNow), criteria + watermark +
    // tumbling-window count in StreamingAlerts.thresholdStream, drained
    // into a memory sink. Complete output mode so trailing windows
    // (those the final watermark never closes) emit too — the backfill
    // drain semantic; the oracle is the equivalent batch window SQL.
    Q("q53_stream_threshold",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val spec: graft.model.AlertDoc.Doc = Map(
          "alert_name" -> "stream_threshold",
          "criteria" -> "event_type = 'purchase'",
          "aggregation_key" -> "user_id",
          "threshold" -> 2)
        val alerts = graft.streaming.StreamingAlerts
          .thresholdStream(eventStream(s, dir), spec, windowDuration = "1 hour")
        drainToMemory(s, alerts, "q53_sink", OutputMode.Complete())
          .orderBy("value", "window_start")
      },
      Some("""SELECT 'stream_threshold' AS alert_name,
             |  CAST(user_id AS VARCHAR) AS value, COUNT(*) AS "count",
             |  time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             |  time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
             |  'stream_threshold: '||CAST(user_id AS VARCHAR)||' x'||COUNT(*) AS summary
             |FROM events
             |WHERE event_type = 'purchase' AND user_id IS NOT NULL
             |  AND ts IS NOT NULL
             |GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)
             |HAVING COUNT(*) >= 2
             |ORDER BY value, window_start""".stripMargin)),

    // G1+G2 (mostCommon + threshold trigger): criteria through the
    // dialect shim, group-count by the aggregation key, fire count>=N.
    // One hash aggregate with map-side combine; no collect.
    Q("q05_threshold_trigger",
      (s, dir) => Criteria(Tables(s, dir, "events"), prestoCriteria)
        .groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 5)
        .orderBy(col("cnt").desc, col("user_id")),
      Some(s"""SELECT user_id, COUNT(*) AS cnt FROM events
              |WHERE $duckCriteria
              |GROUP BY user_id HAVING COUNT(*) >= 5
              |ORDER BY cnt DESC, user_id""".stripMargin)),

    // G3 (deadman, count<=N form): groups at-or-below threshold fire.
    Q("q06_deadman_low_count",
      (s, dir) => Tables(s, dir, "events")
        .where(col("event_type") === "error")
        .groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") <= 8)
        .orderBy("user_id"),
      Some("""SELECT user_id, COUNT(*) AS cnt FROM events
             |WHERE event_type = 'error'
             |GROUP BY user_id HAVING COUNT(*) <= 8
             |ORDER BY user_id""".stripMargin)),

    // G3 zero-event / absence form: users present in the window but
    // with no 'purchase' activity in the last week — a left_anti join
    // (the deadman "expected event not found" set). The distinct user
    // side shuffles once; the probe side is aggregated before the join.
    Q("q06b_deadman_absence",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val active = ev.where(
          col("event_type") === "purchase" &&
            col("ts") >= lit("2024-01-24").cast("timestamp"))
          .select("user_id").distinct()
        ev.select("user_id").distinct()
          .join(active, Seq("user_id"), "left_anti")
          .orderBy("user_id")
      },
      // NOT EXISTS, not NOT IN: left_anti and NOT IN diverge when the
      // key can be NULL (NOT IN over a NULL-bearing subquery returns
      // nothing); NOT EXISTS states the anti-join's actual semantics
      Some("""SELECT DISTINCT user_id FROM events e
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM events a
             |  WHERE a.user_id = e.user_id
             |    AND a.event_type = 'purchase' AND a.ts >= TIMESTAMP '2024-01-24')
             |ORDER BY user_id""".stripMargin)),

    // A2 (already-alerted anti-join): candidate events minus the set of
    // event ids already present in stored alerts (simulated here as
    // "purchases before Jan 8"). The alerted-id side is small →
    // broadcast, so the big event scan never shuffles.
    Q("q07_dedup_antijoin",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val alerted = ev.where(
          col("event_type") === "purchase" &&
            col("ts") < lit("2024-01-08").cast("timestamp"))
          .select("event_id")
        ev.where(col("event_type") === "purchase")
          .join(broadcast(alerted), Seq("event_id"), "left_anti")
          .select("event_id", "user_id")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id FROM events e
             |WHERE event_type = 'purchase' AND NOT EXISTS (
             |  SELECT 1 FROM events a
             |  WHERE a.event_type = 'purchase' AND a.ts < TIMESTAMP '2024-01-08'
             |    AND a.event_id = e.event_id)
             |ORDER BY event_id""".stripMargin)),

    // G1/O1 (mostCommon over a dotted JSON path): group-count by a
    // value extracted from the JSON payload, ordered count-desc.
    Q("q08_mostcommon_json",
      (s, dir) => Tables(s, dir, "events")
        .where(col("event_type") === "click")
        .groupBy(get_json_object(col("props"), "$.k").as("k_val"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("k_val")),
      Some("""SELECT json_extract_string(props, '$.k') AS k_val, COUNT(*) AS cnt
             |FROM events WHERE event_type = 'click'
             |GROUP BY 1 ORDER BY cnt DESC, k_val""".stripMargin)),

    // T4 (get_date_parts): the reference's zero-padded year/month/day/
    // hour partition values derived from event time — the basis of
    // partition pruning at scale.
    Q("q09_date_parts",
      (s, dir) => Criteria.withPartitionColumns(
          Tables(s, dir, "events"), col("ts"))
        .groupBy("year", "month", "day", "hour")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("year", "month", "day", "hour"),
      Some("""SELECT strftime(ts, '%Y') AS year, strftime(ts, '%m') AS month,
             |  strftime(ts, '%d') AS day, strftime(ts, '%H') AS hour,
             |  COUNT(*) AS cnt
             |FROM events GROUP BY 1, 2, 3, 4
             |ORDER BY year, month, day, hour""".stripMargin)),

    // G2 end-to-end (the §7.3 flagship slice): criteria → shell spec →
    // Trigger.threshold — group-count, trigger filter, in-plan Mustache
    // summary render — projected to oracle-comparable columns.
    Q("q12_threshold_pipeline",
      (s, dir) => {
        val spec = graft.model.Shells.threshold(Map(
          "alert_name" -> "purchase_spike",
          "summary" -> "User {{metadata.value}} had {{metadata.count}} purchases",
          "aggregation_key" -> "user_id",
          "threshold" -> 10,
          "event_sample_count" -> 0))
        graft.engine.Trigger
          .threshold(Tables(s, dir, "events").where(col("event_type") === "purchase"), spec)
          .select(col("alert_name"), col("severity"),
            col("metadata.value").as("value"), col("metadata.count").as("cnt"),
            col("summary"))
      },
      Some("""SELECT 'purchase_spike' AS alert_name, 'INFO' AS severity,
             |  CAST(user_id AS VARCHAR) AS value, COUNT(*) AS cnt,
             |  'User ' || CAST(user_id AS VARCHAR) || ' had ' || CAST(COUNT(*) AS VARCHAR) || ' purchases' AS summary
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY user_id HAVING COUNT(*) >= 10
             |ORDER BY cnt DESC, value""".stripMargin)),

    // G3 end-to-end: deadman pipeline over sparse groups.
    Q("q13_deadman_pipeline",
      (s, dir) => {
        val spec = graft.model.Shells.deadman(Map(
          "alert_name" -> "quiet_users",
          "summary" -> "only {{metadata.count}} errors for {{metadata.value}}",
          "aggregation_key" -> "user_id",
          "threshold" -> 8))
        graft.engine.Trigger
          .deadman(Tables(s, dir, "events").where(col("event_type") === "error"), spec)
          .select(col("alert_name"),
            col("metadata.value").as("value"), col("metadata.count").as("cnt"),
            col("summary"))
      },
      Some("""SELECT 'quiet_users' AS alert_name,
             |  CAST(user_id AS VARCHAR) AS value, COUNT(*) AS cnt,
             |  'only ' || CAST(COUNT(*) AS VARCHAR) || ' errors for ' || CAST(user_id AS VARCHAR) AS summary
             |FROM events WHERE event_type = 'error'
             |GROUP BY user_id HAVING COUNT(*) <= 8
             |ORDER BY cnt DESC, value""".stripMargin)),

    // Q1-Q3 (sequence correlation), set-based form: slot-0 = first
    // qualifying purchase per user, slot-1 = errors following it within
    // the lifespan window. The stateful driver loop lives in
    // engine.SequenceEngine (cross-slot templated criteria can't be one
    // DAG); this entry pins the correlation semantics the slots
    // implement. Slot-0 aggregates before the join (small side).
    Q("q14_sequence_correlation",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val slot0 = ev
          .where(col("event_type") === "purchase" && col("value") > 150)
          .groupBy("user_id").agg(min(col("ts")).as("t0"))
        ev.where(col("event_type") === "error")
          .join(broadcast(slot0), Seq("user_id"))
          .where(col("ts") > col("t0") &&
            col("ts") <= col("t0") + expr("INTERVAL 7 DAYS"))
          .groupBy(col("user_id"), col("t0"))
          .agg(count(lit(1)).as("err_cnt"))
          .select(col("user_id"), unix_timestamp(col("t0")).as("t0_epoch"), col("err_cnt"))
          .orderBy("user_id")
      },
      Some("""WITH slot0 AS (
             |  SELECT user_id, min(ts) AS t0 FROM events
             |  WHERE event_type = 'purchase' AND value > 150 GROUP BY user_id)
             |SELECT e.user_id, CAST(floor(epoch(s.t0)) AS BIGINT) AS t0_epoch, COUNT(*) AS err_cnt
             |FROM events e JOIN slot0 s ON e.user_id = s.user_id
             |WHERE e.event_type = 'error' AND e.ts > s.t0 AND e.ts <= s.t0 + INTERVAL 7 DAY
             |GROUP BY e.user_id, s.t0
             |ORDER BY e.user_id""".stripMargin)),

    // §2.9 passthrough surface: these three run the IDENTICAL SQL text
    // on Spark (temp view + spark.sql) and DuckDB — rollup grouping,
    // set operations, correlated subqueries all come free with the
    // criteria passthrough contract.
    // the registered Presto dialect end-to-end through spark.sql: a
    // criteria author's json_extract_scalar / strpos / array contains
    // run natively (the session's injected dialect), no textual rewrite
    // involved.
    Q("q50_presto_dialect",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        // element_at exercises Presto's NULL-out-of-bounds contract
        // (ANSI Spark would throw); the lambda inside cardinality
        // exercises Presto lambda syntax via Spark's native HOF
        // parser. Criteria.rewrite maps the builtin-colliding names
        // (contains/element_at/split → presto_*, the no-shadow
        // invariant); everything else resolves natively.
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id, COUNT(*) AS cnt
                |FROM events
                |WHERE json_extract_scalar(props, '$.k') IS NOT NULL
                |  AND strpos(event_type, 'c') = 1
                |  AND contains(array('click', 'purchase'), event_type)
                |  AND element_at(split(event_type, 'i'), 2) IS NOT NULL
                |  AND cardinality(filter(split(event_type, ''), x -> x = 'c')) >= 1
                |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id, COUNT(*) AS cnt
             |FROM events
             |WHERE json_extract_string(props, '$.k') IS NOT NULL
             |  AND strpos(event_type, 'c') = 1
             |  AND event_type IN ('click', 'purchase')
             |  AND string_split(event_type, 'i')[2] IS NOT NULL
             |  AND len(list_filter(string_split(event_type, ''), x -> x = 'c')) >= 1
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("q17_rollup",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(RollupSql)
      },
      Some(RollupSql)),

    // §2.9 surface: pivot (wide per-key counts). The DataFrame pivot
    // with explicit values compiles to one hash aggregate with
    // conditional counts — no per-value scans; the oracle states the
    // same contract with FILTERed counts.
    Q("q43_pivot",
      (s, dir) => Tables(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // pivot-count yields NULL for absent (user, type) combos; the
        // FILTERed-count oracle yields 0 — align
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("user_id"),
      Some("""SELECT user_id,
             |  COUNT(*) FILTER (WHERE event_type='click') AS click,
             |  COUNT(*) FILTER (WHERE event_type='error') AS error,
             |  COUNT(*) FILTER (WHERE event_type='purchase') AS purchase,
             |  COUNT(*) FILTER (WHERE event_type='signup') AS signup,
             |  COUNT(*) FILTER (WHERE event_type='view') AS view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // §2.9 surface: full cube over (event_type, month) — all four
    // grouping sets in one pass.
    Q("q44_cube",
      (s, dir) => Tables(s, dir, "events")
        .where(col("ts").isNotNull)
        .cube(col("event_type"), month(col("ts")).as("m"))
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("event_type"), lit("ALL")).as("et"),
          coalesce(col("m"), lit(-1)).cast("int").as("m"), col("cnt"))
        .orderBy("et", "m"),
      Some("""SELECT COALESCE(event_type, 'ALL') AS et,
             |  CAST(COALESCE(MONTH(ts), -1) AS INTEGER) AS m, COUNT(*) AS cnt
             |FROM events WHERE ts IS NOT NULL
             |GROUP BY CUBE(event_type, MONTH(ts))
             |ORDER BY et, m""".stripMargin)),

    // §2.9 surface: full outer join — customers without orders and
    // (hypothetical) orphan orders both survive with nulls.
    Q("q48_outer_join",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
          .groupBy(coalesce(col("c_mktsegment"), lit("NONE")).as("seg"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("o_orderkey").isNull, 1).otherwise(0)).as("no_orders"))
          .orderBy("seg")
      },
      Some("""SELECT COALESCE(c_mktsegment, 'NONE') AS seg, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_orders
             |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // §2.9 surface: window-function suite — lag, running sum (decimal
    // so accumulation order can't cause float drift: DuckDB evaluates
    // window sums with a segment tree, Spark incrementally), ntile.
    // The (ts, event_id) order is total, so every function is
    // deterministic.
    Q("q49_window_suite",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables(s, dir, "events")
          .where(col("ts").isNotNull)
          .select(col("user_id"), col("event_id"),
            lag(col("value"), 1).over(w).as("prev_value"),
            sum(col("value").cast("decimal(18,2)"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("double").as("run_sum"),
            ntile(4).over(w).as("quartile"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
             |  LAG(value, 1) OVER w AS prev_value,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
             |  NTILE(4) OVER w AS quartile
             |FROM events WHERE ts IS NOT NULL
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY user_id, event_id""".stripMargin)),

    Q("q18_setops",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(SetOpsSql)
      },
      Some(SetOpsSql)),

    Q("q19_exists_subquery",
      (s, dir) => {
        Tables(s, dir, "orders").createOrReplaceTempView("orders")
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(ExistsSql)
      },
      Some(ExistsSql)),

    // S4 surface (CSV source/sink): events round-trip through
    // headered CSV with schema inference, then aggregate. The compare
    // covers the aggregated columns plus min/max of the id column, so
    // inference drift on the round-tripped ids fails the gate too.
    Q("q39_csv_roundtrip",
      (s, dir) => Scratch.withDir("q39") { tmp =>
        val out = s"$tmp/csv"
        Tables(s, dir, "events").where(col("event_type") === "signup")
          .select("event_id", "user_id", "value")
          .write.option("header", "true").csv(out)
        s.read.option("header", "true").option("inferSchema", "true").csv(out)
          .groupBy("user_id")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
            min(col("event_id")).as("min_eid"), max(col("event_id")).as("max_eid"))
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""SELECT user_id, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  MIN(event_id) AS min_eid, MAX(event_id) AS max_eid
             |FROM events WHERE event_type = 'signup'
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // latest-version compaction (CDC/upsert read view): newest event
    // per (user_id, event_type), ts ties broken by event_id — one
    // key shuffle, per-key-bounded window sort.
    Q("q77_latest_by_key",
      (s, dir) => graft.ops.Temporal.latestByKey(
          Tables(s, dir, "events").where(col("user_id").isNotNull),
          Seq("user_id", "event_type"))
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, ts, value FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             |    ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events WHERE user_id IS NOT NULL) t
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // JSON-lines sink/source round-trip: the interchange format every
    // curation pipeline meets (the reference's own stores are JSONL).
    // Timestamps survive as ISO strings; the schema-on-read side
    // re-derives the aggregate the oracle computes from the parquet
    // original — identity through the sink proves lossless transport.
    Q("q75_jsonl_roundtrip",
      (s, dir) => Scratch.withDir("q75") { tmp =>
        val out = s"$tmp/jsonl"
        Tables(s, dir, "events").where(col("event_type") === "error")
          .select("event_id", "user_id", "props")
          .write.json(out)
        s.read.json(out)
          .groupBy("user_id")
          .agg(count(lit(1)).as("cnt"),
            min(col("event_id")).as("min_eid"),
            countDistinct(get_json_object(col("props"), "$.k")).as("n_keys"))
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""SELECT user_id, COUNT(*) AS cnt, MIN(event_id) AS min_eid,
             |  COUNT(DISTINCT json_extract_string(props, '$.k')) AS n_keys
             |FROM events WHERE event_type = 'error'
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ORC sink/source round-trip: the other columnar lake format the
    // library must speak. Typed columns (long/double/timestamp)
    // survive natively — the read-back aggregate matches the oracle
    // computed from the parquet original.
    Q("q76_orc_roundtrip",
      (s, dir) => Scratch.withDir("q76") { tmp =>
        val out = s"$tmp/orc"
        Tables(s, dir, "events").where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value")
          .write.orc(out)
        s.read.orc(out)
          .groupBy("user_id")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
            min(unix_timestamp(col("ts"))).as("min_epoch"))
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""SELECT user_id, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             |  CAST(floor(epoch(MIN(ts))) AS BIGINT) AS min_epoch
             |FROM events WHERE event_type = 'purchase'
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // exact interpolated percentiles per group (quality-threshold
    // analytics): Spark `percentile` and DuckDB `quantile_cont` share
    // the linear-interpolation definition; export in floor-1e4 units
    // to absorb last-ulp interpolation differences.
    Q("q35_percentiles",
      (s, dir) => Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          floor(expr("percentile(value, 0.5)") * 1e4).cast("long").as("p50_e4"),
          floor(expr("percentile(value, 0.95)") * 1e4).cast("long").as("p95_e4"),
          count(lit(1)).as("cnt"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(floor(quantile_cont(value, 0.5) * 10000) AS BIGINT) AS p50_e4,
             |  CAST(floor(quantile_cont(value, 0.95) * 10000) AS BIGINT) AS p95_e4,
             |  COUNT(*) AS cnt
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // P8 (plugin transform chain): events serialized to JSON lines,
    // run through a priority-ordered enrich + drop chain
    // (mapPartitions), parsed back and aggregated. The oracle states
    // the chain's net semantics relationally.
    Q("q15_plugin_transform",
      (s, dir) => {
        import s.implicits._
        import graft.engine.{EventPlugin, Plugins}
        import graft.model.AlertDoc.Doc
        object Flagger extends EventPlugin {
          val name = "flagger"; val registration = Seq("*")
          override val priority = 10
          def message(e: Doc): Option[Doc] = Some(e + ("flagged" ->
            // to_json drops null fields — an absent value is "" here
            graft.model.AlertDoc.str(e, "value").toDoubleOption.exists(_ > 150)))
        }
        object DropViews extends EventPlugin {
          val name = "drop_views"; val registration = Seq("*")
          override val priority = 20
          def message(e: Doc): Option[Doc] =
            if (graft.model.AlertDoc.str(e, "event_type") == "view") None else Some(e)
        }
        val jsonl = Tables(s, dir, "events")
          .select(to_json(struct(col("event_id"), col("event_type"), col("value"))).as("j"))
          .as[String]
        // explicit schema: read.json on a Dataset[String] otherwise
        // runs a whole extra inference pass over every event
        val outSchema = "event_id LONG, event_type STRING, value DOUBLE, " +
          "flagged BOOLEAN, plugins ARRAY<STRING>"
        s.read.schema(outSchema).json(Plugins.run(jsonl, Seq(DropViews, Flagger)))
          .groupBy("event_type", "flagged")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("event_type", "flagged")
      },
      Some("""SELECT event_type, value > 150 AS flagged, COUNT(*) AS cnt
             |FROM events WHERE event_type <> 'view'
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // S13 (JSON-block tokenizer): brace-concatenated blobs split back
    // into objects; identity proven against the source table.
    Q("q16_json_blocks",
      (s, dir) => {
        import s.implicits._
        val blobs = Tables(s, dir, "documents")
          .groupBy("source")
          .agg(concat_ws("", collect_list(
            format_string("""{"doc_id":%d,"source":"%s"}""",
              col("doc_id"), col("source")))).as("blob"))
          .select(col("blob")).as[String]
        s.read.json(graft.sources.Ingest.jsonBlocks(blobs))
          .groupBy("source")
          .agg(count(lit(1)).as("cnt"),
            min("doc_id").as("min_id"), max("doc_id").as("max_id"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS cnt, min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // T5 (utcepoch sort key): epoch seconds per event, the reference's
    // Mongo sort key (alerta.py:86-88).
    Q("q10_utcepoch",
      (s, dir) => Tables(s, dir, "events")
        .select(col("event_id"), unix_timestamp(col("ts")).as("utcepoch"))
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS utcepoch
             |FROM events ORDER BY event_id""".stripMargin)),

    // bucketed co-located join: both sides written bucketed by the
    // join key (same bucket count), so the orders⋈lineitem sort-merge
    // runs with NO Exchange on either side — the recurring-join layout
    // a 100 TB lake amortizes across every nightly run. The oracle is
    // the plain join (bucketing must not change a single row); cents
    // are per-row floors so the SUM is exact integer math.
    Q("q67_bucketed_join",
      (s, dir) => Scratch.withDir("q67") { tmp =>
        import graft.sources.Bucketing
        try {
          Bucketing.writeBucketed(
            Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
            "g_orders_b", "o_orderkey", 8, s"$tmp/orders")
          Bucketing.writeBucketed(
            Tables(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
            "g_lineitem_b", "l_orderkey", 8, s"$tmp/lineitem")
          Bucketing.colocatedJoin(
              s.table("g_orders_b"), s.table("g_lineitem_b"),
              "o_orderkey", "l_orderkey")
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_items"),
              sum(floor(col("l_extendedprice") * 100).cast("long")).as("cents"))
            .localCheckpoint()
        } finally Seq("g_orders_b", "g_lineitem_b")
          .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      }.orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, COUNT(*) AS n_items,
             |  CAST(SUM(CAST(floor(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS cents
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Presto lambda breadth beyond q50's filter(): 4-arg reduce
    // (input + output lambdas, the Presto signature), transform,
    // codepoint, split_part, array_join, regexp_like — all through the
    // registered-session dialect surface. Grouping by event_type makes
    // every lambda result a per-group constant the oracle restates
    // with DuckDB's list_* equivalents.
    Q("q68_presto_lambdas",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        // chars(x): Spark's split('', -1) appends a trailing empty
        // string DuckDB's string_split does not — filter it out so the
        // slice/join surface agrees for event types of ANY length (the
        // fixture's are all ≥4 chars, which would mask the divergence).
        // Criteria.rewrite maps split → presto_split (whose builder
        // keeps Spark's char-split for the '' delimiter).
        s.sql(graft.criteria.Criteria.rewrite(
          """WITH t AS (SELECT event_type,
                |  reduce(transform(filter(split(event_type, ''), c -> c <> ''),
                |                   c -> codepoint(c)),
                |         0, (acc, x) -> acc + x, acc -> acc) AS char_sum,
                |  split_part(event_type, 'r', 1) AS pre_r,
                |  array_join(transform(slice(filter(split(event_type, ''),
                |                                    c -> c <> ''), 1, 3),
                |                       c -> upper(c)), '.') AS first3
                |  FROM events WHERE regexp_like(event_type, '^[a-z_]+$'))
                |SELECT event_type, char_sum, pre_r, first3, COUNT(*) AS cnt
                |FROM t GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin))
      },
      Some("""SELECT event_type,
             |  list_reduce(list_prepend(0,
             |    list_transform(string_split(event_type, ''),
             |      c -> unicode(c))), (acc, x) -> acc + x) AS char_sum,
             |  split_part(event_type, 'r', 1) AS pre_r,
             |  array_to_string(list_transform(string_split(event_type, '')[1:3],
             |    c -> upper(c)), '.') AS first3,
             |  COUNT(*) AS cnt
             |FROM events
             |WHERE regexp_matches(event_type, '^[a-z_]+$')
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),
  )
}
