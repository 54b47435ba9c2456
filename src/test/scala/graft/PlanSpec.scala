package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.criteria.Criteria

/** Physical-plan shape assertions — the properties that make these
  * queries survive a 100 TB scale-up. If a refactor regresses
  * pushdown, broadcast choice, or partition pruning, these fail before
  * any benchmark does.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  test("q02: filter and projection reach the parquet scan") {
    val plan = planOf("q02_filter_pushdown")
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("IsNotNull(event_type)") || plan.contains("EqualTo(event_type"))
    // pruned read schema: only the referenced columns are read
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("props")) // untouched column never scanned
  }

  test("q04: dimension join is a broadcast, not a shuffle join") {
    val plan = planOf("q04_broadcast_join")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q07: dedup anti-join broadcasts the alerted-id side") {
    val plan = planOf("q07_dedup_antijoin")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"))
  }

  test("q99: every dimension broadcasts; no dim ever sort-merge joins") {
    val plan = planOf("q99_star_join")
    // 4+ broadcast joins (customer, supplier, nation, region); the
    // only permissible shuffle join is lineitem⋈orders (fact side)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 4, plan.take(600))
    assert(!plan.contains("SortMergeJoin") ||
      plan.indexOf("SortMergeJoin") == plan.lastIndexOf("SortMergeJoin"))
    // region filter evaluated before the broadcast, not on the fact
    assert(plan.contains("isnotnull(r_regionkey") || plan.contains("ASIA"))
  }

  test("q83: the bloom probe filters the fact below its exchange") {
    val df = SparkEntry.queries("q83_bloom_prefilter_join")(spark, sf())
    val plan = df.queryExecution.executedPlan.toString
    // the probe (element_at over the bitmap literal) must appear in a
    // Filter; the join stays a shuffle join (hinted), so the filter
    // demonstrably guards an exchange
    assert(plan.contains("element_at"))
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"))
  }

  test("q01: aggregation runs inside whole-stage codegen with partial agg") {
    val df = SparkEntry.queries("q01_pricing_agg")(spark, sf())
    df.collect() // AQE finalizes the plan (codegen spans appear post-execution)
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages
    assert(plan.contains("*(1)") && plan.contains("HashAggregate"))
    // map-side partial aggregation before the exchange
    assert(plan.contains("partial_sum"))
    // filter pushed to the parquet reader
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("q05: criteria pipeline keeps envelope predicate pushable") {
    val plan = planOf("q05_threshold_trigger")
    // the event_type equality is a plain parquet filter even though the
    // JSON extraction evaluates post-scan (Presto behaves the same)
    assert(plan.contains("PushedFilters") && plan.contains("event_type"))
  }

  test("partition-window predicates prune an hour-partitioned lake") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-part").toString
    val ev = Criteria.withPartitionColumns(Tables(spark, sf(), "events"), col("ts"))
    ev.write.mode("overwrite").partitionBy("year", "month", "day", "hour")
      .parquet(dir)
    val lake = spark.read.parquet(dir)
    val now = java.time.Instant.parse("2024-01-30T23:30:00Z")
    val filtered = lake.where(Criteria.partitionWindow(now))
    // pruning happens at planning: the scan selects only the 2 hour
    // partitions of the window, not all ~720 written by the test
    val scan = filtered.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount <= 2)
    assert(filtered.count() > 0)
  }

  test("q133: both nation dims broadcast; lineitem never builds a hash side") {
    val plan = SparkEntry.queries("q133_tpch_q7")(spark, sf())
      .queryExecution.sparkPlan.toString
    // two nation broadcasts (supplier-side and customer-side)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(500))
    // the fact table must STREAM through joins — if it ever appears
    // as a broadcast build side the planner mis-sized it
    assert(!plan.contains("BroadcastExchange") ||
      !plan.split("BroadcastExchange").drop(1).exists(_.take(400).contains("lineitem.parquet")))
  }

  test("q109: lake scan carries a dynamicpruning partition filter") {
    // no static predicate exists on the partition column — the hot
    // set is derived at runtime from the dim aggregate, so the prune
    // MUST be dynamic; a regression here silently reverts to a full
    // lake scan at 100 TB
    // the query materializes its join before its lake directory is
    // deleted, so the plan to check is the one that ran
    val plans = executionsOf(spark) {
      SparkEntry.queries("q109_dpp_join")(spark, sf())
    }.map(_.optimizedPlan.toString)
    assert(plans.exists(_.contains("dynamicpruning")), plans.mkString("\n"))
  }

  test("bucketed tables co-locate joins: no Exchange on either side") {
    import org.apache.spark.sql.functions._
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    Tables(spark, sf(), "events")
      .select("event_id", "user_id", "event_type", "value")
      .write.bucketBy(8, "user_id").sortBy("user_id")
      .mode("overwrite").saveAsTable("ev_bucketed")
    val t = spark.table("ev_bucketed")
    val agg = t.groupBy("user_id").agg(count(lit(1)).as("c"))
    val join = t.join(agg, "user_id")
    join.collect()
    val plan = join.queryExecution.executedPlan.toString
    // the SCALE.md claim, pinned: bucketing pre-partitions by the key,
    // so neither the aggregation nor the self-join shuffles
    assert(!plan.contains("Exchange hashpartitioning"))
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
  }

  test("full reference criteria corpus parses through the dialect shim") {
    // every criteria string shipped in the reference's alerts + test
    // samples (SURVEY.md §2.2 construct inventory)
    val corpus = Seq(
      "source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'ConsoleLogin'",
      "source='onelogin' AND CAST(json_extract_scalar(details,'$.risk_score') as INTEGER)>80 " +
        "AND position('Defaulted' IN json_extract_scalar(details,'$.risk_reasons'))=0",
      "source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'ConsoleLogin' " +
        "AND json_extract_scalar(details,'$.useridentity.type') = 'Root'",
      "source='bitwarden' AND json_extract_scalar(details,'$.itemid')='root_item_id'")
    import spark.implicits._
    val df = Seq(("cloudtrail", """{"eventname":"x"}""")).toDF("source", "details")
    corpus.foreach { c =>
      // parses and binds against the envelope — throws on dialect gaps
      df.where(Criteria.toColumn(c)).count()
    }
  }

  test("G1a divergence pinned: exact path resolution, not set-matching") {
    // the reference's mostCommon matches by set(path) symmetric
    // difference (utils/mostcommon.py:53): segment order is ignored, so
    // a leaf at b.a would match key 'a.b'. We resolve exactly —
    // documented intentional divergence (SURVEY.md §2.3 G1a).
    import spark.implicits._
    val df = spark.read.json(Seq("""{"b":{"a":"x"},"id":1}""").toDS)
    val col = graft.functions.Paths.column(df.schema, "a.b")
    assert(df.select(col).head().isNullAt(0)) // no set-match: a.b ≠ b.a
    val exact = graft.functions.Paths.column(df.schema, "b.a")
    assert(df.select(exact.cast("string")).head().getString(0) === "x")
  }

  test("q317: the AQP sample is a predicate — one scan, no join") {
    val plan = planOf("q317_aqp_estimate")
    assert(plan.split("FileScan").length - 1 === 1,
      "sample must not materialize a second scan")
    assert(!plan.contains("Join"), "no join anywhere in the AQP pass")
  }

  test("q355: the chunker is one map-only stage — no exchange, no join") {
    val plan = planOf("q355_chunk_sliding")
    assert(!plan.contains("Exchange hashpartitioning"),
      "chunking must not shuffle")
    assert(!plan.contains("Join"), "chunking must not join")
  }

  test("q354: intra-doc repetition never joins; aggregates are partial") {
    val plan = planOf("q354_intra_repetition")
    assert(!plan.contains("Join"),
      "everything stays inside the document's key space")
    assert(plan.contains("partial_"),
      "gram counts must map-side combine before the exchange")
  }

  test("q353: hard negatives never cross-join; vectors rejoin by id") {
    val plan = planOf("q353_hard_negatives")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "candidates must come through the band equi-join")
  }

  test("q363: SGNS draw resolution is a broadcast equi-join — the " +
      "noise table never shuffles the pair side") {
    val plan = planOf("q363_sgns_shards")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "draws must resolve by position equi-join, never a range probe")
    assert(plan.contains("BroadcastHashJoin"),
      "the vocabulary-scale position table must broadcast")
  }

  test("q366: the Gopher rule bundle is one map-only stage — no " +
      "exchange but the presentation sort, no join") {
    val plan = planOf("q366_gopher_rules")
    assert(!plan.contains("Exchange hashpartitioning"),
      "per-doc rule metrics must not shuffle")
    assert(!plan.contains("Join"), "the bundle reads only the doc row")
  }

  test("q367: fuzzy decontamination — eval side broadcasts everywhere, " +
      "candidates come through the band equi-join") {
    val plan = planOf("q367_fuzzy_decontaminate")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "corpus×eval candidates must come from the banded equi-join")
    assert(!plan.contains("SortMergeJoin"),
      "the benchmark-sized eval side must broadcast, never shuffle " +
        "the corpus against it")
  }

  test("q369: contamination overlap — the corpus streams through a " +
      "broadcast semi-join on the eval gram set") {
    val plan = planOf("q369_contamination_overlap")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // corpus grams must meet the eval gram set via broadcast — a
    // shuffle of the 100 TB gram stream against a benchmark-sized
    // set would be the scale killer
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "no corpus-wide shuffle join against the benchmark side")
  }

  test("q370: duplicate-span removal shuffles only on gram and doc " +
      "keys — no cartesian, no nested loop") {
    val plan = planOf("q370_remove_dup_spans")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    // first-occurrence table: partial MIN before the gram exchange
    assert(plan.contains("partial_min") || plan.contains("PartialMerge")
      || plan.contains("HashAggregate"),
      "the first-occurrence MIN must combine map-side")
  }

  test("q372: bloom prefilter rides the corpus scan as a map-only " +
      "predicate; verify join broadcasts") {
    val plan = planOf("q372_bloom_decontaminate")
    assert(plan.contains("might_contain"),
      "the Bloom probe must appear as a filter predicate in the plan")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"),
      "only bloom-admitted grams may reach the (broadcast) verify join")
  }

  test("q376: wordpiece DP — vocab joins broadcast, no UDF in the plan") {
    val plan = planOf("q376_wordpiece_fertility")
    assert(plan.contains("BroadcastHashJoin"),
      "the bounded vocab must broadcast into the candidate join")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      "the Viterbi fold is a Catalyst aggregate — no UDF may appear")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q132: Q18 one-pass — a single lineitem aggregate, dims broadcast") {
    val plan = planOf("q132_tpch_q18")
    assert(plan.split("Scan parquet").length - 1 === 3,
      "exactly one scan per table — lineitem must not be read twice")
    assert(!plan.contains("SortMergeJoin"),
      "the HAVING-filtered key set must broadcast into orders")
  }

  test("q371: stream decontamination is map-only — no join, no plan-" +
      "literal map (the r7 112s regression shape)") {
    // the op is output-mode-agnostic: run the SAME function over a
    // batch frame so the optimized plan is inspectable synchronously
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf(), "documents")
    val out = graft.streaming.StreamingPipeline.decontaminateStream(
      docs.where(col("doc_id") % 5 =!= 0),
      docs.where(col("doc_id") % 5 === 0))
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"),
      "the eval table must travel as a broadcast HashMap, never a join")
    // the r7 defect: the whole gram→id table serialized into the plan
    // as a map literal with linear-scan probes
    assert(!plan.contains("map(") && !plan.contains("keys:"),
      "no literal MapData may ride the plan")
    assert(plan.contains("UDF"),
      "the fused gram-generate-and-probe kernel must be present")
  }

  test("q322: RFM never sort-merge joins; the global max broadcasts") {
    // the per-user fold is checkpointed (its scan ran once at build
    // time), so the serving plan reads the materialization — at most
    // one scan can ever appear, and the dmax side must broadcast
    val plan = planOf("q322_rfm_segments")
    assert(plan.split("FileScan").length - 1 <= 1,
      "the per-user fold must not rescan events")
    assert(!plan.contains("SortMergeJoin"),
      "dmax must broadcast, not shuffle the user table")
  }

  test("q385: the DSIR weight table broadcasts into the profile join; " +
      "the top-N is TakeOrdered, never a global sort") {
    val plan = planOf("q385_dsir_selection")
    // the 1024-row λ table must reach the (checkpointed) profile via
    // a broadcast hash join — the corpus side never shuffles for it
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(plan.contains("TakeOrderedAndProject"),
      "top-N selection must be TakeOrderedAndProject, not Sort+Limit")
  }

  test("q386: repetition stats never cross-join; every gram count is a " +
      "partial-aggregate shuffle keyed by (doc, gram)") {
    val plan = planOf("q386_repetition_filter")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "per-doc gram counting must stay an equi-keyed aggregate")
    assert(plan.contains("HashAggregate"), plan.take(600))
  }

  test("q391: robots verdicts reach the URL side through ONE broadcast " +
      "join; the match fold never shuffles the URL stream") {
    val plan = planOf("q391_robots_gate")
    assert(plan.contains("BroadcastHashJoin"),
      "the per-host rules table must broadcast into the URL scan")
    assert(!plan.contains("SortMergeJoin"),
      "the 100 TB URL side must never shuffle against the rules")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "longest-match must be the array fold, not a row-per-rule join")
  }

  test("q392: priority sampling selects via the bounded-heap topk_rows " +
      "aggregate — partial combine, no per-stratum window sort") {
    val plan = planOf("q392_priority_sample")
    assert(plan.contains("topk_rows"), plan.take(600))
    assert(plan.contains("partial_topk_rows"),
      "the heap must combine map-side so each task ships k+1 rows " +
        "per stratum, never the stratum")
    assert(!plan.contains("Window"),
      "selection must not fall back to a row_number window sort")
  }

  test("q397: the crawl composition joins only broadcast-side — robots " +
      "rules and the blocklist both reach the URL stream without a " +
      "URL-side shuffle join") {
    val plan = planOf("q397_crawl_pipeline")
    assert(!plan.contains("SortMergeJoin"),
      "no stage may shuffle the URL stream against a planning table")
    assert(plan.contains("BroadcastHashJoin"),
      "rules and blocklist must broadcast")
    assert(plan.contains("LeftAnti"), "the blocklist gate is an anti-join")
  }

  test("q389: the frontier host ordinal is prefix-sum parallel — no " +
      "single-partition global window anywhere in the schedule plan") {
    val plan = planOf("q389_crawl_frontier")
    // every window in the plan must be partitioned (prefixSum's
    // per-__pid running sum); an UNpartitioned spec is the
    // Window.orderBy(host) global ordinal that serializes all
    // distinct hosts through one task. (A SinglePartition exchange
    // under the scalar count(*) is fine — one row crosses it.)
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty, "expected the prefix-sum window: " + plan.take(400))
    assert(specs.forall(_.contains("__pid")),
      "unpartitioned window spec found: " + specs.mkString(" | "))
    assert(!plan.contains("row_number"),
      "the ordinal must come from the range-shuffle prefix sum, not " +
        "a global row_number window")
  }

  test("q398: the length-bucket planner's corpus work is ONE combinable " +
      "per-length aggregate — the quantile window never sees the corpus") {
    val plan = planOf("q398_length_buckets")
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      "per-length counts must combine map-side")
    // the ≤-cover join runs over the distinct-length table against B
    // broadcast boundary rows — a bounded nested loop is the INTENDED
    // shape here; what must never appear is a corpus-side sort-merge
    assert(!plan.contains("SortMergeJoin"), plan.take(400))
  }

  test("q381: urlKeyDedup is the salted two-stage keeper — every " +
      "window salts its key (straggler bound rows/salts), the " +
      "canonicalizer is ONE native kernel call, and the keeper table " +
      "rejoins the rows (broadcast at this scale)") {
    val plan = planOf("q381_url_canonical_dedup")
    // phase 1: the partial MIN windows over (canonical_url, salt) —
    // NO window in the plan may partition by the bare canonical key
    // (that is the unbounded hot-key task this shape eliminates)
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(specs.nonEmpty, "expected the salted partial-MIN window")
    assert(specs.forall(s => s.contains("canonical_url") &&
      s.contains("salt")),
      "window without a salt in its partition keys: " +
        specs.mkString(" | "))
    // phase 2: global keeper via a combinable aggregate, replicated
    // per salt (Generate/explode) and joined back
    assert(plan.contains("partial_min") || plan.contains("partial_"),
      "keeper aggregation must combine map-side")
    assert(plan.contains("Generate") && plan.contains("explode"),
      "keeper must replicate across salts for the bounded rejoin")
    // the canonicalizer is the native expression — one kernel call,
    // never the interpreted HOF program (split/transform/array_join)
    assert(plan.contains("canonical_url("),
      "expected the native canonical_url kernel in the plan")
    assert(!plan.contains("array_join"),
      "the interpreted HOF canonicalizer leaked back into the plan")
    // ... and EXACTLY one call per row: the projection is KnownNotNull
    // so the join infers no isnotnull(canonical_url(url)) to push into
    // the scan filter — the r12 plan paid the kernel twice per row
    assert(!plan.contains("isnotnull(canonical_url("),
      "a pushed null filter re-evaluates the canonicalizer per row")
    // runtime sharing: the canonical projection sits BELOW the spread
    // exchange, so after execution AQE's stage reuse leaves ONE live
    // canonicalizing stage — the second branch reads the reused
    // exchange and never re-runs the kernel
    val df = SparkEntry.queries("q381_url_canonical_dedup")(spark, sf())
    df.collect() // drive AQE to the final plan (reuse is a runtime step)
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"), finalPlan.take(300))
    // the tree printer re-prints a reused stage's subtree at every
    // reference, so count DISTINCT exchanges, not text occurrences:
    // every canonicalizing spread exchange in the final plan must be
    // the SAME object (one plan_id → one computed stage → one kernel
    // call per row; a second id means a branch re-scanned + re-ran it)
    val finalSection = finalPlan.split("== Initial Plan ==").head
    val rrIds =
      "RoundRobinPartitioning\\(\\d+\\), [A-Z_]+, \\[plan_id=(\\d+)\\]".r
        .findAllMatchIn(finalSection).map(_.group(1)).toList
    assert(rrIds.nonEmpty, "expected the spread exchange in the final plan")
    assert(rrIds.distinct.size === 1,
      s"expected ONE live canonicalizing stage after reuse, got " +
        s"exchanges $rrIds:\n" + finalSection.take(2000))
    // and the kernel must sit UNDER that exchange (inside the reused
    // stage), never above it where each branch would re-evaluate
    val aboveExchange = finalSection.linesIterator
      .takeWhile(!_.contains("RoundRobinPartitioning")).mkString("\n")
    assert(!aboveExchange.contains("canonical_url("),
      "canonical_url evaluated above the spread exchange (per branch)")
  }
}
