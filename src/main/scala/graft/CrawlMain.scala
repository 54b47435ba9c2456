package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Curation

/** CLI entry point for the crawl-front pipeline — the fetch-side twin
  * of [[CurationMain]]: one end-to-end pass over a URL frontier
  * producing a politeness-ordered fetch schedule plus a per-stage
  * audit line.
  *
  * Stages (each an operator the oracle gate verifies in isolation;
  * q397 pins the composition):
  *   1. IDN pre-encode — [[Curation.idnAsciiUrl]] (wire-form hosts)
  *   2. canonical-key dedup — [[Curation.canonicalUrl]] keepers only
  *      (first id per canonical key wins)
  *   3. robots gate — [[Curation.parseRobots]] +
  *      [[Curation.robotsGate]] for `agent` (skipped when no robots
  *      table is given: no rules means allowed, the RFC default)
  *   4. blocklist — broadcast label-suffix anti-join (skipped when no
  *      blocklist table is given)
  *   5. trap gate (optional) — [[Curation.crawlerTraps]] learned from
  *      the frontier's own surviving URLs at `minTrapUrls`, applied
  *      as [[Curation.trapGate]]'s broadcast anti-join (the q410-style
  *      self-learning loop, composed into the CLI like q403's stream)
  *   6. schedule — [[Curation.frontierSchedule]]: round-robin across
  *      hosts, same-host fetches spaced |hosts| apart — or the host's
  *      robots `Crawl-delay` slots when larger ([[Curation
  *      .crawlDelays]] feeds the schedule whenever robots are given)
  *   7. write — the schedule as parquet, ordered by fetch_pos
  *
  * Usage: CrawlMain <urlsParquet> <outDir> [robotsParquet]
  *        [blocklistParquet] [agent] [minTrapUrls]
  *   urlsParquet   columns (id BIGINT, url STRING)
  *   robotsParquet columns (host STRING, body STRING) — raw robots.txt
  *   blocklistParquet column (domain STRING)
  *   agent         crawler product token (default "*")
  *   minTrapUrls   distinct-URL threshold flagging a path template as
  *                 a crawler trap (absent/0 = trap gate off)
  */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 6,
      "usage: CrawlMain <urlsParquet> <outDir> [robotsParquet] " +
        "[blocklistParquet] [agent] [minTrapUrls]")
    val Array(urlsPath, outDir) = args.take(2)
    val robotsPath = args.lift(2).filter(_.nonEmpty)
    val blockPath = args.lift(3).filter(_.nonEmpty)
    val agent = args.lift(4).getOrElse("*")
    val minTrapUrls = args.lift(5).map(_.toLong).filter(_ > 0L)
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")

    val urls = spark.read.parquet(urlsPath)

    // 1-2: IDN wire form, canonical key, keeper per key
    val canon = urls.where(col("url").isNotNull)
      .select(col("id").cast("long").as("id"),
        Curation.canonicalUrl(Curation.idnAsciiUrl(col("url")))
          .as("curl"))
    val keepers = canon.groupBy("curl").agg(min(col("id")).as("id"))

    // 3: robots verdicts on the canonical form
    val allowed = (robotsPath match {
      case Some(p) =>
        val rules = Curation.parseRobots(spark.read.parquet(p))
        Curation.robotsVerdicts(keepers, rules, agent,
            urlCol = "curl", idCol = "id", hintBroadcast = true,
            keep = Seq("curl"))
          .where(col("allowed"))
          .select(col("id"), col("host"), col("curl"))
      case None =>
        keepers.withColumn("host", lower(regexp_extract(col("curl"),
          "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1)))
          .select("id", "host", "curl")
    })

    // 4: blocklist label-suffix anti-join (the shared gate — same
    // code urlGateStream and q397 run)
    val unblocked = blockPath match {
      case Some(p) =>
        Curation.blocklistGate(allowed, spark.read.parquet(p),
          col("host"))
      case None => allowed
    }

    // 5: self-learned trap gate — templates whose distinct-URL count
    // reaches the threshold are refused (broadcast anti-join; the
    // frontier is checkpointed so learn + apply + schedule read the
    // gate chain once, the q403 materialization discipline)
    val untrapped = minTrapUrls match {
      case Some(n) =>
        val frontier = unblocked.localCheckpoint()
        Curation.trapGate(frontier,
          Curation.crawlerTraps(frontier, n, urlCol = "curl"),
          urlCol = "curl")
      case None => unblocked
    }

    // 6-7: politeness schedule, written in fetch order. When a robots
    // table is present its Crawl-delay lines feed the schedule too:
    // a delayed host's stride becomes max(|hosts|, delay) slots.
    val delays = robotsPath.map(p =>
      Curation.crawlDelays(spark.read.parquet(p), agent))
    val schedule = Curation.frontierSchedule(untrapped, delays = delays)
      .join(untrapped.select(col("id"), col("curl")), Seq("id"))
      .select("fetch_pos", "id", "host", "rank_in_host", "curl")
      .orderBy("fetch_pos")
    schedule.write.mode("overwrite").parquet(outDir)

    // Per-stage audit in ONE aggregate job (plus the cheap raw-scan
    // count): keepers ⊇ allowed ⊇ unblocked by id, so left-join
    // survival flags and sum them — the gate chain runs once here and
    // once in the write, never once per stage counter. observe() was
    // tried and is UNFIT across this pipeline: Par.spread's `.rdd`
    // partition probe fires a QueryExecution event whose metrics are
    // all zero (Observation keeps the first event), and the range
    // exchange inside Par.prefixSum runs a boundary-sampling pass
    // over its input, double-counting any CollectMetrics accumulator
    // beneath it — both verified on Spark 4.1.2.
    val total = urls.count()
    val audit = keepers
      .join(allowed.select(col("id"), lit(1L).as("ra")), Seq("id"), "left")
      .join(unblocked.select(col("id"), lit(1L).as("ga")), Seq("id"), "left")
      .join(untrapped.select(col("id"), lit(1L).as("ta")), Seq("id"), "left")
      .agg(count(lit(1)).as("canonical"),
        coalesce(sum(col("ra")), lit(0L)).as("robots_allowed"),
        coalesce(sum(col("ga")), lit(0L)).as("gated"),
        coalesce(sum(col("ta")), lit(0L)).as("untrapped"))
      .collect()(0)
    println(s"""{"urls_in":$total,"canonical":${audit.getLong(0)},""" +
      s""""robots_allowed":${audit.getLong(1)},""" +
      s""""gated":${audit.getLong(2)},""" +
      s""""untrapped":${audit.getLong(3)},""" +
      s""""agent":"$agent","out":"$outDir"}""")
    spark.stop()
  }
}
