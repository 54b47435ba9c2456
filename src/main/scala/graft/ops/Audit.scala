package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality audits a pipeline runs before it trusts a table:
  * contract validation (column rules + referential integrity),
  * snapshot diffing (what changed between two corpus versions), and
  * skew diagnosis (know your hot keys before the join). All counting
  * — exact, cheap, oracle-checkable.
  */
object Audit {

  /** One declared column rule: name + a violation predicate. */
  case class Rule(name: String, violated: Column)

  /** Single-pass contract validation: every rule folds to
    * `sum(case when violated)` in ONE scan of the table — adding a
    * rule adds a column to the aggregate, not a pass over 100 TB.
    * Returns one row per rule (rule, violations), rule-ordered.
    */
  def contractViolations(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "no rules declared")
    val sums = rules.map(r =>
      sum(when(r.violated, 1L).otherwise(0L)).as(r.name))
    val wide = df.agg(sums.head, sums.tail: _*)
    // unpivot the 1×|rules| row to (rule, violations) — stack is
    // in-plan, the wide row is a single driver-sized struct
    val stackArgs = rules.map(r => s"'${r.name}', ${r.name}").mkString(", ")
    wide.select(expr(
        s"stack(${rules.size}, $stackArgs) as (rule, violations)"))
      .orderBy("rule")
  }

  /** Snapshot diff by content hash: full outer join of two corpus
    * versions on the id, rows classified added / removed / changed
    * (same id, different content). Unchanged rows drop — the diff is
    * the delta a dataset-versioning layer stores, orders of
    * magnitude smaller than either snapshot. ONE id-keyed shuffle;
    * hashes (16 bytes) travel, never the documents.
    */
  def snapshotDiff(old: DataFrame, current: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = old.select(col(idCol).as("id"), md5(col(textCol)).as("oh"))
    val n = current.select(col(idCol).as("id"), md5(col(textCol)).as("nh"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("oh").isNull, "added")
          .when(col("nh").isNull, "removed")
          .when(col("oh") =!= col("nh"), "changed"))
      .where(col("status").isNotNull)
      .select(col("id").as("doc_id"), col("status"))
      .orderBy("doc_id")
  }

  /** One-scan column profiler: per profiled column — null count,
    * exact distinct count, min and max (stringified AFTER the typed
    * aggregate, so numeric order is preserved) — all columns fold in
    * ONE pass over the table. Adding a column adds aggregate
    * expressions, never a scan; the multi-distinct rewrites through
    * Spark's Expand (one shuffle carrying (col-tag, value) pairs),
    * which is the right trade at 100 TB: a second full scan costs
    * more than the expand's wider shuffle. Callers pre-project
    * doubles to micro-unit longs — float→string rendering is the one
    * thing engines disagree on.
    *
    * Output long-form: one row per column
    * `(col_name, n_nulls, n_distinct, min_s, max_s)`.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val aggs = cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")) }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`")
      .mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $stackArgs) " +
        "as (col_name, n_nulls, n_distinct, min_s, max_s)"))
      .orderBy("col_name")
  }

  /** Join-key skew report: the `k` hottest keys with their share of
    * the table in ppm and the running (cumulative) share — the
    * one-page answer to "will this key salt or broadcast". Count
    * aggregate is map-side combinable; the hot cut is
    * TakeOrdered(k); shares and the running sum compute over the k
    * survivors only.
    */
  def skewReport(df: DataFrame, keyCol: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("t"))
    val top = counts.orderBy(col("cnt").desc, col("key")).limit(k)
    val ord = Window.orderBy(col("cnt").desc, col("key"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("share_ppm", expr("(cnt * 1000000) div t"))
      .withColumn("__cum", sum(col("cnt")).over(cum))
      .withColumn("cum_ppm", expr("(__cum * 1000000) div t"))
      .select("rank", "key", "cnt", "share_ppm", "cum_ppm")
      .orderBy("rank")
  }

  /** Embedding-quality audit — the vector-table gate an ANN pipeline
    * runs before indexing: per vector, exact micro-unit squared norm
    * (the same left-fold dot every ANN surface uses), zero-element
    * count, and flags for the two killers (all-zero vectors break
    * cosine; wrong dimensionality breaks every kernel). Integer
    * outputs only — norms floor to micro so the report is
    * oracle-exact. Map-only; the trailing orderBy is the gate's
    * presentation.
    */
  def embeddingAudit(embeddings: DataFrame, expectDim: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    Par.spread(embeddings)
      .select(col(idCol).as("vec_id"),
        size(v).as("dim"),
        floor(Similarity.dot(v, v) * 1e6).cast("long").as("norm2_micro"),
        size(filter(v, x => x === 0.0)).cast("long").as("n_zero"))
      .withColumn("dim_ok", col("dim") === expectDim)
      .withColumn("degenerate", col("n_zero").cast("int") === col("dim"))
      .orderBy("vec_id")
  }

  /** k-anonymity audit: group the table by its quasi-identifier
    * columns and report every equivalence class smaller than `k` —
    * the re-identification risk set a privacy review asks for before
    * a dataset ships. One combinable aggregate keyed by the
    * quasi-identifier tuple; the violating classes are by definition
    * the SMALL groups, so the report is tiny even when the table is
    * not.
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Long = 5L): DataFrame =
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .where(col("class_size") < k)
      .orderBy(quasiIds.map(col) :+ col("class_size"): _*)

  /** Cohen's kappa between two label columns — chance-corrected
    * agreement, THE metric for "does the heuristic labeler agree
    * with the declared label" (or any two annotators). Everything
    * derives from the CONTINGENCY TABLE, kept exact: with cell
    * counts `c(a,b)`, `n = Σc`, `A = Σ c(x,x)`, and `S = Σ_k
    * rowMarg(k)·colMarg(k)`, kappa is the rational
    * `(A·n − S) / (n² − S)` — emitted as numerator/denominator
    * (kappa may be negative; no floor-division hazard), alongside
    * floor-ppm observed/expected agreement.
    *
    * Shape: ONE combinable (a,b) count folds the scan to
    * |labels|² cells; margins, the diagonal and S are arithmetic
    * over that tiny table. Long arithmetic holds to ~10⁹ rows
    * (n² in the denominator); past that, decimal.
    */
  def annotatorAgreement(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val ct = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .localCheckpoint() // four derivations below share it
    val n = ct.agg(sum(col("c")).as("n"))
    val agree = ct.where(col("a") === col("b"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("agree"))
    val s = ct.groupBy("a").agg(sum(col("c")).as("r"))
      .join(ct.groupBy("b").agg(sum(col("c")).as("cc")),
        col("a") === col("b"))
      .agg(coalesce(sum(expr("r * cc")), lit(0L)).as("s"))
    n.crossJoin(agree).crossJoin(s)
      .select(col("n"), col("agree"), col("s"),
        expr("agree * 1000000 div n").as("po_ppm"),
        expr("(s * 1000000) div (n * n)").as("pe_ppm"),
        (col("agree") * col("n") - col("s")).as("kappa_num"),
        (col("n") * col("n") - col("s")).as("kappa_den"))
  }

  /** Benford first-significant-digit audit: observed digit shares of
    * a positive money column vs the Benford expectation, deviation
    * in ppm — the classic fabricated-data / broken-feed smell test.
    * The first digit comes from the CENTS integer's decimal string
    * (no float log10 near power-of-ten boundaries); the Benford
    * expectations are integer ppm constants, so the whole report is
    * oracle-exact.
    *
    * Shape: map-only digit extraction, one 9-row combinable count,
    * a 1-row total broadcast — nothing scales with input.
    */
  def benford(df: DataFrame, valCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val expected = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 58503L,
      8 -> 51153L, 9 -> 45757L).toDF("digit", "exp_ppm")
    val cnt = df.select(round(col(valCol) * 100).cast("long").as("c"))
      .where(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("n"))
    cnt.join(broadcast(expected), Seq("digit"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("cnt"),
        expr("cnt * 1000000 div n").as("obs_ppm"), col("exp_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .orderBy("digit")
  }

  /** l-diversity audit, the companion to [[kAnonymity]]: a class can
    * be large (k-anonymous) yet still leak if everyone in it shares
    * the sensitive value — report quasi-identifier classes with fewer
    * than `l` DISTINCT sensitive values. Same output discipline: only
    * the violating (small-diversity) classes come back, so the report
    * stays tiny at any input scale. One exact-distinct aggregate
    * shuffled on the quasi-id key (the sensitive column rides along
    * as a two-level agg: distinct within class, then counts).
    */
  def lDiversity(df: DataFrame, quasiIds: Seq[String],
      sensitiveCol: String, l: Long = 3L): DataFrame = {
    val qi = quasiIds.map(col)
    df.select(quasiIds.map(col) :+ col(sensitiveCol).as("__s"): _*)
      .groupBy(qi :+ col("__s"): _*).agg(count(lit(1)).as("__c"))
      .groupBy(qi: _*)
      .agg(count(lit(1)).as("n_sensitive"), sum(col("__c")).as("class_size"))
      .where(col("n_sensitive") < l)
      .orderBy(qi :+ col("n_sensitive"): _*)
  }

  /** t-closeness audit for an ORDERED sensitive attribute: per
    * quasi-id class, the earth-mover's distance between the class's
    * band distribution and the global one — the privacy check that
    * catches what k-anonymity and l-diversity miss (a class can be
    * large and diverse yet still skew revealingly). For r ordered
    * bands EMD is the mean absolute ECDF gap,
    * `t = (Σ_{i<r} |cumClass/gn − cumGlobal/n|) / (r−1)`, computed
    * in floor-ppm on BOTH cumulative ratios so any engine lands on
    * the same integer. Emits every class with its `emd_ppm` and the
    * `violates` flag (`emd_ppm > tPpm`).
    *
    * Shape: one (class, band) combinable count folds the scan; the
    * band axis is DENSE per class (a broadcast cross of class totals
    * × the global band table, observed counts left-joined) because a
    * missing band is distribution mass at cum-gap time. Windows run
    * per class over ≤ r band rows; the global distribution is a
    * broadcast of r rows. Nothing scales past |classes|·r.
    */
  def tCloseness(df: DataFrame, quasiIds: Seq[String], bandCol: String,
      tPpm: Long = 200000L): DataFrame = {
    val qi = quasiIds.map(col)
    val base = df
      .where(quasiIds.map(col(_).isNotNull).reduce(_ && _) &&
        col(bandCol).isNotNull)
      .select(quasiIds.map(col) :+ col(bandCol).as("band"): _*)
    val cells = base.groupBy(qi :+ col("band"): _*)
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // band table, class totals and grid share it
    val wb = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bands = cells.groupBy("band").agg(sum(col("c")).as("gc"))
      .withColumn("gcum", sum(col("gc")).over(wb))
      .withColumn("bidx", row_number().over(Window.orderBy("band")))
    val n = cells.agg(sum(col("c")).as("n"), countDistinct(col("band")).as("r"))
    val classes = cells.groupBy(qi: _*).agg(sum(col("c")).as("gn"))
    val wg = Window.partitionBy(qi: _*).orderBy("band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    classes.crossJoin(broadcast(bands)).crossJoin(broadcast(n))
      .join(cells, quasiIds :+ "band", "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("ccum", sum(col("c")).over(wg))
      // the r-th gap is 0 by construction; keep the single-band case
      // (r = 1) alive so every class still emits its zero row
      .where(col("bidx") < col("r") || col("r") === 1)
      .withColumn("gap_ppm",
        abs(expr("ccum * 1000000 div gn - gcum * 1000000 div n")))
      .groupBy(qi :+ col("gn") :+ col("r"): _*)
      .agg(sum(col("gap_ppm")).as("gap_sum"))
      .select(qi :+ col("gn") :+
        when(col("r") > 1, expr("gap_sum div (r - 1)"))
          .otherwise(lit(0L)).as("emd_ppm"): _*)
      .withColumn("violates", col("emd_ppm") > tPpm)
      .orderBy(qi: _*)
  }

  /** Seeded-noise private count release: per-(group, day) event
    * counts, suppressed below `k` and perturbed by bounded
    * deterministic noise — the publishable-statistics shape
    * (suppress-then-perturb, as census-style disclosure-avoidance
    * pipelines do) with a SEEDED noise source so reruns release
    * identical tables and the oracle verifies every cell.
    *
    * The noise is uniform on `[-b, b]`, keyed off the cell identity
    * through the engine-portable base-31 fold + `mix31` — stable
    * across engines and runs, NOT cryptographic randomness: this
    * gives release reproducibility and small-count masking, not a
    * formal ε-DP guarantee (real DP needs fresh randomness drawn
    * once; a seeded release replayed is still one draw, which is
    * exactly what a deterministic pipeline wants and what a formal
    * DP deployment must avoid).
    *
    * One map-side-combinable aggregate; nothing scales past the
    * released-cell count. Composes with [[kAnonymity]] /
    * [[lDiversity]]: those audit the raw table, this gates what
    * leaves it.
    */
  /** Referential-integrity sweep: one report row per declared FK
    * relationship — child row count, distinct child keys, and orphan
    * rows (child keys absent from the parent) — the whole-schema
    * orphan count a warehouse runs after every load.
    * Each check is one anti-join (parent side broadcast when small)
    * + combinable counts; checks are independent and union at the
    * end, so the sweep parallelizes across relationships.
    */
  def integritySweep(
      fks: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    fks.map { case (name, child, childKey, parent, parentKey) =>
      val c = child.select(col(childKey).as("k")).where(col("k").isNotNull)
      val p = parent.select(col(parentKey).as("k")).where(col("k").isNotNull)
        .distinct()
      val orphans = c.join(broadcast(p), Seq("k"), "left_anti")
      c.agg(count(lit(1)).as("child_rows"),
          countDistinct(col("k")).as("child_keys"))
        .crossJoin(orphans.agg(count(lit(1)).as("orphan_rows")))
        .select(lit(name).as("fk"), col("child_rows"), col("child_keys"),
          col("orphan_rows"))
    }.reduce(_.unionByName(_)).orderBy("fk")
  }

  /** Joinable-column discovery (schema matching by VALUES): melt the
    * given `(table, column)` selections to distinct
    * `(column-id, value)` pairs, self-join on value, and report each
    * column pair's exact value-set Jaccard in ppm — "which columns
    * would join" discovered from data, the FK graph without a
    * catalog. At warehouse scale the exact distinct-join becomes the
    * per-column MinHash sketch ([[DocDedup.sourceSimilarity]]'s
    * shape — columns² sketch comparisons, no value join); the exact
    * form here is the oracle-checkable baseline.
    */
  def joinableColumns(cols: Seq[(String, DataFrame, String)],
      minJacPpm: Long = 10000L): DataFrame = {
    val melted = cols.map { case (name, df, c) =>
      df.select(lit(name).as("cid"), col(c).cast("string").as("v"))
        .where(col("v").isNotNull).distinct()
    }.reduce(_.unionByName(_)).localCheckpoint() // sizes + join share it
    val sizes = melted.groupBy("cid").agg(count(lit(1)).as("n"))
    val inter = melted.as("a").join(melted.as("b"),
        col("a.v") === col("b.v") && col("a.cid") < col("b.cid"))
      .groupBy(col("a.cid").as("ca"), col("b.cid").as("cb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("cid").as("ca"), col("n").as("na"))),
        "ca")
      .join(broadcast(sizes.select(col("cid").as("cb"), col("n").as("nb"))),
        "cb")
      .select(col("ca"), col("cb"), col("inter"), col("na"), col("nb"),
        expr("inter * 1000000 div (na + nb - inter)").as("jac_ppm"))
      .where(col("jac_ppm") >= minJacPpm)
      .orderBy("ca", "cb")
  }

  /** [[joinableColumns]]' scale path made concrete: per-column
    * MinHash signatures (the engine-portable h37→mix31 chain, k
    * combinable mins per column — ONE scan, no value self-join)
    * beside the exact value-set Jaccard, for every column pair — the
    * standing accuracy report that justifies shipping sketches
    * instead of the exact join at 100 TB (where `melted ⋈ melted` on
    * raw values is the cost ceiling). `err_ppm` is the estimate's
    * absolute error.
    *
    * Shape: signature build is |distinct values|·k rows into a
    * (column, i) min fold — combinable, never a cross join; the
    * signature compare is |columns|²·k tiny rows. The exact branch
    * (for the report's truth column) is the q231 join — at true scale
    * you drop that branch and keep the sketches.
    */
  def joinableColumnsSketch(cols: Seq[(String, DataFrame, String)],
      numHashes: Int = 32): DataFrame = {
    val melted = cols.map { case (name, df, c) =>
      df.select(lit(name).as("cid"), col(c).cast("string").as("v"))
        .where(col("v").isNotNull).distinct()
    }.reduce(_.unionByName(_)).localCheckpoint() // sigs + sizes + exact
    val h37 = expr("aggregate(filter(split(v, ''), c -> c <> ''), 0L, " +
      "(a, c) -> (a * 37 + ascii(c)) % 2147483647)")
    val sigs = melted.withColumn("y", Similarity.mix31Col(h37))
      .select(col("cid"), col("y"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("i"))
      .groupBy("cid", "i")
      .agg(min(Similarity.mix31Col(col("y") + col("i"))).as("m"))
    val est = sigs.as("a").join(sigs.as("b"),
        col("a.i") === col("b.i") && col("a.cid") < col("b.cid"))
      .groupBy(col("a.cid").as("ca"), col("b.cid").as("cb"))
      .agg(sum(when(col("a.m") === col("b.m"), 1L).otherwise(0L))
        .as("matches"))
      .withColumn("est_ppm", expr(s"(matches * 1000000) div $numHashes"))
    val sizes = melted.groupBy("cid").agg(count(lit(1)).as("n"))
    val inter = melted.as("a").join(melted.as("b"),
        col("a.v") === col("b.v") && col("a.cid") < col("b.cid"))
      .groupBy(col("a.cid").as("ca"), col("b.cid").as("cb"))
      .agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("ca", "cb"), "left")
      .join(broadcast(sizes.select(col("cid").as("ca"), col("n").as("na"))),
        "ca")
      .join(broadcast(sizes.select(col("cid").as("cb"), col("n").as("nb"))),
        "cb")
      .select(col("ca"), col("cb"), col("matches"), col("est_ppm"),
        expr("(coalesce(inter, 0) * 1000000) div (na + nb - coalesce(inter, 0))")
          .as("jac_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("jac_ppm")))
      .orderBy("ca", "cb")
  }

  /** Pairwise agreement between two clusterings of the same id set —
    * the standard external cluster-evaluation counts, exact: a "pair"
    * is two ids sharing a cluster; `n_both` counts pairs co-clustered
    * under BOTH assignments; precision = n_both/pairs_b treats A as
    * truth and B as prediction, recall = n_both/pairs_a. The dedup-
    * strategy referee: "how much of what strategy B merges does
    * strategy A endorse" without ever materializing a pair list —
    * C(n,2) arithmetic on cluster sizes and on the JOINT size table
    * does it with three combinable aggregates.
    *
    * Both inputs must cover the same ids ((id, cluster), one row per
    * id); map uncovered ids to singleton clusters before calling.
    */
  def clusteringAgreement(a: DataFrame, b: DataFrame): DataFrame = {
    def pairsOf(df: DataFrame, as: String) =
      df.groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as(as))
    val joint = a.select(col("id"), col("cluster").as("ca"))
      .join(b.select(col("id"), col("cluster").as("cb")), "id")
      .groupBy("ca", "cb").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("n_both"))
    pairsOf(a, "pairs_a").crossJoin(pairsOf(b, "pairs_b"))
      .crossJoin(joint)
      .select(col("pairs_a"), col("pairs_b"), col("n_both"),
        when(col("pairs_b") > 0,
          expr("n_both * 1000000 div pairs_b")).otherwise(null)
          .as("precision_ppm"),
        when(col("pairs_a") > 0,
          expr("n_both * 1000000 div pairs_a")).otherwise(null)
          .as("recall_ppm"))
  }

  /** Retention-policy dry run: what a TTL delete would actually
    * remove — rows and estimated bytes per age bucket (vs the
    * table's newest timestamp, so the report is reproducible), with
    * the delete flag on the expired bucket. The "how much does this
    * policy save, and are we sure" page before anyone runs the real
    * DELETE at 100 TB. Byte estimate follows
    * [[broadcastAdvisor]]'s deterministic per-type widths.
    *
    * Shape: one scalar max + one combinable bucket aggregate —
    * a single scan.
    */
  def retentionDryRun(events: DataFrame, keepDays: Long = 90L,
      warmDays: Long = 30L, tsCol: String = "ts"): DataFrame = {
    val mx = events.agg(max(unix_micros(col(tsCol))).as("mx"))
    val aged = events.where(col(tsCol).isNotNull)
      .crossJoin(broadcast(mx))
      .withColumn("age_days",
        expr(s"(mx - unix_micros($tsCol)) div 86400000000"))
      .withColumn("bucket",
        when(col("age_days") <= warmDays, "a_warm")
          .when(col("age_days") <= keepDays, "b_cool")
          .otherwise("c_expired"))
    aged.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) * 32L +
          coalesce(sum(octet_length(col("event_type"))), lit(0L)) +
          coalesce(sum(octet_length(col("props"))), lit(0L)) +
          count(lit(1)) * 8L).as("est_bytes"))
      .withColumn("would_delete", col("bucket") === "c_expired")
      .orderBy("bucket")
  }

  /** Delta-encoding size estimate per column — the storage-planning
    * audit behind "should this column sort the file": sort each
    * column's values ascending, charge 64 bits for the first value
    * and exact bit-length of each non-negative delta after it
    * (`length(bin(δ))`, the integer bit count both engines compute
    * from a binary string — no float log2), and report the projected
    * bytes against raw 8-byte storage. Near-sequential keys compress
    * ~8×; random keys don't — this table says which is which before
    * anyone rewrites a 100 TB lake with a new sort order.
    *
    * Scale shape per column: the global order is
    * [[Par.globalRowNumber]] (range exchange, no single-partition
    * window); successor deltas come from ONE rownum equi-join; the
    * bit-length fold is map-side combinable. Columns are independent
    * passes, unioned into a |columns|-row report.
    */
  def deltaCompressionEstimate(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "deltaCompressionEstimate needs columns")
    cols.map { c =>
      val vals = df.select(col(c).cast("long").as("v"))
        .where(col("v").isNotNull)
      val ranked = graft.ops.Par.globalRowNumber(vals, Seq("v"))
        .localCheckpoint()
      val deltas = ranked.as("a")
        .join(ranked.select((col("rownum") + 1L).as("rownum"),
          col("v").as("pv")).as("b"), Seq("rownum"), "left")
        .select(col("v"), col("pv"), col("rownum"))
        .withColumn("bits",
          when(col("pv").isNull, lit(64L))
            .otherwise(length(bin(col("v") - col("pv"))).cast("long")))
      deltas.agg(count(lit(1)).as("n"), sum(col("bits")).as("delta_bits"))
        .select(lit(c).as("col_name"), col("n"),
          (col("n") * 64L).as("raw_bits"), col("delta_bits"),
          expr("delta_bits * 1000000 div (n * 64)").as("ratio_ppm"),
          expr("(delta_bits + 7) div 8").as("est_bytes"))
    }.reduce(_.unionByName(_)).orderBy("col_name")
  }

  /** Approximate functional-dependency discovery — for each declared
    * determinant→dependent column pair, count the rows that would
    * have to change for `A → B` to hold exactly:
    * `violations = Σ_a (cnt(a) − max_b cnt(a,b))` (the g₃ error of
    * the FD-mining literature). `violations = 0` certifies an exact
    * dependency (a key, a derived column, a denormalized copy);
    * small ppm values surface "almost-FDs" — dirty denormalizations
    * and near-keys a schema-curation pass should look at. Reports one
    * row per pair with group count, row count, violations, ppm, and
    * the holds-exactly flag.
    *
    * Scale shape: per pair two map-side-combinable aggregates
    * (groupBy(A,B) → groupBy(A)); nothing but |distinct A| rows ever
    * crosses the second shuffle, and the per-pair results union into
    * a p-row report. Pairs are independent passes by design — at
    * warehouse scale you run the pairs you care about, not the p²
    * lattice (FD mining prunes the lattice; this op is the verified
    * measurement kernel it calls per candidate).
    */
  def fdDiscovery(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "fdDiscovery needs at least one column pair")
    pairs.map { case (det, dep) =>
      val g = df.where(col(det).isNotNull)
        .groupBy(col(det).as("a"), col(dep).as("b"))
        .agg(count(lit(1)).as("c"))
      val perA = g.groupBy("a")
        .agg(sum(col("c")).as("n"), max(col("c")).as("m"))
      perA.agg(
          count(lit(1)).as("n_groups"),
          sum(col("n")).as("n_rows"),
          sum(col("n") - col("m")).as("violations"))
        .select(lit(det).as("det"), lit(dep).as("dep"),
          col("n_groups"), col("n_rows"), col("violations"),
          expr("violations * 1000000 div n_rows").as("violation_ppm"),
          (col("violations") === 0L).as("holds"))
    }.reduce(_.unionByName(_)).orderBy("det", "dep")
  }

  /** Join-cardinality preflight: estimate `|A ⋈ B|` from two
    * m-bucket key histograms (`Σ_b cntA_b·cntB_b`) before running
    * the join, and report the estimate beside the exact count — the
    * planner-style sanity gate a pipeline runs before committing a
    * 100 TB shuffle (a blow-up shows in a 2·m-cell sketch for the
    * cost of two combinable aggregates; the exact join here is the
    * verification half of the report, the thing production SKIPS
    * when the estimate already says "re-plan"). The estimate is
    * exact when buckets are collision-free and an upper bound
    * otherwise (hash collisions only merge buckets, and
    * `(a₁+a₂)(b₁+b₂) ≥ a₁b₁+a₂b₂` for non-negative counts).
    * Bucketing is seeded `mix31`, oracle-replayable.
    */
  def joinCardinalityEstimate(a: DataFrame, b: DataFrame, keyA: String,
      keyB: String, m: Int = 256): DataFrame = {
    import graft.ops.Similarity.mix31Col
    val ha = a.where(col(keyA).isNotNull)
      .groupBy((mix31Col(col(keyA).cast("long")) % m).as("bucket"))
      .agg(count(lit(1)).as("ca"))
    val hb = b.where(col(keyB).isNotNull)
      .groupBy((mix31Col(col(keyB).cast("long")) % m).as("bucket"))
      .agg(count(lit(1)).as("cb"))
    val est = ha.join(hb, "bucket")
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("est"))
    val exact = a.select(col(keyA).as("k")).where(col("k").isNotNull)
      .join(b.select(col(keyB).as("k")).where(col("k").isNotNull), "k")
      .agg(count(lit(1)).as("exact"))
    est.crossJoin(exact)
      .select(col("est"), col("exact"),
        expr("est * 1000000 div exact").as("ratio_ppm"))
  }

  def privateRelease(events: DataFrame, groupCol: String = "event_type",
      tsCol: String = "ts", k: Long = 20L, b: Int = 5): DataFrame = {
    import graft.ops.Similarity.mix31Col
    val cells = events
      .where(col(groupCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val cellHash = TextAnalysis.rollingHash(col("grp")) + col("day")
    cells.where(col("cnt") >= k)
      .withColumn("noise", mix31Col(cellHash) % (2 * b + 1) - b)
      .select(col("grp"), col("day"), (col("cnt") + col("noise")).as("released"))
      .orderBy("grp", "day")
  }

  /** Broadcast-join preflight: per table, the exact row count and a
    * deterministic in-memory size estimate from the schema — 8 bytes
    * per 64-bit/double/timestamp column, 4 per 32-bit int, and for
    * strings the exact total character bytes plus a 4-byte offset
    * per value — against a threshold (default Spark's own 10 MiB
    * `autoBroadcastJoinThreshold`). The one-page answer to "which
    * sides of tonight's joins can be broadcast, and how close to the
    * cliff is each" — at 100 TB the difference between a map-side
    * hash join and a sort-merge shuffle is the plan. Estimates are
    * integer sums (combinable, one scan per table), so the whole
    * report is oracle-exact — unlike Catalyst's own `sizeInBytes`
    * statistics, which this advisor deliberately mirrors in spirit
    * but pins to reproducible arithmetic.
    */
  def broadcastAdvisor(tables: Seq[(String, DataFrame)],
      thresholdBytes: Long = 10L * 1024 * 1024): DataFrame = {
    val perTable = tables.map { case (name, df) =>
      import org.apache.spark.sql.types._
      val widths: Seq[Column] = df.schema.fields.toSeq.map { f =>
        f.dataType match {
          case StringType =>
            coalesce(sum(octet_length(col(f.name))), lit(0L)) +
              count(lit(1)) * 4L
          case IntegerType | FloatType => count(lit(1)) * 4L
          case ArrayType(et, _) =>
            val elem = et match {
              case IntegerType | FloatType => 4L
              case _ => 8L
            }
            coalesce(sum(size(col(f.name)).cast("long") * elem), lit(0L)) +
              count(lit(1)) * 4L
          case _ => count(lit(1)) * 8L // long / double / timestamp
        }
      }
      df.agg(count(lit(1)).as("n_rows"),
          widths.reduce(_ + _).cast("long").as("est_bytes"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("est_bytes"))
    }
    perTable.reduce(_ unionAll _)
      .withColumn("broadcastable", col("est_bytes") <= thresholdBytes)
      .orderBy("table_name")
  }

  /** Temporal-sanity audit — the time-arrow rules referential
    * integrity (q229) can't express: a line shipped BEFORE its order
    * existed, a line shipped absurdly long after it, and orders whose
    * lines straggle across an implausible span. One row per rule
    * with checked/violation counts and exact ppm — the standing
    * contract check a feed owner alerts on.
    *
    * Scale shape: one fact-dim join keyed on the order key (the
    * fact's natural shuffle) feeds the two row-level rules as
    * conditional sums; the span rule folds the same join to one row
    * per order first. All combinable.
    */
  def temporalSanity(lineitem: DataFrame, orders: DataFrame,
      lateDays: Long = 180L, spanDays: Long = 90L): DataFrame = {
    val j = lineitem.join(orders,
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"),
        expr("unix_micros(l_shipdate) div 86400000000").as("sd"),
        expr("unix_micros(o_orderdate) div 86400000000").as("od"))
      .localCheckpoint() // row rules + the span fold share it
    def rule(name: String, checked: org.apache.spark.sql.Column,
        viol: org.apache.spark.sql.Column,
        src: org.apache.spark.sql.DataFrame) =
      src.agg(sum(when(checked, 1L).otherwise(0L)).as("n_checked"),
          sum(when(viol, 1L).otherwise(0L)).as("n_violations"))
        .select(lit(name).as("rule"), col("n_checked"),
          col("n_violations"),
          expr("n_violations * 1000000 div nullif(n_checked, 0)")
            .as("viol_ppm"))
    val spans = j.groupBy("ok")
      .agg((max("sd") - min("sd")).as("span"))
    rule("ship_before_order", lit(true), col("sd") < col("od"), j)
      .unionByName(rule("ship_late", lit(true),
        col("sd") > col("od") + lateDays, j))
      .unionByName(rule("order_span", lit(true),
        col("span") > spanDays, spans))
      .orderBy("rule")
  }

  /** Approximate-query-processing estimate with its own honesty
    * check: a deterministic 1-in-`rate` hash sample (the portable
    * mix31 of the row key, so both engines draw the IDENTICAL
    * sample) scales the sample revenue up and reports the exact
    * error against the full aggregate — the dashboard pattern where
    * a 10% scan answers in a tenth of the time and this query IS the
    * calibration that says how far off it runs. Also reports the
    * exact between-row variance moments (n·Σx² − (Σx)² over cents)
    * so a consumer can form a CLT interval; no float ever enters the
    * comparison.
    *
    * Scale shape: one scan, two combinable conditional sums — the
    * sample is a predicate, not a materialization.
    */
  def aqpEstimate(lineitem: DataFrame, rate: Long = 10L): DataFrame = {
    val keyed = lineitem
      .where(col("l_extendedprice").isNotNull)
      .select(
        expr("cast(round(l_extendedprice * 100) as bigint)").as("xc"),
        (graft.ops.Similarity.mix31Col(
          col("l_orderkey") * 8 + col("l_linenumber")) % rate === 0)
          .as("in_sample"))
    keyed.agg(
        count(lit(1)).as("n_total"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"),
        sum(col("xc")).as("exact_total_c"),
        sum(when(col("in_sample"), col("xc")).otherwise(0L))
          .as("sample_sum_c"),
        sum(when(col("in_sample"),
            expr("cast(xc as decimal(19,0)) * xc").cast("decimal(38,0)"))
          .otherwise(lit(0).cast("decimal(38,0)")))
          .as("sample_sq_c"))
      .select(col("n_total"), col("n_sample"),
        col("exact_total_c"),
        (col("sample_sum_c") * rate).as("est_total_c"),
        expr(s"abs(sample_sum_c * $rate - exact_total_c) * 1000000 " +
          "div exact_total_c").as("err_ppm"),
        // n²-scaled variance is HUGEINT-wide: the math stays decimal,
        // but the OUTPUT edge is double — the gate's pandas canon
        // stringifies Decimal('…0') differently from DuckDB's float64
        // even when numerically equal (r04 q317 hash-fail class)
        expr("cast(n_sample as decimal(12,0)) * sample_sq_c - " +
          "cast(sample_sum_c as decimal(20,0)) * sample_sum_c")
          .cast("double").as("sample_var_n2_c2"))
  }
}
