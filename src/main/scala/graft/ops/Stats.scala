package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributional statistics over metric columns, built integer-exact
  * so every op carries a full oracle: float moments (mean/variance)
  * are order-dependent under double summation, so everything here
  * works in micro-unit longs with wide exact sums.
  */
object Stats {

  /** Population z-score outlier flags without ever computing a float
    * moment: with `vm = floor(value·10⁶)`, `S = Σvm`, `Q = Σvm²`,
    * `n` per group,
    *
    *   |z_i| > k  ⟺  (n·vm_i − S)² > k²·(n·Q − S²)
    *
    * — both sides integer-exact (the right side is n² times the
    * population variance in micro² units). Returns the flagged rows.
    *
    * Shape: one map-side-combinable groupBy over the group key (S and
    * Q are plain sums — a 100 TB scan folds to |groups| rows), stats
    * broadcast back onto the stream, flag is a map-only predicate.
    * Sums are decimal(38) so a trillion-row group can't overflow.
    */
  def zscoreOutliers(events: DataFrame, groupCol: String = "event_type",
      valCol: String = "value", idCol: String = "event_id",
      k: Int = 3): DataFrame = {
    val base = events
      .where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(idCol), col(groupCol),
        floor(col(valCol) * 1e6).cast("long").as("vm"))
    val stats = base.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(col("vm").cast("decimal(20,0)")).as("s"),
      // vm² ≤ ~3·10¹⁷ fits a long; the SUM is where width is needed
      sum((col("vm") * col("vm")).cast("decimal(38,0)")).as("q"))
    val dev = col("n") * col("vm") - col("s")
    base.join(broadcast(stats), Seq(groupCol))
      .where(dev * dev > lit(k.toLong * k) * (col("n") * col("q") - col("s") * col("s")))
      .select(col(idCol), col(groupCol), col("vm"))
      .orderBy(idCol)
  }

  /** Per-group equi-depth histogram: `buckets` equal-count bins via
    * ntile over the deterministic (value, id) order, folded to one
    * row per (group, bin) with count and micro-unit bounds — the
    * feature-bucketization table (and the input to equi-depth
    * binning of a model feature) computed exactly, where
    * approx_percentile would be the sketch. Sorting is bounded per
    * GROUP partition (one key shuffle), never global.
    */
  def equiDepthHistogram(events: DataFrame, buckets: Int = 10,
      groupCol: String = "event_type", valCol: String = "value",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol).orderBy(col("vm"), col(idCol))
    events
      .where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol), col(idCol),
        floor(col(valCol) * 1e6).cast("long").as("vm"))
      .withColumn("bin", ntile(buckets).over(w))
      .groupBy(groupCol, "bin")
      .agg(count(lit(1)).as("n"),
        min("vm").as("lo_micro"), max("vm").as("hi_micro"))
      .orderBy(groupCol, "bin")
  }

  /** Robust (median/MAD) outlier flags, integer-exact: with
    * `vm = floor(value·10⁶)`, the group median is the LOWER median —
    * the value at row_number `(n+1) div 2` in `(vm, id)` order — and
    * MAD is the same rank statistic over `|vm − med|`. A row is
    * flagged when `|vm − med| > k·MAD` (strict, so a zero-MAD group —
    * more than half one value — flags only rows off the median). The
    * z-score gate ([[zscoreOutliers]]) breaks under the outliers it
    * hunts (they inflate σ); rank statistics don't, which is why
    * data-quality gates on crawled corpora want MAD.
    *
    * Every statistic is a value AT a rank, never an average of two —
    * the lower-median convention keeps the whole op in BIGINT and
    * engine-portable (no even/odd interpolation to disagree on).
    *
    * Shape: two per-GROUP sort windows (rank within group — bounded
    * by the group's partition, never a global sort) with the
    * group-sized median tables broadcast back; the flag itself is a
    * map-only predicate. Same 100 TB contract as
    * [[equiDepthHistogram]]: one key shuffle per ranking pass.
    */
  def madOutliers(events: DataFrame, groupCol: String = "event_type",
      valCol: String = "value", idCol: String = "event_id",
      k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = events
      .where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(idCol), col(groupCol),
        floor(col(valCol) * 1e6).cast("long").as("vm"))
    def medianAtRank(df: DataFrame, c: String, out: String): DataFrame = {
      val w = Window.partitionBy(groupCol).orderBy(col(c), col(idCol))
      val n = Window.partitionBy(groupCol)
      df.withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(n))
        .where(col("rn") === expr("(cnt + 1) div 2"))
        .select(col(groupCol), col(c).as(out))
    }
    val med = medianAtRank(base, "vm", "med")
    val dev = base.join(broadcast(med), Seq(groupCol))
      .withColumn("ad", abs(col("vm") - col("med")))
    val mad = medianAtRank(dev, "ad", "mad")
    dev.join(broadcast(mad), Seq(groupCol))
      .where(col("ad") > lit(k.toLong) * col("mad"))
      .select(col(idCol), col(groupCol), col("vm"), col("med"), col("mad"))
      .orderBy(idCol)
  }

  /** Per-group min-max normalization to ppm of the group's range —
    * `(vm − min)·10⁶ // (max − min)`, constant groups pin to 0. The
    * feature-scaling map as exact integer arithmetic: one bounded
    * group aggregate broadcast back, then a map-only rescale.
    */
  def minMaxNormalize(events: DataFrame, groupCol: String = "event_type",
      valCol: String = "value", idCol: String = "event_id"): DataFrame = {
    val base = events
      .where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(idCol), col(groupCol),
        floor(col(valCol) * 1e6).cast("long").as("vm"))
    val ranges = base.groupBy(groupCol)
      .agg(min("vm").as("lo"), max("vm").as("hi"))
    base.join(broadcast(ranges), Seq(groupCol))
      .select(col(idCol), col(groupCol),
        when(col("hi") === col("lo"), 0L)
          .otherwise(expr("((vm - lo) * 1000000) div (hi - lo)"))
          .as("norm_ppm"))
      .orderBy(idCol)
  }

  /** Leave-one-out target encoding — the standard anti-leakage
    * categorical encoder for gradient-boosting / linear features:
    * each row's encoding is its group's target mean COMPUTED WITHOUT
    * THE ROW ITSELF, `floor((Σ_grp vm − vm) / (cnt − 1))` in
    * micro-units. Exact integer arithmetic end to end (values here
    * are non-negative so `div` == floor; a signed corpus would spell
    * out floor(), the q66 rule). Singleton groups are excluded — LOO
    * is undefined there (a production pipeline substitutes the global
    * prior; that row set is exactly the `c = 1` complement).
    *
    * Scale shape: one map-side-combinable aggregate over the group
    * key, broadcast back (group cardinality is bounded — event types,
    * categories), map-only encode. No window over the group: a
    * whole-partition window would shuffle every row into as many
    * partitions as there are groups — the classic skew trap for
    * low-cardinality keys.
    */
  /** EXACT per-group median at any scale, without a global sort: the
    * classic multi-round histogram-narrowing selection (the
    * distributed k-th-smallest algorithm). Each round builds a
    * `buckets`-bin histogram of the still-active value range per
    * group (one map-side-combinable aggregate), the driver walks the
    * prefix sums to find the bin holding rank `k = (n+1)/2`, and the
    * next round recurses INTO that bin — its true min/max come back
    * with the histogram, so the range tightens to actual data, not
    * arithmetic bounds. When a group's active bin is small (≤
    * `finalLimit` rows) or single-valued, a last row_number pass over
    * the tiny filtered set reads off the exact rank.
    *
    * Contrast with the naive `row_number over (partition by grp order
    * by vm)` at 100 TB: that shuffles and SORTS every row of every
    * group; this shuffles only histogram keys (groups × buckets per
    * round, with partial aggregation) and converges in
    * log_buckets(range) rounds — 2 rounds cover a 10⁶-wide micro
    * range at buckets=1024. Driver state is G×B counters per round
    * (index-scale metadata, same contract as IVF centroids); the data
    * never leaves the executors until the final ≤`finalLimit`-row
    * selection.
    */
  def exactMedianNarrowing(events: DataFrame, groupCol: String = "event_type",
      valCol: String = "value", buckets: Int = 1024,
      finalLimit: Long = 4096L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val t = events.where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("grp"), floor(col(valCol) * 1e6).cast("long").as("vm"))
      .localCheckpoint() // several passes over the same projection
    // (grp, n, k = target rank in active range, lo, hi, active rows)
    var st = t.groupBy("grp")
      .agg(count(lit(1)).as("n"), min("vm").as("lo"), max("vm").as("hi"))
      .collect()
      .map { r =>
        val n = r.getLong(1)
        (r.getString(0), n, (n + 1) / 2, r.getLong(2), r.getLong(3), n)
      }.toSeq
    var guard = 0
    while (st.exists(s => s._6 > finalLimit && s._4 < s._5) && guard < 12) {
      guard += 1
      val active = st.filter(s => s._6 > finalLimit && s._4 < s._5)
      val ranges = active.map(s => (s._1, s._4, s._5))
        .toDF("grp", "alo", "ahi")
      val hist = t.join(broadcast(ranges), Seq("grp"))
        .where(col("vm") >= col("alo") && col("vm") <= col("ahi"))
        .withColumn("b",
          expr(s"((vm - alo) * $buckets) div (ahi - alo + 1)"))
        .groupBy("grp", "b")
        .agg(count(lit(1)).as("c"), min("vm").as("bmin"), max("vm").as("bmax"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1)
      st = st.map { s =>
        if (!(s._6 > finalLimit && s._4 < s._5)) s
        else {
          val bins = hist(s._1).sortBy(_._2)
          var cum = 0L
          var out = s
          var i = 0
          var done = false
          while (i < bins.length && !done) {
            val (_, _, c, bmin, bmax) = bins(i)
            if (cum + c >= s._3) {
              out = (s._1, s._2, s._3 - cum, bmin, bmax, c)
              done = true
            } else cum += c
            i += 1
          }
          out
        }
      }
    }
    // single-valued ranges are already decided; the rest get an exact
    // row_number selection over their ≤finalLimit-row active slice
    val decided = st.filter(s => s._4 == s._5)
      .map(s => (s._1, s._2, s._4)).toDF("grp", "n", "median_micro")
    val open = st.filter(s => s._4 < s._5)
    val fin = if (open.isEmpty) decided
    else {
      val ranges = open.map(s => (s._1, s._2, s._3, s._4, s._5))
        .toDF("grp", "n", "k", "alo", "ahi")
      val w = Window.partitionBy("grp").orderBy("vm")
      t.join(broadcast(ranges), Seq("grp"))
        .where(col("vm") >= col("alo") && col("vm") <= col("ahi"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === col("k"))
        .select(col("grp"), col("n"), col("vm").as("median_micro"))
        .unionByName(decided)
    }
    fin.orderBy("grp")
  }

  def looTargetEncode(events: DataFrame, groupCol: String = "event_type",
      valCol: String = "value", idCol: String = "event_id"): DataFrame = {
    val t = events.where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(idCol).as("event_id"), col(groupCol).as("grp"),
        floor(col(valCol) * 1e6).cast("long").as("vm"))
    val agg = t.groupBy("grp")
      .agg(sum(col("vm")).as("s"), count(lit(1)).as("c"))
    t.join(broadcast(agg), Seq("grp"))
      .where(col("c") >= 2)
      .select(col("event_id"), col("grp"),
        expr("(s - vm) div (c - 1)").as("loo_micro"))
      .orderBy("event_id")
  }

  /** 2-D Pareto skyline (maximize `benefitCol`, minimize `costCol`):
    * rows not dominated by any other — the quality-vs-cost frontier a
    * curation pipeline keeps when trading document quality against
    * length, or price against size. Dominance is the standard one:
    * `b` dominates `a` iff `b.cost ≤ a.cost ∧ b.benefit ≥ a.benefit`
    * and at least one is strict; ties on BOTH axes survive together.
    *
    * Shape — the O(n²) dominance join never happens: one combinable
    * per-cost max-benefit aggregate (a 100 TB scan folds to
    * |distinct costs| rows), a running strict-prefix max over the
    * AGGREGATED table in cost order (its input is bounded by distinct
    * costs, not rows; were that itself huge, the two-pass
    * range-partitioned prefix scan of [[Par.globalRowNumber]]
    * replaces the single window), and a broadcast semi-join back to
    * recover every tying row. Equivalence to the NOT-EXISTS dominance
    * definition: a row survives iff its benefit is the max at its
    * cost AND strictly above every cheaper cost's max.
    */
  def paretoSkyline(df: DataFrame, idCol: String, benefitCol: String,
      costCol: String): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(benefitCol).as("benefit"),
        col(costCol).as("cost"))
      .where(col("benefit").isNotNull && col("cost").isNotNull)
    val agg = t.groupBy("cost").agg(max(col("benefit")).as("mb"))
    val w = Window.orderBy("cost")
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = agg.withColumn("pmax", max(col("mb")).over(w))
      .where(col("pmax").isNull || col("mb") > col("pmax"))
      .select(col("cost"), col("mb").as("benefit"))
    t.join(broadcast(sky), Seq("cost", "benefit"))
      .select(col("id"), col("benefit"), col("cost"))
      .orderBy("cost", "benefit", "id")
  }

  /** Per-category distribution drift between two event populations
    * (even vs odd day-of-epoch here — any disjoint split works):
    * rate-per-million in each half, absolute drift, and a
    * χ²-flavoured score `drift² / (rateA + rateB + 1)` that rewards
    * large shifts on well-supported categories. Everything is
    * integer ppm (floor), so the report is oracle-exact — the
    * monitoring primitive behind "did yesterday's crawl change the
    * corpus mix".
    *
    * Shape: one combinable two-counter aggregate per category, a
    * 1-row total broadcast back, then map-only arithmetic — a
    * 100 TB scan folds to |categories| rows before anything joins.
    */
  def categoryDrift(events: DataFrame, catCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val d = events
      .where(col(catCol).isNotNull && col(tsCol).isNotNull)
      .select(col(catCol).as("cat"),
        expr(s"(unix_micros($tsCol) div 86400000000) % 2").as("b"))
    val cnt = d.groupBy("cat").agg(
      sum(when(col("b") === 0, 1L).otherwise(0L)).as("n_even"),
      sum(when(col("b") === 1, 1L).otherwise(0L)).as("n_odd"))
    val tot = cnt.agg(sum(col("n_even")).as("te"), sum(col("n_odd")).as("tod"))
    cnt.crossJoin(broadcast(tot))
      .select(col("cat"), col("n_even"), col("n_odd"),
        expr("n_even * 1000000 div te").as("rate_even_ppm"),
        expr("n_odd * 1000000 div tod").as("rate_odd_ppm"))
      .withColumn("drift_ppm",
        abs(col("rate_even_ppm") - col("rate_odd_ppm")))
      .withColumn("score",
        expr("(drift_ppm * drift_ppm) div (rate_even_ppm + rate_odd_ppm + 1)"))
      .orderBy(col("score").desc, col("cat"))
  }

  /** Per-group lower weighted median: the smallest value `v` whose
    * cumulative weight reaches half the group total (`2·cum ≥ W`) —
    * the robust center for weighted populations (price weighted by
    * quantity, latency weighted by calls). Deterministic and
    * integer-exact by definition, no interpolation. Values must be
    * non-negative (shift upstream if needed — `div` bucketing).
    *
    * Shape — two-level narrowing, no group-wide sort: the scan folds
    * through a combinable (group, value) weight aggregate, values
    * fold again into `bucketWidth`-wide buckets, a prefix window
    * over the BUCKET table (≤ maxValue/bucketWidth rows per group)
    * locates the median bucket, and the final prefix window runs
    * only over the distinct values INSIDE that one bucket. A
    * million-distinct-value group never sorts more than one bucket
    * plus the bucket directory — the windowed q154 idea done in one
    * extra round instead of log rounds. The (group, value) table is
    * localCheckpointed because both the bucket directory and the
    * final in-bucket scan read it.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
      weightCol: String, bucketWidth: Long = 4096L): DataFrame = {
    val t = df.select(col(groupCol).as("grp"), col(valCol).as("v"),
        col(weightCol).cast("long").as("w"))
      .where(col("grp").isNotNull && col("v").isNotNull && col("w") > 0)
      .groupBy("grp", "v").agg(sum(col("w")).as("w"))
      .withColumn("b", expr(s"v div $bucketWidth"))
      .localCheckpoint()
    val buck = t.groupBy("grp", "b").agg(sum(col("w")).as("bw"))
    val wb = Window.partitionBy("grp").orderBy("b")
    val wtot = Window.partitionBy("grp")
    val bstar = buck
      .withColumn("cum", sum(col("bw")).over(wb))
      .withColumn("tot", sum(col("bw")).over(wtot))
      .where(col("cum") * 2 >= col("tot"))
      .groupBy("grp").agg(min(col("b")).as("bstar"), max(col("tot")).as("tot"))
    val before = buck.join(broadcast(bstar), Seq("grp"))
      .where(col("b") < col("bstar"))
      .groupBy("grp").agg(sum(col("bw")).as("cum_before"))
    val wv = Window.partitionBy("grp").orderBy("v")
    t.join(broadcast(bstar), Seq("grp"))
      .where(col("b") === col("bstar"))
      .join(broadcast(before), Seq("grp"), "left")
      .withColumn("cb", coalesce(col("cum_before"), lit(0L)))
      .withColumn("run", sum(col("w")).over(wv))
      .where((col("cb") + col("run")) * 2 >= col("tot"))
      .groupBy("grp")
      .agg(min(col("v")).as("wmedian"), max(col("tot")).as("w_total"))
      .orderBy("grp")
  }

  /** Rank-based AUC (Mann-Whitney U) of a score against a binary
    * outcome — THE threshold-free evaluation of a quality classifier
    * or retrieval score. Exact: with per-value counts and midranks,
    * `2·R₊ = Σ₊ (2·cumBefore + cnt + 1)` is integer (the ×2 absorbs
    * tie midranks of .5), `AUC = (2R₊ − n₊(n₊+1)) / (2·n₊·n₋)` —
    * emitted as numerator/denominator plus a floored ppm (the
    * numerator is ≥ 0 by construction).
    *
    * Shape: the scan folds through a combinable per-value (cnt,
    * pos) aggregate; the cumulative rank base comes from
    * [[Par.prefixSum]] (two-pass, no single-partition window); one
    * final combinable fold emits a single row.
    */
  def rankAuc(df: DataFrame, scoreCol: String,
      posCol: String): DataFrame = {
    val byV = df
      .where(col(scoreCol).isNotNull && col(posCol).isNotNull)
      .select(floor(col(scoreCol) * 1e6).cast("long").as("vm"),
        when(col(posCol), 1L).otherwise(0L).as("pos"))
      .groupBy("vm")
      .agg(count(lit(1)).as("cnt"), sum(col("pos")).as("pc"))
    val cum = Par.prefixSum(byV, Seq.empty, Seq("vm"), "cnt")
    cum.agg(sum(col("cnt")).as("n"), sum(col("pc")).as("n_pos"),
        sum(expr("pc * (2 * (cum - cnt) + cnt + 1)")).as("r2"))
      .select(col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
        col("r2"),
        (col("r2") - col("n_pos") * (col("n_pos") + 1)).as("auc_num"),
        (lit(2L) * col("n_pos") * (col("n") - col("n_pos")))
          .as("auc_den"))
      .withColumn("auc_ppm", expr("(auc_num * 1000000) div auc_den"))
  }

  /** Category-concentration audit per group: Herfindahl–Hirschman
    * index and Gini impurity in exact ppm — is a source dominated by
    * one language, a partition by one key? With per-category counts
    * `c_i` and group total `n`: `hhi = Σc_i²·10⁶ div n²` (10⁶ = one
    * category owns everything) and `gini = (n²−Σc_i²)·10⁶ div n²`
    * (0 = pure). Both floored independently, so each is oracle-exact
    * on its own. The log-free substitute for entropy profiling —
    * same ranking, integer arithmetic.
    *
    * Shape: two stacked combinable aggregates (category counts, then
    * group sums) — a 100 TB scan folds to |group×category| then
    * |group| rows; everything after is map-only.
    */
  def hhiConcentration(df: DataFrame, groupCol: String,
      catCol: String): DataFrame =
    df.where(col(groupCol).isNotNull && col(catCol).isNotNull)
      .groupBy(col(groupCol).as("grp"), col(catCol).as("cat"))
      .agg(count(lit(1)).as("c"))
      .groupBy("grp")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_cats"),
        sum(col("c") * col("c")).as("ss"))
      .select(col("grp"), col("n"), col("n_cats"),
        expr("(ss * 1000000) div (n * n)").as("hhi_ppm"),
        expr("((n * n - ss) * 1000000) div (n * n)").as("gini_ppm"))
      .orderBy(col("hhi_ppm").desc, col("grp"))

  /** Per-group linear trend of daily activity, exact rational: least
    * squares over (day, count) points kept as the integer numerator /
    * denominator pair `slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)` —
    * never divided, so no float and no negative-floor-division hazard
    * — plus the sign as an up/down/flat label. The "is this event
    * type growing" monitor.
    *
    * Shape: two stacked combinable aggregates (daily counts, then
    * per-group moment sums); map-only arithmetic after. Day indices
    * ~2·10⁴ keep every moment far inside long range for
    * million-day×group workloads.
    */
  def groupTrend(events: DataFrame, groupCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .where(col(groupCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(expr("x * y")).as("sxy"),
        sum(expr("x * x")).as("sxx"))
      .select(col("grp"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
      .withColumn("trend",
        when(col("slope_num") > 0, "up")
          .when(col("slope_num") < 0, "down").otherwise("flat"))
      .orderBy("grp")
  }

  /** Exact covariance numerators of the most-correlated embedding
    * dimension pairs — the whitening / redundant-dimension audit
    * before PCA or product quantization: the off-diagonal cells of
    * [[gramCovariance]], ranked by `|cov_num|`.
    */
  def gramTopPairs(embeddings: DataFrame, dim: Int = 64, quant: Long = 1000L,
      topN: Int = 20, vecCol: String = "embedding"): DataFrame =
    gramCovariance(embeddings, dim, quant, vecCol)
      .where(col("i") < col("j"))
      .select(col("i").as("dim_i"), col("j").as("dim_j"), col("n"),
        col("v").as("sxy"), col("sx_i"), col("sx_j"), col("cov_num"))
      .orderBy(abs(col("cov_num")).desc, col("dim_i"), col("dim_j"))
      .limit(topN)

  /** The exact covariance numerators of an embedding's dimensions, one
    * row per cell `i ≤ j` (1-based, diagonal included) — the Gram
    * kernel of [[gramTopPairs]] and [[Similarity.powerComponent]].
    * Values quantize to `floor(x·quant)` longs so sums are
    * order-independent; `cov_num(i,j) = n·Σxy − Σx·Σy` is n² times the
    * covariance, sign and ranking preserved, integer-exact. Rows:
    * `(i, j, n, v = Σxᵢxⱼ, sx_i, sx_j, cov_num)`.
    *
    * Shape — this is the map-side Gram accumulation, NOT a pair
    * explosion: each partition folds its rows into one d-vector of
    * sums and one upper-triangular d×d cross-product array
    * (O(d²) memory, O(n·d²) work, zero shuffle), emits the triangle
    * as (i,j,partial) rows, and one combinable aggregate of
    * |partitions|·d²/2 tiny rows finishes. A 100 TB corpus shuffles
    * kilobytes. Long sums hold to ~10¹² rows at quant=10³; past
    * that, switch the accumulators to mean-centered decimal.
    */
  private[ops] def gramCovariance(embeddings: DataFrame, dim: Int,
      quant: Long, vecCol: String): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = embeddings
      .where(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(expr(s"transform($vecCol, " +
        s"x -> CAST(floor(CAST(x AS DOUBLE) * $quant) AS BIGINT))").as("qv"))
      .as[Seq[Long]]
    val d = dim
    val raw = q.mapPartitions { it =>
      val s = new Array[Long](d)
      val xy = new Array[Long](d * d) // j >= i cells used; flat for locality
      var n = 0L
      while (it.hasNext) {
        val arr = it.next().toArray
        var i = 0
        while (i < d) {
          val xi = arr(i)
          s(i) += xi
          var j = i
          while (j < d) { xy(i * d + j) += xi * arr(j); j += 1 }
          i += 1
        }
        n += 1L
      }
      if (n == 0L) Iterator.empty
      else {
        val out = Array.newBuilder[(Int, Int, Long)]
        out += ((-1, -1, n))
        var i = 0
        while (i < d) {
          out += ((i + 1, -1, s(i)))
          var j = i
          while (j < d) { out += ((i + 1, j + 1, xy(i * d + j))); j += 1 }
          i += 1
        }
        out.result().iterator
      }
    }.toDF("i", "j", "v")
    val agg = raw.groupBy("i", "j").agg(sum(col("v")).as("v"))
      .localCheckpoint() // three branches below; don't re-run the kernel
    val nDf = agg.where(col("i") === -1 && col("j") === -1)
      .select(col("v").as("n"))
    val sums = agg.where(col("j") === -1 && col("i") >= 1)
    agg.where(col("i") >= 1 && col("j") >= 1)
      .crossJoin(broadcast(nDf))
      .join(broadcast(sums.select(col("i"), col("v").as("sx_i"))), "i")
      .join(broadcast(sums.select(col("i").as("j"), col("v").as("sx_j"))), "j")
      .select(col("i"), col("j"), col("n"), col("v"), col("sx_i"), col("sx_j"),
        (col("n") * col("v") - col("sx_i") * col("sx_j")).as("cov_num"))
  }

  /** CUSUM change detection over per-group daily counts, in closed
    * form: the textbook recurrence `S_i = max(0, S_{i-1} + (x_i − m))`
    * is not window-expressible, but it EQUALS
    * `P_i − min(0, min_{j≤i} P_j)` for the drift-corrected prefix
    * `P_i = Σ_{j≤i}(x_j − m)` — a cumulative sum and a running min,
    * both plain prefix windows. Everything stays integer-exact by
    * cross-multiplying the group mean away: with per-group day count
    * `cnt` and total `tot`, the corrected step is
    * `D_i = cnt·x_i − tot` (so Σ D = 0 by construction) and the
    * statistic is in `cnt·events` units; the alarm threshold `h` is
    * `hPpm` millionths of one mean day's volume, i.e.
    * `S_i·10⁶ ≥ hPpm·tot` — "cumulative excess reached X% of a
    * typical day". Emits every (group, day) with the statistic and
    * its alarm flag; ties and floors are engine-portable.
    *
    * Shape: one combinable (group, day) count folds the raw scan to
    * |groups|·|days| rows; the two prefix windows run per group over
    * the DAY axis, whose width is the calendar span, not the data
    * size — a 100 TB year is 366 rows per group. Nothing else
    * shuffles.
    */
  def cusumChangepoints(events: DataFrame, groupCol: String = "event_type",
      tsCol: String = "ts", hPpm: Long = 250000L): DataFrame = {
    val daily = events
      .where(col(groupCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .agg(count(lit(1)).as("x"))
    val totals = daily.groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("tot"))
    val wp = Window.partitionBy("grp").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(totals), Seq("grp"))
      .withColumn("p", sum(col("cnt") * col("x") - col("tot")).over(wp))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(wp)))
      .select(col("grp"), col("day"), col("x"), col("s").as("cusum"),
        (col("s") * 1000000L >= lit(hPpm) * col("tot")).as("alarm"))
      .orderBy("grp", "day")
  }

  /** Pearson chi-square independence audit between two categorical
    * columns: the full DENSE contingency grid (zero cells included —
    * an expected-but-absent combination is exactly the signal) with
    * observed count, expected count in milli-units
    * `e_milli = (rowTot·colTot·10³) div n`, and the per-cell
    * statistic `contrib_milli = (o·10³ − e_milli)² div (e_milli·10³)`
    * — floor divisions on non-negative integers, identical in any
    * engine, summable by the reader into the chi-square total. The
    * "is label distribution independent of source / time slice"
    * gate a mixture pipeline runs before trusting a stratification.
    *
    * Shape: one combinable (a,b) count collapses the scan; margins
    * are two folds of that tiny table, the dense grid is a
    * broadcast cross of the two margin vectors (|A|·|B| rows) with
    * observed cells left-joined on. Long arithmetic holds while
    * `o·10³` stays under ~3·10⁹ — i.e. groups to ~10⁶ rows per cell
    * at milli scale; widen to decimal past that.
    */
  def chiSquareIndependence(df: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val ct = df.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a").isNotNull && col("b").isNotNull)
      .groupBy("a", "b").agg(count(lit(1)).as("o"))
      .localCheckpoint() // margins + grid probe it thrice
    val ra = ct.groupBy("a").agg(sum(col("o")).as("rt"))
    val cb = ct.groupBy("b").agg(sum(col("o")).as("ct"))
    val n = ct.agg(sum(col("o")).as("n"))
    ra.crossJoin(broadcast(cb)).crossJoin(broadcast(n))
      .join(ct, Seq("a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("e_milli", expr("rt * ct * 1000 div n"))
      .withColumn("contrib_milli", expr(
        "CASE WHEN e_milli > 0 THEN (o * 1000 - e_milli) * (o * 1000 - e_milli) div (e_milli * 1000) ELSE 0 END"))
      .select("a", "b", "o", "e_milli", "contrib_milli")
      .orderBy("a", "b")
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the value
    * distributions of two groups — "did this source's length/score
    * distribution drift from that one's" with no binning error. The
    * sup-gap is computed integer-exactly by cross-multiplying the
    * ECDFs: at each distinct value, `d = |cumA·nB − cumB·nA|`; the
    * statistic is `max d` (reported with `ks_ppm = d·10⁶ div
    * (nA·nB)`) and `at_value` is the smallest value attaining it.
    *
    * Shape: one combinable (value → per-side count) aggregate folds
    * the scan to the DISTINCT-VALUE axis; the prefix window and the
    * argmax run over that axis only. For integer-ish metrics
    * (lengths, counts, micro-quantized scores) the axis is bounded
    * by the value range, not the row count — quantize continuous
    * values upstream. nA·nB bounds long exactness at ~3·10⁹ rows
    * per side.
    */
  def ksTwoSample(df: DataFrame, groupCol: String, valCol: String,
      sideA: String, sideB: String): DataFrame = {
    val per = df
      .where(col(groupCol).isin(sideA, sideB) && col(valCol).isNotNull)
      .groupBy(col(valCol).as("v"))
      .agg(
        sum(when(col(groupCol) === sideA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === sideB, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("cuma", sum(col("ca")).over(w))
      .withColumn("cumb", sum(col("cb")).over(w))
      .localCheckpoint() // totals + argmax probe it
    val tot = cum.agg(max(col("cuma")).as("na"), max(col("cumb")).as("nb"))
    cum.crossJoin(broadcast(tot))
      .withColumn("d", abs(col("cuma") * col("nb") - col("cumb") * col("na")))
      .orderBy(col("d").desc, col("v"))
      .limit(1)
      .select(col("na"), col("nb"), col("d").as("d_num"),
        expr("d * 1000000 div (na * nb)").as("ks_ppm"),
        col("v").as("at_value"))
  }

  /** Lead-lag cross-correlation between two event types' daily
    * counts: for every lag in [−maxLag, maxLag], the exact integer
    * covariance numerator `n·Σxy − Σx·Σy` over days where series A at
    * `day` aligns with series B at `day + lag` (inner alignment —
    * days one series misses are excluded, documented), and the
    * best-lag flag (max covariance, ties to the smallest |lag|, then
    * lag). "Do purchases follow views by a day" without ever leaving
    * integer arithmetic.
    *
    * Shape: one combinable (type, day) count folds the scan away;
    * each lag is a day-grid self-join (calendar-bounded); the lag
    * axis is 2·maxLag+1 rows.
    */
  def bestLagXcorr(events: DataFrame, typeA: String, typeB: String,
      maxLag: Int = 3, typeCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .where(col(typeCol).isin(typeA, typeB) && col(tsCol).isNotNull)
      .groupBy(col(typeCol).as("t"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // both sides of every lag join
    val a = daily.where(col("t") === typeA).select(col("day"), col("c").as("xa"))
    val b = daily.where(col("t") === typeB).select(col("day"), col("c").as("xb"))
    val spark = events.sparkSession
    import spark.implicits._
    val lags = (-maxLag to maxLag).map(_.toLong).toDF("lag")
    val aligned = lags.crossJoin(a.withColumnRenamed("day", "da"))
      .join(b.withColumnRenamed("day", "db"),
        col("db") === col("da") + col("lag"))
    val perLag = aligned.groupBy("lag")
      .agg(count(lit(1)).as("n"), sum(col("xa")).as("sx"),
        sum(col("xb")).as("sy"), sum(col("xa") * col("xb")).as("sxy"))
      .select(col("lag"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"))
    val w = Window.orderBy(col("cov_num").desc, abs(col("lag")), col("lag"))
    perLag.withColumn("best", row_number().over(w) === 1)
      .orderBy("lag")
  }

  /** Per-group KS drift vs the GLOBAL distribution: for every group,
    * the exact two-sample statistic `max_v |F_g(v)·N − F(v)·n_g|`
    * (integer cross-multiplied ECDFs — [[ksTwoSample]] generalized
    * from one A/B pair to every group at once) with the ppm statistic
    * and the value where the gap peaks. The "which source drifted"
    * sweep a corpus health check runs per ingest.
    *
    * Shape: two combinable aggregates (per-(group, value) and
    * per-value counts), a groups×values grid join for the per-group
    * prefix (the value axis is the distinct-value count, bounded by
    * the metric's resolution, not the row count), and one global
    * prefix window. Long-exact while `cum·N` fits (~3·10⁹ rows at
    * micro resolution; decimal past that).
    */
  def ksPerGroup(df: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    val base = df
      .where(col(groupCol).isNotNull && col(valCol).isNotNull)
      .select(col(groupCol).as("grp"), col(valCol).cast("long").as("v"))
    val perGV = base.groupBy("grp", "v").agg(count(lit(1)).as("c"))
    val perV = base.groupBy("v").agg(count(lit(1)).as("cg"))
    val wG = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumG = perV.withColumn("cumg", sum(col("cg")).over(wG))
    val grid = perGV.select("grp").distinct()
      .crossJoin(cumG.select("v", "cumg"))
    val wS = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.join(perGV, Seq("grp", "v"), "left")
      .withColumn("cums", sum(coalesce(col("c"), lit(0L))).over(wS))
      .localCheckpoint() // totals + the argmax both probe it
    val totals = cum.groupBy("grp").agg(max(col("cums")).as("ng"))
    val nAll = base.agg(count(lit(1)).as("n_all"))
    val wD = Window.partitionBy("grp")
      .orderBy(col("d").desc, col("v"))
    cum.join(totals, "grp").crossJoin(broadcast(nAll))
      .withColumn("d",
        abs(col("cums") * col("n_all") - col("cumg") * col("ng")))
      .withColumn("rn", row_number().over(wD))
      .where(col("rn") === 1)
      .select(col("grp"), col("ng"), col("n_all"),
        col("d").as("d_num"),
        expr("d * 1000000 div (ng * n_all)").as("ks_ppm"),
        col("v").as("at_value"))
      .orderBy("grp")
  }

  /** Train a decision stump in-engine: the split threshold of a
    * numeric feature minimizing weighted Gini impurity against a
    * binary label — the weak learner under boosting, and the
    * single-feature baseline every model comparison starts from.
    * Candidate thresholds are `bucketWidth`-wide value buckets
    * ("x ≤ t" sends a row left); the weighted impurity
    * `Σ_side (n_s² − pos_s² − neg_s²)·10⁶ div (n_s·n)` is a sum of
    * two floor-ppm terms, engine-portable, minimized with ties to
    * the smallest threshold. Returns the ONE winning row with its
    * side counts.
    *
    * Shape: one combinable (bucket → count, positives) aggregate
    * folds the scan to the bucket axis; a prefix window over that
    * bounded axis yields every candidate's left-side counts in one
    * pass (right side = broadcast totals minus left). Long-exact
    * while `n_l²·10⁶` fits — ~3·10⁶ rows; decimal past that.
    * `bucketWidth > 1` assumes non-negative bucket ids (Spark `div`
    * truncates toward zero, floor-division engines floor — they
    * only agree above zero).
    */
  def decisionStump(df: DataFrame, featureCol: String, labelCol: String,
      bucketWidth: Long = 1L): DataFrame = {
    val base = df
      .where(col(featureCol).isNotNull && col(labelCol).isNotNull)
      .select(
        expr(s"CAST(floor($featureCol) AS BIGINT) div $bucketWidth").as("t"),
        col(labelCol).cast("long").as("y"))
    val per = base.groupBy("t")
      .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    val w = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("n_l", sum(col("c")).over(w))
      .withColumn("pos_l", sum(col("p")).over(w))
      .localCheckpoint() // totals + candidate scan share it
    val tot = cum.agg(max(col("n_l")).as("n"), max(col("pos_l")).as("pos"))
    cum.crossJoin(broadcast(tot))
      .where(col("n_l") < col("n")) // the last bucket has no right side
      .withColumn("n_r", col("n") - col("n_l"))
      .withColumn("pos_r", col("pos") - col("pos_l"))
      .withColumn("gini_ppm", expr(
        "(n_l * n_l - pos_l * pos_l - (n_l - pos_l) * (n_l - pos_l)) * 1000000 div (n_l * n) + " +
        "(n_r * n_r - pos_r * pos_r - (n_r - pos_r) * (n_r - pos_r)) * 1000000 div (n_r * n)"))
      .orderBy(col("gini_ppm"), col("t"))
      .limit(1)
      .select(col("t").as("threshold"), col("n_l"), col("pos_l"),
        col("n_r"), col("pos_r"), col("gini_ppm"))
  }

  /** Group-wise quantile normalization: replace each value by the
    * GLOBAL value at its within-group quantile position — the
    * batch-effect correction that makes per-source quality scores
    * comparable before a global percentile gate (source A's "top
    * 10%" and source B's "top 10%" map to the same scale). With
    * within-group rank `r` of `gn`, the normalized value is the
    * global order statistic at index `(r·n) div gn` under the total
    * order (value, id) — rank arithmetic only, no interpolation, so
    * any engine lands on the same row.
    *
    * Shape: within-group ranks are per-group windows (parallel
    * across groups; skewed giant groups pay their own width);
    * the global axis is [[Par.globalRowNumber]] — two-pass prefix
    * offsets, never a single-partition window; the final lookup is
    * one equi-join on the computed index. Group sizes broadcast.
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valCol: String,
      idCol: String): DataFrame = {
    val base = df
      .where(col(groupCol).isNotNull && col(valCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(groupCol).as("grp"),
        col(valCol).as("v"))
      .localCheckpoint() // ranks, sizes and the global axis share it
    val wg = Window.partitionBy("grp").orderBy("v", "id")
    val ranked = base.withColumn("r", row_number().over(wg))
    val gn = base.groupBy("grp").agg(count(lit(1)).as("gn"))
    val tot = base.agg(count(lit(1)).as("n"))
    val axis = Par.globalRowNumber(base.select("v", "id"), Seq("v", "id"))
      .select(col("rownum").as("k"), col("v").as("norm_v"))
    ranked.join(broadcast(gn), "grp").crossJoin(broadcast(tot))
      .withColumn("k", expr("r * n div gn"))
      .join(axis, "k")
      .select(col("id"), col("grp"), col("v"), col("norm_v"))
      .orderBy("id")
  }

  /** Seasonal (day-of-week) traffic baseline: each (group, day)'s
    * count against the exact lower median of its group's SAME-weekday
    * counts, flagging days above 1.5× or below 0.5× the baseline —
    * the seasonal lens the trailing-window spike monitor (q158) and
    * CUSUM (q191) both miss (a quiet Sunday is not an incident; a
    * Sunday with Monday traffic is).
    *
    * Scale shape: the raw scan folds ONCE to the bounded
    * (group × calendar-day) axis via a combinable count; the median
    * rank window partitions by (group, weekday) over ≤ |days|/7 rows
    * per partition — never over raw events; the baseline table is
    * |groups|×7 rows and broadcasts back onto the axis. Thresholds
    * are cross-multiplied integers (cnt·2 vs med·3), no division.
    */
  def seasonalBaseline(events: DataFrame, tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val daily = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .localCheckpoint() // median derivation + final probe share it
    val byDow = Window.partitionBy("grp", "dow")
    val med = daily
      .withColumn("rn", row_number().over(byDow.orderBy("cnt", "day")))
      .withColumn("n", count(lit(1)).over(byDow))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("grp"), col("dow"), col("cnt").as("med"))
    daily.join(broadcast(med), Seq("grp", "dow"))
      .select(col("grp"), col("day"), col("dow"), col("cnt"), col("med"),
        (col("cnt") * 2 > col("med") * 3).as("high"),
        (col("cnt") * 2 < col("med")).as("low"))
      .orderBy("grp", "day")
  }

  /** Autocorrelation of the daily event-count series per group, lags
    * 1..3 in ppm — the standard seasonality/persistence fingerprint
    * (high acf1 = momentum, acf7 would be weekly rhythm) a forecast
    * pipeline reads before picking a model. Integer-exact throughout:
    * with `n` days, counts `x_t`, `S = Σx`, the mean-centered
    * deviation is scaled to `dev_t = n·x_t − S` (no division, no
    * float), and `acf_k = Σ_{t≤n−k} dev_t·dev_{t+k} · 10⁶ ÷ Σ dev_t²`
    * — numerator possibly negative, and BOTH engines' integer
    * division truncates toward zero (Spark `div`, DuckDB `//`), so
    * the floor contract holds bit for bit. A constant series has
    * zero denominator → NULL acf (nullif guard both sides).
    *
    * Scale shape: one combinable (grp, day) count — the 100 TB scan
    * folds to |groups|·|days| rows — then window lags and one final
    * aggregate over that tiny table; nothing row-scale ever reaches
    * the window.
    */
  def acf(events: DataFrame, tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val daily = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("x"))
    val byGrp = Window.partitionBy("grp")
    val ordered = Window.partitionBy("grp").orderBy("day")
    val dev = daily
      .withColumn("n", count(lit(1)).over(byGrp))
      .withColumn("s", sum(col("x")).over(byGrp))
      .withColumn("dev", col("n") * col("x") - col("s"))
      .withColumn("d1", lead(col("dev"), 1).over(ordered))
      .withColumn("d2", lead(col("dev"), 2).over(ordered))
      .withColumn("d3", lead(col("dev"), 3).over(ordered))
    dev.groupBy("grp")
      .agg(max(col("n")).as("n_days"),
        sum(col("dev") * col("dev")).as("den"),
        sum(col("dev") * col("d1")).as("num1"),
        sum(col("dev") * col("d2")).as("num2"),
        sum(col("dev") * col("d3")).as("num3"))
      .select(col("grp"), col("n_days"),
        // decimal(38) numerator: num·10⁶ would pass a long only up to
        // ~10⁸ events/day; DuckDB's SUM is HUGEINT-wide already
        expr("cast(num1 as decimal(38,0)) * 1000000 div nullif(den, 0)")
          .as("acf1_ppm"),
        expr("cast(num2 as decimal(38,0)) * 1000000 div nullif(den, 0)")
          .as("acf2_ppm"),
        expr("cast(num3 as decimal(38,0)) * 1000000 div nullif(den, 0)")
          .as("acf3_ppm"))
      .orderBy("grp")
  }

  /** One-way variance decomposition (ANOVA sums of squares): how much
    * of a metric's variance the grouping axis explains —
    * `eta² = SSB/(SSB+SSW)` in ppm, the effect-size gate before
    * trusting a per-group breakdown (a grouping with eta² ≈ 0 is
    * noise dressed as insight). Milli-unit integers end to end;
    * group and grand means are truncated integer means and the SS
    * terms are defined against THOSE means (the exactness contract —
    * both engines replay the identical arithmetic); only the final
    * ppm ratio goes through a double floor (exact cross-multiply
    * would overflow BIGINT at warehouse row counts).
    * Two combinable aggregates + one broadcast-means second pass.
    */
  def varianceDecomposition(events: DataFrame,
      grpCol: String = "event_type", valCol: String = "value"): DataFrame = {
    val x = events
      .where(col(grpCol).isNotNull && col(valCol).isNotNull)
      .select(col(grpCol).as("grp"),
        expr(s"CAST(floor($valCol * 1000) AS BIGINT)").as("x"))
      .localCheckpoint() // group stats and the deviation pass share it
    val g = x.groupBy("grp")
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"))
      .withColumn("mean_g", expr("s_g div n_g"))
    val grand = g.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"))
      .withColumn("mean", expr("s div n"))
    val ssw = x.join(broadcast(g.select(col("grp"), col("mean_g"))), "grp")
      .agg(sum((col("x") - col("mean_g")) * (col("x") - col("mean_g")))
        .as("ssw"))
    val ssb = g.crossJoin(broadcast(grand.select(col("mean"))))
      .agg(sum(col("n_g") * (col("mean_g") - col("mean"))
        * (col("mean_g") - col("mean"))).as("ssb"),
        count(lit(1)).as("n_groups"))
    grand.select(col("n")).crossJoin(ssb).crossJoin(ssw)
      .select(col("n"), col("n_groups"), col("ssb"), col("ssw"),
        expr("CAST(floor(CAST(ssb AS DOUBLE) * 1000000 / " +
          "CAST(ssb + ssw AS DOUBLE)) AS BIGINT)").as("eta2_ppm"))
  }

  /** STL-lite seasonal-trend decomposition of per-group daily counts:
    * `cnt = trend + seasonal + resid`, integer-exact end to end —
    * trend is the CALENDAR-centered 7-day mean (RANGE frame on the
    * day number, so data gaps can't smear the window; edge days
    * without the full ±3-day frame are dropped, not guessed),
    * seasonal is the per-(group, day-of-week) lower median of the
    * detrended series (q201's median contract), and the residual is
    * what remains. The decomposition every seasonality-aware monitor
    * (rate spikes, seasonal baselines) implicitly assumes — here
    * materialized and verifiable component by component.
    *
    * Scale: daily counts are one combinable aggregate; every window
    * after that runs over |group|·|days| rows (calendar-sized, not
    * event-sized), partitioned per group.
    */
  def stlDecompose(events: DataFrame, tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val daily = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("cnt"))
    val wr = Window.partitionBy("grp").orderBy("day").rangeBetween(-3, 3)
    val tr = daily
      .withColumn("win_n", count(lit(1)).over(wr))
      .withColumn("win_sum", sum(col("cnt")).over(wr))
      .where(col("win_n") === 7)
      .select(col("grp"), col("day"), col("cnt"),
        expr("win_sum div 7").as("trend"))
      .withColumn("detr", col("cnt") - col("trend"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
      .localCheckpoint() // median pass and output share it
    val byDow = Window.partitionBy("grp", "dow")
    val seas = tr
      .withColumn("rn", row_number().over(byDow.orderBy("detr", "day")))
      .withColumn("n", count(lit(1)).over(byDow))
      .where(col("rn") === expr("(n + 1) div 2"))
      .select(col("grp"), col("dow"), col("detr").as("seasonal"))
    tr.join(broadcast(seas), Seq("grp", "dow"))
      .select(col("grp"), col("day"), col("cnt"), col("trend"),
        col("seasonal"),
        (col("detr") - col("seasonal")).as("resid"))
      .orderBy("grp", "day")
  }

  /** Holt linear (double-exponential) smoothing over per-group daily
    * counts, integer milli-units: `l' = (α·c·1000 + (1000−α)·(l+b))
    * div 1000`, `b' = (β·(l'−l) + (1000−β)·b) div 1000` with α=500,
    * β=300 — the one-step-ahead forecast `l+b` a capacity monitor
    * publishes next to the raw trend. The recurrence is inherently
    * sequential IN DAYS, so it folds a SORTED bounded per-group day
    * list through a HOF `aggregate` — never a driver loop, never an
    * unbounded collect: the fold length is the calendar, not the
    * data.
    *
    * The (l, b) state is PACKED into one BIGINT —
    * `(l + 2³⁰)·2³¹ + (b + 2³⁰)` — because DuckDB 1.0's
    * `list_reduce` miscomputes multi-field struct accumulators
    * (verified: a two-step struct fold disagrees with its own
    * single-step evaluation), and the oracle must replay this fold
    * bit for bit. The packing bounds |l|, |b| < 2³⁰ milli-units
    * (≈ a billion events/day/group) — far above any real group.
    */
  def holtForecast(events: DataFrame, tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val daily = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("cnt"))
    val L = "(acc div 2147483648L - 1073741824L)"
    val B = "(acc % 2147483648L - 1073741824L)"
    val NL = s"((500 * c + 500 * ($L + $B)) div 1000)"
    val NB = s"((300 * ($NL - $L) + 700 * $B) div 1000)"
    daily.groupBy("grp")
      .agg(sort_array(collect_list(struct(col("day"), col("cnt"))))
        .as("ds"), count(lit(1)).as("n_days"))
      .select(col("grp"), col("n_days"),
        expr(s"""aggregate(
          slice(transform(ds, x -> x.cnt * 1000L), 2, size(ds) - 1),
          (ds[0].cnt * 1000L + 1073741824L) * 2147483648L + 1073741824L,
          (acc, c) -> ($NL + 1073741824L) * 2147483648L
                      + ($NB + 1073741824L),
          acc -> named_struct(
            'l', acc div 2147483648L - 1073741824L,
            'b', acc % 2147483648L - 1073741824L))""").as("st"))
      .select(col("grp"), col("n_days"),
        col("st.l").as("level_milli"), col("st.b").as("trend_milli"),
        (col("st.l") + col("st.b")).as("forecast_milli"))
      .orderBy("grp")
  }

  /** Per-group nearest-rank percentiles (p50/p90/p99 + max) over an
    * integer metric — exact, and scale-right for skewed groups: the
    * first pass is a combinable (group, value) count (the 100 TB
    * stream folds to |groups|·|distinct values| rows — bounded when
    * the metric is discretized, e.g. whole days), the cumulative and
    * the rank picks then run over THAT table. No per-group sort of
    * row-scale data ever happens, unlike the naive
    * `row_number().over(partitionBy(group))` which sorts every row of
    * the hottest group in one task. Percentile = smallest value whose
    * running count reaches ⌈p·n⌉ (nearest-rank, no interpolation).
    */
  def groupPercentiles(df: DataFrame, grpCol: String,
      valCol: String): DataFrame = {
    val counts = df.where(col(grpCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(grpCol).as("grp"), col(valCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy("grp")
    val cum = counts.withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wg))
      .localCheckpoint() // three rank picks + the totals share it
    def pick(pPpm: Long, as: String) =
      cum.where(col("cum") >=
          expr(s"(n * ${pPpm}L + 999999L) div 1000000L"))
        .groupBy("grp").agg(min(col("v")).as(as))
    pick(500000L, "p50").join(pick(900000L, "p90"), Seq("grp"))
      .join(pick(990000L, "p99"), Seq("grp"))
      .join(cum.groupBy("grp")
        .agg(max(col("n")).as("n"), max(col("v")).as("max_v")), Seq("grp"))
      .select(col("grp"), col("n"), col("p50"), col("p90"), col("p99"),
        col("max_v"))
      .orderBy("grp")
  }

  /** Walk-forward (expanding-window) backtest of the [[holtForecast]]
    * model: replay the identical milli-integer double-exponential
    * recurrence (α=0.5, β=0.3, init level=first count, trend=0) and,
    * BEFORE folding each day in, score the one-step-ahead forecast
    * `l+b` against that day's actual — the honest eval a forecast
    * pipeline runs before trusting q225's number (in-sample fit
    * always looks better than walk-forward error). Emits per group
    * the eval count, mean absolute error (floor milli) and worst
    * single-day error.
    *
    * Single pass: the per-step forecast is a byproduct of the same
    * fold that advances the state, so backtesting costs exactly one
    * traversal — not n refits. Same scale shape as holtForecast: the
    * 100 TB scan folds to |groups|·|days| rows before any sequential
    * work.
    */
  def walkForwardHolt(events: DataFrame, tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val daily = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("cnt"))
    daily.groupBy("grp")
      .agg(sort_array(collect_list(struct(col("day"), col("cnt"))))
        .as("ds"), count(lit(1)).as("n_days"))
      .where(col("n_days") >= 2) // one day trains, nothing to score
      .select(col("grp"), col("n_days"),
        expr("""aggregate(
          slice(transform(ds, x -> x.cnt * 1000L), 2, size(ds) - 1),
          named_struct('l', ds[0].cnt * 1000L, 'b', 0L,
            'se', 0L, 'me', 0L, 'k', 0L),
          (acc, c) -> named_struct(
            'l', (500 * c + 500 * (acc.l + acc.b)) div 1000,
            'b', (300 * (((500 * c + 500 * (acc.l + acc.b)) div 1000)
                         - acc.l) + 700 * acc.b) div 1000,
            'se', acc.se + abs(c - (acc.l + acc.b)),
            'me', greatest(acc.me, abs(c - (acc.l + acc.b))),
            'k', acc.k + 1),
          acc -> acc)""").as("st"))
      .select(col("grp"), col("n_days"), col("st.k").as("n_eval"),
        expr("st.se div st.k").as("mae_milli"),
        col("st.me").as("max_err_milli"))
      .orderBy("grp")
  }

  /** Forecast bake-off — naive (yesterday), seasonal-naive (7 rows
    * back) and the q225/q253 Holt fold scored on the SAME eval rows
    * (row index ≥ 8, the first point where all three models are
    * defined), one MAE per model per group plus the winner. The
    * model-selection table a forecast pipeline reads before shipping
    * a default: Holt must beat the free baselines on walk-forward
    * error or it doesn't earn its state. Ties break toward the
    * simpler model (naive ≺ snaive ≺ holt). All milli-integer.
    *
    * Scale shape: the combinable daily fold first (100 TB → |groups|·
    * |days| rows), then window lags + one aggregate for the
    * baselines and the q253 single-traversal fold for Holt, joined
    * per group.
    */
  def forecastBakeoff(events: DataFrame, tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val daily = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .select(col(typeCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("day"))
      .groupBy("grp", "day").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // lag table and Holt fold share it
    val w = Window.partitionBy("grp").orderBy("day")
    val lagged = daily.withColumn("cm", col("cnt") * 1000L)
      .withColumn("rn", row_number().over(w))
      .withColumn("l1", lag(col("cm"), 1).over(w))
      .withColumn("l7", lag(col("cm"), 7).over(w))
    val base = lagged.groupBy("grp")
      .agg(max(col("rn")).cast("long").as("n_days"),
        sum(when(col("rn") >= 8, 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("rn") >= 8, abs(col("cm") - col("l1")))).as("sen"),
        sum(when(col("rn") >= 8, abs(col("cm") - col("l7")))).as("ses"))
      .where(col("n_eval") > 0)
    // the q253 Holt recurrence, error accumulated only on eval rows
    // (step counter k ≥ 6 ⇔ row index ≥ 8)
    val holt = daily.groupBy("grp")
      .agg(sort_array(collect_list(struct(col("day"), col("cnt"))))
        .as("ds"))
      .select(col("grp"),
        expr("""aggregate(
          slice(transform(ds, x -> x.cnt * 1000L), 2, size(ds) - 1),
          named_struct('l', ds[0].cnt * 1000L, 'b', 0L, 'seh', 0L, 'k', 0L),
          (acc, c) -> named_struct(
            'l', (500 * c + 500 * (acc.l + acc.b)) div 1000,
            'b', (300 * (((500 * c + 500 * (acc.l + acc.b)) div 1000)
                         - acc.l) + 700 * acc.b) div 1000,
            'seh', acc.seh + if(acc.k >= 6,
                               abs(c - (acc.l + acc.b)), 0L),
            'k', acc.k + 1),
          acc -> acc.seh)""").as("seh"))
    base.join(holt, "grp")
      .select(col("grp"), col("n_days"), col("n_eval"),
        expr("sen div n_eval").as("mae_naive_milli"),
        expr("ses div n_eval").as("mae_snaive_milli"),
        expr("seh div n_eval").as("mae_holt_milli"))
      .withColumn("best",
        when(col("mae_naive_milli") <= col("mae_snaive_milli") &&
             col("mae_naive_milli") <= col("mae_holt_milli"), "naive")
          .when(col("mae_snaive_milli") <= col("mae_holt_milli"), "snaive")
          .otherwise("holt"))
      .orderBy("grp")
  }

  /** Grid-density outlier detection (the DBSCAN-core counting step,
    * relationally): bucket events onto a bounded 2-D grid
    * (value-band × hour-of-day), sum each cell's 3×3 neighborhood
    * occupancy, and flag events whose neighborhood density is ≤
    * `dmin` — a LOCAL sparsity test that catches points global
    * z-score/MAD filters ([[zscoreOutliers]]-shaped ops) miss
    * because they sit near the global mean but in an empty region.
    *
    * The neighborhood sum is cell-count fan-out (each cell emits 9
    * offset contributions, then one combinable aggregate) — never a
    * point-to-point distance join, so cost scales with DISTINCT
    * CELLS (bounded by the fixed grid), not points². Hour edges
    * don't wrap (hour 0 and 23 are not neighbors) — documented
    * boundary, matching the oracle. The flagged-event join is a
    * broadcast of sparse cells only.
    */
  def gridDensityOutliers(events: DataFrame, dmin: Long = 10L,
      valBand: Double = 20.0, tsCol: String = "ts",
      valCol: String = "value", idCol: String = "event_id"): DataFrame = {
    val pts = events
      .where(col(valCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(idCol).as("event_id"),
        floor(col(valCol) / valBand).cast("long").as("gx"),
        hour(col(tsCol)).cast("long").as("gy"))
    val cells = pts.groupBy("gx", "gy").agg(count(lit(1)).as("cnt"))
    val offsets = Seq(-1L, 0L, 1L)
    val fanned = cells.select(col("gx"), col("gy"), col("cnt"),
      explode(typedLit(for { dx <- offsets; dy <- offsets }
        yield (dx, dy))).as("o"))
    val density = fanned
      .groupBy((col("gx") + col("o._1")).as("gx"),
        (col("gy") + col("o._2")).as("gy"))
      .agg(sum(col("cnt")).as("density"))
    val sparse = density.where(col("density") <= dmin)
    pts.join(broadcast(sparse), Seq("gx", "gy"))
      .select(col("event_id"), col("gx"), col("gy"), col("density"))
      .orderBy("event_id")
  }

  /** Integer CDF of Poisson(1) scaled to 1e4: P(X ≤ k) for k = 0..4,
    * then everything else. Fixed constants (⌊1e4·Σ e⁻¹/i!⌋), shared
    * with the DuckDB oracle restatement verbatim.
    */
  private[graft] val Pois1Cdf1e4: Seq[Int] = Seq(3679, 7358, 9197, 9810, 9963)

  /** Poisson-bootstrap confidence intervals for per-group means — the
    * uncertainty quantification a metrics pipeline publishes next to
    * the point estimate. The classic bootstrap (resample N rows with
    * replacement, B times) is driver-hostile at scale; the Poisson
    * bootstrap replaces per-replicate sampling with an independent
    * Poisson(1) weight per (row, replicate), which needs only a
    * per-row hash — embarrassingly parallel, one pass, no global
    * coordination (the standard trick for bootstrapping on MapReduce-
    * shaped systems).
    *
    * Weights are SEEDED (row id → `mix31`, replicate-salted) so the
    * release is reproducible and the oracle replays every weight; the
    * Poisson(1) draw is the fixed integer CDF table [[Pois1Cdf1e4]]
    * probed with a hash-uniform in [0, 1e4).
    *
    * Per group: `n`, the point mean, and the [p05, p95] band of the
    * `B` replicate means (ranks ⌈0.05·B⌉ and ⌈0.95·B⌉ of the sorted
    * replicate means — for B = 32, the 2nd and 31st). Means are
    * micro-unit floors, exact end to end.
    *
    * Scale: the (group, replicate) aggregate is one map-side-
    * combinable shuffle of ≤ B rows per group per task (the explode
    * happens AFTER the row is read, inside the same stage); the final
    * per-group fold sorts a bounded B-element list. A replicate whose
    * weights all drew 0 yields a null mean and is dropped from the
    * band (possible only for tiny groups; guarded, not silent).
    */
  def bootstrapCi(events: DataFrame, grpCol: String = "event_type",
      valCol: String = "value", idCol: String = "event_id",
      b: Int = 32): DataFrame = {
    import graft.ops.Similarity.mix31Col
    require(b >= 20, s"bootstrapCi: B=$b too small for a p05/p95 band")
    val loRank = (b * 5 + 99) / 100 // ⌈0.05·B⌉
    val hiRank = (b * 95 + 99) / 100 // ⌈0.95·B⌉
    val rows = events
      .where(col(grpCol).isNotNull && col(valCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(grpCol).as("grp"),
        expr(s"CAST(floor($valCol * 1000000) AS BIGINT)").as("x"),
        mix31Col(col(idCol).cast("long")).as("h"))
    val cdf = Pois1Cdf1e4
    val weighted = rows
      .select(col("grp"), col("x"),
        explode(sequence(lit(0), lit(b - 1))).as("r"),
        col("h"))
      .withColumn("u", mix31Col(col("h") + col("r") * 1000003L) % 10000)
      .withColumn("w",
        when(col("u") < cdf(0), 0).when(col("u") < cdf(1), 1)
          .when(col("u") < cdf(2), 2).when(col("u") < cdf(3), 3)
          .when(col("u") < cdf(4), 4).otherwise(5).cast("long"))
    val reps = weighted.groupBy("grp", "r")
      .agg(sum(col("w") * col("x")).as("wx"), sum(col("w")).as("wn"))
      .where(col("wn") > 0)
      .select(col("grp"), expr("wx div wn").as("mean_r"))
    val point = rows.groupBy("grp")
      .agg(count(lit(1)).as("n"), expr("sum(x) div count(1)").as("mean_micro"))
    val band = reps.groupBy("grp")
      .agg(sort_array(collect_list(col("mean_r"))).as("ms"))
      .select(col("grp"),
        element_at(col("ms"), loRank).as("lo_micro"),
        element_at(col("ms"), hiRank).as("hi_micro"))
    point.join(band, Seq("grp"))
      .select(col("grp"), col("n"), col("mean_micro"),
        col("lo_micro"), col("hi_micro"))
      .orderBy("grp")
  }

  /** Theil–Sen robust daily trend per group: the lower median of all
    * pairwise day-to-day slopes `(y₂−y₁)·1000 div (x₂−x₁)` (floor
    * milli-units, trunc-toward-zero on both engines) — the
    * outlier-immune complement to [[groupTrend]]'s least squares: one
    * corrupted day can flip an OLS slope's sign but moves the median
    * of C(n,2) pairwise slopes by at most one rank. Emits the day and
    * pair counts, the median slope, and the up/down/flat label.
    *
    * Shape: the 100 TB scan folds FIRST to |group×day| daily counts
    * (one combinable aggregate); the pair join is over the day grid
    * only — C(days, 2) per group is calendar-bounded (a 3-year series
    * is ~600k pairs), independent of raw row count. Median by
    * rank-pick over that bounded pair set, never a global sort of the
    * input. Groups with a single day have no pairs and drop out.
    */
  def theilSenTrend(events: DataFrame, groupCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    val daily = events
      .where(col(groupCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(groupCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("x"))
      .agg(count(lit(1)).as("y"))
    val nDays = daily.groupBy("grp").agg(count(lit(1)).as("n_days"))
    val pairs = daily.select(col("grp"), col("x").as("xa"), col("y").as("ya"))
      .join(daily.select(col("grp"), col("x").as("xb"), col("y").as("yb")),
        Seq("grp"))
      .where(col("xa") < col("xb"))
      .select(col("grp"),
        expr("(yb - ya) * 1000 div (xb - xa)").as("slope_milli"))
    val w = Window.partitionBy("grp").orderBy("slope_milli")
    val wg = Window.partitionBy("grp")
    pairs.withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(wg))
      // lower median: the ceil(n/2)-th smallest — any permutation of
      // equal values at that rank picks the same VALUE, so ties in
      // row_number never reach the output
      .where(col("rn") === expr("(n_pairs + 1) div 2"))
      .join(nDays, Seq("grp"))
      .select(col("grp"), col("n_days"), col("n_pairs"), col("slope_milli"),
        when(col("slope_milli") > 0, "up")
          .when(col("slope_milli") < 0, "down").otherwise("flat").as("trend"))
      .orderBy("grp")
  }

  /** Rank correlation between the daily event count and daily revenue
    * — Spearman ρ (on total-ordered ranks: ties broken by day, so
    * both engines assign the identical permutation; documented
    * divergence from average-rank ρ under heavy ties) and Kendall
    * concordance counted on the RAW values with explicit tie buckets
    * (C, D, x-only, y-only, both), τ-a in exact milli. The monotone-
    * association complement to q177's linear slope: a relationship
    * can be perfectly monotone and badly non-linear.
    *
    * Scale shape: the event scan folds to one row per day
    * (combinable); ranks and the pair grid run on the SPAN-bounded
    * daily table — the pair count is (days choose 2), a calendar
    * quantity, not a data one.
    */
  def rankCorrelation(events: DataFrame, tsCol: String = "ts",
      valCol: String = "value"): DataFrame = {
    val daily = events.where(col(tsCol).isNotNull && col(valCol).isNotNull)
      .select(expr(s"unix_micros($tsCol) div 86400000000").as("d"),
        expr(s"cast(round($valCol * 100) as bigint)").as("vc"))
      .groupBy("d").agg(count(lit(1)).as("x"), sum("vc").as("y"))
      .localCheckpoint() // rank pass + pair pass share it
    val ranked = daily
      .withColumn("rx",
        row_number().over(Window.orderBy("x", "d")).cast("long"))
      .withColumn("ry",
        row_number().over(Window.orderBy("y", "d")).cast("long"))
    val sp = ranked.agg(count(lit(1)).as("n"),
        sum((col("rx") - col("ry")) * (col("rx") - col("ry"))).as("sd2"))
      .select(col("n").as("n_days"),
        expr("1000 - 6000 * sd2 div (n * (n * n - 1))")
          .as("spearman_milli"))
    val pairs = daily.as("a").join(daily.as("b"), col("a.d") < col("b.d"))
      .select(
        (col("a.x") < col("b.x") && col("a.y") < col("b.y") ||
          col("a.x") > col("b.x") && col("a.y") > col("b.y")).as("c"),
        (col("a.x") < col("b.x") && col("a.y") > col("b.y") ||
          col("a.x") > col("b.x") && col("a.y") < col("b.y")).as("dd"),
        (col("a.x") === col("b.x") && col("a.y") =!= col("b.y")).as("tx"),
        (col("a.y") === col("b.y") && col("a.x") =!= col("b.x")).as("ty"),
        (col("a.x") === col("b.x") && col("a.y") === col("b.y")).as("txy"))
      .agg(sum(when(col("c"), 1L).otherwise(0L)).as("c_pairs"),
        sum(when(col("dd"), 1L).otherwise(0L)).as("d_pairs"),
        sum(when(col("tx"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("ty"), 1L).otherwise(0L)).as("ties_y"),
        sum(when(col("txy"), 1L).otherwise(0L)).as("ties_xy"))
    sp.crossJoin(broadcast(pairs))
      .withColumn("tau_a_milli",
        expr("(c_pairs - d_pairs) * 1000 div (n_days * (n_days - 1) div 2)"))
  }

  /** Median-of-means robust mean per group: contributors are split
    * into `k` deterministic buckets (key mod k — both engines compute
    * the identical partition), each bucket takes an exact truncated
    * milli mean, and the estimate is the median bucket mean (ties
    * broken by bucket id). Reported beside the plain mean so the gap
    * IS the outlier diagnostic: heavy-tail contamination moves the
    * mean, not the median-of-means.
    *
    * Scale shape: one combinable (group, bucket) sum folds the scan
    * to |groups|·k rows; the median is a window over those k rows.
    */
  def medianOfMeans(events: DataFrame, k: Int = 8,
      grpCol: String = "event_type", keyCol: String = "user_id",
      valCol: String = "value"): DataFrame = {
    val b = events
      .where(col(grpCol).isNotNull && col(keyCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(grpCol).as("grp"),
        pmod(col(keyCol), lit(k.toLong)).as("b"))
      .agg(count(lit(1)).as("cnt"),
        sum(expr(s"cast(round($valCol * 100) as bigint)")).as("sum_c"))
      .withColumn("bmean_milli", expr("sum_c * 1000 div cnt"))
      .localCheckpoint() // median rank + totals share it
    val byGrp = Window.partitionBy("grp")
    val med = b
      .withColumn("rn",
        row_number().over(byGrp.orderBy("bmean_milli", "b")))
      .withColumn("nb", count(lit(1)).over(byGrp))
      .where(col("rn") === expr("(nb + 1) div 2"))
      .select(col("grp"), col("nb").as("n_buckets"),
        col("bmean_milli").as("mom_milli"))
    val mean = b.groupBy("grp")
      .agg(sum("cnt").as("n"), sum("sum_c").as("tot_c"))
      .select(col("grp"), col("n"),
        expr("tot_c * 1000 div n").as("mean_milli"))
    med.join(mean, "grp")
      .select("grp", "n", "n_buckets", "mom_milli", "mean_milli")
      .orderBy("grp")
  }

  /** Deterministic RANSAC line fit on the daily event-count series:
    * candidate lines are drawn through every pair of ANCHOR days
    * (day % 7 == 0 — a deterministic stand-in for random sampling, so
    * both engines enumerate the identical hypothesis set), each
    * hypothesis counts its inliers with an exact cross-multiplied
    * point-to-line test (|Δy·(x2−x1) − (y2−y1)·Δx| ≤ eps·(x2−x1),
    * never a float slope), and the winner is the most-inlier line
    * with the smallest (x1, x2) tiebreak. eps self-scales to a tenth
    * of the mean daily count (integer division), so the tolerance
    * band follows the data volume. Robust to the outlier days that
    * wreck q177's least-squares slope; complements q269's Theil–Sen
    * (median-of-slopes) with an inlier-consensus fit that also
    * REPORTS its consensus size.
    *
    * Scale shape: the raw scan folds to one row per day (combinable);
    * anchors and hypothesis pairs are calendar-bounded; the inlier
    * count is a broadcast of the tiny hypothesis table onto the daily
    * series — one data-sized pass, no quadratics in the data.
    */
  def ransacLine(events: DataFrame, tsCol: String = "ts"): DataFrame = {
    val daily = events.where(col(tsCol).isNotNull)
      .select(expr(s"unix_micros($tsCol) div 86400000000").as("d"))
      .groupBy("d").agg(count(lit(1)).as("y"))
      .localCheckpoint() // anchors, eps and the inlier pass share it
    val base = daily.agg(min("d").as("d0"), count(lit(1)).as("n_days"),
      sum("y").as("sy"))
    val xy = daily.crossJoin(broadcast(base))
      .select((col("d") - col("d0")).as("x"), col("y"),
        col("n_days"), expr("sy div (10 * n_days)").as("eps"))
      .localCheckpoint()
    val anchors = xy.where(col("x") % 7 === 0)
      .select(col("x"), col("y"), col("n_days"), col("eps"))
    val hyp = anchors.as("a").join(anchors.as("b"),
        col("a.x") < col("b.x"))
      .select(col("a.x").as("x1"), col("a.y").as("y1"),
        col("b.x").as("x2"), col("b.y").as("y2"),
        col("a.n_days").as("n_days"), col("a.eps").as("eps"))
    xy.select("x", "y").crossJoin(broadcast(hyp))
      .where(expr(
        "abs((y - y1) * (x2 - x1) - (y2 - y1) * (x - x1)) <= eps * (x2 - x1)"))
      .groupBy("x1", "y1", "x2", "y2", "n_days", "eps")
      .agg(count(lit(1)).as("inliers"))
      .withColumn("slope_milli", expr("(y2 - y1) * 1000 div (x2 - x1)"))
      .orderBy(col("inliers").desc, col("x1"), col("x2"))
      .limit(1)
  }

  /** Exact two-feature OLS (y = b0 + b1·x1 + b2·x2) fit with the
    * closed-form normal equations over COMBINABLE integer sums — the
    * distributed linear-model primitive: one map-side-foldable
    * aggregate produces the nine moments (n, Σx1, Σx2, Σy, Σx1²,
    * Σx2², Σx1x2, Σx1y, Σx2y), the centered 2×2 system solves by
    * Cramer in exact decimal arithmetic, and a second pass scores
    * residuals with the integer milli coefficients. Nothing but the
    * two scans is data-sized; the solve is a one-row cross join.
    *
    * Exactness contract: units are chosen so every intermediate fits
    * DECIMAL(38)/HUGEINT at sf0.1 with headroom to ~10⁷ rows (y in
    * whole dollars, x2 in deci-dollars; the worst term C1y·C22 is
    * ~10³⁷ at 6·10⁵ rows, growing ~n² — beyond that, rescale units).
    * The milli coefficients are exact integer two-step divisions
    * (q·1000 + trunc(r·1000/D) ≡ trunc(num·1000/D), avoiding the
    * num·1000 overflow); both engines truncate toward zero. Only the
    * final R² ratio is one identically-ordered double division.
    */
  def olsRegression(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val base = lineitem.join(broadcast(part),
        col("l_partkey") === col("p_partkey"))
      .select(
        expr("cast(round(l_quantity) as bigint)").as("x1"),
        expr("cast(round(p_retailprice * 10) as bigint)").as("x2"),
        expr("cast(round(l_extendedprice) as bigint)").as("y"))
      .localCheckpoint() // moments pass + residual pass share it
    val sums = base.agg(
      count(lit(1)).as("n"), sum("x1").as("s1"), sum("x2").as("s2"),
      sum("y").as("sy"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x1") * col("y")).as("s1y"),
      sum(col("x2") * col("y")).as("s2y"))
    val coef = sums
      // centered second moments: C_ab = n·S_ab − S_a·S_b (exact)
      .withColumn("c11", expr(
        "cast(n as decimal(12,0)) * s11 - cast(s1 as decimal(20,0)) * s1"))
      .withColumn("c22", expr(
        "cast(n as decimal(12,0)) * s22 - cast(s2 as decimal(20,0)) * s2"))
      .withColumn("c12", expr(
        "cast(n as decimal(12,0)) * s12 - cast(s1 as decimal(20,0)) * s2"))
      .withColumn("c1y", expr(
        "cast(n as decimal(12,0)) * s1y - cast(s1 as decimal(20,0)) * sy"))
      .withColumn("c2y", expr(
        "cast(n as decimal(12,0)) * s2y - cast(s2 as decimal(20,0)) * sy"))
      .withColumn("det", expr("c11 * c22 - c12 * c12"))
      .withColumn("n1", expr("c1y * c22 - c2y * c12"))
      .withColumn("n2", expr("c2y * c11 - c1y * c12"))
      // b_milli = trunc(num·1000/det) without materializing num·1000
      .withColumn("b1_milli", expr(
        "n1 div det * 1000 + (n1 - n1 div det * det) * 1000 div det"))
      .withColumn("b2_milli", expr(
        "n2 div det * 1000 + (n2 - n2 div det * det) * 1000 div det"))
      .withColumn("b0_milli", expr(
        "(1000 * sy - b1_milli * s1 - b2_milli * s2) div n"))
      .select("n", "sy", "b0_milli", "b1_milli", "b2_milli")
    base.crossJoin(broadcast(coef))
      .withColumn("resid_milli",
        expr("1000 * y - (b0_milli + b1_milli * x1 + b2_milli * x2)"))
      .withColumn("dev", expr("n * y - sy"))
      .groupBy("n", "b0_milli", "b1_milli", "b2_milli")
      .agg(
        sum(expr("cast(resid_milli as decimal(19,0)) * resid_milli"))
          .as("sse"),
        sum(expr("cast(dev as decimal(19,0)) * dev")).as("sst"))
      .select(col("n"), col("b0_milli"), col("b1_milli"), col("b2_milli"),
        expr("""1000000 - cast(floor(cast(sse as double)
          * cast(n as double) * cast(n as double)
          / cast(sst as double)) as bigint)""").as("r2_ppm"))
  }

  /** Index of dispersion (Fano factor) of the daily count series per
    * group, exact milli: `F = var/mean = (n·Σx² − S²) / (n·S)` on the
    * zero-filled day grid — F ≈ 1000 is Poisson-compatible arrivals,
    * F ≫ 1000 is bursty/clustered, F ≪ 1000 is metronomic — the
    * one-number regularity triage BEFORE reaching for q247's ACF or
    * q313's beaconing per key.
    *
    * Scale shape: one combinable (group, day) count; the grid fill
    * and the moment fold run on |groups|×|days| rows.
    */
  def dispersionIndex(events: DataFrame,
      grpCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    val daily = events
      .where(col(grpCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(grpCol).as("grp"),
        expr(s"unix_micros($tsCol) div 86400000000").as("d"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint() // span + grid fill share it
    val span = daily.agg(min("d").as("d0"), max("d").as("d1"))
    val grid = span
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      .crossJoin(daily.select("grp").distinct())
    grid.join(daily, Seq("grp", "d"), "left")
      .select(col("grp"), coalesce(col("x"), lit(0L)).as("x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_days"), sum("x").as("s"),
        sum(col("x") * col("x")).as("q"))
      .select(col("grp"), col("n_days"), col("s").as("total"),
        expr("""(n_days * q - s * s) * 1000
          div nullif(n_days * s, 0)""").as("fano_milli"))
      .orderBy("grp")
  }

  /** Hierarchical forecast reconciliation check (top-down vs direct):
    * forecast the LAST day's per-part demand two ways — directly
    * (per-part seasonal-naive: the part's own previous day) and
    * top-down (the brand's previous-day total allocated to parts by
    * their trailing historical share) — and report each brand's
    * absolute-error totals for both. Top-down usually wins for
    * sparse leaves (a part selling 0-2/day has no signal of its
    * own; its share of the brand does) — this query MEASURES that
    * claim per brand instead of assuming it. Exact integers: shares
    * in ppm, allocations truncated, errors in whole units.
    *
    * Scale shape: lineitem folds once to (brand, part, day) sums;
    * brand series, trailing shares and both forecasts are windows
    * and joins over that folded table; output is |brands| rows.
    */
  def forecastReconciliation(lineitem: DataFrame, part: DataFrame)
      : DataFrame = {
    val ppd = lineitem.join(broadcast(part),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("p_partkey").as("pk"),
        expr("unix_micros(l_shipdate) div 86400000000").as("d"),
        expr("cast(round(l_quantity) as bigint)").as("q"))
      .groupBy("brand", "pk", "d").agg(sum("q").as("q"))
      .localCheckpoint() // target day, history and shares all read it
    val dmax = ppd.agg(max("d").as("dmax"))
    val base = ppd.crossJoin(broadcast(dmax)).localCheckpoint()
    // actuals on the target (last) day; parts silent that day have
    // actual 0 but still carry forecasts — keep them via the history
    // side below
    val hist = base.where(col("d") < col("dmax"))
    val partHist = hist.groupBy("brand", "pk")
      .agg(sum("q").as("part_hist"))
    val brandHist = hist.groupBy("brand")
      .agg(sum("q").as("brand_hist"))
    val partPrev = hist.where(col("d") === col("dmax") - 1)
      .select(col("pk"), col("q").as("part_prev"))
    val brandPrev = hist.where(col("d") === col("dmax") - 1)
      .groupBy("brand").agg(sum("q").as("brand_prev"))
    val actual = base.where(col("d") === col("dmax"))
      .select(col("pk"), col("q").as("actual"))
    partHist
      .join(brandHist, "brand")
      .join(broadcast(brandPrev), Seq("brand"), "left")
      .join(partPrev, Seq("pk"), "left")
      .join(actual, Seq("pk"), "left")
      .select(col("brand"), col("pk"),
        coalesce(col("actual"), lit(0L)).as("actual"),
        coalesce(col("part_prev"), lit(0L)).as("f_direct"),
        expr("""coalesce(brand_prev, 0) *
          (part_hist * 1000000 div brand_hist) div 1000000""")
          .as("f_topdown"))
      .groupBy("brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(abs(col("actual") - col("f_direct"))).as("abs_err_direct"),
        sum(abs(col("actual") - col("f_topdown"))).as("abs_err_topdown"))
      .withColumn("winner",
        when(col("abs_err_topdown") < col("abs_err_direct"), "topdown")
          .when(col("abs_err_topdown") > col("abs_err_direct"), "direct")
          .otherwise("tie"))
      .orderBy("brand")
  }

  /** Lorenz curve points beside q303's Gini: per group, the exact
    * cumulative value share held by the bottom 10%..90% of
    * contributors (nearest-rank deciles over the same total order
    * the Gini uses) — the curve that SHOWS the inequality the single
    * coefficient summarizes. Everything integer: prefix sums over
    * the contributor table, decile ranks by integer floor.
    *
    * Scale shape: identical to q303 — one combinable (group, key)
    * fold, then windows over contributor-level rows partitioned by
    * group; the decile probe is a filter, not a second pass.
    */
  def lorenzPoints(events: DataFrame, grpCol: String = "event_type",
      keyCol: String = "user_id", valCol: String = "value"): DataFrame = {
    val byGrp = Window.partitionBy("grp")
    val per = events
      .where(col(grpCol).isNotNull && col(keyCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(grpCol).as("grp"), col(keyCol).as("k"))
      .agg(sum(expr(s"cast(round($valCol * 100) as bigint)")).as("xc"))
    per
      .withColumn("i", row_number().over(byGrp.orderBy("xc", "k")).cast("long"))
      .withColumn("n", count(lit(1)).over(byGrp))
      .withColumn("cum_c", sum(col("xc")).over(
        byGrp.orderBy("xc", "k")))
      .withColumn("total_c", sum(col("xc")).over(byGrp))
      // nearest-rank decile boundary: row i closes decile p iff
      // i = ⌊p·n/100⌋ for some p ∈ {10..90}
      .withColumn("decile", explode(sequence(lit(10L), lit(90L), lit(10L))))
      .where(col("i") === expr("decile * n div 100"))
      .select(col("grp"), col("decile"), col("n").as("n_contributors"),
        expr("cum_c * 1000000 div total_c").as("bottom_share_ppm"))
      .orderBy("grp", "decile")
  }

  /** Matrix-profile-lite over the hourly event-count series: for every
    * complete length-`w` window, the squared euclidean distance to its
    * nearest NON-OVERLAPPING window (|Δstart| ≥ w, the trivial-match
    * exclusion zone) plus that neighbor's start — the motif/discord
    * primitive (low profile = repeated shape, high = anomaly). Counts
    * are integers, so distances are exact BIGINTs; ties break to the
    * smallest neighbor start.
    *
    * Scale shape: the only data-sized work is the combinable
    * (hour, count) aggregate — a 100 TB scan folds to one row per
    * hour. The profile is computed on that SPAN-bounded series (a
    * year = 8.8k windows): windows materialize as length-`w` arrays
    * via one per-series window pass, the pair grid is a broadcast
    * range-join (exclusion-zone predicate), and dist² is a codegen'd
    * zip_with/aggregate fold per pair. For multi-decade spans the
    * exact grid would want a PAA-bucket candidate cut + exact verify
    * (the MinHash-verify pattern); at dashboard spans exact all-pairs
    * on the aggregated series IS the right plan.
    */
  def matrixProfile(events: DataFrame, tsCol: String = "ts",
      w: Int = 24): DataFrame = {
    val counts = events.where(col(tsCol).isNotNull)
      .select(expr(s"unix_micros($tsCol) div 3600000000").as("h"))
      .groupBy("h").agg(count(lit(1)).as("y"))
    // dense hour grid: gap hours are real zero-count windows, not holes
    val span = counts.agg(min("h").as("h0"), max("h").as("h1"))
    val grid = span.select(explode(sequence(col("h0"), col("h1"))).as("h"),
      col("h0"))
    val series = grid.join(counts, Seq("h"), "left")
      .select(col("h"), (col("h") - col("h0")).as("s"),
        coalesce(col("y"), lit(0L)).as("y"))
    // one single-partition window pass over the span-bounded series
    // (hundreds-to-thousands of rows by construction)
    val byS = Window.orderBy("s")
      .rowsBetween(Window.currentRow, w - 1)
    val wins = series
      .withColumn("v", collect_list(col("y")).over(byS))
      .where(size(col("v")) === w)
      .select(col("s"), col("v"))
      .localCheckpoint() // both sides of the pair grid read it
    val pairs = wins.as("a").join(broadcast(wins.as("b")),
        abs(col("a.s") - col("b.s")) >= w)
      .select(col("a.s").as("s"), col("b.s").as("s2"),
        expr("aggregate(zip_with(a.v, b.v, (x, y) -> (x - y) * (x - y)), " +
          "0L, (acc, d) -> acc + d)").as("d2"))
    pairs.groupBy("s")
      .agg(min(struct(col("d2"), col("s2"))).as("m"))
      .select(col("s"), col("m.d2").as("dist2"), col("m.s2").as("nn"))
      .orderBy("s")
  }

  /** Gini concentration of a metric across contributors, per group —
    * the inequality summary next to q176's HHI: 0 = evenly spread,
    * →1 = one contributor holds everything. Exact integer form on
    * cent totals `x_(1..n)` sorted ascending (ties broken by the
    * contributor key so the rank assignment is total-ordered):
    * `G_ppm = ⌊(2·Σ i·x_i − (n+1)·Σx_i)·10⁶ / (n·Σx_i)⌋`.
    *
    * Scale shape: one combinable (group, contributor) sum folds the
    * raw scan; the rank window runs over contributor-level rows (the
    * |users|-sized table, not the event stream), partitioned by group
    * so groups scale out; the final fold is map-side combinable.
    */
  def giniConcentration(events: DataFrame, grpCol: String = "event_type",
      keyCol: String = "user_id", valCol: String = "value"): DataFrame = {
    val per = events
      .where(col(grpCol).isNotNull && col(keyCol).isNotNull &&
        col(valCol).isNotNull)
      .groupBy(col(grpCol).as("grp"), col(keyCol).as("k"))
      .agg(sum(expr(s"cast(round($valCol * 100) as bigint)")).as("xc"))
    val byGrp = Window.partitionBy("grp")
    per
      .withColumn("i", row_number().over(byGrp.orderBy("xc", "k")).cast("long"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("xc")).as("total_c"),
        sum(col("i") * col("xc")).as("ix"))
      .select(col("grp"), col("n"), col("total_c"),
        // decimal(38): ix·10⁶ overflows BIGINT around 10¹³ total cents
        expr("cast(2 * ix - (n + 1) * total_c as decimal(38,0)) " +
          "* 1000000 div nullif(n * total_c, 0)").as("gini_ppm"))
      .orderBy("grp")
  }
}
