package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Analytics, Audit, Curation, Graph, Security, Similarity, Stats, TextAnalysis}

/** Round-4 extension registry (q301+): operators added after the
  * QueriesPipeline file reached review-hostile size. Same contract as
  * every other registry — Spark-first implementation + a full DuckDB
  * oracle restating the arithmetic, column names aliased identically
  * on both sides, deterministic total ordering.
  */
private[graft] object QueriesExt {
  import SparkEntryRegistry.Q

  def registry: Seq[Q] =
    firstBatch ++ secondBatch ++ thirdBatch ++ fourthBatch

  private def firstBatch: Seq[Q] = Seq(
    // Distributed suffix-array construction (prefix doubling: ⌈log₂
    // maxLen⌉ per-doc window rounds, no joins) — the index behind
    // exact duplicated-span mining at corpus scale. Oracle sorts the
    // suffixes directly (row_number over substr) and checks the
    // per-doc Σ pos·rank checksum, which pins every rank.
    Q("q301_suffix_array",
      (s, dir) => TextAnalysis.suffixArrayChecksum(
        Tables(s, dir, "documents"), maxLen = 600),
      Some("""WITH p AS (SELECT doc_id, substr(text, 1, 600) AS t
             |  FROM documents
             |  WHERE text IS NOT NULL AND length(text) > 0),
             |s AS (SELECT doc_id, pos,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY substr(t, pos)) AS rank
             |  FROM (SELECT doc_id, t,
             |      unnest(range(1, length(t) + 1)) AS pos FROM p))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_suffixes,
             |  CAST(SUM(pos * rank) AS BIGINT) AS rank_checksum
             |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Matrix-profile-lite on the hourly count series: nearest
    // non-overlapping window by exact integer dist² (motif/discord
    // primitive). The data-sized work is one combinable hourly
    // aggregate; the profile runs on the span-bounded series.
    Q("q302_matrix_profile",
      (s, dir) => Stats.matrixProfile(Tables(s, dir, "events")),
      Some("""WITH c AS (SELECT epoch_us(ts) // 3600000000 AS h,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
             |sp AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM c),
             |g AS (SELECT unnest(range(sp.h0, sp.h1 + 1)) AS h,
             |    sp.h0 AS h0 FROM sp),
             |se AS (SELECT g.h - g.h0 AS s, COALESCE(c.y, 0) AS y
             |  FROM g LEFT JOIN c ON c.h = g.h),
             |n AS (SELECT MAX(s) AS smax FROM se),
             |wv AS (SELECT a.s AS s, b.s - a.s AS off, b.y AS y
             |  FROM se a JOIN se b ON b.s - a.s BETWEEN 0 AND 23
             |  WHERE a.s <= (SELECT smax FROM n) - 23),
             |p AS (SELECT x.s AS s, y.s AS s2,
             |    CAST(SUM((x.y - y.y) * (x.y - y.y)) AS BIGINT) AS d2
             |  FROM wv x JOIN wv y
             |    ON x.off = y.off AND abs(x.s - y.s) >= 24
             |  GROUP BY 1, 2),
             |r AS (SELECT s, s2, d2, ROW_NUMBER() OVER
             |    (PARTITION BY s ORDER BY d2, s2) AS rn FROM p)
             |SELECT s, d2 AS dist2, s2 AS nn FROM r WHERE rn = 1
             |ORDER BY s""".stripMargin)),

    // Gini concentration of spend per contributor within each event
    // type — the inequality summary beside q176's HHI, exact to the
    // ppm on cent totals.
    Q("q303_gini",
      (s, dir) => Stats.giniConcentration(Tables(s, dir, "events")),
      Some("""WITH per AS (SELECT event_type AS grp, user_id AS k,
             |    CAST(SUM(CAST(round(value * 100) AS BIGINT))
             |      AS BIGINT) AS xc
             |  FROM events
             |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             |    AND value IS NOT NULL
             |  GROUP BY 1, 2),
             |r AS (SELECT grp, xc, CAST(ROW_NUMBER() OVER
             |    (PARTITION BY grp ORDER BY xc, k) AS BIGINT) AS i
             |  FROM per)
             |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(xc) AS BIGINT) AS total_c,
             |  CAST((2 * SUM(i * xc) - (COUNT(*) + 1) * SUM(xc))
             |    * 1000000 // NULLIF(COUNT(*) * SUM(xc), 0) AS BIGINT)
             |    AS gini_ppm
             |FROM r GROUP BY grp ORDER BY grp""".stripMargin)),

    // Exact closed-form two-feature OLS (extended price ~ quantity +
    // retail price) — nine combinable integer moments, Cramer solve in
    // exact wide arithmetic, residual R² second pass. The one float
    // step is the final identically-ordered double ratio.
    Q("q304_ols_regression",
      (s, dir) => Stats.olsRegression(
        Tables(s, dir, "lineitem"), Tables(s, dir, "part")),
      Some("""WITH b AS (SELECT CAST(round(l_quantity) AS BIGINT) AS x1,
             |    CAST(round(p_retailprice * 10) AS BIGINT) AS x2,
             |    CAST(round(l_extendedprice) AS BIGINT) AS y
             |  FROM lineitem JOIN part ON p_partkey = l_partkey),
             |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x1) AS BIGINT) AS s1,
             |    CAST(SUM(x2) AS BIGINT) AS s2,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x1 * x1) AS BIGINT) AS s11,
             |    CAST(SUM(x2 * x2) AS BIGINT) AS s22,
             |    CAST(SUM(x1 * x2) AS BIGINT) AS s12,
             |    CAST(SUM(x1 * y) AS BIGINT) AS s1y,
             |    CAST(SUM(x2 * y) AS BIGINT) AS s2y FROM b),
             |c AS (SELECT n, sy, s1, s2,
             |    CAST(n AS HUGEINT) * s11 - CAST(s1 AS HUGEINT) * s1
             |      AS c11,
             |    CAST(n AS HUGEINT) * s22 - CAST(s2 AS HUGEINT) * s2
             |      AS c22,
             |    CAST(n AS HUGEINT) * s12 - CAST(s1 AS HUGEINT) * s2
             |      AS c12,
             |    CAST(n AS HUGEINT) * s1y - CAST(s1 AS HUGEINT) * sy
             |      AS c1y,
             |    CAST(n AS HUGEINT) * s2y - CAST(s2 AS HUGEINT) * sy
             |      AS c2y
             |  FROM s),
             |d AS (SELECT n, sy, s1, s2,
             |    c11 * c22 - c12 * c12 AS det,
             |    c1y * c22 - c2y * c12 AS n1,
             |    c2y * c11 - c1y * c12 AS n2 FROM c),
             |e AS (SELECT n, sy, s1, s2,
             |    n1 // det * 1000 + (n1 - n1 // det * det) * 1000 // det
             |      AS b1_milli,
             |    n2 // det * 1000 + (n2 - n2 // det * det) * 1000 // det
             |      AS b2_milli
             |  FROM d),
             |f AS (SELECT n, sy, b1_milli, b2_milli,
             |    (1000 * sy - b1_milli * s1 - b2_milli * s2) // n
             |      AS b0_milli FROM e),
             |g AS (SELECT f.n AS n, f.b0_milli AS b0_milli,
             |    f.b1_milli AS b1_milli, f.b2_milli AS b2_milli,
             |    CAST(SUM(CAST(1000 * y - (f.b0_milli + f.b1_milli * x1
             |        + f.b2_milli * x2) AS HUGEINT)
             |      * (1000 * y - (f.b0_milli + f.b1_milli * x1
             |        + f.b2_milli * x2))) AS HUGEINT) AS sse,
             |    CAST(SUM(CAST(f.n * y - f.sy AS HUGEINT)
             |      * (f.n * y - f.sy)) AS HUGEINT) AS sst
             |  FROM b CROSS JOIN f GROUP BY 1, 2, 3, 4)
             |SELECT CAST(n AS BIGINT) AS n,
             |  CAST(b0_milli AS BIGINT) AS b0_milli,
             |  CAST(b1_milli AS BIGINT) AS b1_milli,
             |  CAST(b2_milli AS BIGINT) AS b2_milli,
             |  1000000 - CAST(floor(CAST(sse AS DOUBLE)
             |    * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
             |    / CAST(sst AS DOUBLE)) AS BIGINT) AS r2_ppm
             |FROM g""".stripMargin)),

    // Sequential-pattern support a→b (unbounded gap): users with some
    // a strictly before some b, via one per-user min/max fold.
    Q("q305_seq_pair_support",
      (s, dir) => Analytics.sequentialPairSupport(
        Tables(s, dir, "events")),
      Some(SeqPairOracle)))

  /** q305's oracle — also applied verbatim to q312's streaming twin
    * (single-batch replay drains the identical (u, t, lo, hi) state
    * the batch op folds, then runs the same shared aggregation tail).
    */
  private val SeqPairOracle: String =
    """WITH ut AS (SELECT user_id AS u, event_type AS t,
             |    CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
             |    CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
             |  FROM events
             |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             |    AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |tot AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT)
             |    AS n_users FROM ut)
             |SELECT a.t AS first_type, b.t AS then_type,
             |  CAST(COUNT(DISTINCT a.u) AS BIGINT) AS support_users,
             |  CAST(COUNT(DISTINCT a.u) * 1000000 // tot.n_users
             |    AS BIGINT) AS support_ppm
             |FROM ut a JOIN ut b
             |  ON a.u = b.u AND a.t <> b.t AND a.lo < b.hi
             |CROSS JOIN tot
             |GROUP BY a.t, b.t, tot.n_users
             |ORDER BY support_users DESC, first_type, then_type"""
      .stripMargin

  private def secondBatch: Seq[Q] = Seq(
    // RAKE-lite keyphrases: stopword-free runs scored by the corpus
    // word graph (deg/freq), exact micro units.
    Q("q306_rake_keywords",
      (s, dir) => TextAnalysis.rakeKeywords(Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |tok AS (SELECT doc_id, unnest(ws) AS w,
             |    generate_subscripts(ws, 1) AS pos FROM w),
             |tk AS (SELECT doc_id, pos, w,
             |    (w IN ('the','a','of','and','to','in','is')) AS is_stop
             |  FROM tok WHERE length(w) > 0),
             |ph AS (SELECT doc_id, pos, w, is_stop,
             |    SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos) AS pid
             |  FROM tk),
             |np AS (SELECT doc_id, pid, pos, w FROM ph
             |  WHERE NOT is_stop),
             |pl AS (SELECT doc_id, pid,
             |    CAST(COUNT(*) AS BIGINT) AS len,
             |    string_agg(w, ' ' ORDER BY pos) AS phrase
             |  FROM np GROUP BY 1, 2 HAVING COUNT(*) <= 5),
             |kept AS (SELECT np.doc_id, np.pid, np.w, pl.len
             |  FROM np JOIN pl USING (doc_id, pid)),
             |st AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             |    CAST(SUM(len) AS BIGINT) AS deg FROM kept GROUP BY 1),
             |sc AS (SELECT w, deg * 1000000 // freq AS score_micro
             |  FROM st),
             |ps AS (SELECT kept.doc_id, kept.pid,
             |    CAST(SUM(sc.score_micro) AS BIGINT) AS ps
             |  FROM kept JOIN sc USING (w) GROUP BY 1, 2)
             |SELECT pl.phrase AS phrase,
             |  CAST(MAX(pl.len) AS BIGINT) AS len,
             |  CAST(COUNT(*) AS BIGINT) AS occurrences,
             |  CAST(MAX(ps.ps) AS BIGINT) AS score_micro
             |FROM ps JOIN pl USING (doc_id, pid)
             |GROUP BY pl.phrase
             |ORDER BY score_micro DESC, phrase LIMIT 20""".stripMargin)),

    // Diagonal-Mahalanobis embedding outliers: exact cross-multiplied
    // z² sum per vector, top-20 discords.
    Q("q307_mahalanobis_outliers",
      (s, dir) => Similarity.mahalanobisOutliers(
        Tables(s, dir, "embeddings")),
      Some("""WITH x AS (SELECT vec_id,
             |    generate_subscripts(embedding, 1) AS idx,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
             |      AS BIGINT) AS xm
             |  FROM embeddings WHERE embedding IS NOT NULL),
             |st AS (SELECT idx, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(xm) AS BIGINT) AS s,
             |    CAST(SUM(CAST(xm AS HUGEINT) * xm) AS HUGEINT) AS q
             |  FROM x GROUP BY 1),
             |z AS (SELECT x.vec_id,
             |    COALESCE((CAST(st.n AS HUGEINT) * x.xm - st.s)
             |      * (CAST(st.n AS HUGEINT) * x.xm - st.s) * 1000000
             |      // NULLIF(CAST(st.n AS HUGEINT) * st.q
             |        - CAST(st.s AS HUGEINT) * st.s, 0), 0) AS z2
             |  FROM x JOIN st USING (idx))
             |SELECT vec_id, CAST(SUM(z2) AS BIGINT) AS score_ppm,
             |  CAST(COUNT(*) AS BIGINT) AS dims
             |FROM z GROUP BY 1
             |ORDER BY score_ppm DESC, vec_id LIMIT 20""".stripMargin)),

    // Strongly connected component from the pivot of the DIRECTED
    // part-handoff customer graph (consecutive buyers of a small part
    // order by date) — FW-BW reachability to fixpoint, intersected.
    // Recursive-CTE oracle (UNION-dedup handles cycles exactly).
    Q("q308_scc_pivot",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pk = Tables(s, dir, "part").where(col("p_size") <= 3)
          .select(col("p_partkey"))
        val po = Tables(s, dir, "lineitem")
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .join(Tables(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey").as("p"), col("o_custkey").as("cust"),
            col("o_orderdate").as("dt"))
          .distinct()
        val w = Window.partitionBy("p").orderBy("dt", "cust")
        val edges = po.withColumn("nxt", lead(col("cust"), 1).over(w))
          .where(col("nxt").isNotNull && col("nxt") =!= col("cust"))
          .select(col("cust").as("src"), col("nxt").as("dst"))
        Graph.sccFromPivot(edges)
      },
      Some("""WITH RECURSIVE
             |pk AS (SELECT p_partkey FROM part WHERE p_size <= 3),
             |po AS (SELECT DISTINCT l_partkey AS p,
             |    o.o_custkey AS cust, o.o_orderdate AS dt
             |  FROM lineitem l
             |  JOIN pk ON pk.p_partkey = l.l_partkey
             |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |ed AS (SELECT cust AS src, LEAD(cust) OVER
             |    (PARTITION BY p ORDER BY dt, cust) AS dst FROM po),
             |e AS (SELECT DISTINCT src, dst FROM ed
             |  WHERE dst IS NOT NULL AND dst <> src),
             |pv AS (SELECT LEAST(MIN(src), MIN(dst)) AS n FROM e),
             |fwd(n) AS (SELECT n FROM pv
             |  UNION
             |  SELECT e.dst FROM e JOIN fwd ON e.src = fwd.n),
             |bwd(n) AS (SELECT n FROM pv
             |  UNION
             |  SELECT e.src FROM e JOIN bwd ON e.dst = bwd.n),
             |scc AS (SELECT fwd.n FROM fwd JOIN bwd ON bwd.n = fwd.n)
             |SELECT n AS node,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM scc) AS scc_size
             |FROM scc ORDER BY node""".stripMargin)),

    // Deterministic RANSAC line on the daily series: anchor-pair
    // hypotheses, exact cross-multiplied inlier band, consensus win.
    Q("q309_ransac_line",
      (s, dir) => Stats.ransacLine(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
             |base AS (SELECT MIN(d) AS d0,
             |    CAST(COUNT(*) AS BIGINT) AS n_days,
             |    CAST(SUM(y) AS BIGINT) AS sy FROM daily),
             |xy AS (SELECT d - base.d0 AS x, y, base.n_days AS n_days,
             |    sy // (10 * n_days) AS eps FROM daily, base),
             |an AS (SELECT x, y, n_days, eps FROM xy WHERE x % 7 = 0),
             |hyp AS (SELECT a.x AS x1, a.y AS y1, b.x AS x2,
             |    b.y AS y2, a.n_days AS n_days, a.eps AS eps
             |  FROM an a JOIN an b ON a.x < b.x),
             |cnt AS (SELECT x1, y1, x2, y2, hyp.n_days AS n_days,
             |    hyp.eps AS eps, CAST(COUNT(*) AS BIGINT) AS inliers
             |  FROM xy JOIN hyp ON abs((xy.y - y1) * (x2 - x1)
             |    - (y2 - y1) * (xy.x - x1)) <= hyp.eps * (x2 - x1)
             |  GROUP BY 1, 2, 3, 4, 5, 6)
             |SELECT x1, y1, x2, y2, n_days,
             |  CAST(eps AS BIGINT) AS eps, inliers,
             |  CAST((y2 - y1) * 1000 // (x2 - x1) AS BIGINT)
             |    AS slope_milli
             |FROM cnt ORDER BY inliers DESC, x1, x2 LIMIT 1"""
        .stripMargin)),

    // Rank correlation daily count × daily revenue: Spearman on the
    // tie-broken total-ordered ranks, Kendall concordance with
    // explicit tie buckets on the raw values — exact milli.
    Q("q310_rank_correlation",
      (s, dir) => Stats.rankCorrelation(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
             |    CAST(COUNT(*) AS BIGINT) AS x,
             |    CAST(SUM(CAST(round(value * 100) AS BIGINT))
             |      AS BIGINT) AS y
             |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
             |  GROUP BY 1),
             |rk AS (SELECT d, x, y,
             |    CAST(ROW_NUMBER() OVER (ORDER BY x, d) AS BIGINT)
             |      AS rx,
             |    CAST(ROW_NUMBER() OVER (ORDER BY y, d) AS BIGINT)
             |      AS ry FROM daily),
             |sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             |    CAST(1000 - 6000 * SUM((rx - ry) * (rx - ry))
             |      // (COUNT(*) * (COUNT(*) * COUNT(*) - 1)) AS BIGINT)
             |      AS spearman_milli
             |  FROM rk),
             |pr AS (SELECT
             |    CAST(SUM(CASE WHEN a.x < b.x AND a.y < b.y
             |      OR a.x > b.x AND a.y > b.y THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c_pairs,
             |    CAST(SUM(CASE WHEN a.x < b.x AND a.y > b.y
             |      OR a.x > b.x AND a.y < b.y THEN 1 ELSE 0 END)
             |      AS BIGINT) AS d_pairs,
             |    CAST(SUM(CASE WHEN a.x = b.x AND a.y <> b.y
             |      THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
             |    CAST(SUM(CASE WHEN a.y = b.y AND a.x <> b.x
             |      THEN 1 ELSE 0 END) AS BIGINT) AS ties_y,
             |    CAST(SUM(CASE WHEN a.x = b.x AND a.y = b.y
             |      THEN 1 ELSE 0 END) AS BIGINT) AS ties_xy
             |  FROM daily a JOIN daily b ON a.d < b.d)
             |SELECT sp.n_days AS n_days, sp.spearman_milli AS
             |  spearman_milli, pr.c_pairs AS c_pairs,
             |  pr.d_pairs AS d_pairs, pr.ties_x AS ties_x,
             |  pr.ties_y AS ties_y, pr.ties_xy AS ties_xy,
             |  CAST((pr.c_pairs - pr.d_pairs) * 1000
             |    // (sp.n_days * (sp.n_days - 1) // 2) AS BIGINT)
             |    AS tau_a_milli
             |FROM sp, pr""".stripMargin)),

    // Median-of-means robust mean per type beside the plain mean —
    // the gap is the heavy-tail diagnostic.
    Q("q311_median_of_means",
      (s, dir) => Stats.medianOfMeans(Tables(s, dir, "events")),
      Some("""WITH b AS (SELECT event_type AS grp, user_id % 8 AS b,
             |    CAST(COUNT(*) AS BIGINT) AS cnt,
             |    CAST(SUM(CAST(round(value * 100) AS BIGINT))
             |      AS BIGINT) AS sum_c
             |  FROM events
             |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             |    AND value IS NOT NULL
             |  GROUP BY 1, 2),
             |bm AS (SELECT grp, b, cnt, sum_c,
             |    sum_c * 1000 // cnt AS bmean_milli FROM b),
             |md AS (SELECT grp, nb AS n_buckets,
             |    bmean_milli AS mom_milli FROM (
             |    SELECT grp, b, bmean_milli,
             |      ROW_NUMBER() OVER (PARTITION BY grp
             |        ORDER BY bmean_milli, b) AS rn,
             |      COUNT(*) OVER (PARTITION BY grp) AS nb FROM bm) t
             |  WHERE rn = (nb + 1) // 2),
             |mn AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n,
             |    CAST(SUM(sum_c) * 1000 // SUM(cnt) AS BIGINT)
             |      AS mean_milli FROM bm GROUP BY 1)
             |SELECT md.grp AS grp, mn.n AS n,
             |  CAST(md.n_buckets AS BIGINT) AS n_buckets,
             |  CAST(md.mom_milli AS BIGINT) AS mom_milli,
             |  mn.mean_milli AS mean_milli
             |FROM md JOIN mn ON mn.grp = md.grp ORDER BY grp"""
        .stripMargin)),

    // Streaming twin of q305: per-user (type → first/last ts) state
    // maintained in-stream, drained, then the SAME shared aggregation
    // tail — q305's oracle verbatim.
    Q("q312_stream_seq_pairs",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline.seqPairStream(
          QueriesAlert.tableStream(s, dir, "events"))
        val drained = QueriesAlert.drainToMemory(s, out.toDF(), "q312_sink",
          OutputMode.Append())
        Analytics.pairSupportFromUt(drained)
      },
      Some(SeqPairOracle)),

    // Beaconing: per-key inter-arrival gaps quantized to buckets, the
    // modal bucket's share flags metronomic callbacks.
    Q("q313_beaconing",
      (s, dir) => Security.beaconing(Tables(s, dir, "events")),
      Some(BeaconOracle)),

    // First-seen novelty: never-before-seen (user, type) pairs per
    // day with a prior-average spike flag.
    Q("q314_first_seen_spike",
      (s, dir) => Security.firstSeenSpike(Tables(s, dir, "events")),
      Some("""WITH fd AS (SELECT user_id AS u, event_type AS t,
             |    CAST(MIN(epoch_us(ts) // 86400000000) AS BIGINT) AS d
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |daily AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS new_pairs
             |  FROM fd GROUP BY 1),
             |w AS (SELECT d, new_pairs,
             |    CAST(SUM(new_pairs) OVER (ORDER BY d) AS BIGINT)
             |      AS cum_pairs,
             |    CAST(COUNT(*) OVER (ORDER BY d) - 1 AS BIGINT)
             |      AS prior_days
             |  FROM daily)
             |SELECT d, new_pairs, cum_pairs,
             |  prior_days > 0 AND new_pairs * prior_days >=
             |    (cum_pairs - new_pairs) * 2 AS spike
             |FROM w ORDER BY d""".stripMargin)),

    // Password-spray shape: hours touching many users at most twice
    // each — breadth without depth.
    Q("q315_spray",
      (s, dir) => Security.spray(Tables(s, dir, "events")),
      Some("""WITH pu AS (SELECT event_type AS t,
             |    epoch_us(ts) // 3600000000 AS h, user_id AS u,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL
             |  GROUP BY 1, 2, 3)
             |SELECT t AS event_type, h AS hour,
             |  CAST(COUNT(*) AS BIGINT) AS n_users,
             |  CAST(SUM(c) AS BIGINT) AS n_events,
             |  CAST(MAX(c) AS BIGINT) AS max_per_user
             |FROM pu GROUP BY 1, 2
             |HAVING COUNT(*) >= 10 AND MAX(c) <= 2
             |ORDER BY event_type, hour""".stripMargin)),

    // Dormant-account reactivation: latest ≥3-day gap ending in a
    // ≥2-event burst within 2 days — the takeover tell.
    Q("q316_dormant_reactivation",
      (s, dir) => Security.dormantReactivation(Tables(s, dir, "events")),
      Some("""WITH s AS (SELECT user_id AS u, epoch_us(ts) AS us,
             |    event_id AS id
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |d AS (SELECT u, us, us - LAG(us) OVER
             |    (PARTITION BY u ORDER BY us, id) AS gap FROM s),
             |dd AS (SELECT u, us, gap FROM d
             |  WHERE gap >= 3 * 86400000000),
             |g AS (SELECT u, MAX(us) AS react_us FROM dd GROUP BY 1),
             |wg AS (SELECT dd.u, g.react_us, dd.gap FROM dd
             |  JOIN g ON g.u = dd.u AND dd.us = g.react_us),
             |b AS (SELECT wg.u, CAST(COUNT(*) AS BIGINT)
             |    AS burst_events
             |  FROM s JOIN wg ON s.u = wg.u
             |    AND s.us >= wg.react_us
             |    AND s.us < wg.react_us + 2 * 86400000000
             |  GROUP BY 1)
             |SELECT wg.u AS user_id, wg.react_us AS react_us,
             |  CAST(wg.gap // 86400000000 AS BIGINT) AS gap_days,
             |  b.burst_events AS burst_events
             |FROM wg JOIN b ON b.u = wg.u
             |WHERE b.burst_events >= 2 ORDER BY user_id"""
        .stripMargin)),

    // AQP calibration: deterministic 1-in-10 portable-hash sample,
    // scaled estimate vs exact total with err_ppm + variance moments.
    Q("q317_aqp_estimate",
      (s, dir) => Audit.aqpEstimate(Tables(s, dir, "lineitem")),
      Some(s"""WITH k AS (SELECT
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS xc,
             |    ((${QueriesPipeline.duckMix31(
                   "(l_orderkey * 8 + l_linenumber)")}) % 10 = 0)
             |      AS in_sample
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             |    CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_sample,
             |    CAST(SUM(xc) AS BIGINT) AS exact_total_c,
             |    CAST(SUM(CASE WHEN in_sample THEN xc ELSE 0 END)
             |      AS BIGINT) AS sample_sum_c,
             |    CAST(SUM(CASE WHEN in_sample
             |      THEN CAST(xc AS HUGEINT) * xc ELSE 0 END)
             |      AS HUGEINT) AS sample_sq_c
             |  FROM k)
             |SELECT n_total, n_sample, exact_total_c,
             |  CAST(sample_sum_c * 10 AS BIGINT) AS est_total_c,
             |  CAST(abs(sample_sum_c * 10 - exact_total_c) * 1000000
             |    // exact_total_c AS BIGINT) AS err_ppm,
             |  CAST(CAST(n_sample AS HUGEINT) * sample_sq_c
             |    - CAST(sample_sum_c AS HUGEINT) * sample_sum_c
             |    AS DOUBLE) AS sample_var_n2_c2
             |FROM a""".stripMargin)),

    // Month-over-month revenue bridge: new/expansion/contraction/
    // churn decomposition in exact cents, identity-checked.
    Q("q318_revenue_bridge",
      (s, dir) => Analytics.revenueBridge(Tables(s, dir, "orders")),
      Some("""WITH rev AS (SELECT o_custkey AS c,
             |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
             |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
             |      AS BIGINT) AS rev_c
             |  FROM orders
             |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
             |  GROUP BY 1, 2),
             |sp AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM rev),
             |mo AS (SELECT unnest(range(sp.m0, sp.m1 + 1)) AS m
             |  FROM sp),
             |cu AS (SELECT DISTINCT c FROM rev),
             |grid AS (SELECT cu.c, mo.m,
             |    COALESCE(rev.rev_c, 0) AS rev_c
             |  FROM cu CROSS JOIN mo
             |  LEFT JOIN rev ON rev.c = cu.c AND rev.m = mo.m),
             |lg AS (SELECT c, m, rev_c, LAG(rev_c) OVER
             |    (PARTITION BY c ORDER BY m) AS prev_c FROM grid)
             |SELECT m, CAST(SUM(prev_c) AS BIGINT) AS starting_c,
             |  CAST(SUM(CASE WHEN prev_c = 0 AND rev_c > 0
             |    THEN rev_c ELSE 0 END) AS BIGINT) AS new_c,
             |  CAST(SUM(CASE WHEN prev_c > 0 AND rev_c > prev_c
             |    THEN rev_c - prev_c ELSE 0 END) AS BIGINT)
             |    AS expansion_c,
             |  CAST(SUM(CASE WHEN rev_c > 0 AND rev_c < prev_c
             |    THEN prev_c - rev_c ELSE 0 END) AS BIGINT)
             |    AS contraction_c,
             |  CAST(SUM(CASE WHEN prev_c > 0 AND rev_c = 0
             |    THEN prev_c ELSE 0 END) AS BIGINT) AS churned_c,
             |  CAST(SUM(rev_c) AS BIGINT) AS ending_c
             |FROM lg WHERE prev_c IS NOT NULL
             |GROUP BY m ORDER BY m""".stripMargin)),

    // Right-censored LTV curve: cumulative revenue per account age
    // over the users still observable at that age.
    Q("q319_ltv_curve",
      (s, dir) => Analytics.ltvCurve(Tables(s, dir, "events")),
      Some("""WITH base AS (SELECT user_id AS u,
             |    epoch_us(ts) // 86400000000 AS d,
             |    CAST(round(value * 100) AS BIGINT) AS vc
             |  FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND value IS NOT NULL),
             |fd AS (SELECT u, MIN(d) AS f FROM base GROUP BY 1),
             |mx AS (SELECT MAX(d) AS dmax FROM base),
             |ba AS (SELECT base.d - fd.f AS age,
             |    CAST(SUM(base.vc) AS BIGINT) AS rev_c
             |  FROM base JOIN fd ON fd.u = base.u GROUP BY 1),
             |ar AS (SELECT mx.dmax - fd.f AS horizon,
             |    CAST(COUNT(*) AS BIGINT) AS n
             |  FROM fd CROSS JOIN mx GROUP BY 1),
             |grid AS (SELECT unnest(range(0,
             |    (SELECT MAX(horizon) FROM ar) + 1)) AS age),
             |risk AS (SELECT grid.age, COALESCE(ar.n, 0) AS n,
             |    CAST(SUM(COALESCE(ar.n, 0)) OVER
             |      (ORDER BY grid.age DESC) AS BIGINT) AS at_risk
             |  FROM grid LEFT JOIN ar ON ar.horizon = grid.age)
             |SELECT risk.age AS age,
             |  CAST(COALESCE(ba.rev_c, 0) AS BIGINT) AS rev_c,
             |  risk.at_risk AS at_risk,
             |  CAST(SUM(COALESCE(ba.rev_c, 0)) OVER (ORDER BY risk.age)
             |    AS BIGINT) AS cum_rev_c,
             |  CAST(SUM(COALESCE(ba.rev_c, 0)) OVER (ORDER BY risk.age)
             |    * 1000 // risk.at_risk AS BIGINT) AS ltv_milli
             |FROM risk LEFT JOIN ba ON ba.age = risk.age
             |ORDER BY age""".stripMargin)),

    // Stockout projection over the derived partsupp: cumulative
    // shipped quantity per (part, supplier) vs available stock, the
    // 50 earliest projected stockouts.
    Q("q320_stockout_projection",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables(s, dir, "lineitem")
        val ps = li.select(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey")).distinct()
          .withColumn("ps_availqty",
            expr("(ps_partkey * 7 + ps_suppkey * 11) % 50 + 1"))
        val byPair = Window.partitionBy("l_partkey", "l_suppkey")
          .orderBy("day", "l_orderkey", "l_linenumber")
        val cum = li
          .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber"),
            expr("unix_micros(l_shipdate) div 86400000000").as("day"),
            expr("cast(round(l_quantity) as bigint)").as("q"))
          .withColumn("cum_q", sum(col("q")).over(byPair))
        cum.join(ps,
            col("l_partkey") === col("ps_partkey") &&
              col("l_suppkey") === col("ps_suppkey"))
          .where(col("cum_q") > col("ps_availqty"))
          .groupBy("ps_partkey", "ps_suppkey", "ps_availqty")
          .agg(min("day").as("stockout_day"))
          .orderBy(col("stockout_day"), col("ps_partkey"),
            col("ps_suppkey"))
          .limit(50)
      },
      Some(s"""WITH ${QueriesTpchFull.PartsuppCte},
             |cum AS (SELECT l_partkey, l_suppkey,
             |    epoch_us(l_shipdate) // 86400000000 AS day,
             |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) OVER
             |      (PARTITION BY l_partkey, l_suppkey
             |       ORDER BY epoch_us(l_shipdate) // 86400000000,
             |         l_orderkey, l_linenumber) AS BIGINT) AS cum_q
             |  FROM lineitem)
             |SELECT ps.ps_partkey AS ps_partkey,
             |  ps.ps_suppkey AS ps_suppkey,
             |  ps.ps_availqty AS ps_availqty,
             |  CAST(MIN(cum.day) AS BIGINT) AS stockout_day
             |FROM cum JOIN partsupp ps
             |  ON ps.ps_partkey = cum.l_partkey
             |  AND ps.ps_suppkey = cum.l_suppkey
             |WHERE cum.cum_q > ps.ps_availqty
             |GROUP BY 1, 2, 3
             |ORDER BY stockout_day, ps_partkey, ps_suppkey
             |LIMIT 50""".stripMargin)),

    // One IPF (raking) sweep toward uniform source×lang margins —
    // the training-mixture rebalance step, integer-exact.
    Q("q321_ipf_raking",
      (s, dir) => Curation.ipfRaking(Tables(s, dir, "documents")),
      Some("""WITH cells AS (SELECT source AS src, lang,
             |    CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |  WHERE source IS NOT NULL AND lang IS NOT NULL
             |  GROUP BY 1, 2),
             |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
             |    CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
             |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_lang
             |  FROM cells),
             |rows_ AS (SELECT src, CAST(SUM(n) AS BIGINT) AS row_n
             |  FROM cells GROUP BY 1),
             |a AS (SELECT src,
             |    CAST(total // n_src * 1000000 // row_n AS BIGINT)
             |      AS a_ppm
             |  FROM rows_, tot),
             |ar AS (SELECT cells.src, cells.lang, cells.n, a.a_ppm,
             |    cells.n * a.a_ppm AS w1_micro
             |  FROM cells JOIN a USING (src)),
             |cs AS (SELECT lang, CAST(SUM(w1_micro) AS BIGINT)
             |    AS col_micro FROM ar GROUP BY 1),
             |b AS (SELECT lang,
             |    CAST(total // n_lang * 1000000000000 // col_micro
             |      AS BIGINT) AS b_ppm
             |  FROM cs, tot),
             |f AS (SELECT ar.src, ar.lang, ar.n, ar.a_ppm, b.b_ppm,
             |    CAST(ar.a_ppm * b.b_ppm // 1000000 AS BIGINT)
             |      AS w_ppm
             |  FROM ar JOIN b USING (lang))
             |SELECT src, lang, n, a_ppm, b_ppm, w_ppm,
             |  CAST(SUM(n * w_ppm) OVER (PARTITION BY lang) AS BIGINT)
             |    AS achieved_col_micro
             |FROM f ORDER BY src, lang""".stripMargin)),

    // RFM quintile segmentation (total-ordered ntiles, 5 = best),
    // rolled up to segment cells.
    Q("q322_rfm_segments",
      (s, dir) => Analytics.rfmSegments(Tables(s, dir, "events")),
      Some(RfmOracle)),

    // Longest consecutive-active-day streak per user (gaps-and-
    // islands), top 20.
    Q("q323_activity_streaks",
      (s, dir) => Analytics.activityStreaks(Tables(s, dir, "events")),
      Some("""WITH days AS (SELECT DISTINCT user_id AS u,
             |    epoch_us(ts) // 86400000000 AS d FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |isl AS (SELECT u,
             |    d - ROW_NUMBER() OVER (PARTITION BY u ORDER BY d)
             |      AS grp, d FROM days),
             |st AS (SELECT u, grp, CAST(COUNT(*) AS BIGINT) AS len,
             |    MIN(d) AS start_d FROM isl GROUP BY 1, 2),
             |best AS (SELECT u, len, start_d, ROW_NUMBER() OVER
             |    (PARTITION BY u ORDER BY len DESC, start_d) AS rn
             |  FROM st)
             |SELECT u AS user_id, len AS streak_days,
             |  CAST(start_d AS BIGINT) AS streak_start_day
             |FROM best WHERE rn = 1
             |ORDER BY streak_days DESC, user_id LIMIT 20"""
        .stripMargin)),

    // Streaming twin of q322: per-user R/F/M state maintained
    // in-stream (three commutative longs), drained, then the SAME
    // shared quintile tail — q322's oracle verbatim.
    Q("q324_stream_rfm",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline.rfmStream(
          QueriesAlert.tableStream(s, dir, "events"))
        val drained = QueriesAlert.drainToMemory(s, out.toDF(), "q324_sink",
          OutputMode.Append())
          // cumulative emissions: the final state per user is the
          // max of every tracked (all three are nondecreasing)
          .groupBy("u").agg(max("last_d").as("last_d"),
            max("f").as("f"), max("m_c").as("m_c"))
        Analytics.rfmScoreTail(drained)
      },
      Some(RfmOracle)))

  /** The sequence twins' specs: q350's 2-slot threshold→deadman and
    * the q352/q358/q361 longer chains, all on the one N-slot streaming
    * chain. Each query drains its own spec's chain in an AvailableNow
    * query of its own ([[SeqTwins.drain]]) on every call; q361's batch
    * replay stays live in its body. Restart/recovery pins live in
    * StreamingSpec against StreamingPipeline streams.
    */
  private object SeqTwins {
    import graft.model.AlertDoc.Doc

    val specs: Seq[(String, Doc)] = Seq(
      "q350" -> Map(
        "alert_name" -> "purchases_then_quiet",
        "alert_type" -> "sequence",
        "lifespan" -> "7 days",
        "summary" -> ("{{slots.0.metadata.count}} purchases by " +
          "{{slots.0.metadata.value}} with only " +
          "{{slots.1.metadata.count}} follow-up errors"),
        "slots" -> Seq(
          Map("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id",
            "threshold" -> 3),
          Map("alert_type" -> "deadman",
            "criteria" -> ("event_type='error' AND " +
              "user_id='{{slots.0.metadata.value}}'"),
            "threshold" -> 1))),
      "q352" -> Map(
        "alert_name" -> "buy_click_then_quiet",
        "alert_type" -> "sequence",
        "lifespan" -> "7 days",
        "summary" -> ("{{slots.0.metadata.count}} purchases, " +
          "{{slots.1.metadata.count}} clicks, then only " +
          "{{slots.2.metadata.count}} errors for " +
          "{{slots.2.metadata.value}}"),
        "slots" -> Seq(
          Map("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id",
            "threshold" -> 3),
          Map("alert_type" -> "threshold",
            "criteria" -> ("event_type='click' AND " +
              "user_id='{{slots.0.metadata.value}}'"),
            "threshold" -> 2),
          Map("alert_type" -> "deadman",
            "criteria" -> ("event_type='error' AND " +
              "user_id='{{slots.1.metadata.value}}'"),
            "threshold" -> 1))),
      "q358" -> Map(
        "alert_name" -> "buy_quiet_click",
        "alert_type" -> "sequence",
        "lifespan" -> "14 days",
        "summary" -> ("{{slots.1.metadata.count}} errors in the " +
          "quiet window for {{slots.0.metadata.value}}"),
        "slots" -> Seq(
          Map("alert_type" -> "threshold",
            "criteria" -> "event_type='purchase'",
            "aggregation_key" -> "user_id",
            "threshold" -> 3),
          Map("alert_type" -> "deadman",
            "criteria" -> ("event_type='error' AND " +
              "user_id='{{slots.0.metadata.value}}'"),
            "threshold" -> 2, "lifespan" -> "3 days"),
          Map("alert_type" -> "threshold",
            "criteria" -> ("event_type='click' AND " +
              "user_id='{{slots.1.metadata.value}}'"),
            "threshold" -> 2))),
      "q361" -> Map(
        "alert_name" -> "replay_equiv",
        "alert_type" -> "sequence",
        "lifespan" -> "7 days",
        "summary" -> ("{{slots.0.metadata.count}} purchases, " +
          "{{slots.1.metadata.count}} clicks, " +
          "{{slots.2.metadata.count}} errors"),
        "slots" -> Seq(
          Map("alert_type" -> "threshold",
            "criteria" -> ("event_type='purchase' AND " +
              "user_id IN (3,7,11,14) AND ts < TIMESTAMP '2024-01-15'"),
            "aggregation_key" -> "user_id",
            "threshold" -> 5, "event_sample_count" -> 0),
          Map("alert_type" -> "threshold",
            "criteria" -> ("event_type='click' AND " +
              "user_id='{{slots.0.metadata.value}}' AND " +
              "ts > CAST('{{slots.0.utctimestamp}}' AS TIMESTAMP)"),
            "aggregation_key" -> "user_id",
            "threshold" -> 2, "event_sample_count" -> 0),
          Map("alert_type" -> "deadman",
            "criteria" -> ("event_type='error' AND " +
              "user_id='{{slots.1.metadata.value}}' AND " +
              "ts > CAST('{{slots.1.utctimestamp}}' AS TIMESTAMP)"),
            "aggregation_key" -> "user_id",
            "threshold" -> 2, "event_sample_count" -> 0))))

    /** q361's spec is also the batch-replay side's input — one copy. */
    def spec(name: String): Doc = specs.find(_._1 == name).get._2

    /** `name`'s alerts: its spec on the N-slot chain over the events
      * replay, drained on the RocksDB state store.
      */
    def drain(s: SparkSession, dir: String, name: String): DataFrame =
      graft.streaming.StreamingAlertsTws.withRocksDb(s) {
        QueriesAlert.drainToMemory(s,
          graft.streaming.StreamingAlertsTws.sequenceStreamTwsN(
            QueriesAlert.tableStream(s, dir, "events"), spec(name)).toDF(),
          s"${name}_sink", org.apache.spark.sql.streaming.OutputMode.Append())
      }
  }

  /** q384's messy-URL corpus — ONE definition consumed by both the
    * stream branch and the batch half in the query body (a
    * drifted copy would silently break the equivalence pin).
    */
  private def q384Corpus(df: DataFrame): DataFrame = {
    val urlExpr =
      """CASE CAST(user_id % 4 AS INT)
        |  WHEN 0 THEN 'https://Ex.com/t/' || event_type
        |    || '?b=' || m || '&a=1'
        |  WHEN 1 THEN 'HTTPS://EX.com:443/t/' || event_type
        |    || '?a=1&utm_source=mail&b=' || m
        |  WHEN 2 THEN 'https://ex.com:443/t/' || event_type
        |    || '?utm_campaign=x&b=' || m || '&a=1#frag'
        |  ELSE 'http://spam.tracker.net:80/t/' || event_type
        |    || '?a=1&b=' || m END""".stripMargin
    df.where(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("user_id") % 5 === 0)
      .withColumn("m", col("user_id") % 10)
      .withColumn("url", expr(urlExpr))
      .withColumn("text", concat(lit("doc about "), col("event_type")))
  }

  private def thirdBatch: Seq[Q] = Seq(
    // DataSource V2 connector round-trip: per-source JSON-block blobs
    // written as text, read back through the custom connector (one
    // row per OBJECT, tokenized inside the PartitionReader), parsed
    // and aggregated — q16's oracle, through the connector.
    Q("q325_jsonblocks_v2_source",
      (s, dir) => Scratch.withDir("q325") { tmp =>
        val out = s"$tmp/blocks"
        Tables(s, dir, "documents")
          .groupBy("source")
          .agg(concat_ws("", collect_list(
            format_string("""{"doc_id":%d,"source":"%s"}""",
              col("doc_id"), col("source")))).as("value"))
          .select("value")
          .write.text(out)
        s.read.format("graft.sources.JsonBlocksSource").load(out)
          .select(
            expr("cast(get_json_object(block, '$.doc_id') as bigint)")
              .as("doc_id"),
            expr("get_json_object(block, '$.source')").as("source"))
          .groupBy("source")
          .agg(count(lit(1)).as("cnt"), min("doc_id").as("min_id"),
            max("doc_id").as("max_id"))
          .localCheckpoint()
      }.orderBy("source"),
      Some("""SELECT source, COUNT(*) AS cnt, min(doc_id) AS min_id,
             |  max(doc_id) AS max_id
             |FROM documents GROUP BY source ORDER BY source"""
        .stripMargin)),

    // Markov stationary distribution (4 exact ppm power sweeps on
    // q183's transition matrix) vs the empirical type share.
    Q("q326_stationary_distribution",
      (s, dir) => Analytics.stationaryDistribution(
        Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT user_id AS u, event_type AS et, ts,
             |    event_id AS id
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL),
             |pr AS (SELECT et AS from_type,
             |    lead(et, 1) OVER (PARTITION BY u ORDER BY ts, id)
             |      AS to_type
             |  FROM t),
             |c AS (SELECT from_type, to_type,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |p AS (SELECT c.from_type AS i, c.to_type AS j,
             |    CAST(c.cnt * 1000000 // tot.row_total AS BIGINT)
             |      AS p_ppm
             |  FROM c JOIN (SELECT from_type,
             |      CAST(SUM(cnt) AS BIGINT) AS row_total
             |    FROM c GROUP BY 1) tot USING (from_type)),
             |ty AS (SELECT DISTINCT i AS ty FROM p),
             |v0 AS (SELECT ty, CAST(1000000 //
             |    (SELECT COUNT(*) FROM ty) AS BIGINT) AS v_ppm
             |  FROM ty),
             |v1 AS (SELECT p.j AS ty, CAST(SUM(v0.v_ppm * p.p_ppm)
             |    // 1000000 AS BIGINT) AS v_ppm
             |  FROM p JOIN v0 ON v0.ty = p.i GROUP BY 1),
             |v2 AS (SELECT p.j AS ty, CAST(SUM(v1.v_ppm * p.p_ppm)
             |    // 1000000 AS BIGINT) AS v_ppm
             |  FROM p JOIN v1 ON v1.ty = p.i GROUP BY 1),
             |v3 AS (SELECT p.j AS ty, CAST(SUM(v2.v_ppm * p.p_ppm)
             |    // 1000000 AS BIGINT) AS v_ppm
             |  FROM p JOIN v2 ON v2.ty = p.i GROUP BY 1),
             |v4 AS (SELECT p.j AS ty, CAST(SUM(v3.v_ppm * p.p_ppm)
             |    // 1000000 AS BIGINT) AS v_ppm
             |  FROM p JOIN v3 ON v3.ty = p.i GROUP BY 1),
             |emp AS (SELECT et AS ty, CAST(COUNT(*) AS BIGINT) AS n
             |  FROM t GROUP BY 1),
             |tt AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM emp)
             |SELECT v4.ty AS event_type, v4.v_ppm AS stationary_ppm,
             |  CAST(emp.n * 1000000 // tt.tot AS BIGINT)
             |    AS empirical_ppm,
             |  CAST(v4.v_ppm - emp.n * 1000000 // tt.tot AS BIGINT)
             |    AS gap_ppm
             |FROM v4 JOIN emp USING (ty) CROSS JOIN tt
             |ORDER BY event_type""".stripMargin)),

    // Streaming twin of q313: per-(user, type) gap histogram
    // maintained in-stream, drained, then the SAME shared modal tail
    // — q313's oracle verbatim.
    Q("q327_stream_beaconing",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline.beaconStream(
          QueriesAlert.tableStream(s, dir, "events"))
        val drained = QueriesAlert.drainToMemory(s, out.toDF(), "q327_sink",
          OutputMode.Append())
          // cumulative emissions: counts only grow, so the final
          // histogram per (key, bucket) is the max
          .groupBy("u", "t", "gap_bucket").agg(max("c").as("c"))
        Security.beaconingFromHist(drained)
      },
      Some(BeaconOracle)),

    // Lorenz curve points beside q303's Gini: exact bottom-p% value
    // shares at the nearest-rank deciles.
    Q("q328_lorenz_points",
      (s, dir) => Stats.lorenzPoints(Tables(s, dir, "events")),
      Some("""WITH per AS (SELECT event_type AS grp, user_id AS k,
             |    CAST(SUM(CAST(round(value * 100) AS BIGINT))
             |      AS BIGINT) AS xc
             |  FROM events
             |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             |    AND value IS NOT NULL
             |  GROUP BY 1, 2),
             |w AS (SELECT grp, xc,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY grp
             |      ORDER BY xc, k) AS BIGINT) AS i,
             |    CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT)
             |      AS n,
             |    CAST(SUM(xc) OVER (PARTITION BY grp ORDER BY xc, k)
             |      AS BIGINT) AS cum_c,
             |    CAST(SUM(xc) OVER (PARTITION BY grp) AS BIGINT)
             |      AS total_c
             |  FROM per),
             |d AS (SELECT grp, i, n, cum_c, total_c,
             |    unnest(range(10, 91, 10)) AS decile FROM w)
             |SELECT grp, CAST(decile AS BIGINT) AS decile,
             |  n AS n_contributors,
             |  CAST(cum_c * 1000000 // total_c AS BIGINT)
             |    AS bottom_share_ppm
             |FROM d WHERE i = decile * n // 100
             |ORDER BY grp, decile""".stripMargin)),

    // Time-respecting reachability (temporal Bellman-Ford, 3 rounds)
    // on the timestamped part-handoff graph: which customers a
    // compromise at the seed set could have reached, with earliest
    // arrival — strictly-increasing edge times along every path.
    Q("q329_temporal_reach",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pk = Tables(s, dir, "part").where(col("p_size") <= 3)
          .select(col("p_partkey"))
        val po = Tables(s, dir, "lineitem")
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .join(Tables(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey").as("p"), col("o_custkey").as("cust"),
            col("o_orderdate").as("dt"))
          .distinct()
        val w = Window.partitionBy("p").orderBy("dt", "cust")
        val edges = po
          .withColumn("nxt", lead(col("cust"), 1).over(w))
          .withColumn("nxt_dt", lead(col("dt"), 1).over(w))
          .where(col("nxt").isNotNull && col("nxt") =!= col("cust"))
          .select(col("cust").as("src"), col("nxt").as("dst"),
            expr("unix_micros(nxt_dt)").as("t"))
          .distinct()
        val seeds = Tables(s, dir, "customer")
          .where(col("c_custkey") < 5)
          .select(col("c_custkey").as("n"))
        Graph.temporalReach(edges, seeds)
      },
      Some("""WITH pk AS (SELECT p_partkey FROM part WHERE p_size <= 3),
             |po AS (SELECT DISTINCT l_partkey AS p,
             |    o.o_custkey AS cust, o.o_orderdate AS dt
             |  FROM lineitem l
             |  JOIN pk ON pk.p_partkey = l.l_partkey
             |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |ed AS (SELECT cust AS src,
             |    LEAD(cust) OVER (PARTITION BY p ORDER BY dt, cust)
             |      AS dst,
             |    LEAD(dt) OVER (PARTITION BY p ORDER BY dt, cust)
             |      AS nxt_dt
             |  FROM po),
             |e AS (SELECT DISTINCT src, dst,
             |    epoch_us(nxt_dt) AS t FROM ed
             |  WHERE dst IS NOT NULL AND dst <> src),
             |b0 AS (SELECT c_custkey AS n,
             |    CAST(-9223372036854775808 AS BIGINT) AS at
             |  FROM customer WHERE c_custkey < 5),
             |r1 AS (SELECT e.dst AS n, MIN(e.t) AS at FROM e
             |  JOIN b0 ON e.src = b0.n AND e.t > b0.at GROUP BY 1),
             |b1 AS (SELECT n, MIN(at) AS at FROM
             |  (SELECT n, at FROM b0 UNION ALL SELECT n, at FROM r1)
             |  GROUP BY 1),
             |r2 AS (SELECT e.dst AS n, MIN(e.t) AS at FROM e
             |  JOIN b1 ON e.src = b1.n AND e.t > b1.at GROUP BY 1),
             |b2 AS (SELECT n, MIN(at) AS at FROM
             |  (SELECT n, at FROM b1 UNION ALL SELECT n, at FROM r2)
             |  GROUP BY 1),
             |r3 AS (SELECT e.dst AS n, MIN(e.t) AS at FROM e
             |  JOIN b2 ON e.src = b2.n AND e.t > b2.at GROUP BY 1),
             |b3 AS (SELECT n, MIN(at) AS at FROM
             |  (SELECT n, at FROM b2 UNION ALL SELECT n, at FROM r3)
             |  GROUP BY 1)
             |SELECT n AS node, CAST(at AS BIGINT) AS earliest_at
             |FROM b3 WHERE at <> -9223372036854775808
             |ORDER BY node""".stripMargin)),

    // Hierarchical forecast reconciliation check: direct per-part
    // naive vs top-down brand allocation, absolute errors per brand.
    Q("q330_forecast_reconciliation",
      (s, dir) => Stats.forecastReconciliation(
        Tables(s, dir, "lineitem"), Tables(s, dir, "part")),
      Some("""WITH ppd AS (SELECT p.p_brand AS brand,
             |    p.p_partkey AS pk,
             |    epoch_us(l.l_shipdate) // 86400000000 AS d,
             |    CAST(SUM(CAST(round(l.l_quantity) AS BIGINT))
             |      AS BIGINT) AS q
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
             |  GROUP BY 1, 2, 3),
             |mx AS (SELECT MAX(d) AS dmax FROM ppd),
             |hist AS (SELECT ppd.* FROM ppd, mx WHERE d < mx.dmax),
             |ph AS (SELECT brand, pk, CAST(SUM(q) AS BIGINT)
             |    AS part_hist FROM hist GROUP BY 1, 2),
             |bh AS (SELECT brand, CAST(SUM(q) AS BIGINT)
             |    AS brand_hist FROM hist GROUP BY 1),
             |pp AS (SELECT pk, q AS part_prev FROM hist, mx
             |  WHERE d = mx.dmax - 1),
             |bp AS (SELECT brand, CAST(SUM(q) AS BIGINT)
             |    AS brand_prev FROM hist, mx
             |  WHERE d = mx.dmax - 1 GROUP BY 1),
             |ac AS (SELECT pk, q AS actual FROM ppd, mx
             |  WHERE d = mx.dmax),
             |f AS (SELECT ph.brand, ph.pk,
             |    COALESCE(ac.actual, 0) AS actual,
             |    COALESCE(pp.part_prev, 0) AS f_direct,
             |    COALESCE(bp.brand_prev, 0) *
             |      (ph.part_hist * 1000000 // bh.brand_hist)
             |      // 1000000 AS f_topdown
             |  FROM ph JOIN bh ON bh.brand = ph.brand
             |  LEFT JOIN bp ON bp.brand = ph.brand
             |  LEFT JOIN pp ON pp.pk = ph.pk
             |  LEFT JOIN ac ON ac.pk = ph.pk)
             |SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  CAST(SUM(abs(actual - f_direct)) AS BIGINT)
             |    AS abs_err_direct,
             |  CAST(SUM(abs(actual - f_topdown)) AS BIGINT)
             |    AS abs_err_topdown,
             |  CASE WHEN SUM(abs(actual - f_topdown)) <
             |      SUM(abs(actual - f_direct)) THEN 'topdown'
             |    WHEN SUM(abs(actual - f_topdown)) >
             |      SUM(abs(actual - f_direct)) THEN 'direct'
             |    ELSE 'tie' END AS winner
             |FROM f GROUP BY brand ORDER BY brand""".stripMargin)),

    // Rare-transition audit: the 5 lowest-probability transitions
    // actually taken, with step/user breadth and an example actor.
    Q("q331_rare_transitions",
      (s, dir) => Security.rareTransitions(Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT user_id AS u, event_type AS et,
             |    epoch_us(ts) AS us, event_id AS id
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL),
             |st AS (SELECT u, et AS from_type,
             |    lead(et, 1) OVER (PARTITION BY u ORDER BY us, id)
             |      AS to_type
             |  FROM t),
             |steps AS (SELECT u, from_type, to_type FROM st
             |  WHERE to_type IS NOT NULL),
             |c AS (SELECT from_type, to_type,
             |    CAST(COUNT(*) AS BIGINT) AS n_steps,
             |    CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
             |    CAST(MIN(u) AS BIGINT) AS example_user
             |  FROM steps GROUP BY 1, 2)
             |SELECT c.from_type, c.to_type, c.n_steps, c.n_users,
             |  c.example_user,
             |  CAST(c.n_steps * 1000000 // tot.row_total AS BIGINT)
             |    AS p_ppm
             |FROM c JOIN (SELECT from_type,
             |    CAST(SUM(n_steps) AS BIGINT) AS row_total
             |  FROM c GROUP BY 1) tot USING (from_type)
             |ORDER BY p_ppm, from_type, to_type LIMIT 5"""
        .stripMargin)),

    // Index of dispersion (Fano) of daily counts per type — the
    // Poisson-vs-bursty triage in exact milli.
    Q("q332_dispersion_index",
      (s, dir) => Stats.dispersionIndex(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS d,
             |    CAST(COUNT(*) AS BIGINT) AS x
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |sp AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
             |grid AS (SELECT g.d, t.grp FROM
             |  (SELECT unnest(range(sp.d0, sp.d1 + 1)) AS d FROM sp) g
             |  CROSS JOIN (SELECT DISTINCT grp FROM daily) t),
             |z AS (SELECT grid.grp, COALESCE(daily.x, 0) AS x
             |  FROM grid LEFT JOIN daily
             |    ON daily.grp = grid.grp AND daily.d = grid.d)
             |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days,
             |  CAST(SUM(x) AS BIGINT) AS total,
             |  CAST((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) * 1000
             |    // NULLIF(COUNT(*) * SUM(x), 0) AS BIGINT)
             |    AS fano_milli
             |FROM z GROUP BY grp ORDER BY grp""".stripMargin)),

    // Per-seed blast radius: q329's temporal relaxation vectorized
    // over ten seeds in ONE fold (seed column in the frontier).
    Q("q333_blast_radius",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pk = Tables(s, dir, "part").where(col("p_size") <= 3)
          .select(col("p_partkey"))
        val po = Tables(s, dir, "lineitem")
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
          .join(Tables(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_partkey").as("p"), col("o_custkey").as("cust"),
            col("o_orderdate").as("dt"))
          .distinct()
        val w = Window.partitionBy("p").orderBy("dt", "cust")
        val edges = po
          .withColumn("nxt", lead(col("cust"), 1).over(w))
          .withColumn("nxt_dt", lead(col("dt"), 1).over(w))
          .where(col("nxt").isNotNull && col("nxt") =!= col("cust"))
          .select(col("cust").as("src"), col("nxt").as("dst"),
            expr("unix_micros(nxt_dt)").as("t"))
          .distinct()
        val seeds = Tables(s, dir, "customer")
          .where(col("c_custkey") < 10)
          .select(col("c_custkey").as("seed"))
        Graph.blastRadius(edges, seeds)
      },
      Some("""WITH pk AS (SELECT p_partkey FROM part WHERE p_size <= 3),
             |po AS (SELECT DISTINCT l_partkey AS p,
             |    o.o_custkey AS cust, o.o_orderdate AS dt
             |  FROM lineitem l
             |  JOIN pk ON pk.p_partkey = l.l_partkey
             |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |ed AS (SELECT cust AS src,
             |    LEAD(cust) OVER (PARTITION BY p ORDER BY dt, cust)
             |      AS dst,
             |    LEAD(dt) OVER (PARTITION BY p ORDER BY dt, cust)
             |      AS nxt_dt
             |  FROM po),
             |e AS (SELECT DISTINCT src, dst,
             |    epoch_us(nxt_dt) AS t FROM ed
             |  WHERE dst IS NOT NULL AND dst <> src),
             |b0 AS (SELECT c_custkey AS seed, c_custkey AS n,
             |    CAST(-9223372036854775808 AS BIGINT) AS at
             |  FROM customer WHERE c_custkey < 10),
             |r1 AS (SELECT b0.seed, e.dst AS n, MIN(e.t) AS at FROM e
             |  JOIN b0 ON e.src = b0.n AND e.t > b0.at GROUP BY 1, 2),
             |b1 AS (SELECT seed, n, MIN(at) AS at FROM
             |  (SELECT seed, n, at FROM b0
             |   UNION ALL SELECT seed, n, at FROM r1) GROUP BY 1, 2),
             |r2 AS (SELECT b1.seed, e.dst AS n, MIN(e.t) AS at FROM e
             |  JOIN b1 ON e.src = b1.n AND e.t > b1.at GROUP BY 1, 2),
             |b2 AS (SELECT seed, n, MIN(at) AS at FROM
             |  (SELECT seed, n, at FROM b1
             |   UNION ALL SELECT seed, n, at FROM r2) GROUP BY 1, 2),
             |r3 AS (SELECT b2.seed, e.dst AS n, MIN(e.t) AS at FROM e
             |  JOIN b2 ON e.src = b2.n AND e.t > b2.at GROUP BY 1, 2),
             |b3 AS (SELECT seed, n, MIN(at) AS at FROM
             |  (SELECT seed, n, at FROM b2
             |   UNION ALL SELECT seed, n, at FROM r3) GROUP BY 1, 2)
             |SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
             |  CAST(MIN(at) AS BIGINT) AS first_spread_at,
             |  CAST(MAX(at) AS BIGINT) AS last_spread_at
             |FROM b3 WHERE at <> -9223372036854775808
             |GROUP BY seed ORDER BY n_reached DESC, seed"""
        .stripMargin)),

    // Corpus-mass concentration: q328's Lorenz machinery read over
    // documents — what share of character mass the bottom-p% of docs
    // hold per source (the "is this source a few megadocs or many
    // shards" curation diagnostic).
    Q("q334_corpus_mass_lorenz",
      (s, dir) => Stats.lorenzPoints(Tables(s, dir, "documents"),
        grpCol = "source", keyCol = "doc_id", valCol = "n_chars"),
      Some("""WITH per AS (SELECT source AS grp, doc_id AS k,
             |    CAST(SUM(CAST(round(n_chars * 100) AS BIGINT))
             |      AS BIGINT) AS xc
             |  FROM documents
             |  WHERE source IS NOT NULL AND doc_id IS NOT NULL
             |    AND n_chars IS NOT NULL
             |  GROUP BY 1, 2),
             |w AS (SELECT grp, xc,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY grp
             |      ORDER BY xc, k) AS BIGINT) AS i,
             |    CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT)
             |      AS n,
             |    CAST(SUM(xc) OVER (PARTITION BY grp ORDER BY xc, k)
             |      AS BIGINT) AS cum_c,
             |    CAST(SUM(xc) OVER (PARTITION BY grp) AS BIGINT)
             |      AS total_c
             |  FROM per),
             |d AS (SELECT grp, i, n, cum_c, total_c,
             |    unnest(range(10, 91, 10)) AS decile FROM w)
             |SELECT grp, CAST(decile AS BIGINT) AS decile,
             |  n AS n_contributors,
             |  CAST(cum_c * 1000000 // total_c AS BIGINT)
             |    AS bottom_share_ppm
             |FROM d WHERE i = decile * n // 100
             |ORDER BY grp, decile""".stripMargin)),
    // Cross-source boilerplate leakage matrix: for every source
    // pair, how many 5-token OPENING prefixes they share and how
    // many docs that implicates — the shared-template diagnostic
    // q230's per-source dup rates can't see (syndicated feeds copy
    // headers long before they copy bodies).
    Q("q335_cross_source_dupes",
      (s, dir) => {
        val bySrc = Tables(s, dir, "documents")
          .where(col("text").isNotNull && col("source").isNotNull)
          .select(col("source"), expr(
            "array_join(slice(split(text, ' '), 1, 5), ' ')").as("text"))
          .groupBy("source", "text")
          .agg(count(lit(1)).as("n_docs"))
          .localCheckpoint() // both sides of the pair join
        bySrc.as("a").join(bySrc.as("b"),
            col("a.text") === col("b.text") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"),
            col("b.source").as("source_b"))
          .agg(count(lit(1)).as("shared_texts"),
            sum(col("a.n_docs") + col("b.n_docs")).as("docs_implicated"))
          .orderBy(col("shared_texts").desc, col("source_a"),
            col("source_b"))
          .limit(30)
      },
      Some("""WITH bs AS (SELECT source,
             |    array_to_string(string_split(text, ' ')[1:5], ' ')
             |      AS text,
             |    CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM documents
             |  WHERE text IS NOT NULL AND source IS NOT NULL
             |  GROUP BY 1, 2)
             |SELECT a.source AS source_a, b.source AS source_b,
             |  CAST(COUNT(*) AS BIGINT) AS shared_texts,
             |  CAST(SUM(a.n_docs + b.n_docs) AS BIGINT)
             |    AS docs_implicated
             |FROM bs a JOIN bs b
             |  ON a.text = b.text AND a.source < b.source
             |GROUP BY 1, 2
             |ORDER BY shared_texts DESC, source_a, source_b
             |LIMIT 30""".stripMargin)),

    // Exact rolling 7-day active users per day (sliding distinct by
    // membership explode — each (user, day) charges the 7 windows it
    // falls in, then one distinct per complete window).
    Q("q336_rolling_wau",
      (s, dir) => {
        val ud = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id").as("u"),
            expr("unix_micros(ts) div 86400000000").as("d"))
          .distinct()
          .localCheckpoint() // span probe + window explode share it
        val span = ud.agg(min("d").as("d0"), max("d").as("d1"))
        ud.withColumn("w", explode(sequence(col("d"), expr("d + 6"))))
          .crossJoin(broadcast(span))
          .where(col("w") <= col("d1") && col("w") >= expr("d0 + 6"))
          .groupBy(col("w").as("day"))
          .agg(countDistinct("u").as("wau"))
          .orderBy("day")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id AS u,
             |    epoch_us(ts) // 86400000000 AS d FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |sp AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
             |x AS (SELECT ud.u, unnest(range(ud.d, ud.d + 7)) AS w
             |  FROM ud)
             |SELECT w AS day, CAST(COUNT(DISTINCT u) AS BIGINT) AS wau
             |FROM x, sp WHERE w <= sp.d1 AND w >= sp.d0 + 6
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Temporal-sanity audit: time-arrow rules RI can't express —
    // ship-before-order, absurdly-late ship, straggling order spans.
    Q("q337_temporal_sanity",
      (s, dir) => Audit.temporalSanity(
        Tables(s, dir, "lineitem"), Tables(s, dir, "orders")),
      Some("""WITH j AS (SELECT l_orderkey AS ok,
             |    epoch_us(l_shipdate) // 86400000000 AS sd,
             |    epoch_us(o_orderdate) // 86400000000 AS od
             |  FROM lineitem JOIN orders
             |    ON o_orderkey = l_orderkey),
             |r1 AS (SELECT 'ship_before_order' AS rule,
             |    CAST(COUNT(*) AS BIGINT) AS n_checked,
             |    CAST(SUM(CASE WHEN sd < od THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_violations FROM j),
             |r2 AS (SELECT 'ship_late' AS rule,
             |    CAST(COUNT(*) AS BIGINT) AS n_checked,
             |    CAST(SUM(CASE WHEN sd > od + 180 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_violations FROM j),
             |sp AS (SELECT ok, MAX(sd) - MIN(sd) AS span FROM j
             |  GROUP BY 1),
             |r3 AS (SELECT 'order_span' AS rule,
             |    CAST(COUNT(*) AS BIGINT) AS n_checked,
             |    CAST(SUM(CASE WHEN span > 90 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_violations FROM sp),
             |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |  UNION ALL SELECT * FROM r3)
             |SELECT rule, n_checked, n_violations,
             |  CAST(n_violations * 1000000 // NULLIF(n_checked, 0)
             |    AS BIGINT) AS viol_ppm
             |FROM u ORDER BY rule""".stripMargin)),

    // Stickiness: DAU / exact rolling-7-day WAU per day, ppm — the
    // canonical engagement ratio, both numerator and denominator
    // exact distincts.
    Q("q338_stickiness",
      (s, dir) => {
        val ud = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id").as("u"),
            expr("unix_micros(ts) div 86400000000").as("d"))
          .distinct()
          .localCheckpoint() // DAU fold + WAU explode share it
        val span = ud.agg(min("d").as("d0"), max("d").as("d1"))
        val dau = ud.groupBy(col("d").as("day"))
          .agg(countDistinct("u").as("dau"))
        val wau = ud
          .withColumn("w", explode(sequence(col("d"), expr("d + 6"))))
          .groupBy(col("w").as("day"))
          .agg(countDistinct("u").as("wau"))
        dau.join(wau, "day").crossJoin(broadcast(span))
          .where(col("day") >= expr("d0 + 6") && col("day") <= col("d1"))
          .select(col("day"), col("dau"), col("wau"),
            expr("dau * 1000000 div wau").as("stickiness_ppm"))
          .orderBy("day")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id AS u,
             |    epoch_us(ts) // 86400000000 AS d FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |sp AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ud),
             |dau AS (SELECT d AS day, CAST(COUNT(DISTINCT u) AS BIGINT)
             |    AS dau FROM ud GROUP BY 1),
             |wau AS (SELECT w AS day, CAST(COUNT(DISTINCT u) AS BIGINT)
             |    AS wau
             |  FROM (SELECT u, unnest(range(d, d + 7)) AS w FROM ud)
             |  GROUP BY 1)
             |SELECT dau.day AS day, dau.dau AS dau, wau.wau AS wau,
             |  CAST(dau.dau * 1000000 // wau.wau AS BIGINT)
             |    AS stickiness_ppm
             |FROM dau JOIN wau ON wau.day = dau.day, sp
             |WHERE dau.day >= sp.d0 + 6 AND dau.day <= sp.d1
             |ORDER BY day""".stripMargin)),

    // Capture-recapture (Lincoln-Petersen) population estimate: mark
    // the first half-window's users, recapture in the second, and
    // estimate the true active population n1·n2/m — reported beside
    // the observed distinct count so the gap reads as "users we
    // haven't even seen yet".
    Q("q339_capture_recapture",
      (s, dir) => {
        val ud = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id").as("u"),
            expr("unix_micros(ts) div 86400000000").as("d"))
          .localCheckpoint() // midpoint probe + both windows share it
        // integer midpoint: float '/' would round differently across
        // engines on odd sums (Spark cast truncates, DuckDB rounds)
        val mid = ud.agg(expr("(min(d) + max(d)) div 2").as("m"))
        val marked = ud.crossJoin(broadcast(mid))
          .select(col("u"), (col("d") <= col("m")).as("first"))
          .groupBy("u")
          .agg(max(when(col("first"), 1L).otherwise(0L)).as("in1"),
            max(when(!col("first"), 1L).otherwise(0L)).as("in2"))
        marked.agg(
            sum("in1").as("n1"), sum("in2").as("n2"),
            sum(col("in1") * col("in2")).as("overlap"),
            count(lit(1)).as("observed"))
          .select(col("n1"), col("n2"), col("overlap"), col("observed"),
            expr("n1 * n2 div nullif(overlap, 0)").as("est_population"))
      },
      Some("""WITH ud AS (SELECT user_id AS u,
             |    epoch_us(ts) // 86400000000 AS d FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |mid AS (SELECT CAST((MIN(d) + MAX(d)) // 2 AS BIGINT)
             |    AS m FROM ud),
             |mk AS (SELECT u,
             |    CAST(MAX(CASE WHEN d <= mid.m THEN 1 ELSE 0 END)
             |      AS BIGINT) AS in1,
             |    CAST(MAX(CASE WHEN d > mid.m THEN 1 ELSE 0 END)
             |      AS BIGINT) AS in2
             |  FROM ud, mid GROUP BY u)
             |SELECT CAST(SUM(in1) AS BIGINT) AS n1,
             |  CAST(SUM(in2) AS BIGINT) AS n2,
             |  CAST(SUM(in1 * in2) AS BIGINT) AS overlap,
             |  CAST(COUNT(*) AS BIGINT) AS observed,
             |  CAST(SUM(in1) * SUM(in2)
             |    // NULLIF(SUM(in1 * in2), 0) AS BIGINT)
             |    AS est_population
             |FROM mk""".stripMargin)),

    // Vocabulary richness per source: Chao1 + Good-Turing unseen
    // mass — "is this source mined out" for the curation pass.
    Q("q340_vocab_richness",
      (s, dir) => TextAnalysis.vocabularyRichness(
        Tables(s, dir, "documents")),
      Some("""WITH wc AS (SELECT source, w,
             |    CAST(COUNT(*) AS BIGINT) AS c FROM (
             |    SELECT source, unnest(string_split(text, ' ')) AS w
             |    FROM documents
             |    WHERE text IS NOT NULL AND source IS NOT NULL) t
             |  WHERE length(w) > 0 GROUP BY 1, 2)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS types,
             |  CAST(SUM(c) AS BIGINT) AS tokens,
             |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS singletons,
             |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS doubletons,
             |  CAST(COUNT(*) +
             |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             |    * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
             |    // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
             |    AS BIGINT) AS chao1_est,
             |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
             |    // SUM(c) AS BIGINT) AS gt_unseen_ppm
             |FROM wc GROUP BY source ORDER BY source"""
        .stripMargin)),

    // Discount-response table: quantity and revenue at each discount
    // level — the raw elasticity read a pricing pass starts from.
    Q("q341_discount_response",
      (s, dir) => Tables(s, dir, "lineitem")
        .where(col("l_discount").isNotNull && col("l_quantity").isNotNull)
        .groupBy(expr("cast(round(l_discount * 100) as bigint)")
          .as("discount_pct"))
        .agg(count(lit(1)).as("n_lines"),
          sum(expr("cast(round(l_quantity) as bigint)")).as("total_qty"),
          sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
            .as("revenue_c"))
        .withColumn("qty_per_line_milli",
          expr("total_qty * 1000 div n_lines"))
        .orderBy("discount_pct"),
      Some("""SELECT CAST(round(l_discount * 100) AS BIGINT)
             |    AS discount_pct,
             |  CAST(COUNT(*) AS BIGINT) AS n_lines,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
             |    AS total_qty,
             |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             |    AS BIGINT) AS revenue_c,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) * 1000
             |    // COUNT(*) AS BIGINT) AS qty_per_line_milli
             |FROM lineitem
             |WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sample-representativeness audit for q317's AQP sample: per
    // event type, population vs in-sample share (both exact ppm) and
    // the absolute gap — the "is the cheap scan allowed to stand in
    // for the full one" check, on the identical portable-hash sample.
    Q("q342_sample_representativeness",
      (s, dir) => {
        val keyed = Tables(s, dir, "events")
          .where(col("event_type").isNotNull)
          .select(col("event_type"),
            (graft.ops.Similarity.mix31Col(col("event_id")) % 10 === 0)
              .as("in_sample"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_pop"),
            sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_samp"))
          .localCheckpoint() // totals + shares share it
        val tot = keyed.agg(sum("n_pop").as("tp"), sum("n_samp").as("ts2"))
        keyed.crossJoin(broadcast(tot))
          .select(col("event_type"), col("n_pop"), col("n_samp"),
            expr("n_pop * 1000000 div tp").as("pop_share_ppm"),
            expr("n_samp * 1000000 div ts2").as("samp_share_ppm"))
          .withColumn("gap_ppm",
            abs(col("pop_share_ppm") - col("samp_share_ppm")))
          .orderBy("event_type")
      },
      Some(s"""WITH k AS (SELECT event_type,
             |    ((${QueriesPipeline.duckMix31("event_id")}) % 10 = 0)
             |      AS in_sample
             |  FROM events WHERE event_type IS NOT NULL),
             |g AS (SELECT event_type,
             |    CAST(COUNT(*) AS BIGINT) AS n_pop,
             |    CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_samp
             |  FROM k GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_pop) AS BIGINT) AS tp,
             |    CAST(SUM(n_samp) AS BIGINT) AS ts2 FROM g)
             |SELECT g.event_type AS event_type, g.n_pop AS n_pop,
             |  g.n_samp AS n_samp,
             |  CAST(g.n_pop * 1000000 // t.tp AS BIGINT)
             |    AS pop_share_ppm,
             |  CAST(g.n_samp * 1000000 // t.ts2 AS BIGINT)
             |    AS samp_share_ppm,
             |  CAST(abs(g.n_pop * 1000000 // t.tp
             |    - g.n_samp * 1000000 // t.ts2) AS BIGINT) AS gap_ppm
             |FROM g, t ORDER BY event_type""".stripMargin)),

    // Inclusion-direction audit over the schema's candidate key
    // pairs: containment ppm BOTH ways plus the implied direction —
    // q231/q290 score joinability symmetrically (Jaccard); FK
    // discovery needs the asymmetric read (child ⊆ parent).
    Q("q343_inclusion_directions",
      (s, dir) => {
        def side(df: org.apache.spark.sql.DataFrame, c: String) =
          df.select(col(c).cast("long").as("k"))
            .where(col("k").isNotNull)
        val pairs = Seq(
          ("orders.o_custkey", "customer.c_custkey",
            side(Tables(s, dir, "orders"), "o_custkey"),
            side(Tables(s, dir, "customer"), "c_custkey")),
          ("lineitem.l_partkey", "part.p_partkey",
            side(Tables(s, dir, "lineitem"), "l_partkey"),
            side(Tables(s, dir, "part"), "p_partkey")),
          ("lineitem.l_suppkey", "supplier.s_suppkey",
            side(Tables(s, dir, "lineitem"), "l_suppkey"),
            side(Tables(s, dir, "supplier"), "s_suppkey")),
          ("events.user_id", "customer.c_custkey",
            side(Tables(s, dir, "events"), "user_id"),
            side(Tables(s, dir, "customer"), "c_custkey")))
        // ONE combinable aggregate per pair instead of three count()
        // actions (the per-side distinct folds into the groupBy and
        // |a∩b| is the count of keys flagged on both sides); the four
        // pairs are independent job chains and overlap in driver
        // threads (guide §2.6) so pair 2's scan back-fills pair 1's
        // aggregate tail
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        // pool threads don't inherit the caller's job description
        // (ADVICE r14) — re-assert it per Future for attribution
        val desc = s.sparkContext.getLocalProperty("spark.job.description")
        val rows = pairs.map { case (an, bn, a, b) => Future {
          s.sparkContext.setJobDescription(desc)
          val r = a.select(col("k"), lit(1).as("ina"), lit(0).as("inb"))
            .unionAll(b.select(col("k"), lit(0).as("ina"),
              lit(1).as("inb")))
            .groupBy("k").agg(max("ina").as("a"), max("inb").as("b"))
            // coalesce: a global sum over ZERO groups is NULL — an
            // empty pair must report (0, 0, 0), not NPE (ADVICE r14)
            .agg(coalesce(sum("a").cast("long"), lit(0L)).as("n_a"),
              coalesce(sum("b").cast("long"), lit(0L)).as("n_b"),
              coalesce(sum(col("a") * col("b")).cast("long"), lit(0L))
                .as("ov"))
            .head()
          (an, bn, r.getLong(0), r.getLong(1), r.getLong(2))
        } }.map(Await.result(_, Duration.Inf))
        val sess = s
        import sess.implicits._
        rows.toDF("col_a", "col_b", "n_a", "n_b", "overlap")
          .select(col("col_a"), col("col_b"), col("n_a"), col("n_b"),
            col("overlap"),
            expr("overlap * 1000000 div n_a").as("a_in_b_ppm"),
            expr("overlap * 1000000 div n_b").as("b_in_a_ppm"))
          .withColumn("direction",
            when(expr("overlap * 1000000 div n_a") === 1000000 &&
                 expr("overlap * 1000000 div n_b") < 1000000, "a_fk_of_b")
              .when(expr("overlap * 1000000 div n_b") === 1000000 &&
                    expr("overlap * 1000000 div n_a") < 1000000,
                "b_fk_of_a")
              .when(expr("overlap * 1000000 div n_a") === 1000000,
                "bijective")
              .otherwise("partial"))
          .orderBy("col_a", "col_b")
      },
      Some("""WITH p1 AS (SELECT 'orders.o_custkey' AS col_a,
             |    'customer.c_custkey' AS col_b,
             |    (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             |      FROM orders WHERE o_custkey IS NOT NULL) AS n_a,
             |    (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
             |      FROM customer WHERE c_custkey IS NOT NULL) AS n_b,
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
             |      (SELECT DISTINCT o_custkey FROM orders
             |       WHERE o_custkey IS NOT NULL) a
             |      JOIN (SELECT DISTINCT c_custkey FROM customer) b
             |        ON b.c_custkey = a.o_custkey) AS overlap),
             |p2 AS (SELECT 'lineitem.l_partkey',
             |    'part.p_partkey',
             |    (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
             |      FROM lineitem WHERE l_partkey IS NOT NULL),
             |    (SELECT CAST(COUNT(DISTINCT p_partkey) AS BIGINT)
             |      FROM part WHERE p_partkey IS NOT NULL),
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
             |      (SELECT DISTINCT l_partkey FROM lineitem
             |       WHERE l_partkey IS NOT NULL) a
             |      JOIN (SELECT DISTINCT p_partkey FROM part) b
             |        ON b.p_partkey = a.l_partkey)),
             |p3 AS (SELECT 'lineitem.l_suppkey',
             |    'supplier.s_suppkey',
             |    (SELECT CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)
             |      FROM lineitem WHERE l_suppkey IS NOT NULL),
             |    (SELECT CAST(COUNT(DISTINCT s_suppkey) AS BIGINT)
             |      FROM supplier WHERE s_suppkey IS NOT NULL),
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
             |      (SELECT DISTINCT l_suppkey FROM lineitem
             |       WHERE l_suppkey IS NOT NULL) a
             |      JOIN (SELECT DISTINCT s_suppkey FROM supplier) b
             |        ON b.s_suppkey = a.l_suppkey)),
             |p4 AS (SELECT 'events.user_id',
             |    'customer.c_custkey',
             |    (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
             |      FROM events WHERE user_id IS NOT NULL),
             |    (SELECT CAST(COUNT(DISTINCT c_custkey) AS BIGINT)
             |      FROM customer WHERE c_custkey IS NOT NULL),
             |    (SELECT CAST(COUNT(*) AS BIGINT) FROM
             |      (SELECT DISTINCT user_id FROM events
             |       WHERE user_id IS NOT NULL) a
             |      JOIN (SELECT DISTINCT c_custkey FROM customer) b
             |        ON b.c_custkey = a.user_id)),
             |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
             |  UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
             |SELECT col_a, col_b, n_a, n_b, overlap,
             |  CAST(overlap * 1000000 // n_a AS BIGINT) AS a_in_b_ppm,
             |  CAST(overlap * 1000000 // n_b AS BIGINT) AS b_in_a_ppm,
             |  CASE
             |    WHEN overlap * 1000000 // n_a = 1000000
             |      AND overlap * 1000000 // n_b < 1000000
             |      THEN 'a_fk_of_b'
             |    WHEN overlap * 1000000 // n_b = 1000000
             |      AND overlap * 1000000 // n_a < 1000000
             |      THEN 'b_fk_of_a'
             |    WHEN overlap * 1000000 // n_a = 1000000
             |      THEN 'bijective'
             |    ELSE 'partial' END AS direction
             |FROM u ORDER BY col_a, col_b""".stripMargin)),

    // Diurnality index per type: exact goodness-of-fit of the
    // hour-of-day histogram against uniform — milli statistic
    // Σ(24·o_h − T)² / (24·T·24), high = strongly diurnal. The
    // uniform-fit complement to q192's pairwise independence test.
    Q("q344_diurnality",
      (s, dir) => {
        val hod = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("ts").isNotNull)
          .groupBy(col("event_type").as("grp"),
            expr("pmod(unix_micros(ts) div 3600000000, 24)").as("h"))
          .agg(count(lit(1)).as("o"))
        hod.groupBy("grp")
          .agg(sum("o").as("t"),
            sum(expr("cast(24 * o as decimal(20,0)) * (24 * o)"))
              .as("sq"),
            sum(expr("cast(o as decimal(20,0)) * 48")).as("lin"),
            count(lit(1)).as("hours_hit"))
          // Σ(24o−T)² = 576·Σo² − 48T·Σo + 24·T² = sq − lin·T + 24T²
          // (missing hours contribute T² each: + (24−hit)·T²)
          .select(col("grp"), col("t").as("total"), col("hours_hit"),
            expr("""cast((sq - lin * t + cast(hours_hit as decimal(20,0)) * t * t
              + (24 - hours_hit) * cast(t as decimal(20,0)) * t) * 1000
              div (cast(576 as decimal(20,0)) * t) as bigint)""")
              .as("diurnality_milli"))
          .orderBy("grp")
      },
      Some("""WITH hod AS (SELECT event_type AS grp,
             |    (epoch_us(ts) // 3600000000) % 24 AS h,
             |    CAST(COUNT(*) AS BIGINT) AS o
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |a AS (SELECT grp, CAST(SUM(o) AS BIGINT) AS t,
             |    CAST(SUM(CAST(24 * o AS HUGEINT) * (24 * o))
             |      AS HUGEINT) AS sq,
             |    CAST(SUM(CAST(o AS HUGEINT) * 48) AS HUGEINT) AS lin,
             |    CAST(COUNT(*) AS BIGINT) AS hours_hit
             |  FROM hod GROUP BY 1)
             |SELECT grp, t AS total, hours_hit,
             |  CAST((sq - lin * t + CAST(hours_hit AS HUGEINT) * t * t
             |    + (24 - hours_hit) * CAST(t AS HUGEINT) * t) * 1000
             |    // (CAST(576 AS HUGEINT) * t) AS BIGINT)
             |    AS diurnality_milli
             |FROM a ORDER BY grp""".stripMargin)),

    // Church-Gale term burstiness: collection frequency over document
    // frequency — terms that clump in few docs (cf/df high) vs evenly
    // spread function words; top 30 among established terms.
    Q("q345_term_burstiness",
      (s, dir) => {
        val occ = Tables(s, dir, "documents")
          .where(col("text").isNotNull)
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
        occ.groupBy("w")
          .agg(count(lit(1)).as("cf"),
            countDistinct(col("doc_id")).as("df"))
          .where(col("df") >= 5)
          .withColumn("burst_milli", expr("cf * 1000 div df"))
          .orderBy(col("burst_milli").desc, col("w"))
          .limit(30)
      },
      Some("""WITH occ AS (SELECT doc_id, unnest(string_split(text, ' '))
             |    AS w
             |  FROM documents WHERE text IS NOT NULL),
             |st AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cf,
             |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |  FROM occ WHERE length(w) > 0 GROUP BY 1)
             |SELECT w, cf, df,
             |  CAST(cf * 1000 // df AS BIGINT) AS burst_milli
             |FROM st WHERE df >= 5
             |ORDER BY burst_milli DESC, w LIMIT 30""".stripMargin)),

    // Streaming twin of q315: per-(type, hour) user counts maintained
    // in-stream, drained, then the SAME breadth-without-depth tail —
    // q315's oracle verbatim.
    Q("q346_stream_spray",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline.sprayStream(
          QueriesAlert.tableStream(s, dir, "events"))
        val drained = QueriesAlert.drainToMemory(s, out.toDF(), "q346_sink",
          OutputMode.Append())
          // cumulative emissions: counts only grow — final is the max
          .groupBy("t", "h", "u").agg(max("c").as("c"))
        Security.sprayFromPerUser(drained)
      },
      Some(SprayOracle)),

    // Supplier-concentration risk per part: the top supplier's share
    // of shipped quantity, single-source flag — the supply-chain
    // fragility read. Top 50 most concentrated among multi-line parts.
    Q("q347_supplier_concentration",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val perSupp = Tables(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
          .agg(sum(expr("cast(round(l_quantity) as bigint)")).as("q"))
        val byPart = Window.partitionBy("pk")
        perSupp
          .withColumn("total_q", sum(col("q")).over(byPart))
          .withColumn("n_suppliers", count(lit(1)).over(byPart))
          .withColumn("rn", row_number().over(
            byPart.orderBy(col("q").desc, col("sk"))))
          .where(col("rn") === 1 && col("total_q") >= 50)
          .select(col("pk").as("p_partkey"), col("n_suppliers"),
            col("total_q"), col("sk").as("top_suppkey"),
            expr("q * 1000000 div total_q").as("top_share_ppm"),
            (col("n_suppliers") === 1).as("single_source"))
          .orderBy(col("top_share_ppm").desc, col("p_partkey"))
          .limit(50)
      },
      Some("""WITH ps AS (SELECT l_partkey AS pk, l_suppkey AS sk,
             |    CAST(SUM(CAST(round(l_quantity) AS BIGINT))
             |      AS BIGINT) AS q
             |  FROM lineitem GROUP BY 1, 2),
             |w AS (SELECT pk, sk, q,
             |    CAST(SUM(q) OVER (PARTITION BY pk) AS BIGINT)
             |      AS total_q,
             |    CAST(COUNT(*) OVER (PARTITION BY pk) AS BIGINT)
             |      AS n_suppliers,
             |    ROW_NUMBER() OVER (PARTITION BY pk
             |      ORDER BY q DESC, sk) AS rn
             |  FROM ps)
             |SELECT pk AS p_partkey, n_suppliers, total_q,
             |  sk AS top_suppkey,
             |  CAST(q * 1000000 // total_q AS BIGINT)
             |    AS top_share_ppm,
             |  n_suppliers = 1 AS single_source
             |FROM w WHERE rn = 1 AND total_q >= 50
             |ORDER BY top_share_ppm DESC, p_partkey LIMIT 50"""
        .stripMargin)),

    // Dead-SKU report: parts with real history but zero sales in the
    // trailing 30 days — ranked by the volume now going nowhere.
    Q("q348_dead_skus",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_partkey").as("pk"),
            expr("unix_micros(l_shipdate) div 86400000000").as("d"),
            expr("cast(round(l_quantity) as bigint)").as("q"))
          .localCheckpoint() // horizon probe + per-part fold share it
        val mx = li.agg(max("d").as("dmax"))
        li.crossJoin(broadcast(mx))
          .groupBy("pk")
          .agg(sum("q").as("hist_qty"), max("d").as("last_day"),
            max("dmax").as("dmax"))
          .where(col("last_day") <= col("dmax") - 30 &&
            col("hist_qty") >= 100)
          .select(col("pk").as("p_partkey"), col("hist_qty"),
            (col("dmax") - col("last_day")).as("days_silent"))
          .orderBy(col("hist_qty").desc, col("p_partkey"))
          .limit(50)
      },
      Some("""WITH li AS (SELECT l_partkey AS pk,
             |    epoch_us(l_shipdate) // 86400000000 AS d,
             |    CAST(round(l_quantity) AS BIGINT) AS q
             |  FROM lineitem),
             |mx AS (SELECT MAX(d) AS dmax FROM li),
             |f AS (SELECT pk, CAST(SUM(q) AS BIGINT) AS hist_qty,
             |    MAX(d) AS last_day, MAX(mx.dmax) AS dmax
             |  FROM li, mx GROUP BY pk)
             |SELECT pk AS p_partkey, hist_qty,
             |  CAST(dmax - last_day AS BIGINT) AS days_silent
             |FROM f
             |WHERE last_day <= dmax - 30 AND hist_qty >= 100
             |ORDER BY hist_qty DESC, p_partkey LIMIT 50"""
        .stripMargin)),

    // STREAMING sequence parity (tests/test_alerts.py:345-435's
    // threshold→deadman scenario) through the N-slot transformWithState
    // chain end-to-end: slot 0 trips on the 3rd purchase per user
    // (event-time order, id tiebreak), slot 1 is a deadman over the
    // 7-day window after the trip — ≤1 follow-up error completes the
    // sequence when the watermark passes the deadline. The emitted
    // row carries the RENDERED slot-1 criteria (cross-slot template
    // resolved to the slot-0 value — the reference's
    // `assert "bitwarden" in criteria` shape) and the final summary,
    // whose `{{slots.0.metadata.count}}` is the threshold that tripped
    // slot 0 (the batch engine's slot doc) and
    // `{{slots.1.metadata.count}}` the deadman window count. The
    // oracle restates the full state machine relationally, including
    // the watermark gate (max event time − 10 min, floored to the ms
    // timer clock): a sequence whose window is still open at
    // end-of-stream must NOT emit. The spec lives in SeqTwins; every
    // call drains it in an AvailableNow query of its own.
    Q("q350_stream_sequence",
      (s, dir) => SeqTwins.drain(s, dir, "q350")
        .orderBy("value"),
      Some("""WITH ev AS (SELECT * FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_id IS NOT NULL),
             |wm AS (SELECT (epoch_us(MAX(ts)) // 1000
             |    - 600000) * 1000 AS wm_us FROM events
             |  WHERE ts IS NOT NULL),
             |p AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM ev WHERE event_type = 'purchase'),
             |t0 AS (SELECT user_id, us AS t0_us FROM p WHERE rn = 3),
             |fired AS (SELECT t0.user_id, t0.t0_us FROM t0, wm
             |  WHERE t0.t0_us + 604800000000 <= wm.wm_us),
             |b AS (SELECT f.user_id, f.t0_us,
             |    CAST(COUNT(e.event_id) AS BIGINT) AS b_cnt
             |  FROM fired f
             |  LEFT JOIN ev e ON e.user_id = f.user_id
             |    AND e.event_type = 'error'
             |    AND epoch_us(e.ts) > f.t0_us
             |    AND epoch_us(e.ts) <= f.t0_us + 604800000000
             |  GROUP BY 1, 2)
             |SELECT 'purchases_then_quiet' AS alert_name,
             |  CAST(b.user_id AS VARCHAR) AS value,
             |  CAST(b.t0_us AS BIGINT) AS t0_us,
             |  CAST(b.t0_us AS BIGINT) AS t_last_us,
             |  b.b_cnt AS dm_count,
             |  'event_type=''error'' AND user_id='''
             |    || CAST(b.user_id AS VARCHAR) || '''' AS criteria,
             |  '3 purchases by ' || CAST(b.user_id AS VARCHAR)
             |    || ' with only ' || CAST(b.b_cnt AS VARCHAR)
             |    || ' follow-up errors' AS summary
             |FROM b
             |WHERE b.b_cnt <= 1
             |ORDER BY value""".stripMargin)),

    // MIDDLE-position deadman in the streaming N-slot chain (the
    // batch engine allows deadman slots anywhere, alerta.py:310-316):
    // 3 purchases → a 3-day quiet window with ≤2 errors (trips AT the
    // window end; >2 aborts the sequence) → 2 clicks complete. The
    // oracle restates the whole chain: rn=3 purchase, windowed error
    // count filter, rn=2 click after the window end, finalization
    // gate t2 < watermark.
    Q("q358_stream_sequence_middm",
      (s, dir) => SeqTwins.drain(s, dir, "q358")
        .orderBy("value"),
      Some("""WITH ev AS (SELECT * FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_id IS NOT NULL),
             |wm AS (SELECT (epoch_us(MAX(ts)) // 1000
             |    - 600000) * 1000 AS wm_us FROM events
             |  WHERE ts IS NOT NULL),
             |p AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM ev WHERE event_type = 'purchase'),
             |t0 AS (SELECT user_id, us AS t0_us FROM p WHERE rn = 3),
             |dm AS (SELECT t0.user_id, t0.t0_us,
             |    t0.t0_us + 259200000000 AS t1_us,
             |    CAST(COUNT(e.event_id) AS BIGINT) AS err_cnt
             |  FROM t0 LEFT JOIN ev e ON e.user_id = t0.user_id
             |    AND e.event_type = 'error'
             |    AND epoch_us(e.ts) > t0.t0_us
             |    AND epoch_us(e.ts) <= t0.t0_us + 259200000000
             |  GROUP BY 1, 2, 3),
             |ok AS (SELECT * FROM dm WHERE err_cnt <= 2),
             |c AS (SELECT ok.user_id, ok.t0_us, ok.err_cnt,
             |    epoch_us(e.ts) AS us,
             |    ROW_NUMBER() OVER (PARTITION BY ok.user_id
             |      ORDER BY e.ts, e.event_id) AS rn
             |  FROM ok JOIN ev e ON e.user_id = ok.user_id
             |    AND e.event_type = 'click'
             |    AND epoch_us(e.ts) > ok.t1_us
             |    AND epoch_us(e.ts) <= ok.t0_us + 1209600000000),
             |t2 AS (SELECT user_id, t0_us, err_cnt, us AS t2_us
             |  FROM c WHERE rn = 2)
             |SELECT 'buy_quiet_click' AS alert_name,
             |  CAST(t2.user_id AS VARCHAR) AS value,
             |  CAST(t2.t0_us AS BIGINT) AS t0_us,
             |  CAST(t2.t2_us AS BIGINT) AS t_last_us,
             |  CAST(0 AS BIGINT) AS dm_count,
             |  'event_type=''click'' AND user_id='''
             |    || CAST(t2.user_id AS VARCHAR) || '''' AS criteria,
             |  CAST(t2.err_cnt AS VARCHAR)
             |    || ' errors in the quiet window for '
             |    || CAST(t2.user_id AS VARCHAR) AS summary
             |FROM t2, wm WHERE t2.t2_us < wm.wm_us
             |ORDER BY value""".stripMargin)),

    // CCNet-style head/middle/tail perplexity buckets: per language,
    // best-first by the q90 LM score, split at 1/3 and 2/3 of
    // cumulative TOKEN mass. Integer-exact; the oracle restates the
    // score pipeline plus the per-language running-mass window.
    Q("q357_ccnet_buckets",
      (s, dir) => graft.ops.Curation.ccnetBuckets(
        Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             |          FROM documents WHERE text IS NOT NULL),
             |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             |           i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
             |       FROM w WHERE len(ws) >= 2),
             |o AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
             |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM o GROUP BY 1, 2),
             |cp AS (SELECT w1, COUNT(*) AS cp FROM o GROUP BY 1),
             |sc AS (SELECT o.doc_id, (cb.cb*1000000)//cp.cp AS ppm
             |       FROM o JOIN cb USING (w1, w2) JOIN cp USING (w1)),
             |lm AS (SELECT doc_id, CAST(SUM(ppm)//COUNT(*) AS BIGINT)
             |         AS lm_ppm
             |       FROM sc GROUP BY 1),
             |j AS (SELECT lm.doc_id, d.lang, lm.lm_ppm,
             |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS toks
             |      FROM lm JOIN documents d ON d.doc_id = lm.doc_id),
             |c AS (SELECT doc_id, lang, lm_ppm, toks,
             |    SUM(toks) OVER (PARTITION BY lang
             |      ORDER BY lm_ppm DESC, doc_id
             |      ROWS UNBOUNDED PRECEDING) AS cum,
             |    SUM(toks) OVER (PARTITION BY lang) AS total
             |  FROM j)
             |SELECT doc_id, lang, lm_ppm, toks,
             |  CASE WHEN cum*3 <= total THEN 'head'
             |       WHEN cum*3 <= total*2 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM c ORDER BY doc_id""".stripMargin)),

    // Sliding-window chunker (window 64, stride 48 — overlapping
    // context windows, the RAG/pretraining shape): map-side explode,
    // exact token spans; the oracle regenerates every chunk.
    Q("q355_chunk_sliding",
      (s, dir) => graft.ops.Curation.chunkSliding(
        Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents WHERE text IS NOT NULL AND len(string_split(text,' ')) >= 1),
             |ch AS (SELECT doc_id, ci,
             |    array_to_string(w[ci*48+1 : ci*48+64], ' ') AS chunk_text,
             |    LEAST(64, len(w) - ci*48) AS n_toks
             |  FROM t, UNNEST(range(0, (len(w)-1)//48 + 1)) AS u(ci))
             |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
             |  CAST(ci*48 AS BIGINT) AS start_tok,
             |  CAST(n_toks AS BIGINT) AS n_toks, chunk_text
             |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Gopher-style WITHIN-doc repetition profile (top-n-gram mass and
    // repeated-n-gram mass per doc, exact permille) — the curation
    // gate that flags looping/template text before training. The
    // oracle recomputes every n-gram position relationally.
    Q("q354_intra_repetition",
      (s, dir) => graft.ops.Curation.intraDocRepetition(
        Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents WHERE text IS NOT NULL),
             |g AS (
             |  SELECT doc_id, 2 AS n, w[i] || ' ' || w[i+1] AS gram
             |  FROM t, UNNEST(range(1, len(w))) AS u(i)
             |  WHERE len(w) >= 2
             |  UNION ALL
             |  SELECT doc_id, 3, w[i] || ' ' || w[i+1] || ' ' || w[i+2]
             |  FROM t, UNNEST(range(1, len(w) - 1)) AS u(i)
             |  WHERE len(w) >= 3),
             |c AS (SELECT doc_id, n, gram, COUNT(*) AS c
             |  FROM g GROUP BY 1, 2, 3),
             |m AS (SELECT doc_id, n, SUM(c) AS pos, MAX(c) AS top,
             |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
             |  FROM c GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(MAX(CASE WHEN n=2 THEN top END) AS BIGINT) AS top2,
             |  CAST(MAX(CASE WHEN n=2 THEN (top*1000)//pos END) AS BIGINT)
             |    AS top2_permille,
             |  CAST(MAX(CASE WHEN n=2 THEN (dup*1000)//pos END) AS BIGINT)
             |    AS dup2_permille,
             |  CAST(MAX(CASE WHEN n=3 THEN (top*1000)//pos END) AS BIGINT)
             |    AS top3_permille,
             |  CAST(MAX(CASE WHEN n=3 THEN (dup*1000)//pos END) AS BIGINT)
             |    AS dup3_permille
             |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Presto-dialect breadth, second batch — pins the round-5 shim
    // additions (regexp_like, json_size, array_agg, map_agg) in the
    // DRIVER's oracle gate, not only ScalaTest (the spec-only path
    // shipped a broken json_size once). The json_size predicate is
    // data-dependent — `[7,7,...]` built per row must measure
    // user_id%4+1 elements or the row vanishes and the hash diverges;
    // map_agg's first-win-by-(k,v) dedup makes element_at('click')
    // the MIN event_id among clicks, restated with a FILTERed MIN.
    Q("q351_presto_dialect2",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
                |  array_join(sort_array(array_agg(event_type)), ',') AS types,
                |  element_at(map_agg(event_type, event_id), 'click') AS click_min_id,
                |  CAST(MAX(json_size(props, '$')) AS BIGINT) AS props_keys
                |FROM events
                |WHERE regexp_like(event_type, '^(click|view|purchase)$')
                |  AND json_size(
                |        concat('[', array_join(
                |          repeat('7,', CAST(user_id % 4 AS INT)), ''), '7]'),
                |        '$') = CAST(user_id % 4 AS INT) + 1
                |  AND user_id IS NOT NULL AND event_id IS NOT NULL
                |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  string_agg(event_type, ',' ORDER BY event_type) AS types,
             |  MIN(event_id) FILTER (WHERE event_type = 'click') AS click_min_id,
             |  CAST(MAX(CASE
             |    WHEN props IS NULL OR NOT json_valid(props) THEN NULL
             |    WHEN json_type(props) = 'OBJECT' THEN len(json_keys(props))
             |    WHEN json_type(props) = 'ARRAY' THEN json_array_length(props)
             |    ELSE 0 END) AS BIGINT) AS props_keys
             |FROM events
             |WHERE regexp_matches(event_type, '^(click|view|purchase)$')
             |  AND user_id IS NOT NULL AND event_id IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Temperature-scaled mixing allocation (the multilingual
    // pretraining p_i ∝ n_i^(1/T) rule at T=2, i.e. √-weights): per
    // language, exact integer weights floor(√tokens) and a
    // largest-remainder split of the 1M-token budget — Σalloc is
    // EXACTLY the budget, and the oracle replays weights, floor
    // quotas and the +1 remainders.
    Q("q365_temperature_mix",
      (s, dir) => graft.ops.Curation.temperatureMix(
        Tables(s, dir, "documents")),
      Some(s"""WITH n AS (SELECT lang AS label,
              |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
              |      AS n_tokens
              |  FROM documents
              |  WHERE lang IS NOT NULL AND text IS NOT NULL
              |  GROUP BY 1),
              |w AS (SELECT label, n_tokens,
              |    ${QueriesPipeline.duckIsqrt("n_tokens")} AS weight
              |  FROM n WHERE ${QueriesPipeline.duckIsqrt("n_tokens")} > 0),
              |tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS W FROM w),
              |base AS (SELECT label, n_tokens, weight,
              |    (1000000 * weight) // W AS a,
              |    (1000000 * weight) % W AS r
              |  FROM w, tot),
              |lv AS (SELECT CAST(1000000 - SUM(a) AS BIGINT) AS L
              |  FROM base),
              |rk AS (SELECT *, ROW_NUMBER()
              |    OVER (ORDER BY r DESC, label) AS rn FROM base)
              |SELECT label, n_tokens, CAST(weight AS BIGINT) AS weight,
              |  CAST(a + CASE WHEN rn <= lv.L THEN 1 ELSE 0 END
              |    AS BIGINT) AS alloc
              |FROM rk, lv ORDER BY label""".stripMargin)),

    // BATCH ↔ STREAMING equivalence gate for the sequence semantics:
    // the SAME 3-slot spec (5 purchases → 2 clicks → ≤2-error quiet
    // window, keyed per user over a fixed 4-user subset) runs through
    // BOTH independent implementations — the reference's batch driver
    // loop (engine.SequenceEngine, scheduled tick-by-tick by
    // SequenceReplay at event-time-exact cadence) and the streaming
    // N-slot transformWithState chain — and the result is the FULL
    // OUTER JOIN of their fired sets on (value, t0, t_last, dm_count)
    // with per-side indicators. Any divergence between the two
    // engines surfaces as a row with a false flag → row-count/hash
    // mismatch vs the oracle, which restates the chain relationally
    // and expects TRUE/TRUE everywhere. The subset covers all four
    // outcomes: complete, quiet-window abort (>2 errors), no 2nd
    // click (expiry), and never reaching slot 0.
    Q("q361_seq_batch_stream_equiv",
      (s, dir) => {
        // stream side from its own drain (SeqTwins.drain); batch
        // side is the independent driver-paced SequenceReplay, run
        // LIVE — the equivalence gate compares the two engines, so
        // only the micro-batch harness is shared, never the replay.
        val spec = SeqTwins.spec("q361")
        val streamDf = SeqTwins.drain(s, dir, "q361")
          .select(col("value"), col("t0_us"), col("t_last_us"),
            col("dm_count"))
          .withColumn("in_stream", lit(true))
        val ev = Tables(s, dir, "events")
        val fired = graft.engine.SequenceReplay.run(s, ev, spec)
        // same drain-horizon gate the streaming side lives under: a
        // sequence whose window is still open at the final watermark
        // (max ts − 10 min, ms-floored) must not count on either side
        val wmUs = (ev.agg(max(col("ts"))).head().getTimestamp(0)
          .getTime - 600000L) * 1000L
        import s.implicits._
        val batchDf = fired.filter(_.t0_us + 604800000000L <= wmUs)
          .toDF()
          .select(col("value"), col("t0_us"), col("t_last_us"),
            col("dm_count"))
          .withColumn("in_batch", lit(true))
        batchDf.join(streamDf,
          Seq("value", "t0_us", "t_last_us", "dm_count"), "full_outer")
          .select(col("value"), col("t0_us"), col("t_last_us"),
            col("dm_count"),
            coalesce(col("in_batch"), lit(false)).as("in_batch"),
            coalesce(col("in_stream"), lit(false)).as("in_stream"))
          .orderBy("value", "t0_us")
      },
      Some("""WITH ev AS (SELECT * FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_id IS NOT NULL),
             |wm AS (SELECT (epoch_us(MAX(ts)) // 1000
             |    - 600000) * 1000 AS wm_us FROM events
             |  WHERE ts IS NOT NULL),
             |p AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM ev WHERE event_type = 'purchase'
             |    AND user_id IN (3,7,11,14)
             |    AND ts < TIMESTAMP '2024-01-15'),
             |t0 AS (SELECT user_id, us AS t0_us FROM p WHERE rn = 5),
             |c AS (SELECT t0.user_id, t0.t0_us, epoch_us(e.ts) AS us,
             |    ROW_NUMBER() OVER (PARTITION BY t0.user_id
             |      ORDER BY e.ts, e.event_id) AS rn
             |  FROM t0 JOIN ev e ON e.user_id = t0.user_id
             |    AND e.event_type = 'click'
             |    AND epoch_us(e.ts) > t0.t0_us
             |    AND epoch_us(e.ts) <= t0.t0_us + 604800000000),
             |t1 AS (SELECT user_id, t0_us, us AS t1_us
             |  FROM c WHERE rn = 2),
             |dm AS (SELECT t1.user_id, t1.t0_us, t1.t1_us,
             |    CAST(COUNT(e.event_id) AS BIGINT) AS err_cnt
             |  FROM t1 LEFT JOIN ev e ON e.user_id = t1.user_id
             |    AND e.event_type = 'error'
             |    AND epoch_us(e.ts) > t1.t1_us
             |    AND epoch_us(e.ts) <= t1.t0_us + 604800000000
             |  GROUP BY 1, 2, 3)
             |SELECT CAST(dm.user_id AS VARCHAR) AS value,
             |  CAST(dm.t0_us AS BIGINT) AS t0_us,
             |  CAST(dm.t1_us AS BIGINT) AS t_last_us,
             |  dm.err_cnt AS dm_count,
             |  TRUE AS in_batch, TRUE AS in_stream
             |FROM dm, wm
             |WHERE dm.err_cnt <= 2
             |  AND dm.t0_us + 604800000000 <= wm.wm_us
             |ORDER BY value, t0_us""".stripMargin)),

    // Presto-dialect breadth, third batch: generic TRY(expr) (runtime
    // error → NULL — distinct from TRY_CAST) and the 3-arg
    // date_add('unit', n, ts) through the full rewrite path (the text
    // is Presto; Criteria.rewrite lowers date_add to timestampadd
    // because Spark's parser claims the name). Both are
    // data-dependent: the CASE cast succeeds only for even user_ids,
    // the TINYINT cast overflows (ANSI throw → TRY → NULL) exactly
    // for user_id > 127, and the shift amount is user_id % 24 hours.
    // to_unixtime keeps the timestamp compare engine-portable (µs /
    // 1e6 in IEEE double on both sides).
    Q("q362_presto_dialect3",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  SUM(TRY(CAST(CASE WHEN user_id % 2 = 0
            |      THEN CAST(user_id AS VARCHAR) ELSE event_type END
            |    AS INTEGER))) AS even_sum,
            |  MAX(TRY(CAST(user_id AS TINYINT))) AS small_id,
            |  MAX(to_unixtime(
            |    date_add('hour', CAST(user_id % 24 AS INTEGER), ts))) AS shifted
            |FROM events
            |WHERE user_id IS NOT NULL AND ts IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  CAST(SUM(TRY_CAST(CASE WHEN user_id % 2 = 0
             |      THEN CAST(user_id AS VARCHAR) ELSE event_type END
             |    AS INTEGER)) AS BIGINT) AS even_sum,
             |  MAX(TRY_CAST(user_id AS TINYINT)) AS small_id,
             |  MAX(CAST(epoch_us(ts + (user_id % 24) * INTERVAL 1 HOUR)
             |    AS DOUBLE) / 1000000.0) AS shifted
             |FROM events
             |WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Presto-dialect breadth, fourth batch: lambda matchers
    // (any_match/all_match/none_match), starts_with,
    // levenshtein_distance, the dow/doy/week part shorthands, the
    // from_unixtime TIMESTAMP shadow (Spark's builtin formats a
    // string), bitwise function forms, and the
    // to_hex(sha256(to_utf8(s))) binary idiom — all data-dependent
    // per user and restated exactly in DuckDB.
    Q("q364_presto_dialect4",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  SUM(CASE WHEN any_match(split(event_type, 'i'),
            |      x -> length(x) > 2) THEN 1 ELSE 0 END) AS am,
            |  SUM(CASE WHEN none_match(split(event_type, 'i'),
            |      x -> x = 'cl') THEN 1 ELSE 0 END) AS nm,
            |  SUM(CASE WHEN starts_with(event_type, 'c')
            |      THEN 1 ELSE 0 END) AS sw,
            |  CAST(MAX(levenshtein_distance(event_type, 'click'))
            |    AS BIGINT) AS lev,
            |  MIN(to_hex(sha256(to_utf8(event_type)))) AS h,
            |  MAX(CAST(dow(ts) AS BIGINT)) AS mdow,
            |  MAX(CAST(doy(ts) AS BIGINT)) AS mdoy,
            |  MAX(CAST(week(ts) AS BIGINT)) AS mweek,
            |  CAST(bitwise_and(MAX(user_id), 12) AS BIGINT) AS band,
            |  MAX(to_unixtime(from_unixtime(user_id * 3600))) AS rt
            |FROM events
            |WHERE user_id IS NOT NULL AND ts IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  CAST(SUM(CASE WHEN len(list_filter(
             |      string_split(event_type, 'i'),
             |      x -> length(x) > 2)) > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS am,
             |  CAST(SUM(CASE WHEN len(list_filter(
             |      string_split(event_type, 'i'),
             |      x -> x = 'cl')) = 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS nm,
             |  CAST(SUM(CASE WHEN starts_with(event_type, 'c')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS sw,
             |  CAST(MAX(levenshtein(event_type, 'click')) AS BIGINT)
             |    AS lev,
             |  MIN(upper(sha256(event_type))) AS h,
             |  MAX(CAST(isodow(ts) AS BIGINT)) AS mdow,
             |  MAX(CAST(dayofyear(ts) AS BIGINT)) AS mdoy,
             |  MAX(CAST(weekofyear(ts) AS BIGINT)) AS mweek,
             |  CAST((MAX(user_id) & 12) AS BIGINT) AS band,
             |  CAST(MAX(user_id * 3600) AS DOUBLE) AS rt
             |FROM events
             |WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // 3-SLOT streaming sequence through the N-slot chain processor
    // (the reference's sequences are N-slot, alerta.py:274-317): 3
    // purchases trip slot 0, then 2 clicks inside the 7-day sequence
    // window trip slot 1, then a deadman watches errors in
    // (t1, t0+7d] — ≤1 completes when the watermark passes the
    // deadline. Slot families are DERIVED from each slot's criteria
    // (template-bearing conjuncts stripped); the emitted row carries
    // the rendered slot-2 criteria embedding slot-1's value. The
    // oracle restates the chain relationally: rn=3 purchase, rn=2
    // in-window click, window error count, ms-floored watermark gate.
    Q("q352_stream_sequence3",
      (s, dir) => SeqTwins.drain(s, dir, "q352")
        .orderBy("value"),
      Some("""WITH ev AS (SELECT * FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_id IS NOT NULL),
             |wm AS (SELECT (epoch_us(MAX(ts)) // 1000
             |    - 600000) * 1000 AS wm_us FROM events
             |  WHERE ts IS NOT NULL),
             |p AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS rn
             |  FROM ev WHERE event_type = 'purchase'),
             |t0 AS (SELECT user_id, us AS t0_us FROM p WHERE rn = 3),
             |c AS (SELECT t0.user_id, t0.t0_us, epoch_us(e.ts) AS us,
             |    ROW_NUMBER() OVER (PARTITION BY t0.user_id
             |      ORDER BY e.ts, e.event_id) AS rn
             |  FROM t0 JOIN ev e ON e.user_id = t0.user_id
             |    AND e.event_type = 'click'
             |    AND epoch_us(e.ts) > t0.t0_us
             |    AND epoch_us(e.ts) <= t0.t0_us + 604800000000),
             |t1 AS (SELECT user_id, t0_us, us AS t1_us
             |  FROM c WHERE rn = 2),
             |fired AS (SELECT t1.* FROM t1, wm
             |  WHERE t1.t0_us + 604800000000 <= wm.wm_us),
             |b AS (SELECT f.user_id, f.t0_us, f.t1_us,
             |    CAST(COUNT(e.event_id) AS BIGINT) AS b_cnt
             |  FROM fired f
             |  LEFT JOIN ev e ON e.user_id = f.user_id
             |    AND e.event_type = 'error'
             |    AND epoch_us(e.ts) > f.t1_us
             |    AND epoch_us(e.ts) <= f.t0_us + 604800000000
             |  GROUP BY 1, 2, 3)
             |SELECT 'buy_click_then_quiet' AS alert_name,
             |  CAST(user_id AS VARCHAR) AS value,
             |  CAST(t0_us AS BIGINT) AS t0_us,
             |  CAST(t1_us AS BIGINT) AS t_last_us,
             |  b_cnt AS dm_count,
             |  'event_type=''error'' AND user_id='''
             |    || CAST(user_id AS VARCHAR) || '''' AS criteria,
             |  '3 purchases, 2 clicks, then only '
             |    || CAST(b_cnt AS VARCHAR) || ' errors for '
             |    || CAST(user_id AS VARCHAR) AS summary
             |FROM b WHERE b_cnt <= 1
             |ORDER BY value""".stripMargin)),

    // Gopher quality-rule bundle (Rae et al. 2021 §A1.1.2) with
    // per-rule verdicts and a drop-reason bitmask — every metric is
    // exact integer arithmetic (micro-unit floors), so the oracle
    // restates the full bundle including the mask composition.
    // minStopHits=1 so the required-word rule actually discriminates
    // on this corpus (its vocabulary carries 'the'/'of'/'and'/'to'
    // unevenly); the remaining thresholds are the paper's.
    Q("q366_gopher_rules",
      (s, dir) => graft.ops.TextAnalysis.gopherRules(
        Tables(s, dir, "documents"), minStopHits = 1L),
      Some("""WITH w AS (SELECT doc_id, text,
             |    string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |m AS (SELECT doc_id,
             |    CAST(len(ws) AS BIGINT) AS n_words,
             |    CAST(list_sum(list_transform(ws, x -> length(x)))
             |      AS BIGINT) AS word_chars,
             |    CAST(2 * length(text)
             |      - length(replace(text, '#', ''))
             |      - length(replace(text, '…', '')) AS BIGINT)
             |      AS sym_cnt,
             |    CAST(len(list_filter(ws,
             |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
             |      AS alpha_cnt,
             |    CAST(len(list_filter(
             |      ['the','be','to','of','and','that','have','with'],
             |      x -> list_contains(ws, x))) AS BIGINT) AS stop_hits
             |  FROM w),
             |p AS (SELECT doc_id, n_words,
             |    (word_chars * 1000000) // n_words AS mwl_ppm,
             |    (sym_cnt * 1000000) // n_words AS sym_ppm,
             |    (alpha_cnt * 1000000) // n_words AS alpha_ppm,
             |    stop_hits
             |  FROM m),
             |f AS (SELECT *,
             |    (CASE WHEN n_words BETWEEN 20 AND 1000
             |       THEN 0 ELSE 1 END)
             |  + (CASE WHEN mwl_ppm BETWEEN 3000000 AND 10000000
             |       THEN 0 ELSE 2 END)
             |  + (CASE WHEN sym_ppm <= 100000 THEN 0 ELSE 4 END)
             |  + (CASE WHEN alpha_ppm >= 800000 THEN 0 ELSE 8 END)
             |  + (CASE WHEN stop_hits >= 1 THEN 0 ELSE 16 END)
             |    AS fail_mask
             |  FROM p)
             |SELECT doc_id, n_words, mwl_ppm, sym_ppm, alpha_ppm,
             |  stop_hits, CAST(fail_mask AS BIGINT) AS fail_mask,
             |  fail_mask = 0 AS keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    // FUZZY benchmark decontamination, hash-verified END TO END like
    // q22: the oracle recomputes the portable minhash signatures,
    // band keys and the CROSS-corpus candidate join relationally for
    // both sides (corpus = doc_id%5≠0, eval = %5=0 — q47's split),
    // then the exact-Jaccard micro-unit verify and the per-doc
    // verdict aggregation. The oracle checks the ALGORITHM (banding
    // included), not an empirical recall claim; the verify join uses
    // shingle STRINGS where the kernel uses 64-bit hashes (identical
    // counts absent collisions — the q21/q22 contract).
    Q("q367_fuzzy_decontaminate",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.ops.Curation.fuzzyDecontaminate(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0))
      },
      Some {
        def mhSide(p: String): String = {
          val h37 = """list_reduce(list_prepend(CAST(0 AS BIGINT),
            |      list_transform(string_split(s, ''),
            |        c -> CAST(unicode(c) AS BIGINT))),
            |      (a, b) -> (a * 37 + b) % 2147483647)""".stripMargin
          s"""${p}mh AS (SELECT doc_id, s,
             |    $h37 AS h37
             |  FROM ${p}sh),
             |${p}yy AS (SELECT doc_id,
             |    ${QueriesPipeline.duckMix31("h37")} AS y FROM ${p}mh),
             |${p}sig AS (SELECT doc_id, i,
             |    MIN(${QueriesPipeline.duckMix31("y + i")}) AS m
             |  FROM ${p}yy CROSS JOIN
             |    (SELECT unnest(range(0, 16)) AS i) xs
             |  GROUP BY 1, 2),
             |${p}bands AS (SELECT doc_id, i // 4 AS band,
             |    list_reduce(list_prepend(CAST(i // 4 AS BIGINT),
             |        list(m ORDER BY i)),
             |      (a, b) -> (a * 1103515245 + b) % 2147483648) AS bh
             |  FROM ${p}sig GROUP BY doc_id, i // 4)""".stripMargin
        }
        s"""WITH corpus AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id % 5 <> 0),
           |evals AS (SELECT doc_id, text FROM documents
           |  WHERE doc_id % 5 = 0),
           |${QueriesPipeline.duckShingles("c", "corpus")},
           |${QueriesPipeline.duckShingles("e", "evals")},
           |${mhSide("c")},
           |${mhSide("e")},
           |cand AS (SELECT DISTINCT c.doc_id AS doc_id,
           |    e.doc_id AS eval_id
           |  FROM cbands c JOIN ebands e
           |    ON c.band = e.band AND c.bh = e.bh),
           |pairs AS (SELECT cd.doc_id, cd.eval_id,
           |    COUNT(*) AS inter
           |  FROM cand cd
           |  JOIN csh a ON a.doc_id = cd.doc_id
           |  JOIN esh b ON b.doc_id = cd.eval_id AND b.s = a.s
           |  GROUP BY 1, 2),
           |j AS (SELECT p.doc_id, p.eval_id,
           |    (p.inter * 1000000) // (sa.n + sb.n - p.inter)
           |      AS jac_ppm
           |  FROM pairs p
           |  JOIN csz sa ON sa.doc_id = p.doc_id
           |  JOIN esz sb ON sb.doc_id = p.eval_id
           |  WHERE (p.inter * 1000000) // (sa.n + sb.n - p.inter)
           |    >= 500000)
           |SELECT doc_id,
           |  CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           |  CAST(MIN(eval_id) AS BIGINT) AS eval_hit,
           |  CAST(MAX(jac_ppm) AS BIGINT) AS best_jac_ppm
           |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin
      }),

    // Presto-dialect breadth, fifth batch — the silent-divergence
    // set: literal-delimiter split (Spark's builtin reads '.' as
    // regex-any and would explode to characters), MySQL-token
    // date_format/date_parse (Spark's date_format would render the
    // literal text "%Y"), ngrams composition, and hamming_distance.
    // All data-dependent per user; DuckDB restates split via
    // string_split (literal there too) and the MySQL tokens via
    // strftime/strptime's C tokens (%i minute ↔ %M, %s second ↔ %S).
    Q("q368_presto_dialect5",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MAX(cardinality(split(
            |    event_type || '.' || CAST(user_id AS VARCHAR), '.')))
            |    AS nparts,
            |  MIN(element_at(split(
            |    event_type || '.' || CAST(user_id AS VARCHAR), '.'), 1))
            |    AS head_part,
            |  MAX(date_format(ts, '%Y-%m-%dT%H:%i')) AS last_minute,
            |  MAX(to_unixtime(date_parse(
            |    date_format(ts, '%Y-%m-%d %H:%i:%s'),
            |    '%Y-%m-%d %H:%i:%s'))) AS rt,
            |  MAX(array_join(element_at(ngrams(split(
            |    event_type || '.z.' || CAST(user_id AS VARCHAR), '.'),
            |    2), 2), '-')) AS g2,
            |  CAST(SUM(hamming_distance(substr(event_type, 1, 3),
            |    substr(reverse(event_type), 1, 3))) AS BIGINT) AS hd
            |FROM events
            |WHERE user_id IS NOT NULL AND ts IS NOT NULL
            |  AND event_type IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  CAST(MAX(len(string_split(
             |    event_type || '.' || CAST(user_id AS VARCHAR), '.')))
             |    AS INTEGER) AS nparts,
             |  MIN(string_split(
             |    event_type || '.' || CAST(user_id AS VARCHAR), '.')[1])
             |    AS head_part,
             |  MAX(strftime(ts, '%Y-%m-%dT%H:%M')) AS last_minute,
             |  MAX(CAST(epoch_us(date_trunc('second', ts)) AS DOUBLE)
             |    / 1000000.0) AS rt,
             |  MAX(array_to_string(list_slice(string_split(
             |    event_type || '.z.' || CAST(user_id AS VARCHAR), '.'),
             |    2, 3), '-')) AS g2,
             |  CAST(SUM(hamming(substr(event_type, 1, 3),
             |    substr(reverse(event_type), 1, 3))) AS BIGINT) AS hd
             |FROM events
             |WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |  AND event_type IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Eval-side contamination report (GPT-3 appendix-C shape): per
    // EVAL doc, what fraction of its distinct 3-grams the corpus
    // contains — the complement of q20/q367's corpus-side verdicts.
    // Exact integer ppm, fully restated relationally.
    Q("q369_contamination_overlap",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.ops.Curation.contaminationOverlap(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0))
      },
      Some("""WITH ew AS (SELECT doc_id AS eval_id,
             |    string_split(text, ' ') AS ws FROM documents
             |  WHERE doc_id % 5 = 0 AND text IS NOT NULL),
             |cw AS (SELECT string_split(text, ' ') AS ws
             |  FROM documents
             |  WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
             |eg AS (SELECT DISTINCT eval_id,
             |    array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
             |  FROM (SELECT eval_id, ws, generate_subscripts(ws, 1) AS i
             |        FROM ew) t
             |  WHERE i + 2 <= len(ws)),
             |cg AS (SELECT DISTINCT
             |    array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
             |  FROM (SELECT ws, generate_subscripts(ws, 1) AS i
             |        FROM cw) t
             |  WHERE i + 2 <= len(ws)),
             |hit AS (SELECT DISTINCT eg.gram
             |  FROM eg JOIN cg USING (gram))
             |SELECT eval_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_grams,
             |  CAST(COUNT(h.gram) AS BIGINT) AS hit_grams,
             |  CAST((COUNT(h.gram) * 1000000) // COUNT(*) AS BIGINT)
             |    AS overlap_ppm,
             |  ((COUNT(h.gram) * 1000000) // COUNT(*)) >= 100000
             |    AS dirty
             |FROM eg LEFT JOIN hit h ON h.gram = eg.gram
             |GROUP BY eval_id ORDER BY eval_id""".stripMargin)),

    // C4-style duplicate-span REMOVAL (q153/dupSpanStats reports;
    // this rewrites): global first-occurrence-wins on 8-token spans,
    // every later occurrence removed together with the tokens it
    // covers. The oracle replays the first-occurrence table (min by
    // lexicographic (doc_id, pos) — no arithmetic key encoding, so
    // million-token docs can't collide), the coverage explode and
    // the ordered text rebuild.
    Q("q370_remove_dup_spans",
      (s, dir) => graft.ops.Curation.removeDupSpans(
        Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |pos AS (SELECT doc_id, ws,
             |    generate_subscripts(ws, 1) AS i FROM t),
             |g AS (SELECT doc_id, i AS pos,
             |    array_to_string(list_slice(ws, i, i + 7), ' ') AS gram
             |  FROM pos WHERE i + 7 <= len(ws)),
             |f AS (SELECT gram, doc_id AS fd, pos AS fp FROM (
             |    SELECT g.*, row_number() OVER (
             |      PARTITION BY gram ORDER BY doc_id, pos) AS rn
             |    FROM g) t
             |  WHERE rn = 1),
             |d AS (SELECT g.doc_id, g.pos
             |  FROM g JOIN f USING (gram)
             |  WHERE NOT (g.doc_id = f.fd AND g.pos = f.fp)),
             |rp AS (SELECT DISTINCT * FROM (SELECT doc_id,
             |    unnest(range(pos, pos + 8)) AS p FROM d) u),
             |tok AS (SELECT doc_id, i AS p, ws[i] AS tok FROM pos),
             |kept AS (SELECT tok.* FROM tok
             |  ANTI JOIN rp USING (doc_id, p)),
             |agg AS (SELECT doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_kept,
             |    string_agg(tok, ' ' ORDER BY p) AS kept_text
             |  FROM kept GROUP BY 1)
             |SELECT t.doc_id,
             |  CAST(len(ws) AS BIGINT) AS n_tokens,
             |  COALESCE(agg.n_kept, 0) AS n_kept,
             |  CAST(len(ws) AS BIGINT) - COALESCE(agg.n_kept, 0)
             |    AS n_removed,
             |  COALESCE(agg.kept_text, '') AS kept_text
             |FROM t LEFT JOIN agg USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),

    // Streaming benchmark-decontamination gate: the corpus side of
    // q369's split arrives as a STREAM and every doc sharing a
    // 3-gram with the static eval set is flagged map-only (the eval
    // gram table rides the plan as a literal — no join, no state).
    // Output matches the batch decontaminate contract; the oracle
    // restates the distinct-shared-gram counts and earliest eval id.
    Q("q371_stream_decontaminate",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val evals = Tables(s, dir, "documents")
          .where(col("doc_id") % 5 === 0)
        val stream = QueriesAlert.tableStream(s, dir, "documents")
          .where(col("doc_id") % 5 =!= 0)
        val out = graft.streaming.StreamingPipeline
          .decontaminateStream(stream, evals)
        QueriesAlert.drainToMemory(s, out, "q371_sink",
          OutputMode.Append()).orderBy("doc_id")
      },
      Some("""WITH ew AS (SELECT doc_id AS eval_id,
             |    string_split(text, ' ') AS ws FROM documents
             |  WHERE doc_id % 5 = 0 AND text IS NOT NULL),
             |cw AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents
             |  WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
             |eg AS (SELECT DISTINCT eval_id,
             |    array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
             |  FROM (SELECT eval_id, ws, generate_subscripts(ws, 1) AS i
             |        FROM ew) t
             |  WHERE i + 2 <= len(ws)),
             |cg AS (SELECT DISTINCT doc_id,
             |    array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
             |  FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i
             |        FROM cw) t
             |  WHERE i + 2 <= len(ws)),
             |j AS (SELECT cg.doc_id, cg.gram,
             |    MIN(eg.eval_id) AS e
             |  FROM cg JOIN eg USING (gram) GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS hit_shingles,
             |  CAST(MIN(e) AS BIGINT) AS eval_hit
             |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Bloom-prefiltered decontamination: Spark's runtime-filter
    // sketch as an explicit map-only gram gate in front of the exact
    // verify join. False positives die at the verify, so the output
    // is EXACTLY the q371 contract — which is why an approximate
    // structure can still carry a full oracle (the same restatement).
    Q("q372_bloom_decontaminate",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.ops.Curation.bloomDecontaminate(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0))
      },
      Some("""WITH ew AS (SELECT doc_id AS eval_id,
             |    string_split(text, ' ') AS ws FROM documents
             |  WHERE doc_id % 5 = 0 AND text IS NOT NULL),
             |cw AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents
             |  WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
             |eg AS (SELECT DISTINCT eval_id,
             |    array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
             |  FROM (SELECT eval_id, ws, generate_subscripts(ws, 1) AS i
             |        FROM ew) t
             |  WHERE i + 2 <= len(ws)),
             |cg AS (SELECT DISTINCT doc_id,
             |    array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
             |  FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i
             |        FROM cw) t
             |  WHERE i + 2 <= len(ws)),
             |j AS (SELECT cg.doc_id, cg.gram,
             |    MIN(eg.eval_id) AS e
             |  FROM cg JOIN eg USING (gram) GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(COUNT(*) AS BIGINT) AS hit_shingles,
             |  CAST(MIN(e) AS BIGINT) AS eval_hit
             |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // Epoch allocation under a token budget (the data-constrained
    // scaling question): greedy by halving marginal value, boundary
    // pick partial. Pure integer planning table — the oracle replays
    // candidates, the value ordering, the running cost and the clamp.
    Q("q373_epoch_allocation",
      (s, dir) => graft.ops.Curation.epochAllocation(
        Tables(s, dir, "documents"), budgetTokens = 60000L),
      Some("""WITH s AS (SELECT source AS src,
             |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             |      AS n_tokens
             |  FROM documents
             |  WHERE text IS NOT NULL AND source IS NOT NULL
             |  GROUP BY 1),
             |c AS (SELECT src, n_tokens, CAST(e AS INTEGER) AS epoch,
             |    n_tokens * (CAST(1 AS BIGINT) << (8 - e))
             |      AS value_scaled
             |  FROM s CROSS JOIN
             |    (SELECT unnest(range(1, 9)) AS e) xs),
             |w AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
             |      ORDER BY value_scaled DESC, src, epoch
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |    0) AS BIGINT) AS cum_before FROM c)
             |SELECT src, n_tokens, epoch, value_scaled, cum_before,
             |  CAST(GREATEST(0, LEAST(n_tokens, 60000 - cum_before))
             |    AS BIGINT) AS alloc_tokens
             |FROM w
             |WHERE GREATEST(0, LEAST(n_tokens, 60000 - cum_before)) > 0
             |ORDER BY value_scaled DESC, src, epoch""".stripMargin)),

    // q366's Gopher rule bundle applied AT CRAWL TIME: the documents
    // table arrives as a stream and the gate scores each row
    // map-only (no join, no state). Same oracle as the batch bundle —
    // the two implementations are pinned to each other through it.
    Q("q374_stream_gopher_gate",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val stream = QueriesAlert.tableStream(s, dir, "documents")
        val out = graft.streaming.StreamingPipeline
          .gopherGateStream(stream, minStopHits = 1L)
        QueriesAlert.drainToMemory(s, out, "q374_sink",
          OutputMode.Append()).orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, text,
             |    string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |m AS (SELECT doc_id,
             |    CAST(len(ws) AS BIGINT) AS n_words,
             |    CAST(list_sum(list_transform(ws, x -> length(x)))
             |      AS BIGINT) AS word_chars,
             |    CAST(2 * length(text)
             |      - length(replace(text, '#', ''))
             |      - length(replace(text, '…', '')) AS BIGINT)
             |      AS sym_cnt,
             |    CAST(len(list_filter(ws,
             |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
             |      AS alpha_cnt,
             |    CAST(len(list_filter(
             |      ['the','be','to','of','and','that','have','with'],
             |      x -> list_contains(ws, x))) AS BIGINT) AS stop_hits
             |  FROM w),
             |p AS (SELECT doc_id, n_words,
             |    (word_chars * 1000000) // n_words AS mwl_ppm,
             |    (sym_cnt * 1000000) // n_words AS sym_ppm,
             |    (alpha_cnt * 1000000) // n_words AS alpha_ppm,
             |    stop_hits
             |  FROM m),
             |f AS (SELECT *,
             |    (CASE WHEN n_words BETWEEN 20 AND 1000
             |       THEN 0 ELSE 1 END)
             |  + (CASE WHEN mwl_ppm BETWEEN 3000000 AND 10000000
             |       THEN 0 ELSE 2 END)
             |  + (CASE WHEN sym_ppm <= 100000 THEN 0 ELSE 4 END)
             |  + (CASE WHEN alpha_ppm >= 800000 THEN 0 ELSE 8 END)
             |  + (CASE WHEN stop_hits >= 1 THEN 0 ELSE 16 END)
             |    AS fail_mask
             |  FROM p)
             |SELECT doc_id, n_words, mwl_ppm, sym_ppm, alpha_ppm,
             |  stop_hits, CAST(fail_mask AS BIGINT) AS fail_mask,
             |  fail_mask = 0 AS keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    // Pairwise source-overlap audit: exact vocabulary Jaccard and
    // both directed containments per source pair — the mixture
    // designer's near-copy detector. The oracle restates the
    // distinct (source, gram) projection and every ratio.
    Q("q375_source_overlap",
      (s, dir) => graft.ops.Curation.sourceOverlapMatrix(
        Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT source AS src,
             |    string_split(text, ' ') AS ws FROM documents
             |  WHERE text IS NOT NULL AND source IS NOT NULL),
             |sg AS (SELECT DISTINCT src,
             |    array_to_string(list_slice(ws, i, i + 2), ' ') AS gram
             |  FROM (SELECT src, ws, generate_subscripts(ws, 1) AS i
             |        FROM w) t
             |  WHERE i + 2 <= len(ws) AND len(ws) >= 3),
             |sz AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_grams
             |  FROM sg GROUP BY 1),
             |p AS (SELECT a.src AS src_a, b.src AS src_b,
             |    CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM sg a JOIN sg b
             |    ON a.gram = b.gram AND a.src < b.src
             |  GROUP BY 1, 2)
             |SELECT src_a, src_b,
             |  za.n_grams AS na, zb.n_grams AS nb, inter,
             |  CAST((inter * 1000000)
             |    // (za.n_grams + zb.n_grams - inter) AS BIGINT)
             |    AS jaccard_ppm,
             |  CAST((inter * 1000000) // za.n_grams AS BIGINT)
             |    AS contain_a_ppm,
             |  CAST((inter * 1000000) // zb.n_grams AS BIGINT)
             |    AS contain_b_ppm
             |FROM p
             |JOIN sz za ON za.src = p.src_a
             |JOIN sz zb ON zb.src = p.src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // Wordpiece fertility by pure relational Viterbi: vocab = all
    // single chars + top-512 2..4-grams ranked by weighted count,
    // per-word min-(cost, pieces) DP as ONE Catalyst aggregate fold —
    // no UDF anywhere. The oracle replays the vocab ranking, the
    // candidate spans and the identical encoded fold via list_reduce.
    Q("q376_wordpiece_fertility",
      (s, dir) => graft.ops.TextAnalysis.wordpieceFertility(
        Tables(s, dir, "documents")),
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |wstream AS (SELECT doc_id, w AS word
             |  FROM (SELECT doc_id, unnest(ws) AS w FROM base) t
             |  WHERE length(w) BETWEEN 1 AND 32),
             |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt,
             |    CAST(length(word) AS BIGINT) AS len
             |  FROM wstream GROUP BY 1),
             |spans AS (SELECT word, wcnt, len, s, l,
             |    substring(word, CAST(s + 1 AS INTEGER),
             |      CAST(l AS INTEGER)) AS piece
             |  FROM (SELECT word, wcnt, len,
             |        unnest(range(0, len)) AS s FROM wc) t
             |  CROSS JOIN (SELECT unnest(range(1, 5)) AS l) u
             |  WHERE s + l <= len),
             |gram AS (SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS cnt
             |  FROM spans GROUP BY 1),
             |vocab AS (SELECT piece,
             |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)
             |      AS BIGINT) AS cost
             |  FROM (SELECT piece, cnt FROM gram WHERE length(piece) = 1
             |        UNION ALL
             |        SELECT piece, cnt FROM
             |          (SELECT piece, cnt FROM gram
             |           WHERE length(piece) >= 2
             |           ORDER BY cnt DESC, piece LIMIT 512) m) v),
             |cands AS (SELECT s.word, s.len,
             |    list(struct_pack(e := s.s + s.l, s := s.s,
             |      cost := v.cost)) AS cands
             |  FROM spans s JOIN vocab v ON v.piece = s.piece
             |  GROUP BY s.word, s.len),
             |dp AS (SELECT word,
             |    list_reduce(
             |      list_prepend([CAST(0 AS BIGINT)],
             |        list_transform(range(1, len + 1),
             |          i -> [CAST(i AS BIGINT)])),
             |      (a, b) -> list_append(a,
             |        list_min(list_transform(
             |          list_filter(cands, c -> c.e = b[1]),
             |          c -> a[CAST(c.s + 1 AS INTEGER)]
             |            + c.cost * 64 + 1))))[-1] AS combined
             |  FROM cands),
             |perdoc AS (SELECT w.doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_words,
             |    CAST(SUM(d.combined // 64) AS BIGINT) AS total_cost,
             |    CAST(SUM(d.combined % 64) AS BIGINT) AS n_pieces
             |  FROM wstream w JOIN dp d USING (word) GROUP BY 1)
             |SELECT b.doc_id,
             |  COALESCE(p.n_words, 0) AS n_words,
             |  COALESCE(p.total_cost, 0) AS total_cost,
             |  COALESCE(p.n_pieces, 0) AS n_pieces
             |FROM (SELECT DISTINCT doc_id FROM base) b
             |LEFT JOIN perdoc p USING (doc_id)
             |ORDER BY b.doc_id""".stripMargin)),

    // Self-referential streaming near-dup: the documents table
    // streams through LSH banding and every doc is verified against
    // the EARLIEST occupant of each of its band buckets. One-batch
    // drain → representative = min doc id per bucket, which the
    // oracle restates with q22's portable-minhash banding machinery
    // (verify join on shingle STRINGS — the q21/q22 collision
    // contract) and integer-micro Jaccard.
    Q("q377_stream_self_dedup",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val stream = QueriesAlert.tableStream(s, dir, "documents")
        val out = graft.streaming.StreamingPipeline
          .selfDedupStream(stream)
        QueriesAlert.drainToMemory(s, out.toDF(), "q377_sink",
          OutputMode.Append()).orderBy("doc_id", "c_id", "band")
      },
      Some(s"""WITH ${QueriesPipeline.duckShingles("", "documents")},
              |mh AS (SELECT doc_id, s,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(s, ''),
              |        c -> CAST(unicode(c) AS BIGINT))),
              |      (a, b) -> (a * 37 + b) % 2147483647) AS h37
              |  FROM sh),
              |yy AS (SELECT doc_id, ${QueriesPipeline.duckMix31("h37")}
              |    AS y FROM mh),
              |sig AS (SELECT doc_id, i,
              |    MIN(${QueriesPipeline.duckMix31("y + i")}) AS m
              |  FROM yy CROSS JOIN
              |    (SELECT unnest(range(0, 16)) AS i) xs
              |  GROUP BY 1, 2),
              |bands AS (SELECT doc_id, CAST(i // 4 AS INTEGER) AS band,
              |    list_reduce(list_prepend(CAST(i // 4 AS BIGINT),
              |        list(m ORDER BY i)),
              |      (a, b) -> (a * 1103515245 + b) % 2147483648) AS bh
              |  FROM sig GROUP BY doc_id, i // 4),
              |reps AS (SELECT band, bh, MIN(doc_id) AS rep
              |  FROM bands GROUP BY 1, 2),
              |cand AS (SELECT b.doc_id, r.rep AS c_id, b.band
              |  FROM bands b JOIN reps r
              |    ON r.band = b.band AND r.bh = b.bh
              |      AND b.doc_id > r.rep),
              |pairs AS (SELECT c.doc_id, c.c_id, c.band,
              |    COUNT(*) AS inter
              |  FROM cand c
              |  JOIN sh a ON a.doc_id = c.doc_id
              |  JOIN sh b ON b.doc_id = c.c_id AND b.s = a.s
              |  GROUP BY 1, 2, 3)
              |SELECT p.doc_id, p.c_id, p.band,
              |  CAST((inter * 1000000) // (sa.n + sb.n - inter)
              |    AS BIGINT) AS jac_micro
              |FROM pairs p
              |JOIN sz sa ON sa.doc_id = p.doc_id
              |JOIN sz sb ON sb.doc_id = p.c_id
              |WHERE (inter * 1000000) // (sa.n + sb.n - inter)
              |  >= 500000
              |ORDER BY p.doc_id, p.c_id, p.band""".stripMargin)),

    // Presto-dialect breadth, sixth batch — registered via the r8
    // no-shadow mechanism (colliding names go presto_* through
    // Criteria.rewrite; array_sort/json_array_length/regexp_like
    // resolve to Spark's IDENTICAL builtins, nothing registered):
    // mixed-case TRY_CAST, array_sort with a comparator lambda,
    // json_array_length on array/object/malformed inputs, and the
    // from_iso8601_timestamp round-trip through MySQL-token
    // date_format.
    Q("q378_presto_dialect6",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MIN(TRY_CAST(event_type AS INTEGER)) AS tc_bad,
            |  MAX(Try_Cast(CAST(user_id AS VARCHAR) AS INTEGER))
            |    AS tc_ok,
            |  array_join(array_sort(array_distinct(array_agg(event_type)),
            |    (x, y) -> IF(x < y, 1, IF(x = y, 0, -1))), ',')
            |    AS types_desc,
            |  CAST(SUM(CASE WHEN regexp_like(event_type, '^(click|view)$')
            |    THEN 1 ELSE 0 END) AS BIGINT) AS likes,
            |  MAX(to_unixtime(from_iso8601_timestamp(
            |    date_format(ts, '%Y-%m-%dT%H:%i:%s') || 'Z'))) AS rt,
            |  MAX(json_array_length(CASE CAST(user_id % 3 AS INTEGER)
            |    WHEN 0 THEN '[1]' WHEN 1 THEN '[1,2]'
            |    ELSE '[1,2,3]' END)) AS jal,
            |  MIN(json_array_length('{"a":1}')) AS jal_obj
            |FROM events
            |WHERE user_id IS NOT NULL AND ts IS NOT NULL
            |  AND event_type IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  MIN(TRY_CAST(event_type AS INTEGER)) AS tc_bad,
             |  MAX(TRY_CAST(CAST(user_id AS VARCHAR) AS INTEGER))
             |    AS tc_ok,
             |  array_to_string(list_sort(list_distinct(list(event_type)),
             |    'DESC'), ',') AS types_desc,
             |  CAST(SUM(CASE WHEN regexp_matches(event_type,
             |    '^(click|view)$') THEN 1 ELSE 0 END) AS BIGINT) AS likes,
             |  MAX(CAST(epoch_us(date_trunc('second', ts)) AS DOUBLE)
             |    / 1000000.0) AS rt,
             |  MAX(CAST(user_id % 3 AS INTEGER) + 1) AS jal,
             |  CAST(NULL AS INTEGER) AS jal_obj
             |FROM events
             |WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |  AND event_type IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Competence-based curriculum ordering: linear length-binned
    // difficulty bands, easy-first rank within band (prefix-sum scan,
    // not a per-band window), round-robin interleave across bands
    // into one global training order. The oracle replays the binning,
    // the (n_tokens, doc_id) rank and the interleave arithmetic.
    Q("q379_curriculum_order",
      (s, dir) => graft.ops.Curation.curriculumOrder(
        Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |  FROM documents WHERE text IS NOT NULL),
             |m AS (SELECT MAX(n_tokens) AS mx FROM t),
             |b AS (SELECT doc_id, n_tokens,
             |    CAST(LEAST(3, (n_tokens * 4) // (mx + 1)) AS INTEGER)
             |      AS band
             |  FROM t CROSS JOIN m),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY band ORDER BY n_tokens, doc_id)
             |      AS band_rank FROM b)
             |SELECT doc_id, n_tokens, band,
             |  CAST(band_rank AS BIGINT) AS band_rank,
             |  CAST((band_rank - 1) * 4 + band AS BIGINT)
             |    AS curriculum_pos
             |FROM r ORDER BY curriculum_pos""".stripMargin)),

    // Interpolated Kneser-Ney bigram scoring: the standard LM
    // smoothing in exact integer micro arithmetic — discounted MLE
    // term plus continuation-probability backoff, every division a
    // floor in a fixed order, so the oracle replays every ppm bit
    // for bit (same discipline as q90's raw-MLE twin).
    Q("q380_kneser_ney_score",
      (s, dir) => graft.ops.TextAnalysis.knBigramScore(
        Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |o AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
             |  FROM (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i
             |        FROM t) x
             |  WHERE i + 1 <= len(ws)),
             |cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
             |  FROM o GROUP BY 1, 2),
             |cp AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cp
             |  FROM o GROUP BY 1),
             |n1w AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1w
             |  FROM cb GROUP BY 1),
             |n1c AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1c
             |  FROM cb GROUP BY 1),
             |nbd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nbd FROM cb),
             |p AS (SELECT o.doc_id,
             |    (GREATEST(cb.cb * 1000000 - 750000, 0) // cp.cp)
             |    + (((750000 * n1w.n1w // cp.cp)
             |        * (n1c.n1c * 1000000 // nbd.nbd)) // 1000000)
             |      AS ppm
             |  FROM o JOIN cb USING (w1, w2) JOIN cp USING (w1)
             |  JOIN n1w USING (w1) JOIN n1c USING (w2) CROSS JOIN nbd)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS kn_ppm
             |FROM p GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // URL canonicalization + URL-keyed dedup (the crawl-pipeline
    // pre-pass): eight deterministic messy variants — case-varied
    // scheme/host, default ports, tracking params, reordered query,
    // fragments, a '?' HIDING INSIDE a fragment, percent-encoded
    // unreserved chars (%61→a, %7E/%7e→~), and reserved escapes in
    // two hex casings (%2f vs %2F) — must collapse to their RFC-3986
    // canonical keys (scheme difference keeps http distinct). The
    // oracle is the STRONG form: it states the expected canonical
    // string outright rather than replaying the parser.
    Q("q381_url_canonical_dedup",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull)
          .withColumn("m", col("user_id") % 10)
          .withColumn("url", expr(
            """CASE CAST(user_id % 8 AS INT)
              |  WHEN 0 THEN 'https://Ex.com/t/' || event_type
              |    || '?b=' || m || '&a=1'
              |  WHEN 1 THEN 'HTTPS://EX.com:443/t/' || event_type
              |    || '?a=1&utm_source=mail&b=' || m
              |  WHEN 2 THEN 'https://ex.com:443/t/' || event_type
              |    || '?utm_campaign=x&b=' || m || '&a=1#frag'
              |  WHEN 3 THEN 'http://ex.com:80/t/' || event_type
              |    || '?a=1&b=' || m
              |  WHEN 4 THEN 'https://ex.com/t/' || event_type
              |    || '?%61=1&b=' || m
              |  WHEN 5 THEN 'https://ex.com/t/' || event_type
              |    || '#f?not=query&b=' || m
              |  WHEN 6 THEN 'https://ex.com/%7Ehome/' || event_type
              |    || '?x=%2fv&b=' || m
              |  ELSE 'https://ex.com/%7ehome/' || event_type
              |    || '?x=%2Fv&b=' || m END""".stripMargin))
        graft.ops.Curation.urlKeyDedup(ev)
      },
      Some("""WITH c AS (SELECT event_id AS id,
             |    CASE
             |      WHEN user_id % 8 = 3 THEN 'http://ex.com/t/'
             |        || event_type || '?a=1&b=' || (user_id % 10)
             |      WHEN user_id % 8 = 5 THEN 'https://ex.com/t/'
             |        || event_type
             |      WHEN user_id % 8 IN (6, 7) THEN
             |        'https://ex.com/~home/' || event_type
             |        || '?b=' || (user_id % 10) || '&x=%2Fv'
             |      ELSE 'https://ex.com/t/' || event_type
             |        || '?a=1&b=' || (user_id % 10)
             |    END AS canonical_url
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
             |k AS (SELECT canonical_url, MIN(id) AS keeper_id
             |  FROM c GROUP BY 1)
             |SELECT c.id, c.canonical_url, k.keeper_id,
             |  c.id <> k.keeper_id AS is_dup
             |FROM c JOIN k USING (canonical_url)
             |ORDER BY c.id""".stripMargin)),

    // Streaming crawl front gate: q381's messy URL variants arrive as
    // a STREAM, a domain blocklist kills the tracker variant map-only,
    // and canonical-key dedup passes one arrival per canonical URL.
    // Which physical row survives a one-batch drain is nondeterministic
    // (dropDuplicates keeps the first seen), so the output projects to
    // the canonical-key SET — exactly q54's dedup-oracle discipline.
    Q("q382_stream_url_gate",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val stream = QueriesAlert.tableStream(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull)
          .withColumn("m", col("user_id") % 10)
          .withColumn("url", expr(
            """CASE CAST(user_id % 4 AS INT)
              |  WHEN 0 THEN 'https://Ex.com/t/' || event_type
              |    || '?b=' || m || '&a=1'
              |  WHEN 1 THEN 'HTTPS://EX.com:443/t/' || event_type
              |    || '?a=1&utm_source=mail&b=' || m
              |  WHEN 2 THEN 'https://ex.com:443/t/' || event_type
              |    || '?utm_campaign=x&b=' || m || '&a=1#frag'
              |  ELSE 'http://spam.tracker.net:80/t/' || event_type
              |    || '?a=1&b=' || m END""".stripMargin))
        val gated = graft.streaming.StreamingPipeline
          .urlGateStream(stream, blockedDomains = Seq("tracker.net"))
          .select("canonical_url")
        QueriesAlert.drainToMemory(s, gated, "q382_sink",
          OutputMode.Append()).orderBy("canonical_url")
      },
      Some("""SELECT DISTINCT 'https://ex.com/t/' || event_type
             |    || '?a=1&b=' || (user_id % 10) AS canonical_url
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND user_id % 4 <> 3
             |ORDER BY canonical_url""".stripMargin)),

    // Presto-dialect breadth, seventh batch — the JSON type surface
    // (json_parse canonicalizes to compact text, json_format is the
    // identity on that representation), at_timezone field shift,
    // MAP(ARRAY, ARRAY) construction via presto_map, plus the parity
    // set that needs NO shim because Spark's builtins already carry
    // Presto's semantics: map_filter, map_zip_with, array_position
    // (1-based, 0 when absent), negative-start slice, and ISO
    // date_trunc('week'). Every computed value is restated
    // arithmetically in the oracle (DuckDB's map surface differs, so
    // the oracle states what the lambda computes, not how).
    Q("q383_presto_dialect7",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MIN(json_format(json_parse(
            |    '{"u" : [1, 2],  "t" : "x"}'))) AS jnorm,
            |  CAST(MAX(hour(at_timezone(ts, '+05:30'))) AS BIGINT)
            |    AS mx_h,
            |  CAST(MAX(cardinality(map_filter(
            |    MAP(ARRAY['a','b','c'], ARRAY[0, 1, 2]),
            |    (k, v) -> v > user_id % 3))) AS BIGINT) AS mf,
            |  CAST(MAX(element_at(map_zip_with(
            |    MAP(ARRAY['a'], ARRAY[user_id % 5]),
            |    MAP(ARRAY['a'], ARRAY[2]),
            |    (k, v1, v2) -> v1 + v2), 'a')) AS BIGINT) AS mzw,
            |  CAST(SUM(array_position(ARRAY['click','view','purchase'],
            |    event_type)) AS BIGINT) AS ap,
            |  CAST(MAX(element_at(slice(ARRAY[10, 20, 30, 40],
            |    -(CAST(user_id % 3 AS INTEGER)) - 1, 2), 1))
            |    AS BIGINT) AS sl,
            |  MAX(date_trunc('week', ts)) AS wk
            |FROM events
            |WHERE user_id IS NOT NULL AND ts IS NOT NULL
            |  AND event_type IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  '{"u":[1,2],"t":"x"}' AS jnorm,
             |  CAST(MAX(hour(ts + INTERVAL 330 MINUTE)) AS BIGINT)
             |    AS mx_h,
             |  CAST(2 - user_id % 3 AS BIGINT) AS mf,
             |  CAST(user_id % 5 + 2 AS BIGINT) AS mzw,
             |  CAST(SUM(CASE event_type WHEN 'click' THEN 1
             |    WHEN 'view' THEN 2 WHEN 'purchase' THEN 3
             |    ELSE 0 END) AS BIGINT) AS ap,
             |  CAST(CASE user_id % 3 WHEN 0 THEN 40 WHEN 1 THEN 30
             |    ELSE 20 END AS BIGINT) AS sl,
             |  MAX(date_trunc('week', ts)) AS wk
             |FROM events
             |WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |  AND event_type IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // BATCH ↔ STREAMING equivalence gate for the crawl dedup front
    // (q361 pinned the sequence engines to each other; this pins the
    // ingest pipeline): ONE messy-URL corpus — canonical-key variants
    // plus a blocked-domain variant, content keyed by event_type so
    // DIFFERENT canonical URLs can carry duplicate content — runs
    // through both independent stacks: batch (blocklist filter on the
    // canonical host → urlKeyDedup keepers → exact content dedup) and
    // streaming (urlGateStream's broadcast anti-join gate + canonical-
    // key dedup → dedupStream's content-hash dedup, two chained
    // stateful operators). WHICH physical row survives each stage is
    // nondeterministic on both sides, but the surviving content SET is
    // not — so the output is the full outer join of the two content
    // sets with per-side flags, and the oracle restates the set and
    // expects TRUE/TRUE everywhere. Any gate or dedup divergence
    // surfaces as a FALSE flag → row/hash mismatch.
    Q("q384_crawl_batch_stream_equiv",
      (s, dir) => {
        // corpus subset rationale (user_id % 5 = 0): equivalence needs
        // every VARIANT CLASS, not every row — %5 is independent of
        // the %4 variant key and the %10 param key so all classes
        // survive; the full-volume dedup path is q382's gate.
        // STREAM half: gate (blocklist anti-join + canonical dedup) +
        // content-hash dedup — two chained stateful operators, drained
        // on every run
        val gated = graft.streaming.StreamingPipeline.urlGateStream(
          q384Corpus(QueriesAlert.tableStream(s, dir, "events")),
          blockedDomains = Seq("tracker.net"))
        val streamTexts = QueriesAlert.drainToMemory(s,
            graft.streaming.StreamingPipeline.dedupStream(gated)
              .select("text"),
            "q384_sink", org.apache.spark.sql.streaming.OutputMode.Append())
          .distinct().withColumn("in_stream", lit(true))
        // BATCH: same canonicalizer kernel, independent gate plumbing
        val b = q384Corpus(Tables(s, dir, "events"))
          .withColumn("canonical_url",
            graft.ops.Curation.canonicalUrl(col("url")))
        val host = regexp_extract(col("canonical_url"),
          "^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1)
        // two consumers read the gated corpus (the one-pass salted
        // window dedup, then the semi-join): checkpoint so the
        // canonicalize lineage runs once — q403's materialization
        // discipline
        val unblocked = b.where(
          !(host === "tracker.net" || host.endsWith(".tracker.net")))
          .localCheckpoint()
        val keepers = graft.ops.Curation.urlKeyDedup(unblocked)
          .where(!col("is_dup")).select(col("keeper_id").as("event_id"))
        val batchTexts = unblocked
          .join(keepers, Seq("event_id"), "left_semi")
          .select("text").distinct().withColumn("in_batch", lit(true))
        batchTexts.join(streamTexts, Seq("text"), "full_outer")
          .select(col("text"),
            coalesce(col("in_batch"), lit(false)).as("in_batch"),
            coalesce(col("in_stream"), lit(false)).as("in_stream"))
          .orderBy("text")
      },
      Some("""SELECT DISTINCT 'doc about ' || event_type AS text,
             |  TRUE AS in_batch, TRUE AS in_stream
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND user_id % 5 = 0 AND user_id % 4 <> 3
             |ORDER BY text""".stripMargin)),

    // DSIR-shaped data selection: hashed-unigram importance weights
    // from a target-vs-corpus distribution pair (add-1-smoothed
    // integer ratio, the log-free twin of the DSIR log-likelihood
    // ratio), floor-mean per doc, top-100. Target sample = doc_id ≡ 0
    // (mod 7); corpus = the rest. The oracle replays the base-37 word
    // hash, the bucket distributions, and every floor division.
    Q("q385_dsir_selection",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        graft.ops.Curation.dsirSelect(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |w AS (SELECT doc_id, unnest(ws) AS w FROM t),
             |tok AS (SELECT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(w, ''),
             |        c -> CAST(unicode(c) AS BIGINT))),
             |      (a, b) -> (a * 37 + b) % 2147483647) % 1024 AS bucket
             |  FROM w WHERE w <> ''),
             |prof AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tok GROUP BY 1, 2),
             |tc AS (SELECT bucket, SUM(c) AS tc FROM prof
             |  WHERE doc_id % 7 = 0 GROUP BY 1),
             |rc AS (SELECT bucket, SUM(c) AS rc FROM prof
             |  WHERE doc_id % 7 <> 0 GROUP BY 1),
             |b AS (SELECT unnest(range(0, 1024)) AS bucket),
             |lam AS (SELECT b.bucket,
             |    ((COALESCE(tc.tc, 0) + 1) * 1000000)
             |      // (COALESCE(rc.rc, 0) + 1) AS lam
             |  FROM b LEFT JOIN tc USING (bucket)
             |    LEFT JOIN rc USING (bucket)),
             |s AS (SELECT prof.doc_id, SUM(prof.c * lam.lam) AS sm,
             |    SUM(prof.c) AS n
             |  FROM prof JOIN lam USING (bucket)
             |  WHERE prof.doc_id % 7 <> 0 GROUP BY 1)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             |  CAST(sm // n AS BIGINT) AS score
             |FROM s ORDER BY score DESC, doc_id LIMIT 100""".stripMargin)),

    // Gopher/MassiveText repetition-removal rules, word-denominated
    // (the synthetic corpus has no line structure): most-frequent
    // word share, most-frequent-2-gram coverage, duplicate-2-gram
    // coverage, and the keep verdict. The oracle replays the gram
    // counts and every floor division.
    Q("q386_repetition_filter",
      (s, dir) => graft.ops.TextAnalysis.repetitionStats(
        Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id,
             |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |n AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words
             |  FROM t WHERE len(ws) > 0),
             |w AS (SELECT doc_id, unnest(ws) AS w FROM t),
             |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
             |tw AS (SELECT doc_id, MAX(c) AS mxw FROM wc GROUP BY 1),
             |bg AS (SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
             |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
             |        FROM t) x),
             |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2),
             |tb AS (SELECT doc_id, MAX(c) AS mxb,
             |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup
             |  FROM bc GROUP BY 1)
             |SELECT n.doc_id, n.n_words,
             |  CAST(tw.mxw * 1000000 // n.n_words AS BIGINT)
             |    AS top_word_ppm,
             |  CAST(COALESCE(tb.mxb, 0) * 2000000 // n.n_words AS BIGINT)
             |    AS top_bigram_ppm,
             |  CAST(COALESCE(tb.dup, 0) * 2000000 // n.n_words AS BIGINT)
             |    AS dup_bigram_ppm,
             |  (tw.mxw * 1000000 // n.n_words <= 300000
             |    AND COALESCE(tb.mxb, 0) * 2000000 // n.n_words <= 200000
             |    AND COALESCE(tb.dup, 0) * 2000000 // n.n_words <= 600000)
             |    AS keep
             |FROM n JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // IDN crawl ingest: a Unicode host (two case variants) and its
    // punycode twin must land on ONE canonical key once idnAsciiUrl
    // runs at ingest — canonicalUrl's documented IDN contract made
    // executable instead of a doc caveat. STRONG oracle: states the
    // expected canonical string (the RFC 3490 ToASCII form) outright.
    Q("q387_idn_host_dedup",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull)
          .withColumn("url", expr(
            """CASE CAST(user_id % 3 AS INT)
              |  WHEN 0 THEN 'https://BÜCHER.example/t/' || event_type
              |  WHEN 1 THEN 'https://bücher.example/t/' || event_type
              |  ELSE 'https://xn--bcher-kva.example/t/' || event_type
              |  END""".stripMargin))
          .withColumn("url", graft.ops.Curation.idnAsciiUrl(col("url")))
        graft.ops.Curation.urlKeyDedup(ev)
      },
      Some("""WITH c AS (SELECT event_id AS id,
             |    'https://xn--bcher-kva.example/t/' || event_type
             |      AS canonical_url
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
             |k AS (SELECT canonical_url, MIN(id) AS keeper_id
             |  FROM c GROUP BY 1)
             |SELECT c.id, c.canonical_url, k.keeper_id,
             |  c.id <> k.keeper_id AS is_dup
             |FROM c JOIN k USING (canonical_url)
             |ORDER BY c.id""".stripMargin)),

    // Streaming DSIR gate: the q385 weight table, trained batch-side
    // (target = doc_id ≡ 0 mod 7 vs the rest), broadcast into a
    // document STREAM as a primitive long[] — every arriving doc is
    // scored in one fused JVM pass and passes at score ≥ 188000
    // (the sf-stable score median: "more target-like
    // than average"). The oracle replays the weights AND the gate
    // over the whole corpus, bit for bit.
    Q("q388_stream_dsir_gate",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val docs = Tables(s, dir, "documents")
        val w = graft.ops.Curation.dsirWeights(
          docs.where(col("doc_id") % 7 =!= 0),
          docs.where(col("doc_id") % 7 === 0))
        val gated = graft.streaming.StreamingPipeline.dsirGateStream(
          QueriesAlert.tableStream(s, dir, "documents"), w,
          minScore = 188000L)
        QueriesAlert.drainToMemory(s, gated, "q388_sink",
          OutputMode.Append()).orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents WHERE text IS NOT NULL),
             |w AS (SELECT doc_id, unnest(ws) AS w FROM t),
             |tok AS (SELECT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(w, ''),
             |        c -> CAST(unicode(c) AS BIGINT))),
             |      (a, b) -> (a * 37 + b) % 2147483647) % 1024 AS bucket
             |  FROM w WHERE w <> ''),
             |prof AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM tok GROUP BY 1, 2),
             |tc AS (SELECT bucket, SUM(c) AS tc FROM prof
             |  WHERE doc_id % 7 = 0 GROUP BY 1),
             |rc AS (SELECT bucket, SUM(c) AS rc FROM prof
             |  WHERE doc_id % 7 <> 0 GROUP BY 1),
             |b AS (SELECT unnest(range(0, 1024)) AS bucket),
             |lam AS (SELECT b.bucket,
             |    ((COALESCE(tc.tc, 0) + 1) * 1000000)
             |      // (COALESCE(rc.rc, 0) + 1) AS lam
             |  FROM b LEFT JOIN tc USING (bucket)
             |    LEFT JOIN rc USING (bucket)),
             |s AS (SELECT prof.doc_id, SUM(prof.c * lam.lam) AS sm,
             |    SUM(prof.c) AS n
             |  FROM prof JOIN lam USING (bucket) GROUP BY 1)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
             |  CAST(sm // n AS BIGINT) AS score
             |FROM s WHERE sm // n >= 188000 ORDER BY doc_id""".stripMargin)),

    // Crawl-frontier politeness schedule: round-robin interleave
    // across hosts with spacing exactly H between same-host fetches —
    // the crawl-delay cadence as a total ordering. The oracle replays
    // the host dense-index, the within-host rank and the interleave
    // arithmetic.
    Q("q389_crawl_frontier",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull)
          .withColumn("host", concat(lit("h"),
            (col("user_id") % 20).cast("string"), lit(".example")))
        graft.ops.Curation.frontierSchedule(ev, "host", "event_id")
      },
      Some("""WITH c AS (SELECT event_id AS id,
             |    'h' || (user_id % 20) || '.example' AS host
             |  FROM events WHERE user_id IS NOT NULL),
             |hi AS (SELECT host,
             |    CAST(ROW_NUMBER() OVER (ORDER BY host) - 1 AS BIGINT)
             |      AS host_index
             |  FROM (SELECT DISTINCT host FROM c)),
             |hc AS (SELECT CAST(COUNT(*) AS BIGINT) AS h FROM hi),
             |r AS (SELECT id, host, CAST(ROW_NUMBER() OVER (
             |    PARTITION BY host ORDER BY id) AS BIGINT)
             |      AS rank_in_host
             |  FROM c)
             |SELECT r.id, r.host, hi.host_index, r.rank_in_host,
             |  (r.rank_in_host - 1) * hc.h + hi.host_index AS fetch_pos
             |FROM r JOIN hi USING (host) CROSS JOIN hc
             |ORDER BY fetch_pos""".stripMargin)),

    // Presto-dialect breadth, eighth batch — the REGEX silent-
    // divergence set: 2-arg regexp_extract[/_all] means GROUP 0 in
    // Presto but group 1 in Spark (the wrong-text-extracted class),
    // 2-arg regexp_replace deletes matches, repeat builds an ARRAY,
    // last_day_of_month. DuckDB's regexp_extract is already group-0
    // so the oracle states most of it directly (regexp_replace needs
    // the 'g' flag — DuckDB defaults to first-match-only).
    Q("q390_presto_dialect8",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MIN(regexp_extract(event_type, '^([a-z])[a-z]*')) AS re0,
            |  MIN(regexp_extract(event_type, '^([a-z])([a-z]+)', 2))
            |    AS re2,
            |  MIN(array_join(regexp_extract_all(event_type, '[aeiou]'),
            |    '')) AS vowels,
            |  MIN(regexp_replace(event_type, '[aeiou]')) AS consonants,
            |  MIN(array_join(repeat(event_type, 2), '|')) AS rep2,
            |  CAST(MAX(last_day_of_month(ts)) AS VARCHAR) AS eom
            |FROM events
            |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            |  AND ts IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  MIN(regexp_extract(event_type, '^([a-z])[a-z]*')) AS re0,
             |  MIN(regexp_extract(event_type, '^([a-z])([a-z]+)', 2))
             |    AS re2,
             |  MIN(array_to_string(regexp_extract_all(event_type,
             |    '[aeiou]'), '')) AS vowels,
             |  MIN(regexp_replace(event_type, '[aeiou]', '', 'g'))
             |    AS consonants,
             |  MIN(event_type || '|' || event_type) AS rep2,
             |  CAST(MAX(last_day(ts)) AS VARCHAR) AS eom
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND ts IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)))

  /** q403's multi-stateful-operator stream half, drained by the q403
    * body on every run.
    */
  private def q403StreamBranch(s: SparkSession, dir: String): DataFrame = {
    val rules = q403Rules(s)
    val allowedS = graft.streaming.StreamingPipeline.robotsGateStream(
      q403Corpus(QueriesAlert.tableStream(s, dir, "events")), rules,
      agent = "graftbot", urlCol = "url", idCol = "event_id",
      keep = Seq("url", "ts", "event_type", "m", "w"))
    // trap gate BEFORE dedup: a frontier refuses trap URLs before
    // spending state on them (stream-static broadcast anti-join)
    val untrappedS = graft.ops.Curation.trapGate(allowedS, q403Traps(s))
    val gatedS = graft.streaming.StreamingPipeline.urlGateStream(
      untrappedS, Seq("tracker.net"), urlCol = "url", tsCol = "ts",
      delay = "10 minutes")
    graft.streaming.StreamingPipeline.recrawlStatsStream(
      q403FetchLog(gatedS), urlCol = "url_key", tsCol = "fts",
      contentCol = "content_hash").toDF()
  }

  /** q403's shared kernels — one definition each for the stream
    * branch and the batch half (the equivalence pin's whole point).
    */
  private def q403Corpus(df: DataFrame): DataFrame = {
    val urlExpr =
      """CASE CAST(user_id % 4 AS INT)
        |  WHEN 0 THEN 'https://Ex.com/p/' || event_type || '/'
        |    || m || '?w=' || w || '&a=1'
        |  WHEN 1 THEN 'HTTPS://EX.com/p/' || event_type || '/'
        |    || m || '?a=1&utm_source=mail&w=' || w
        |  WHEN 2 THEN 'https://ex.com/cal/' || m || '/' || w
        |    || '?sid=' || event_id || '#frag'
        |  ELSE 'http://spam.tracker.net/p/' || event_type || '/'
        |    || m || '?w=' || w || '&a=1' END""".stripMargin
    df.where(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull && col("event_id").isNotNull &&
        col("event_id") % 50 === 0)
      .withColumn("m", col("user_id") % 10)
      .withColumn("w", expr(
        "CAST(unix_micros(ts) DIV 3600000000 AS BIGINT)"))
      .withColumn("url", expr(urlExpr))
  }

  private def q403Rules(s: SparkSession): DataFrame = {
    import s.implicits._
    val robots = Seq(("ex.com",
      "User-agent: graftbot\nDisallow: /p/purchase\n\n" +
        "User-agent: *\nDisallow: /\n")).toDF("host", "body")
    // rules is a bounded planning table consumed by BOTH engines:
    // materialize its window+collect_list derivation once per use site
    graft.ops.Curation.parseRobots(robots).localCheckpoint()
  }

  private def q403Traps(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("ex.com/cal/<n>/<n>", true)).toDF("template", "is_trap")
  }

  private def q403FetchLog(df: DataFrame): DataFrame = df
    .withColumn("url_key",
      (col("m") * 131L + length(col("event_type"))).cast("long"))
    .withColumn("fts", timestamp_micros(col("w") * 3600000000L))
    .withColumn("content_hash", concat(col("url_key").cast("string"),
      lit("-"), pmod(col("w"), lit(3L)).cast("string")))

  // ── fourth batch: robots gate, priority sampling, window chunking ──

  private def fourthBatch: Seq[Q] = Seq(
    // RFC 9309 robots.txt gate over a synthesized per-host robots
    // corpus (comments, CRLF-free mixed-case fields, multi-UA group
    // heads, '*' wildcards, '$' anchors, empty Disallow, specific-
    // agent precedence). STRONG oracle: it does NOT restate the
    // parse/match machinery — it states the expected verdict per
    // (host-class, path) directly from the generating arithmetic, so
    // a parse or precedence bug cannot cancel out.
    Q("q391_robots_gate",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_id").cast("long").as("id"),
            col("event_type").as("et"),
            (col("user_id") % 50).cast("long").as("hi"),
            (col("event_id") % 20).cast("long").as("k"))
        val urls = e.select(col("id"),
          concat(lit("https://h"), col("hi"), lit(".example.com/"),
            col("et"), lit("/"), col("k")).as("url"))
        val m = col("hi") % 4
        val hosts = e.select(col("hi")).distinct()
          .select(concat(lit("h"), col("hi"), lit(".example.com"))
            .as("host"),
            when(m === 0, lit("User-Agent: *\nDisallow: /purchase" +
              " # keep the archive light\nAllow: /purchase/1*\n"))
            .when(m === 1, lit("# graftbot gets its own group\n" +
              "user-agent: graftbot\ndisallow: /view$\n\n" +
              "User-agent: *\nDisallow: /\n"))
            .when(m === 2, lit("User-agent: graftbot\n" +
              "User-agent: otherbot\nDisallow: /*/7\nAllow: /click\n"))
            .otherwise(lit("User-agent: *\nDisallow:\n")).as("body"))
        val rules = Curation.parseRobots(hosts)
        Curation.robotsGate(urls, rules, agent = "graftbot")
      },
      Some("""WITH e AS (
             |  SELECT CAST(event_id AS BIGINT) AS id, event_type AS et,
             |    CAST(user_id % 50 AS BIGINT) AS hi,
             |    CAST(event_id % 20 AS BIGINT) AS k
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
             |    AND event_type IS NOT NULL),
             |v AS (
             |  SELECT id, 'h' || hi || '.example.com' AS host,
             |    '/' || et || '/' || k AS target, hi % 4 AS m, et, k
             |  FROM e)
             |SELECT id, host, target,
             |  CASE
             |    WHEN m = 0 THEN (et <> 'purchase') OR k = 1 OR k >= 10
             |    WHEN m = 1 THEN TRUE
             |    WHEN m = 2 THEN (k <> 7) OR et = 'click'
             |    ELSE TRUE END AS allowed,
             |  CASE
             |    WHEN m = 0 AND et = 'purchase' THEN
             |      CASE WHEN k = 1 OR k >= 10 THEN 12 ELSE 9 END
             |    WHEN m = 2 AND et = 'click' THEN 6
             |    WHEN m = 2 AND k = 7 THEN 4
             |    ELSE NULL END AS win_len
             |FROM v ORDER BY id""".stripMargin)),

    // Priority sampling (Duffield–Lund–Thorup): deterministic
    // weight-sensitive k-per-stratum draw + Horvitz–Thompson
    // adjusted weights. Oracle recomputes the mix31 draw, the
    // priority (one IEEE multiply + one divide of exact integers —
    // bit-identical both engines), and the (k+1)-th threshold via the
    // window form the bounded-heap aggregate avoids.
    Q("q392_priority_sample",
      (s, dir) => Curation.prioritySample(
        Tables(s, dir, "documents")
          .where(col("doc_id").isNotNull && col("text").isNotNull &&
            col("source").isNotNull), k = 10),
      Some(s"""WITH t AS (
             |  SELECT source AS label, CAST(doc_id AS BIGINT) AS doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
             |    ${QueriesPipeline.duckMix31("CAST(doc_id AS BIGINT)")} AS h
             |  FROM documents
             |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
             |    AND source IS NOT NULL),
             |p AS (
             |  SELECT *,
             |    CAST(weight AS DOUBLE) * 2147483648 / (h + 1) AS priority,
             |    row_number() OVER (PARTITION BY label
             |      ORDER BY CAST(weight AS DOUBLE) * 2147483648 / (h + 1)
             |        DESC, doc_id) AS rn
             |  FROM t),
             |tau AS (
             |  SELECT label,
             |    coalesce(max(CASE WHEN rn = 11 THEN priority END), 0.0)
             |      AS tau
             |  FROM p GROUP BY label)
             |SELECT label, CAST(rn AS INT) AS rank, doc_id, weight,
             |  priority, tau,
             |  greatest(CAST(weight AS DOUBLE), tau) AS adj_weight
             |FROM p JOIN tau USING (label) WHERE rn <= 10
             |ORDER BY label, rank""".stripMargin)),

    // Sliding-window chunking with overlap (width 8, stride 5 — the
    // LM-eval window shape). Oracle replays the window arithmetic
    // with generate_series + 1-based inclusive list slices.
    Q("q393_chunk_windows",
      (s, dir) => Curation.chunkWindows(
        Tables(s, dir, "documents")
          .where(col("doc_id").isNotNull && col("text").isNotNull),
        width = 8, stride = 5),
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents
             |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             |n AS (SELECT doc_id, ws, len(ws) AS n FROM t),
             |w AS (SELECT doc_id, ws,
             |    CASE WHEN n <= 8 THEN 1
             |      ELSE CAST(CEIL(CAST(n - 8 AS DOUBLE) / 5) AS BIGINT)
             |        + 1 END AS nw
             |  FROM n),
             |x AS (SELECT doc_id, ws,
             |    CAST(unnest(generate_series(0, nw - 1)) AS INT)
             |      AS win_idx
             |  FROM w)
             |SELECT doc_id, win_idx,
             |  CAST(win_idx AS BIGINT) * 5 AS start_tok,
             |  CAST(len(ws[win_idx * 5 + 1 : win_idx * 5 + 8]) AS BIGINT)
             |    AS n_tokens,
             |  array_to_string(ws[win_idx * 5 + 1 : win_idx * 5 + 8], ' ')
             |    AS chunk
             |FROM x ORDER BY doc_id, win_idx""".stripMargin)),

    // q391's robots corpus served on a STREAM: the same parsed rule
    // table broadcast into a URL stream, disallowed fetches dropped
    // map-only (stateless — no watermark, no state store). Oracle =
    // q391's independent verdict restatement, filtered to the allowed
    // set. Batch and stream share the verdict core, so this also pins
    // their equivalence.
    Q("q394_stream_robots_gate",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val e = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("event_type").isNotNull)
        val m = col("hi") % 4
        val hosts = e.select((col("user_id") % 50).cast("long").as("hi"))
          .distinct()
          .select(concat(lit("h"), col("hi"), lit(".example.com"))
            .as("host"),
            when(m === 0, lit("User-Agent: *\nDisallow: /purchase" +
              " # keep the archive light\nAllow: /purchase/1*\n"))
            .when(m === 1, lit("# graftbot gets its own group\n" +
              "user-agent: graftbot\ndisallow: /view$\n\n" +
              "User-agent: *\nDisallow: /\n"))
            .when(m === 2, lit("User-agent: graftbot\n" +
              "User-agent: otherbot\nDisallow: /*/7\nAllow: /click\n"))
            .otherwise(lit("User-agent: *\nDisallow:\n")).as("body"))
        val rules = Curation.parseRobots(hosts)
        val stream = QueriesAlert.tableStream(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_id").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_id").cast("long").as("id"),
            concat(lit("https://h"), (col("user_id") % 50).cast("long"),
              lit(".example.com/"), col("event_type"), lit("/"),
              (col("event_id") % 20).cast("long")).as("url"))
        QueriesAlert.drainToMemory(s, graft.streaming.StreamingPipeline
            .robotsGateStream(stream, rules, agent = "graftbot"),
          "q394_sink", OutputMode.Append())
          .orderBy("id")
      },
      Some("""WITH e AS (
             |  SELECT CAST(event_id AS BIGINT) AS id, event_type AS et,
             |    CAST(user_id % 50 AS BIGINT) AS hi,
             |    CAST(event_id % 20 AS BIGINT) AS k
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
             |    AND event_type IS NOT NULL),
             |v AS (
             |  SELECT id, 'h' || hi || '.example.com' AS host,
             |    '/' || et || '/' || k AS target, hi % 4 AS m, et, k
             |  FROM e)
             |SELECT id, host, target,
             |  CASE
             |    WHEN m = 0 AND et = 'purchase' THEN
             |      CASE WHEN k = 1 OR k >= 10 THEN 12 ELSE 9 END
             |    WHEN m = 2 AND et = 'click' THEN 6
             |    ELSE NULL END AS win_len
             |FROM v
             |WHERE CASE
             |    WHEN m = 0 THEN (et <> 'purchase') OR k = 1 OR k >= 10
             |    WHEN m = 2 THEN (k <> 7) OR et = 'click'
             |    ELSE TRUE END
             |ORDER BY id""".stripMargin)),

    // Presto-dialect breadth, ninth batch — string/number surface:
    // split_part (NULL past the field count where Spark's builtin
    // returns '' — the silent-divergence class, so presto_split_part),
    // format (Java String.format; Spark spells it format_string),
    // regexp_split, strrpos (last occurrence via reversed locate),
    // from_base/to_base (Presto renders lowercase digits; Spark's
    // conv renders uppercase), and the IEEE predicates
    // is_finite/is_infinite/is_nan. The oracle restates each through
    // DuckDB's own spellings (list OOB indexing is NULL there, printf
    // is C-style, to_hex is minimal-width).
    Q("q395_presto_dialect9",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MIN(split_part(event_type, 'i', 1)) AS sp1,
            |  MIN(split_part(event_type, 'c', 3)) AS spo,
            |  MIN(format('%s=%03d', event_type, user_id % 7)) AS fmt,
            |  MIN(array_join(regexp_split(event_type, '[aeiou]+'), '.'))
            |    AS rs,
            |  CAST(MAX(strrpos(event_type, 'e')) AS BIGINT) AS srp,
            |  MIN(to_base(user_id % 100, 16)) AS tb,
            |  MIN(from_base(to_base(user_id % 100, 16), 16)) AS fb,
            |  MAX(CAST(is_finite(value * 1e307 * 10) AS INT)) AS fin,
            |  MAX(CAST(is_infinite(value * 1e307 * 10) AS INT)) AS inf,
            |  MAX(CAST(is_nan((value * 1e307 * 10)
            |    - (value * 1e307 * 10)) AS INT)) AS nn
            |FROM events
            |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            |  AND value IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  MIN(string_split(event_type, 'i')[1]) AS sp1,
             |  MIN(string_split(event_type, 'c')[3]) AS spo,
             |  MIN(printf('%s=%03d', event_type, user_id % 7)) AS fmt,
             |  MIN(array_to_string(
             |    regexp_split_to_array(event_type, '[aeiou]+'), '.'))
             |    AS rs,
             |  CAST(MAX(CASE WHEN strpos(reverse(event_type), 'e') = 0
             |    THEN 0 ELSE length(event_type)
             |      - strpos(reverse(event_type), 'e') + 1 END)
             |    AS BIGINT) AS srp,
             |  MIN(lower(to_hex(user_id % 100))) AS tb,
             |  MIN(CAST(user_id % 100 AS BIGINT)) AS fb,
             |  MAX(CAST(isfinite(value * 1e307 * 10) AS INT)) AS fin,
             |  MAX(CAST(isinf(value * 1e307 * 10) AS INT)) AS inf,
             |  MAX(CAST(isnan((value * 1e307 * 10)
             |    - (value * 1e307 * 10)) AS INT)) AS nn
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND value IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // q392's priority sample computed on a document STREAM: bounded
    // (k+1)-heap state per stratum, latest emission per label wins.
    // Priorities are a pure function of (id, weight), so the final
    // sample is arrival-order-independent — batch and stream share
    // ONE oracle, pinning their equivalence the q361/q384 way.
    Q("q396_stream_priority_sample",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val stream = QueriesAlert.tableStream(s, dir, "documents")
        val sampled = graft.streaming.StreamingPipeline
          .prioritySampleStream(stream, k = 10).toDF()
        val out = QueriesAlert.drainToMemory(s, sampled, "q396_sink",
          OutputMode.Update())
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("label")
        out.withColumn("mx", max(col("upd")).over(w))
          .where(col("upd") === col("mx"))
          .select(col("label"), col("rank"), col("doc_id"),
            col("weight"), col("priority"), col("tau"),
            greatest(col("weight").cast("double"), col("tau"))
              .as("adj_weight"))
          .orderBy("label", "rank")
      },
      Some(s"""WITH t AS (
             |  SELECT source AS label, CAST(doc_id AS BIGINT) AS doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
             |    ${QueriesPipeline.duckMix31("CAST(doc_id AS BIGINT)")} AS h
             |  FROM documents
             |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
             |    AND source IS NOT NULL),
             |p AS (
             |  SELECT *,
             |    CAST(weight AS DOUBLE) * 2147483648 / (h + 1) AS priority,
             |    row_number() OVER (PARTITION BY label
             |      ORDER BY CAST(weight AS DOUBLE) * 2147483648 / (h + 1)
             |        DESC, doc_id) AS rn
             |  FROM t),
             |tau AS (
             |  SELECT label,
             |    coalesce(max(CASE WHEN rn = 11 THEN priority END), 0.0)
             |      AS tau
             |  FROM p GROUP BY label)
             |SELECT label, CAST(rn AS INT) AS rank, doc_id, weight,
             |  priority, tau,
             |  greatest(CAST(weight AS DOUBLE), tau) AS adj_weight
             |FROM p JOIN tau USING (label) WHERE rn <= 10
             |ORDER BY label, rank""".stripMargin)),

    // End-to-end crawl-front COMPOSITION: canonicalize → robots gate
    // (specific-agent group beats '*') → blocklist anti-join → keeper
    // dedup, all four stages the q381/q391/q382 ops compose verbatim.
    // The oracle restates the surviving canonical set and its keeper
    // arithmetic directly from the generating variant classes —
    // independent of every stage's machinery, so a regression in any
    // hop (canonicalizer, parse, precedence, blocklist key, keeper
    // MIN) surfaces as a row/hash mismatch here even if its own
    // query stays green.
    Q("q397_crawl_pipeline",
      (s, dir) => {
        import s.implicits._
        val e = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("event_id").isNotNull)
          .withColumn("m", col("user_id") % 10)
          .withColumn("url", expr(
            """CASE CAST(user_id % 4 AS INT)
              |  WHEN 0 THEN 'https://Ex.com/t/' || event_type
              |    || '?b=' || m || '&a=1'
              |  WHEN 1 THEN 'HTTPS://EX.com:443/t/' || event_type
              |    || '?a=1&utm_source=mail&b=' || m
              |  WHEN 2 THEN 'https://ex.com:443/t/' || event_type
              |    || '?utm_campaign=x&b=' || m || '&a=1#frag'
              |  ELSE 'http://spam.tracker.net:80/t/' || event_type
              |    || '?a=1&b=' || m END""".stripMargin))
        val urls = e.select(col("event_id").cast("long").as("id"),
          graft.ops.Curation.canonicalUrl(col("url")).as("curl"))
        val robots = Seq(
          ("ex.com", "User-agent: graftbot\nDisallow: /t/purchase\n\n" +
            "User-agent: *\nDisallow: /\n"),
          ("docs.ex.com", "User-agent: *\nDisallow:\n")).toDF("host", "body")
        val rules = graft.ops.Curation.parseRobots(robots)
        val allowed = graft.ops.Curation.robotsVerdicts(urls, rules,
            agent = "graftbot", urlCol = "curl", idCol = "id",
            hintBroadcast = true, keep = Seq("curl"))
          .where(col("allowed"))
        val blocked = Seq("tracker.net").toDF("domain")
        val gated = graft.ops.Curation.blocklistGate(
          allowed, blocked, col("host"))
        gated.groupBy("curl")
          .agg(min(col("id")).as("keeper_id"),
            count(lit(1)).as("n_fetched"))
          .select(col("curl").as("canonical_url"), col("keeper_id"),
            col("n_fetched"))
          .orderBy("canonical_url")
      },
      Some("""WITH c AS (
             |  SELECT CAST(event_id AS BIGINT) AS id,
             |    'https://ex.com/t/' || event_type || '?a=1&b='
             |      || (user_id % 10) AS canonical_url
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND event_id IS NOT NULL
             |    AND user_id % 4 <> 3
             |    AND event_type <> 'purchase')
             |SELECT canonical_url, MIN(id) AS keeper_id,
             |  COUNT(*) AS n_fetched
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Length-bucketed batching plan: equal-frequency token-length
    // buckets (exact integer percentile_disc boundaries), first-
    // covering-bucket assignment, per-bucket padding waste vs the
    // single-bucket baseline. The oracle replays the boundary and
    // waste arithmetic over the same distinct-length table.
    Q("q398_length_buckets",
      (s, dir) => Curation.lengthBucketPlan(
        Tables(s, dir, "documents"), buckets = 8),
      Some("""WITH l AS (
             |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
             |    AS len
             |  FROM documents
             |  WHERE text IS NOT NULL AND doc_id IS NOT NULL),
             |pl AS (SELECT len, COUNT(*) AS c FROM l GROUP BY 1),
             |cm AS (SELECT len, c,
             |    SUM(c) OVER (ORDER BY len) AS cum FROM pl),
             |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             |    CAST(SUM(c * len) AS BIGINT) AS sum_len,
             |    MAX(len) AS mx FROM pl),
             |b AS (SELECT j.bucket, MIN(cm.len) AS boundary
             |  FROM cm, t,
             |    (SELECT CAST(unnest(generate_series(1, 8)) AS INT)
             |       AS bucket) j
             |  WHERE cm.cum * 8 >= j.bucket * t.n GROUP BY 1),
             |cov AS (SELECT pl.len, pl.c, b.bucket, b.boundary
             |  FROM pl JOIN b ON pl.len <= b.boundary),
             |fb AS (SELECT len, c, MIN(boundary) AS boundary
             |  FROM cov GROUP BY 1, 2),
             |fb2 AS (SELECT cov.len, cov.c, fb.boundary,
             |    MIN(cov.bucket) AS bucket
             |  FROM cov JOIN fb ON cov.len = fb.len
             |    AND cov.boundary = fb.boundary
             |  GROUP BY 1, 2, 3)
             |SELECT bucket, boundary,
             |  CAST(SUM(c) AS BIGINT) AS n_docs,
             |  CAST(SUM(c * len) AS BIGINT) AS sum_tokens,
             |  CAST(SUM(c * (boundary - len)) AS BIGINT)
             |    AS padding_waste,
             |  (SELECT n * mx - sum_len FROM t) AS baseline_waste
             |FROM fb2 GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // Freshness-driven recrawl scheduling over a synthesized fetch
    // history (url key = user bucket, content = event_type, so hash
    // flips are real). The oracle replays the lag-flip count, the
    // integer ppm rate, and the exact 64-bit priority product.
    Q("q399_recrawl_priority",
      (s, dir) => Curation.recrawlPriority(
        Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull &&
            col("event_type").isNotNull)
          .select((col("user_id") % 300).cast("long").as("url_key"),
            col("ts"), col("event_type").as("content_hash")),
        topN = 100),
      Some("""WITH f AS (
             |  SELECT CAST(user_id % 300 AS BIGINT) AS u, ts,
             |    event_type AS h
             |  FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IS NOT NULL),
             |l AS (SELECT u, ts, h,
             |    lag(h) OVER (PARTITION BY u ORDER BY ts, h) AS prev
             |  FROM f),
             |g AS (SELECT u,
             |    COUNT(*) AS n_fetches,
             |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> h
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             |    CAST(epoch_us(MAX(ts)) // 1000000
             |      - epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS span_sec,
             |    CAST(epoch_us(MAX(ts)) // 1000000 AS BIGINT) AS last_sec
             |  FROM l GROUP BY u),
             |n AS (SELECT MAX(last_sec) AS now_sec FROM g)
             |SELECT u AS url_key, n_fetches, n_changes, span_sec,
             |  CAST(now_sec - last_sec AS BIGINT) AS age_sec,
             |  CAST(CASE WHEN span_sec > 0
             |    THEN (n_changes * 1000000 * 3600) // span_sec
             |    ELSE 0 END AS BIGINT) AS rate_ppm_hr,
             |  CAST((CASE WHEN span_sec > 0
             |    THEN (n_changes * 1000000 * 3600) // span_sec
             |    ELSE 0 END * (now_sec - last_sec)) // 3600 AS BIGINT)
             |    AS priority
             |FROM g, n
             |ORDER BY priority DESC, url_key LIMIT 100""".stripMargin)),

    // q399's recrawl stats maintained as O(1) keyed STREAM state
    // (first/last fetch, last hash, two counters), ranked post-drain
    // by the shared recrawlRank tail — batch and stream share q399's
    // oracle verbatim, the q392/q396 equivalence discipline.
    Q("q400_stream_recrawl_priority",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val stream = QueriesAlert.tableStream(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull &&
            col("event_type").isNotNull)
          .select((col("user_id") % 300).cast("long").as("url_key"),
            col("ts"), col("event_type").as("content_hash"))
        val stats = graft.streaming.StreamingPipeline
          .recrawlStatsStream(stream).toDF()
        val out = QueriesAlert.drainToMemory(s, stats, "q400_sink",
          OutputMode.Update())
        val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
        graft.ops.Curation.recrawlRank(
          out.withColumn("mx", max(col("upd")).over(w))
            .where(col("upd") === col("mx"))
            .select("u", "n_fetches", "n_changes", "span_sec",
              "last_sec"),
          topN = 100)
      },
      Some("""WITH f AS (
             |  SELECT CAST(user_id % 300 AS BIGINT) AS u, ts,
             |    event_type AS h
             |  FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IS NOT NULL),
             |l AS (SELECT u, ts, h,
             |    lag(h) OVER (PARTITION BY u ORDER BY ts, h) AS prev
             |  FROM f),
             |g AS (SELECT u,
             |    COUNT(*) AS n_fetches,
             |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> h
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             |    CAST(epoch_us(MAX(ts)) // 1000000
             |      - epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS span_sec,
             |    CAST(epoch_us(MAX(ts)) // 1000000 AS BIGINT) AS last_sec
             |  FROM l GROUP BY u),
             |n AS (SELECT MAX(last_sec) AS now_sec FROM g)
             |SELECT u AS url_key, n_fetches, n_changes, span_sec,
             |  CAST(now_sec - last_sec AS BIGINT) AS age_sec,
             |  CAST(CASE WHEN span_sec > 0
             |    THEN (n_changes * 1000000 * 3600) // span_sec
             |    ELSE 0 END AS BIGINT) AS rate_ppm_hr,
             |  CAST((CASE WHEN span_sec > 0
             |    THEN (n_changes * 1000000 * 3600) // span_sec
             |    ELSE 0 END * (now_sec - last_sec)) // 3600 AS BIGINT)
             |    AS priority
             |FROM g, n
             |ORDER BY priority DESC, url_key LIMIT 100""".stripMargin)),

    // q393's window chunker run on a document STREAM — the op is a
    // pure map-only column program (chunkWindowsUnsorted), so it runs
    // UNCHANGED under readStream with no state and no watermark;
    // sharing q393's oracle pins the batch-stream equivalence and the
    // statelessness claim in one check.
    Q("q401_stream_chunk_windows",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val stream = QueriesAlert.tableStream(s, dir, "documents")
          .where(col("doc_id").isNotNull && col("text").isNotNull)
        val chunks = Curation.chunkWindowsUnsorted(stream,
          width = 8, stride = 5)
        QueriesAlert.drainToMemory(s, chunks, "q401_sink",
          OutputMode.Append()).orderBy("doc_id", "win_idx")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS ws
             |  FROM documents
             |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
             |n AS (SELECT doc_id, ws, len(ws) AS n FROM t),
             |w AS (SELECT doc_id, ws,
             |    CASE WHEN n <= 8 THEN 1
             |      ELSE CAST(CEIL(CAST(n - 8 AS DOUBLE) / 5) AS BIGINT)
             |        + 1 END AS nw
             |  FROM n),
             |x AS (SELECT doc_id, ws,
             |    CAST(unnest(generate_series(0, nw - 1)) AS INT)
             |      AS win_idx
             |  FROM w)
             |SELECT doc_id, win_idx,
             |  CAST(win_idx AS BIGINT) * 5 AS start_tok,
             |  CAST(len(ws[win_idx * 5 + 1 : win_idx * 5 + 8]) AS BIGINT)
             |    AS n_tokens,
             |  array_to_string(ws[win_idx * 5 + 1 : win_idx * 5 + 8], ' ')
             |    AS chunk
             |FROM x ORDER BY doc_id, win_idx""".stripMargin)),

    // Crawl-delay-aware politeness: hosts whose robots.txt carries a
    // Crawl-delay get their fetches spread ≥ delay slots apart —
    // stride = max(H, delay) — while undelayed hosts keep the plain
    // round-robin. The robots fixture pins the delay-resolution
    // ladder too: named-agent groups beat `*` (h3: graftbot 30/50
    // wins over *'s 999), several applicable delays take the MAX
    // (h3 → 50), a sub-H delay never shrinks the stride (h5: 7 <
    // H=20), non-numeric values drop (h7), and a delay under an
    // inapplicable agent is invisible (h9). The oracle restates the
    // whole schedule arithmetic with the resolved delays inlined.
    Q("q402_crawl_delay_schedule",
      (s, dir) => {
        import s.implicits._
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull)
          .withColumn("host", concat(lit("h"),
            (col("user_id") % 20).cast("string"), lit(".example")))
        val robots = Seq(
          ("h3.example", "User-agent: graftbot\nCrawl-delay: 30\n\n" +
            "User-agent: graftbot\nCrawl-delay: 50\n\n" +
            "User-agent: *\nCrawl-delay: 999\n"),
          ("h5.example", "User-agent: *\nCrawl-delay: 7\n"),
          ("h7.example", "User-agent: *\nCrawl-delay: oops\n"),
          ("h9.example", "User-agent: other\nCrawl-delay: 99\n"))
          .toDF("host", "body")
        val delays = graft.ops.Curation.crawlDelays(robots, "graftbot")
        graft.ops.Curation.frontierSchedule(ev, "host", "event_id",
          delays = Some(delays))
      },
      Some("""WITH c AS (SELECT event_id AS id,
             |    'h' || (user_id % 20) || '.example' AS host
             |  FROM events WHERE user_id IS NOT NULL),
             |hi AS (SELECT host,
             |    CAST(ROW_NUMBER() OVER (ORDER BY host) - 1 AS BIGINT)
             |      AS host_index
             |  FROM (SELECT DISTINCT host FROM c)),
             |hc AS (SELECT CAST(COUNT(*) AS BIGINT) AS h FROM hi),
             |r AS (SELECT id, host, CAST(ROW_NUMBER() OVER (
             |    PARTITION BY host ORDER BY id) AS BIGINT)
             |      AS rank_in_host
             |  FROM c)
             |SELECT r.id, r.host, hi.host_index, r.rank_in_host,
             |  (r.rank_in_host - 1) *
             |    (CASE r.host
             |       WHEN 'h3.example' THEN GREATEST(hc.h, 50)
             |       WHEN 'h5.example' THEN GREATEST(hc.h, 7)
             |       ELSE hc.h END) + hi.host_index AS fetch_pos
             |FROM r JOIN hi USING (host) CROSS JOIN hc
             |ORDER BY fetch_pos""".stripMargin)),

    // The WHOLE crawl loop as ONE streaming query — robots gate →
    // trap gate → blocklist + canonical dedup → recrawl-stats state —
    // pinned against the independent batch chain (robotsVerdicts →
    // trapGate → canonical filter → urlKeyDedup keepers →
    // recrawlPriority) via the q361/q384 full-outer pattern. The
    // operators are each verified solo; this pins their COMPOSITION,
    // which is where Spark's multiple-stateful-operator and watermark
    // rules bite (dropDuplicatesWithinWatermark feeding
    // flatMapGroupsWithState behind three stream-static joins). The
    // v==2 variant is a calendar-trap URL family (`/cal/<n>/<n>`,
    // per-row sid → unbounded URL space) that ONLY the trap anti-join
    // removes — robots allows it and its host is unblocked — so a
    // missing trap hop in either engine shows as full-outer rows. The
    // trap list is a fixture template (q403's robots body and
    // blocklist are fixtures for the same reason: the LEARNED loop is
    // q410's contract; this query pins gate composition). Post-gate
    // columns (page key, fetch hour, content hash) are pure functions
    // of (event_type, m, w), so WHICH variant row survives a dedup
    // race never shows in the output — the determinism trick that
    // lets one oracle restate both engines. Subset is event_id%50
    // (was %25): the dual state-store commit cost scales with fed
    // rows and the composition pin needs coverage, not volume.
    Q("q403_crawl_loop_equiv",
      (s, dir) => {
        // STREAM half (robots gate → trap gate → url-dedup gate →
        // recrawl stats, the multi-stateful one-query loop), drained
        // on every run (corpus, rules, traps and fetch-log kernels
        // sit above fourthBatch, shared with this batch half — the
        // equivalence pin's one-definition rule)
        val drained = QueriesAlert.drainToMemory(s,
          q403StreamBranch(s, dir), "q403_sink",
          org.apache.spark.sql.streaming.OutputMode.Update())
        val wU = org.apache.spark.sql.expressions.Window.partitionBy("u")
        val streamR = graft.ops.Curation.recrawlRank(
            drained.withColumn("mx", max(col("upd")).over(wU))
              .where(col("upd") === col("mx"))
              .select("u", "n_fetches", "n_changes", "span_sec",
                "last_sec"),
            topN = 100)
          .withColumn("in_stream", lit(true))
        // BATCH: independent gate plumbing (q384's style), same kernels
        val rules = q403Rules(s)
        val traps = q403Traps(s)
        def fetchLog(df: org.apache.spark.sql.DataFrame) =
          q403FetchLog(df)
        val b = q403Corpus(Tables(s, dir, "events"))
        val allowedB = graft.ops.Curation.robotsVerdicts(b, rules,
            agent = "graftbot", urlCol = "url", idCol = "event_id",
            hintBroadcast = true,
            keep = Seq("url", "ts", "event_type", "m", "w"))
          .where(col("allowed"))
          .transform(df => graft.ops.Curation.trapGate(df, traps))
        val chost = regexp_extract(
          graft.ops.Curation.canonicalUrl(col("url")),
          "^[a-z][a-z0-9+.-]*://([^/?#:]+)", 1)
        // the gated corpus feeds TWO consumers (the one-pass salted
        // window dedup once, the semi-join once): checkpoint so the
        // robots-fold + trap + canonicalize lineage — a deep
        // expression program whose per-stage first-execution compile
        // dominates at this row count — runs once. At 100 TB this is
        // the same move: the gated fetch log is a materialized lake
        // asset, not a lineage re-derived per consumer.
        val unblockedB = allowedB.where(
          !(chost === "tracker.net" || chost.endsWith(".tracker.net")))
          .localCheckpoint()
        val keepersB = graft.ops.Curation.urlKeyDedup(unblockedB,
            urlCol = "url", idCol = "id")
          .where(!col("is_dup")).select(col("id"))
        val batchR = graft.ops.Curation.recrawlPriority(
            fetchLog(unblockedB.join(keepersB, Seq("id"), "left_semi")),
            topN = 100, urlCol = "url_key", tsCol = "fts",
            contentCol = "content_hash")
          .withColumn("in_batch", lit(true))
        val cols = Seq("url_key", "n_fetches", "n_changes", "span_sec",
          "age_sec", "rate_ppm_hr", "priority")
        batchR.join(streamR, cols, "full_outer")
          .select(cols.map(col) :+
            coalesce(col("in_batch"), lit(false)).as("in_batch") :+
            coalesce(col("in_stream"), lit(false)).as("in_stream"): _*)
          .orderBy("url_key")
      },
      Some("""WITH e AS (SELECT user_id, event_type,
             |    user_id % 10 AS m, CAST(user_id % 4 AS INT) AS v,
             |    epoch_us(ts) // 3600000000 AS w
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL AND event_id IS NOT NULL
             |    AND event_id % 50 = 0),
             |s AS (SELECT DISTINCT event_type, m, w FROM e
             |  WHERE v < 2 AND event_type <> 'purchase'),
             |f AS (SELECT
             |    CAST(m * 131 + length(event_type) AS BIGINT) AS u,
             |    CAST(w * 3600 AS BIGINT) AS sec,
             |    CAST(m * 131 + length(event_type) AS VARCHAR) || '-'
             |      || CAST(w % 3 AS VARCHAR) AS h
             |  FROM s),
             |l AS (SELECT u, sec, h,
             |    lag(h) OVER (PARTITION BY u ORDER BY sec, h) AS prev
             |  FROM f),
             |g AS (SELECT u, COUNT(*) AS n_fetches,
             |    CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> h
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
             |    CAST(MAX(sec) - MIN(sec) AS BIGINT) AS span_sec,
             |    CAST(MAX(sec) AS BIGINT) AS last_sec
             |  FROM l GROUP BY u),
             |n AS (SELECT MAX(last_sec) AS now_sec FROM g),
             |r AS (SELECT u AS url_key, n_fetches, n_changes, span_sec,
             |    CAST(now_sec - last_sec AS BIGINT) AS age_sec,
             |    CAST(CASE WHEN span_sec > 0
             |      THEN (n_changes * 1000000 * 3600) // span_sec
             |      ELSE 0 END AS BIGINT) AS rate_ppm_hr,
             |    CAST((CASE WHEN span_sec > 0
             |      THEN (n_changes * 1000000 * 3600) // span_sec
             |      ELSE 0 END * (now_sec - last_sec)) // 3600 AS BIGINT)
             |      AS priority
             |  FROM g, n
             |  ORDER BY priority DESC, url_key LIMIT 100)
             |SELECT url_key, n_fetches, n_changes, span_sec, age_sec,
             |  rate_ppm_hr, priority,
             |  TRUE AS in_batch, TRUE AS in_stream
             |FROM r ORDER BY url_key""".stripMargin)),

    // Presto-dialect breadth, tenth batch: width_bucket in BOTH its
    // forms (the 4-arg equi-width histogram Spark shares, and the
    // 2-arg bins-array form Spark lacks — arity-dispatched behind one
    // presto_ name), json_array_get with Presto's unquoted-scalar
    // quirk and negative indexing, the 3-arg array_join null
    // replacement, zip_with, and TRY around a failing ANSI cast. The
    // oracle restates each result arithmetically (DuckDB lacks most
    // of these spellings).
    Q("q404_presto_dialect10",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MIN(width_bucket(CAST(user_id % 100 AS DOUBLE),
            |    0.0, 100.0, 10)) AS wb4,
            |  MIN(width_bucket(CAST(user_id % 100 AS DOUBLE),
            |    ARRAY[10.0, 50.0, 90.0])) AS wba,
            |  MIN(json_array_get('["a","b","c"]',
            |    CAST(user_id % 3 AS INTEGER))) AS jag,
            |  MIN(json_array_get('["a","b","c"]', -1)) AS jneg,
            |  MIN(array_join(ARRAY['a', NULL, event_type], ',', 'na'))
            |    AS aj,
            |  MIN(array_join(zip_with(ARRAY['L','R'],
            |    ARRAY[event_type, event_type], (x, y) -> x || y), '|'))
            |    AS zw,
            |  CAST(MIN(try(CAST(CASE WHEN user_id % 2 = 0 THEN 'nope'
            |    ELSE '7' END AS INTEGER))) AS BIGINT) AS tr
            |FROM events
            |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  CAST((user_id % 100) // 10 + 1 AS BIGINT) AS wb4,
             |  CAST(CASE WHEN user_id % 100 < 10 THEN 0
             |    WHEN user_id % 100 < 50 THEN 1
             |    WHEN user_id % 100 < 90 THEN 2
             |    ELSE 3 END AS BIGINT) AS wba,
             |  MIN(['a','b','c'][CAST(user_id % 3 AS INT) + 1]) AS jag,
             |  'c' AS jneg,
             |  MIN('a,na,' || event_type) AS aj,
             |  MIN('L' || event_type || '|R' || event_type) AS zw,
             |  CAST(CASE WHEN user_id % 2 = 0 THEN NULL
             |    ELSE 7 END AS BIGINT) AS tr
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Crawler-trap detection: URL paths lift to templates (digits-only
    // segment → <n>, ≥8-char hex → <h>, other digit-bearing → <x>, in
    // that order) and a template's DISTINCT-URL count is the trap
    // signal — the calendar class here explodes into ~1,000 URLs
    // under one template while the event-type classes stay bounded.
    // The oracle restates each variant class's template and count
    // directly.
    Q("q405_crawler_traps",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("event_id").isNotNull)
          .withColumn("url", expr(
            """CASE CAST(user_id % 3 AS INT)
              |  WHEN 0 THEN 'https://ex.com/cal/2024/'
              |    || (event_id % 1000)
              |  WHEN 1 THEN 'https://ex.com/t/' || event_type || '/'
              |    || (user_id % 10)
              |  ELSE 'https://ex.com/doc/' || md5(event_type)
              |  END""".stripMargin))
        graft.ops.Curation.crawlerTraps(ev, minUrls = 50L)
      },
      Some(CrawlerTrapsOracle)),

    // q405's trap monitor run LIVE: the same template projection, a
    // canonical-key dedup, and a running per-template count — the
    // SECOND chained multiple-stateful-operator shape in the suite
    // (dropDuplicatesWithinWatermark feeding a streaming AGGREGATION;
    // q403 pinned dedup feeding flatMapGroupsWithState). Update mode
    // emits a growing count per template; the latest emission (the
    // max) must equal the batch distinct count — q405's oracle,
    // shared verbatim.
    Q("q408_stream_crawler_traps",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val stream = QueriesAlert.tableStream(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("event_id").isNotNull)
          .withColumn("url", expr(
            """CASE CAST(user_id % 3 AS INT)
              |  WHEN 0 THEN 'https://ex.com/cal/2024/'
              |    || (event_id % 1000)
              |  WHEN 1 THEN 'https://ex.com/t/' || event_type || '/'
              |    || (user_id % 10)
              |  ELSE 'https://ex.com/doc/' || md5(event_type)
              |  END""".stripMargin))
        val traps = graft.streaming.StreamingPipeline
          .crawlerTrapsStream(stream, minUrls = 50L)
        QueriesAlert.drainToMemory(s, traps, "q408_sink", OutputMode.Update())
          .groupBy("template", "depth")
          .agg(max(col("n_urls")).as("n_urls"))
          .withColumn("is_trap", col("n_urls") >= 50L)
          .orderBy("template")
      },
      Some(CrawlerTrapsOracle)),

    // Tracking-param inference: learn the canonicalizer's killset
    // from the fetch log. 'sess' never moves the content within any
    // (page-value) context → irrelevant; 'page' moves it within
    // every (sess-value) context → relevant. The oracle replays the
    // context grouping and both verdicts.
    Q("q406_param_relevance",
      (s, dir) => {
        val f = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("event_id").isNotNull)
          .withColumn("url", expr(
            """'https://ex.com/p/' || event_type
              |  || '?page=' || (user_id % 3)
              |  || '&sess=' || (event_id % 7)""".stripMargin))
          .withColumn("content_hash",
            expr("event_type || '-' || (user_id % 3)"))
        graft.ops.Curation.paramRelevance(f)
      },
      Some("""WITH f AS (SELECT
             |    'https://ex.com/p/' || event_type AS stem,
             |    CAST(user_id % 3 AS VARCHAR) AS page,
             |    CAST(event_id % 7 AS VARCHAR) AS sess,
             |    event_type || '-' || (user_id % 3) AS h
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND event_id IS NOT NULL),
             |px AS (
             |  SELECT 'page' AS param, stem || '?sess=' || sess AS ctx,
             |    page AS v, h FROM f
             |  UNION ALL
             |  SELECT 'sess', stem || '?page=' || page, sess, h FROM f),
             |g AS (SELECT param, ctx, COUNT(DISTINCT v) AS nv,
             |    COUNT(DISTINCT h) AS nh
             |  FROM px GROUP BY 1, 2)
             |SELECT 'ex.com' AS host, param,
             |  CAST(COUNT(*) AS BIGINT) AS n_groups,
             |  CAST(SUM(CASE WHEN nv >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_multi_value_groups,
             |  CAST(SUM(CASE WHEN nv >= 2 AND nh >= 2 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_varying_groups,
             |  SUM(CASE WHEN nv >= 2 THEN 1 ELSE 0 END) >= 1 AND
             |    SUM(CASE WHEN nv >= 2 AND nh >= 2 THEN 1 ELSE 0 END) = 0
             |    AS irrelevant
             |FROM g GROUP BY param ORDER BY host, param""".stripMargin)),

    // Presto-dialect breadth, eleventh batch. NEW surface:
    // truncate-toward-zero and the VARBINARY→BINARY type rewrite
    // (Spark's parser rejects Presto's binary type name, so
    // to_hex(CAST(x AS VARBINARY)) needed it). The rest —
    // levenshtein_distance, to_hex/from_hex, codepoint, ngrams
    // (flattened to strings; the driver's canon cannot sort array
    // cells) — are earlier-tranche registrations getting their FIRST
    // oracle-gated pins here.
    Q("q407_presto_dialect11",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MIN(levenshtein_distance(event_type, 'purchase')) AS lev,
            |  MIN(to_hex(CAST(event_type AS VARBINARY))) AS hx,
            |  MIN(CAST(from_hex(to_hex(CAST(event_type AS VARBINARY)))
            |    AS VARCHAR)) AS rt,
            |  MIN(codepoint(substr(event_type, 1, 1))) AS cp,
            |  MIN(truncate(value * 10)) AS tr,
            |  MIN(array_join(transform(
            |    ngrams(ARRAY['a', 'b', event_type], 2),
            |    g -> array_join(g, '')), '|')) AS ng
            |FROM events
            |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            |  AND value IS NOT NULL
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  MIN(levenshtein(event_type, 'purchase')) AS lev,
             |  MIN(hex(event_type)) AS hx,
             |  MIN(event_type) AS rt,
             |  MIN(unicode(substr(event_type, 1, 1))) AS cp,
             |  MIN(trunc(value * 10)) AS tr,
             |  MIN('ab|b' || event_type) AS ng
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND value IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Presto-dialect breadth, twelfth batch: the url_extract_* family
    // COMPLETED — protocol/query/fragment/port join the earlier
    // host/path/parameter, all JDK-URI UDFs sharing Presto's
    // NULL-on-malformed contract (Spark's parse_url THROWS under
    // ANSI, so the builtin can't carry the family). The oracle
    // restates each component from the URL's construction.
    Q("q409_presto_dialect12",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id,
            |  MIN(url_extract_protocol(u)) AS proto,
            |  MIN(url_extract_host(u)) AS host,
            |  MIN(url_extract_path(u)) AS path,
            |  MIN(url_extract_query(u)) AS q,
            |  MIN(url_extract_parameter(u, 'b')) AS pb,
            |  MIN(url_extract_parameter(u, 'zz')) AS pz,
            |  MIN(url_extract_port(u)) AS port,
            |  MIN(url_extract_fragment(u)) AS frag
            |FROM (SELECT user_id,
            |    'https://sub.ex.com:8443/t/' || event_type
            |      || '?a=1&b=' || (user_id % 10) || '#s' AS u
            |  FROM events
            |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL)
            |GROUP BY user_id ORDER BY user_id""".stripMargin))
      },
      Some("""SELECT user_id,
             |  'https' AS proto,
             |  'sub.ex.com' AS host,
             |  MIN('/t/' || event_type) AS path,
             |  MIN('a=1&b=' || (user_id % 10)) AS q,
             |  CAST(user_id % 10 AS VARCHAR) AS pb,
             |  CAST(NULL AS VARCHAR) AS pz,
             |  CAST(8443 AS BIGINT) AS port,
             |  's' AS frag
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // The learned-killset loop closed: paramRelevance LEARNS which
    // params never move content (q406's 'sess'), the verdicts become
    // canonicalUrl's killset regex (params are DATA in → regex in —
    // a bounded planning read: one row per (host, param)), and the
    // re-canonicalized log dedups with the session noise gone — pages
    // collapse from (#page × #sess) fetch URLs to #page canonical
    // keys. The oracle restates the post-killset canonical space and
    // its fetch multiplicity directly.
    Q("q410_learned_killset_dedup",
      (s, dir) => {
        val f = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("event_type").isNotNull &&
            col("event_id").isNotNull)
          .withColumn("url", expr(
            """'https://ex.com/p/' || event_type
              |  || '?page=' || (user_id % 3)
              |  || '&sess=' || (event_id % 7)""".stripMargin))
          .withColumn("content_hash",
            expr("event_type || '-' || (user_id % 3)"))
        // learn: bounded planning read — one row per (host, param)
        val learned = graft.ops.Curation.paramRelevance(f)
          .where(col("irrelevant"))
          .select("param").collect().map(_.getString(0)).sorted
        // empty learned set must keep EVERY param: "^()=" would match
        // any empty-key param, so degenerate to a never-matching regex
        val killset =
          if (learned.isEmpty) "(?!x)x"
          else "^(" + learned.map(java.util.regex.Pattern.quote)
            .mkString("|") + ")="
        // apply: re-canonicalize with the learned killset, then the
        // standard keeper dedup over the cleaned key space
        val cleaned = f.select(col("event_id").cast("long").as("id"),
          graft.ops.Curation.canonicalUrl(col("url"), killset).as("curl"))
        cleaned.groupBy("curl")
          .agg(min(col("id")).as("keeper_id"),
            count(lit(1)).as("n_fetches"))
          .select(col("curl").as("canonical_url"), col("keeper_id"),
            col("n_fetches"))
          .orderBy("canonical_url")
      },
      Some("""WITH c AS (SELECT CAST(event_id AS BIGINT) AS id,
             |    'https://ex.com/p/' || event_type || '?page='
             |      || (user_id % 3) AS canonical_url
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND event_id IS NOT NULL)
             |SELECT canonical_url, MIN(id) AS keeper_id,
             |  COUNT(*) AS n_fetches
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WARC-lite ingest: the fetcher's container format through the
    // S13 tokenizer family — concatenated records explode to one row
    // each with routing headers (type, target URI, declared length)
    // and the trimmed payload. Each doc carries a request+response
    // pair so the explode, the header extracts, and the absent-header
    // NULL contract all get exercised. The oracle restates both
    // records per doc from the construction.
    Q("q411_warc_ingest",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(min(col("event_id")).cast("long").as("doc_id"))
          .withColumn("body", concat(
            lit("WARC/1.0\nWARC-Type: request\n" +
              "WARC-Target-URI: https://ex.com/t/"), col("event_type"),
            lit("\n\nGET\n\n"),
            lit("WARC/1.0\nWARC-Type: response\n" +
              "WARC-Target-URI: https://ex.com/t/"), col("event_type"),
            lit("\nContent-Length: 10\n\ndoc about "), col("event_type"),
            lit("\n\n")))
        graft.sources.Ingest.warcRecords(ev)
          .orderBy("doc_id", "rec_idx")
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(MIN(event_id) AS BIGINT) AS doc_id
             |  FROM events
             |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
             |  GROUP BY 1),
             |r AS (
             |  SELECT doc_id, CAST(0 AS INT) AS rec_idx,
             |    'request' AS warc_type,
             |    'https://ex.com/t/' || event_type AS target_uri,
             |    CAST(NULL AS BIGINT) AS content_length,
             |    'GET' AS payload
             |  FROM e
             |  UNION ALL
             |  SELECT doc_id, CAST(1 AS INT), 'response',
             |    'https://ex.com/t/' || event_type,
             |    CAST(10 AS BIGINT), 'doc about ' || event_type
             |  FROM e)
             |SELECT doc_id, rec_idx, warc_type, target_uri,
             |  content_length, payload
             |FROM r ORDER BY doc_id, rec_idx""".stripMargin)),

    // q411's record layout through the BINARY connector: the same
    // request+response pair per event_type, but written as real WARC
    // files — Content-Length byte framing, CRLF headers, one gzip
    // member per record for odd doc ids and plain files for even
    // (per-file sniff) — and read back via the DSv2 source
    // (sources/WarcSource.scala), where a file is a partition and
    // framing runs inside the PartitionReader. Differences from q411
    // are the binary profile's honesty: content_length is the REAL
    // payload byte count (the text profile carried a declared 10
    // through), and the request record must declare its length too.
    Q("q412_warc_binary_source",
      (s, dir) => Scratch.withDir("q412") { tmp =>
        val out = tmp.getPath
        val recs = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(min(col("event_id")).cast("long").as("doc_id"))
        // fixture write rides the executors (Hadoop FS, one file per
        // doc — the fetcher-output layout), never a driver collect;
        // conf captured DRIVER-side (session spark.hadoop.* keys ride
        // along — same convention as the DSv2 readers)
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          s.sparkContext.hadoopConfiguration)
        recs.select("event_type", "doc_id").foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
          val conf = hconf.value
          it.foreach { r =>
            val et = r.getString(0); val id = r.getLong(1)
            val gz = id % 2 == 1
            val p = new org.apache.hadoop.fs.Path(
              s"$out/doc_$id.warc" + (if (gz) ".gz" else ""))
            val fs = p.getFileSystem(conf)
            val o = fs.create(p, true)
            try {
              val uri = s"https://ex.com/t/$et"
              val get = "GET".getBytes("UTF-8")
              val doc = s"doc about $et".getBytes("UTF-8")
              if (gz) {
                graft.sources.Warc.writeGzipMember(o, "request", uri, get)
                graft.sources.Warc.writeGzipMember(o, "response", uri, doc)
              } else {
                graft.sources.Warc.writeRecord(o, "request", uri, get)
                graft.sources.Warc.writeRecord(o, "response", uri, doc)
              }
            } finally o.close()
          }
        }
        s.read.format("graft.sources.WarcSource").load(out)
          .withColumn("doc_id", regexp_extract(col("src_file"),
            "doc_(\\d+)\\.warc", 1).cast("long"))
          .select(col("doc_id"), col("rec_idx"), col("warc_type"),
            col("target_uri"), col("content_length"),
            col("payload").cast("string").as("payload"))
          .localCheckpoint()
      }.orderBy("doc_id", "rec_idx"),
      Some("""WITH e AS (SELECT event_type,
             |    CAST(MIN(event_id) AS BIGINT) AS doc_id
             |  FROM events
             |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
             |  GROUP BY 1),
             |r AS (
             |  SELECT doc_id, CAST(0 AS INT) AS rec_idx,
             |    'request' AS warc_type,
             |    'https://ex.com/t/' || event_type AS target_uri,
             |    CAST(3 AS BIGINT) AS content_length,
             |    'GET' AS payload
             |  FROM e
             |  UNION ALL
             |  SELECT doc_id, CAST(1 AS INT), 'response',
             |    'https://ex.com/t/' || event_type,
             |    CAST(10 + length(event_type) AS BIGINT),
             |    'doc about ' || event_type
             |  FROM e)
             |SELECT doc_id, rec_idx, warc_type, target_uri,
             |  content_length, payload
             |FROM r ORDER BY doc_id, rec_idx""".stripMargin)),

    // Presto dialect, thirteenth tranche through the oracle gate:
    // histogram / multimap_agg (map-building aggregates, projected
    // back to scalars so the compare stays exact), from_iso8601_date,
    // sparse-map cosine_similarity on exact-in-IEEE inputs (16/20),
    // geometric_mean pinned at ppm rounding (inputs constant per
    // group, so the float error sits ~1e-12 from any boundary).
    // Exact-value lambda/edge coverage lives in CriteriaSpec's
    // thirteenth-tranche rows.
    Q("q413_presto_dialect13",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT user_id % 10 AS g,
            |  COALESCE(element_at(histogram(event_type), 'click'),
            |    CAST(0 AS BIGINT)) AS h_click,
            |  CAST(COALESCE(cardinality(element_at(
            |    multimap_agg(event_type, CAST(event_id AS BIGINT)),
            |    'view')), 0) AS BIGINT) AS n_view,
            |  aggregate(COALESCE(element_at(
            |    multimap_agg(event_type, CAST(event_id AS BIGINT)),
            |    'view'), ARRAY[]), CAST(0 AS BIGINT), (a, x) -> a + x)
            |    AS sum_view,
            |  CAST(MIN(from_iso8601_date(
            |    substr(CAST(ts AS VARCHAR), 1, 10))) AS VARCHAR)
            |    AS first_day,
            |  MIN(cosine_similarity(
            |    MAP(ARRAY['x','y'], ARRAY[CAST(3 AS DOUBLE), 4.0]),
            |    MAP(ARRAY['y'], ARRAY[4.0]))) AS cs,
            |  CAST(ROUND(geometric_mean(
            |    CAST(user_id % 10 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
            |    AS gm_ppm
            |FROM events
            |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            |  AND ts IS NOT NULL AND event_id IS NOT NULL
            |GROUP BY user_id % 10 ORDER BY g""".stripMargin))
      },
      Some("""SELECT user_id % 10 AS g,
             |  CAST(COUNT(*) FILTER (WHERE event_type = 'click')
             |    AS BIGINT) AS h_click,
             |  CAST(COUNT(*) FILTER (WHERE event_type = 'view')
             |    AS BIGINT) AS n_view,
             |  CAST(COALESCE(SUM(event_id)
             |    FILTER (WHERE event_type = 'view'), 0) AS BIGINT)
             |    AS sum_view,
             |  CAST(MIN(CAST(ts AS DATE)) AS VARCHAR) AS first_day,
             |  16.0 / 20.0 AS cs,
             |  CAST((user_id % 10 + 1) * 1000000 AS BIGINT) AS gm_ppm
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND ts IS NOT NULL AND event_id IS NOT NULL
             |GROUP BY user_id % 10 ORDER BY g""".stripMargin)),

    // WARC → multimodal END TO END: a binary .warc.gz fixture whose
    // record payloads are REAL generated image bytes (PNG rec 0,
    // JPEG rec 1, GIF rec 2 per doc — one gzip member per record),
    // read back through the DSv2 WarcSource and header-decoded by
    // parseImageMeta via the shared mapPartitions pipeline. q412
    // proved the binary framing and q31 the image decode separately;
    // this chains them — the crawl-archive → media-metadata path a
    // multimodal ingest actually runs. The oracle restates dimensions
    // and byte lengths from the generator arithmetic (w = 1+id%512,
    // h = 1+(id·7)%512, GIF frames = 1+id%8; PNG 45 B, JPEG 23 B,
    // GIF 14+12·frames B) — so a silent stub fallback (wrong dims)
    // or a misframed record (wrong bytes) both hash-mismatch.
    Q("q414_warc_image_chain",
      (s, dir) => Scratch.withDir("q414") { tmp =>
        val out = tmp.getPath
        val recs = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(min(col("event_id")).cast("long").as("doc_id"))
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          s.sparkContext.hadoopConfiguration)
        recs.select("doc_id").foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
          val conf = hconf.value
          it.foreach { r =>
            val id = r.getLong(0)
            val w = (1 + id % 512).toInt
            val h = (1 + (id * 7) % 512).toInt
            val fr = (1 + id % 8).toInt
            val p = new org.apache.hadoop.fs.Path(s"$out/img_$id.warc.gz")
            val fs = p.getFileSystem(conf)
            val o = fs.create(p, true)
            try {
              val uri = s"https://ex.com/media/$id"
              graft.sources.Warc.writeGzipMember(o, "response", uri,
                graft.ops.Multimodal.pngBytes(w, h))
              graft.sources.Warc.writeGzipMember(o, "response", uri,
                graft.ops.Multimodal.jpegBytes(w, h))
              graft.sources.Warc.writeGzipMember(o, "response", uri,
                graft.ops.Multimodal.gifBytes(w, h, fr))
            } finally o.close()
          }
        }
        import s.implicits._
        // composite id = doc_id·10 + rec_idx (rec_idx < 10 by
        // construction) so the SAME extractMetadata pipeline runs
        // unchanged over the connector's rows
        val blobs = s.read.format("graft.sources.WarcSource").load(out)
          .select((regexp_extract(col("src_file"),
              "img_(\\d+)\\.warc\\.gz", 1).cast("long") * 10 +
              col("rec_idx")).as("doc_id"),
            col("payload"))
          .as[graft.ops.Multimodal.Blob]
        graft.ops.Multimodal.extractMetadata(blobs).toDF()
          .select(expr("doc_id div 10").as("doc_id"),
            pmod(col("doc_id"), lit(10L)).cast("int").as("rec_idx"),
            col("byte_len"), col("width"), col("height"),
            col("n_frames"), col("total_px"))
          .localCheckpoint()
      }.orderBy("doc_id", "rec_idx"),
      Some("""WITH e AS (SELECT event_type,
             |    CAST(MIN(event_id) AS BIGINT) AS doc_id
             |  FROM events
             |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
             |  GROUP BY 1),
             |d AS (SELECT doc_id,
             |    CAST(1 + doc_id % 512 AS INTEGER) AS w,
             |    CAST(1 + (doc_id * 7) % 512 AS INTEGER) AS h,
             |    CAST(1 + doc_id % 8 AS INTEGER) AS fr
             |  FROM e),
             |r AS (
             |  SELECT doc_id, 0 AS rec_idx, CAST(45 AS BIGINT) AS byte_len,
             |    w, h, CAST(1 AS INTEGER) AS nf FROM d
             |  UNION ALL
             |  SELECT doc_id, 1, CAST(23 AS BIGINT), w, h,
             |    CAST(1 AS INTEGER) FROM d
             |  UNION ALL
             |  SELECT doc_id, 2, CAST(14 + 12 * fr AS BIGINT), w, h, fr
             |  FROM d)
             |SELECT doc_id, CAST(rec_idx AS INTEGER) AS rec_idx, byte_len,
             |  w AS width, h AS height, nf AS n_frames,
             |  CAST(w AS BIGINT) * h * nf AS total_px
             |FROM r ORDER BY doc_id, rec_idx""".stripMargin)),

    // REAL audio bytes, half 1: RIFF/WAV container parse (fmt/data
    // chunk walk — sample rate, channels, 16-bit PCM) + integer
    // sample decode + frame energies + the SHARED VAD islands
    // segmentation (q149's kernel over real bytes instead of the
    // stub). Fixture WAVs are generated per doc with id-derived
    // header fields and samples s(i) = (id·31 + i·17) mod 2048 −
    // 1024, so the oracle restates the header AND every frame energy
    // from pure arithmetic — a misparsed chunk offset or a byte-order
    // slip in the sample decode shifts energies and hash-mismatches.
    Q("q415_wav_vad",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(min(col("event_id")).cast("long").as("doc_id"))
        val blobs = docs.select("doc_id").as[Long].map { id =>
          val n = (64 + (id % 5) * 16).toInt
          val rate = (8000 + (id % 3) * 4000).toInt
          val ch = (1 + id % 2).toInt
          val samples = Array.tabulate(n)(i =>
            graft.ops.Multimodal.pcmSample(id, i.toLong))
          graft.ops.Multimodal.Blob(id,
            graft.ops.Multimodal.wavBytes(rate, ch, samples))
          // localCheckpoint, not cache: both consumers (meta + VAD)
          // share the materialization, and the blocks are freed when
          // the RDD is GC'd instead of pinning executor storage for
          // the session's life across verify/bench reps (ADVICE r12)
        }.localCheckpoint()
        val meta = graft.ops.Multimodal.wavMetas(blobs).toDF()
        val segs = graft.ops.Multimodal.wavVadSegments(blobs)
        meta.join(segs, Seq("doc_id"))
          .select("doc_id", "sample_rate", "channels", "bits_per_sample",
            "n_samples", "seg_start", "seg_end", "n_frames", "sum_energy")
          .orderBy("doc_id", "seg_start")
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(MIN(event_id) AS BIGINT) AS doc_id
             |  FROM events
             |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
             |  GROUP BY 1),
             |p AS (SELECT doc_id,
             |    CAST(64 + (doc_id % 5) * 16 AS BIGINT) AS n,
             |    CAST(8000 + (doc_id % 3) * 4000 AS INTEGER)
             |      AS sample_rate,
             |    CAST(1 + doc_id % 2 AS INTEGER) AS channels
             |  FROM e),
             |i AS (SELECT doc_id, CAST(unnest(range(n)) AS BIGINT) AS i
             |  FROM p),
             |m0 AS (SELECT doc_id, i,
             |    (doc_id * 8192 + i) % 2147483648 AS x0 FROM i),
             |m1 AS (SELECT doc_id, i, xor(x0, x0 // 32768) AS x1 FROM m0),
             |m2 AS (SELECT doc_id, i,
             |    (x1 * 1103515245) % 2147483648 AS x2 FROM m1),
             |sm AS (SELECT doc_id, i // 16 AS f,
             |    xor(x2, x2 // 4096) % 2048 - 1024 AS s
             |  FROM m2),
             |fe AS (SELECT doc_id, f, CAST(SUM(s * s) AS BIGINT)
             |    AS energy
             |  FROM sm GROUP BY 1, 2),
             |v AS (SELECT doc_id, f, energy,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS rn
             |  FROM fe WHERE energy >= 5600000),
             |seg AS (SELECT doc_id, CAST(MIN(f) AS BIGINT) AS seg_start,
             |    CAST(MAX(f) AS BIGINT) AS seg_end,
             |    COUNT(*) AS n_frames,
             |    CAST(SUM(energy) AS BIGINT) AS sum_energy
             |  FROM v GROUP BY doc_id, f - rn)
             |SELECT p.doc_id, p.sample_rate, p.channels,
             |  CAST(16 AS INTEGER) AS bits_per_sample,
             |  CAST(p.n // p.channels AS BIGINT) AS n_samples,
             |  seg.seg_start, seg.seg_end, seg.n_frames, seg.sum_energy
             |FROM p JOIN seg USING (doc_id)
             |ORDER BY doc_id, seg_start""".stripMargin)),

    // REAL audio bytes, half 2: the Shazam chain (q280) over WAV-
    // decoded PCM — tracks are generated WAVs, snippets are WAVs of
    // the SAME sample arithmetic windowed to i ∈ [32, 192) (a true
    // 2-frame-offset containment), so the match must win with votes
    // concentrated at offset 2. The oracle restates samples → frame
    // energies → peaks → pair hashes → vote argmax entirely from the
    // generator arithmetic.
    Q("q416_wav_audio_match",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(min(col("event_id")).cast("long").as("doc_id"))
          .select("doc_id").as[Long]
        def wav(id: Long, from: Int, count: Int) = {
          val samples = Array.tabulate(count)(j =>
            graft.ops.Multimodal.pcmSample(id, (from + j).toLong))
          graft.ops.Multimodal.Blob(id,
            graft.ops.Multimodal.wavBytes(16000, 1, samples))
        }
        val tracks = docs.map(id =>
          wav(id, 0, (256 + (id % 4) * 64).toInt))
        val snippets = docs.map(id => wav(id, 32, 160))
        graft.ops.Multimodal.wavAudioMatch(tracks, snippets)
      },
      Some {
        def cons(p: String, lo: String, hi: String): String =
          s"""${p}i AS (SELECT doc_id,
             |    CAST(unnest(range($lo, $hi)) AS BIGINT) AS i
             |  FROM e),
             |${p}m2 AS (SELECT doc_id, i,
             |    (xor((doc_id * 8192 + i) % 2147483648,
             |      ((doc_id * 8192 + i) % 2147483648) // 32768)
             |      * 1103515245) % 2147483648 AS x2
             |  FROM ${p}i),
             |${p}sm AS (SELECT doc_id, (i - $lo) // 16 AS f,
             |    xor(x2, x2 // 4096) % 2048 - 1024 AS s FROM ${p}m2),
             |${p}fe AS (SELECT doc_id, f,
             |    CAST(SUM(s * s) AS BIGINT) AS energy
             |  FROM ${p}sm GROUP BY 1, 2),
             |${p}pk AS (SELECT doc_id, f, energy % 1024 AS b FROM (
             |    SELECT doc_id, f, energy,
             |      LAG(energy) OVER (PARTITION BY doc_id ORDER BY f)
             |        AS pe,
             |      LEAD(energy) OVER (PARTITION BY doc_id ORDER BY f)
             |        AS ne
             |    FROM ${p}fe)
             |  WHERE pe IS NOT NULL AND ne IS NOT NULL
             |    AND energy > pe AND energy >= ne),
             |${p}hp AS (SELECT a.doc_id, CAST(a.f AS BIGINT) AS f1,
             |    a.b * 8192 + b.b * 8 + (b.f - a.f) AS h
             |  FROM ${p}pk a JOIN ${p}pk b ON a.doc_id = b.doc_id
             |    AND b.f > a.f AND b.f <= a.f + 4)""".stripMargin
        s"""WITH e AS (SELECT CAST(MIN(event_id) AS BIGINT) AS doc_id,
           |    CAST(256 + (MIN(event_id) % 4) * 64 AS BIGINT) AS n
           |  FROM events
           |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
           |  GROUP BY event_type),
           |${cons("t", "0", "n")},
           |${cons("s", "32", "192")},
           |g AS (SELECT s.doc_id AS snippet_id, t.doc_id AS track_id,
           |    t.f1 - s.f1 AS offset_frames,
           |    CAST(COUNT(*) AS BIGINT) AS votes
           |  FROM shp s JOIN thp t ON s.h = t.h GROUP BY 1, 2, 3),
           |tot AS (SELECT snippet_id, track_id,
           |    CAST(SUM(votes) AS BIGINT) AS n_matches
           |  FROM g GROUP BY 1, 2),
           |r AS (SELECT g.snippet_id, g.track_id, g.offset_frames,
           |    g.votes, tot.n_matches,
           |    ROW_NUMBER() OVER (PARTITION BY g.snippet_id
           |      ORDER BY g.votes DESC, g.track_id, g.offset_frames)
           |      AS rn
           |  FROM g JOIN tot ON tot.snippet_id = g.snippet_id
           |    AND tot.track_id = g.track_id)
           |SELECT snippet_id, track_id, offset_frames, votes, n_matches
           |FROM r WHERE rn = 1 ORDER BY snippet_id""".stripMargin
      }),

    // The WARC→text→curation missing link, closed: per-doc HTML pages
    // exercising every kernel rule on real bytes — named/decimal/hex
    // entities, an unknown entity kept verbatim, a comment, raw-text
    // script/style bodies (the script contains '<'), a quoted '>'
    // attribute value, a bare literal '<', case-mixed block tags —
    // written as .warc.gz members, read back through the binary DSv2
    // source, extracted by the Html kernel, and chained straight into
    // the Gopher quality bundle. The oracle restates the EXTRACTED
    // TEXT string itself from generator arithmetic — one mis-stripped
    // tag, swallowed entity, or lost block boundary changes the text
    // and hash-mismatches — then recomputes the quality metrics over
    // that reconstruction (q366's restatement, over synthesized text).
    Q("q417_warc_html_text_chain",
      (s, dir) => Scratch.withDir("q417") { tmp =>
        val out = tmp.getPath
        val recs = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(min(col("event_id")).cast("long").as("doc_id"))
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          s.sparkContext.hadoopConfiguration)
        recs.select("doc_id").foreachPartition {
          (it: Iterator[org.apache.spark.sql.Row]) =>
          val conf = hconf.value
          it.foreach { r =>
            val id = r.getLong(0)
            val k = (1 + id % 4).toInt
            val items = (0 until k).map(j =>
              s"<li>item $j v${(id * 31 + j) % 97}</li>").mkString
            val html =
              s"<!DOCTYPE html><html><head><title>T$id</title>" +
                "<style>p{x:1}</style><script>if(1<2){a=1;}</script>" +
                s"</head><body><H1>Doc &amp; $id</H1><!-- c$id -->" +
                s"<p>alpha&nbsp;beta &#65;&#x42; $id</p>" +
                s"<ul>$items</ul>" +
                "<p>cmp 1 < 2 q&foo;w " +
                "<a href=\"u?a>b\">link</a> x &lt; y</p></body></html>"
            val p = new org.apache.hadoop.fs.Path(s"$out/page_$id.warc.gz")
            val fs = p.getFileSystem(conf)
            val o = fs.create(p, true)
            try graft.sources.Warc.writeGzipMember(o, "response",
              s"https://ex.com/page/$id", html.getBytes("UTF-8"))
            finally o.close()
          }
        }
        import s.implicits._
        val blobs = s.read.format("graft.sources.WarcSource").load(out)
          .select(regexp_extract(col("src_file"),
              "page_(\\d+)\\.warc\\.gz", 1).cast("long").as("doc_id"),
            col("payload"))
          .as[graft.ops.Multimodal.Blob]
        val dt = graft.ops.Html.docTexts(blobs).toDF()
        val g = graft.ops.TextAnalysis.gopherRulesUnsorted(
          dt.withColumn("g_text", translate(col("text"), "\n", " ")),
          textCol = "g_text")
        dt.join(g, Seq("doc_id"))
          .select("doc_id", "text", "n_blocks", "n_words", "mwl_ppm",
            "sym_ppm", "alpha_ppm", "stop_hits", "fail_mask", "keep")
          .localCheckpoint()
      }.orderBy("doc_id"),
      Some("""WITH e AS (SELECT event_type,
             |    CAST(MIN(event_id) AS BIGINT) AS doc_id
             |  FROM events
             |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
             |  GROUP BY 1),
             |d AS (SELECT doc_id, CAST(1 + doc_id % 4 AS BIGINT) AS k
             |  FROM e),
             |t AS (SELECT doc_id, k,
             |    'T' || CAST(doc_id AS VARCHAR) || chr(10) ||
             |    'Doc & ' || CAST(doc_id AS VARCHAR) || chr(10) ||
             |    'alpha beta AB ' || CAST(doc_id AS VARCHAR) || chr(10) ||
             |    'item 0 v' || CAST((doc_id * 31) % 97 AS VARCHAR) ||
             |    CASE WHEN k >= 2 THEN chr(10) || 'item 1 v' ||
             |      CAST((doc_id * 31 + 1) % 97 AS VARCHAR) ELSE '' END ||
             |    CASE WHEN k >= 3 THEN chr(10) || 'item 2 v' ||
             |      CAST((doc_id * 31 + 2) % 97 AS VARCHAR) ELSE '' END ||
             |    CASE WHEN k >= 4 THEN chr(10) || 'item 3 v' ||
             |      CAST((doc_id * 31 + 3) % 97 AS VARCHAR) ELSE '' END ||
             |    chr(10) || 'cmp 1 < 2 q&foo;w link x < y' AS text
             |  FROM d),
             |w AS (SELECT doc_id, k, text,
             |    string_split(replace(text, chr(10), ' '), ' ') AS ws
             |  FROM t),
             |m AS (SELECT doc_id, k, text,
             |    CAST(len(ws) AS BIGINT) AS n_words,
             |    CAST(list_sum(list_transform(ws, x -> length(x)))
             |      AS BIGINT) AS word_chars,
             |    CAST(0 AS BIGINT) AS sym_cnt,
             |    CAST(len(list_filter(ws,
             |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
             |      AS alpha_cnt,
             |    CAST(len(list_filter(
             |      ['the','be','to','of','and','that','have','with'],
             |      x -> list_contains(ws, x))) AS BIGINT) AS stop_hits
             |  FROM w),
             |p AS (SELECT doc_id, k, text, n_words,
             |    (word_chars * 1000000) // n_words AS mwl_ppm,
             |    (sym_cnt * 1000000) // n_words AS sym_ppm,
             |    (alpha_cnt * 1000000) // n_words AS alpha_ppm,
             |    stop_hits
             |  FROM m),
             |f AS (SELECT *,
             |    (CASE WHEN n_words BETWEEN 20 AND 1000
             |       THEN 0 ELSE 1 END)
             |  + (CASE WHEN mwl_ppm BETWEEN 3000000 AND 10000000
             |       THEN 0 ELSE 2 END)
             |  + (CASE WHEN sym_ppm <= 100000 THEN 0 ELSE 4 END)
             |  + (CASE WHEN alpha_ppm >= 800000 THEN 0 ELSE 8 END)
             |  + (CASE WHEN stop_hits >= 2 THEN 0 ELSE 16 END)
             |    AS fail_mask
             |  FROM p)
             |SELECT doc_id, text, CAST(4 + k AS INTEGER) AS n_blocks,
             |  n_words, mwl_ppm, sym_ppm, alpha_ppm, stop_hits,
             |  CAST(fail_mask AS BIGINT) AS fail_mask,
             |  fail_mask = 0 AS keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    // Presto dialect, fourteenth tranche: reduce_agg — the arbitrary
    // user-lambda fold aggregate, the ledger's last bucket-(c)
    // exclusion. Four folds through the oracle gate: a plain sum, a
    // max with a non-trivial initial state, a null-skipping
    // conditional sum (inputFunction is invoked per NON-NULL value —
    // the Presto contract), and a STRUCT state (sum, count) pair that
    // exercises state serialization through the shuffle. The oracle
    // restates each fold with the equivalent classical aggregate.
    Q("q418_presto_reduce_agg",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT g, fold_sum, fold_max, fold_view_sum,
            |  sc.s AS pair_sum, sc.c AS pair_cnt,
            |  sc.s div sc.c AS pair_avg
            |FROM (
            |  SELECT user_id % 10 AS g,
            |    reduce_agg(CAST(event_id AS BIGINT), CAST(0 AS BIGINT),
            |      (s, x) -> s + x, (a, b) -> a + b) AS fold_sum,
            |    reduce_agg(CAST(event_id AS BIGINT), CAST(-1 AS BIGINT),
            |      (s, x) -> CASE WHEN s >= x THEN s ELSE x END,
            |      (a, b) -> CASE WHEN a >= b THEN a ELSE b END)
            |      AS fold_max,
            |    reduce_agg(CASE WHEN event_type = 'view'
            |        THEN CAST(event_id AS BIGINT) END,
            |      CAST(0 AS BIGINT),
            |      (s, x) -> s + x, (a, b) -> a + b) AS fold_view_sum,
            |    reduce_agg(CAST(event_id AS BIGINT),
            |      named_struct('s', CAST(0 AS BIGINT),
            |        'c', CAST(0 AS BIGINT)),
            |      (s, x) -> named_struct('s', s.s + x, 'c', s.c + 1),
            |      (a, b) -> named_struct('s', a.s + b.s, 'c', a.c + b.c))
            |      AS sc
            |  FROM events
            |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            |    AND event_type IS NOT NULL
            |  GROUP BY user_id % 10) AS t
            |ORDER BY g""".stripMargin))
      },
      Some("""SELECT user_id % 10 AS g,
             |  CAST(SUM(event_id) AS BIGINT) AS fold_sum,
             |  CAST(MAX(event_id) AS BIGINT) AS fold_max,
             |  CAST(COALESCE(SUM(event_id)
             |    FILTER (WHERE event_type = 'view'), 0) AS BIGINT)
             |    AS fold_view_sum,
             |  CAST(SUM(event_id) AS BIGINT) AS pair_sum,
             |  CAST(COUNT(*) AS BIGINT) AS pair_cnt,
             |  CAST(SUM(event_id) // COUNT(*) AS BIGINT) AS pair_avg
             |FROM events
             |WHERE user_id IS NOT NULL AND event_id IS NOT NULL
             |  AND event_type IS NOT NULL
             |GROUP BY 1 ORDER BY g""".stripMargin)),

    // the HTML kernel at ROW SCALE: q417 proves the chain on a
    // handful of WARC docs; this runs extraction over the whole
    // documents table (markup synthesized around each doc with its
    // text entity-ESCAPED, so the kernel's decode provably inverts it
    // and the oracle can restate the extraction as whitespace
    // collapse + trim). Output pins block structure, length, and an
    // md5 of the extracted text per doc — map-only end to end, the
    // kernel riding the scan exactly as it would over 100 TB of
    // fetched pages.
    Q("q419_html_text_scale",
      (s, dir) => {
        import s.implicits._
        val esc = regexp_replace(
          regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;")
        val blobs = Tables(s, dir, "documents")
          .where(col("doc_id").isNotNull && col("text").isNotNull &&
            col("source").isNotNull)
          .select(col("doc_id"),
            encode(concat(lit("<html><head><title>D"), col("doc_id"),
              lit("</title><style>p{m:0}</style></head><body><h1>"),
              col("source"), lit("</h1><!-- src --><p>"), esc,
              lit("</p></body></html>")), "UTF-8").as("payload"))
          .as[graft.ops.Multimodal.Blob]
        graft.ops.Html.docTexts(blobs).toDF()
          .select(col("doc_id"), col("n_blocks"),
            length(col("text")).cast("long").as("n_chars"),
            md5(col("text").cast("binary")).as("fp"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS ct
             |  FROM documents
             |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
             |    AND source IS NOT NULL),
             |t AS (SELECT doc_id,
             |    'D' || CAST(doc_id AS VARCHAR) || chr(10) || source ||
             |    (CASE WHEN ct = '' THEN ''
             |          ELSE chr(10) || ct END) AS xt,
             |    CASE WHEN ct = '' THEN 2 ELSE 3 END AS nb
             |  FROM d)
             |SELECT doc_id, CAST(nb AS INTEGER) AS n_blocks,
             |  CAST(length(xt) AS BIGINT) AS n_chars, md5(xt) AS fp
             |FROM t ORDER BY doc_id""".stripMargin)),

    // G.711 telephony WAVs — the "non-PCM WAV" seam narrowed with the
    // two codecs that ARE pure arithmetic (ITU-T G.711 µ-law format 7
    // / A-law format 6, the 8 kHz companders every telephony/ASR
    // ingest meets): the chunk walk accepts the format codes, the
    // sample decode expands each companded byte through the CCITT
    // reference formulas, and the frame energies run the SHARED
    // kernel. Odd docs compand µ-law, even A-law; the oracle restates
    // byte generator → expand → Σs² per frame entirely in integer
    // SQL, so a mis-decoded segment/sign/bias shifts energies and
    // hash-mismatches. Genuinely compressed codecs (MP3/AAC/Opus)
    // remain the documented loud-fail seam.
    Q("q420_wav_g711",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("event_id").isNotNull)
          .groupBy(col("event_type"))
          .agg(min(col("event_id")).cast("long").as("doc_id"))
          .select("doc_id").as[Long]
        val blobs = docs.map { id =>
          val n = (64 + (id % 5) * 16).toInt
          val ch = (1 + id % 2).toInt
          val codes = Array.tabulate(n)(i =>
            graft.ops.Multimodal.g711Code(id, i.toLong))
          val fmtCode = if (id % 2 == 1) 7 else 6
          graft.ops.Multimodal.Blob(id,
            graft.ops.Multimodal.g711WavBytes(8000, ch, codes, fmtCode))
        }.localCheckpoint()
        val meta = graft.ops.Multimodal.wavMetas(blobs).toDF()
        val fe = graft.ops.Multimodal.wavFrameEnergies(blobs).toDF()
        meta.join(fe, Seq("doc_id"))
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("bits_per_sample"), col("n_samples"),
            col("frame"), col("energy"))
          .orderBy("doc_id", "frame")
      },
      Some("""WITH e AS (SELECT event_type,
             |    CAST(MIN(event_id) AS BIGINT) AS doc_id
             |  FROM events
             |  WHERE event_type IS NOT NULL AND event_id IS NOT NULL
             |  GROUP BY 1),
             |p AS (SELECT doc_id,
             |    CAST(64 + (doc_id % 5) * 16 AS BIGINT) AS n,
             |    CAST(1 + doc_id % 2 AS INTEGER) AS channels,
             |    doc_id % 2 = 1 AS is_ulaw
             |  FROM e),
             |i AS (SELECT doc_id, CAST(unnest(range(n)) AS BIGINT) AS i
             |  FROM p),
             |b AS (SELECT i.doc_id, i.i,
             |    (p.doc_id * 31 + i.i * 17) % 256 AS c, p.is_ulaw
             |  FROM i JOIN p USING (doc_id)),
             |u AS (SELECT doc_id, i, is_ulaw,
             |    255 - c AS u, xor(c, 85) AS a
             |  FROM b),
             |sm AS (SELECT doc_id, i // 16 AS f,
             |    CASE WHEN is_ulaw THEN
             |      CASE WHEN u >= 128
             |        THEN 132 - ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8))
             |        ELSE ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) - 132
             |      END
             |    ELSE
             |      (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
             |      (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
             |            ELSE ((a % 16) * 16 + 264)
             |              * (1 << (((a // 16) % 8) - 1)) END)
             |    END AS s
             |  FROM u),
             |fe AS (SELECT doc_id, f,
             |    CAST(SUM(s * s) AS BIGINT) AS energy
             |  FROM sm GROUP BY 1, 2)
             |SELECT p.doc_id, CAST(8000 AS INTEGER) AS sample_rate,
             |  p.channels, CAST(8 AS INTEGER) AS bits_per_sample,
             |  CAST(p.n // p.channels AS BIGINT) AS n_samples,
             |  CAST(fe.f AS INTEGER) AS frame, fe.energy
             |FROM p JOIN fe USING (doc_id)
             |ORDER BY doc_id, frame""".stripMargin)))

  /** q315's oracle — also applied verbatim to q346's streaming twin. */
  /** q405's oracle — shared verbatim by q408's streaming trap
    * monitor (the latest Update-mode count per template must equal
    * the batch distinct count).
    */
  private val CrawlerTrapsOracle: String =
    """WITH e AS (SELECT user_id, event_type, event_id
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |    AND event_id IS NOT NULL),
      |u AS (
      |  SELECT 'ex.com/cal/<n>/<n>' AS template,
      |    CAST(3 AS BIGINT) AS depth,
      |    CAST(COUNT(DISTINCT event_id % 1000) AS BIGINT)
      |      AS n_urls
      |  FROM e WHERE user_id % 3 = 0 HAVING COUNT(*) > 0
      |  UNION ALL
      |  SELECT 'ex.com/t/' || event_type || '/<n>',
      |    CAST(3 AS BIGINT),
      |    CAST(COUNT(DISTINCT user_id % 10) AS BIGINT)
      |  FROM e WHERE user_id % 3 = 1 GROUP BY event_type
      |  UNION ALL
      |  SELECT 'ex.com/doc/<h>', CAST(2 AS BIGINT),
      |    CAST(COUNT(DISTINCT md5(event_type)) AS BIGINT)
      |  FROM e WHERE user_id % 3 = 2 HAVING COUNT(*) > 0)
      |SELECT template, depth, n_urls, n_urls >= 50 AS is_trap
      |FROM u ORDER BY template""".stripMargin

  private val SprayOracle: String =
    """WITH pu AS (SELECT event_type AS t,
      |    epoch_us(ts) // 3600000000 AS h, user_id AS u,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events
      |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |    AND ts IS NOT NULL
      |  GROUP BY 1, 2, 3)
      |SELECT t AS event_type, h AS hour,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(c) AS BIGINT) AS n_events,
      |  CAST(MAX(c) AS BIGINT) AS max_per_user
      |FROM pu GROUP BY 1, 2
      |HAVING COUNT(*) >= 10 AND MAX(c) <= 2
      |ORDER BY event_type, hour""".stripMargin

  /** q313's oracle — also applied verbatim to q327's streaming twin
    * (single-batch replay drains the identical gap histogram the
    * batch op folds, then runs the same shared modal tail).
    */
  private val BeaconOracle: String =
    """WITH s AS (SELECT user_id AS u, event_type AS t,
             |    epoch_us(ts) AS us, event_id AS id
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL),
             |d AS (SELECT u, t,
             |    (us - LAG(us) OVER (PARTITION BY u, t
             |      ORDER BY us, id)) // 21600000000 AS gap_bucket,
             |    LAG(us) OVER (PARTITION BY u, t ORDER BY us, id)
             |      AS prev
             |  FROM s),
             |g AS (SELECT u, t, gap_bucket FROM d
             |  WHERE prev IS NOT NULL),
             |h AS (SELECT u, t, gap_bucket,
             |    CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY 1, 2, 3),
             |m AS (SELECT u, t, gap_bucket AS modal_gap_bucket,
             |    c AS modal_hits FROM (
             |    SELECT u, t, gap_bucket, c, ROW_NUMBER() OVER
             |      (PARTITION BY u, t ORDER BY c DESC, gap_bucket)
             |      AS rn FROM h) x
             |  WHERE rn = 1),
             |tt AS (SELECT u, t, CAST(COUNT(*) AS BIGINT) AS n_deltas
             |  FROM g GROUP BY 1, 2)
             |SELECT tt.u AS user_id, tt.t AS event_type,
             |  tt.n_deltas AS n_deltas,
             |  m.modal_gap_bucket AS modal_gap_bucket,
             |  m.modal_hits AS modal_hits,
             |  CAST(m.modal_hits * 1000000 // tt.n_deltas AS BIGINT)
             |    AS regular_ppm
             |FROM tt JOIN m ON m.u = tt.u AND m.t = tt.t
             |WHERE tt.n_deltas >= 3
             |  AND m.modal_hits * 1000000 // tt.n_deltas >= 400000
             |ORDER BY regular_ppm DESC, user_id, event_type
             |LIMIT 50""".stripMargin

  /** q322's oracle — also applied verbatim to q324's streaming twin. */
  private val RfmOracle: String =
    """WITH per AS (SELECT user_id AS u,
      |    MAX(epoch_us(ts) // 86400000000) AS last_d,
      |    CAST(COUNT(*) AS BIGINT) AS f,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT))
      |      AS BIGINT) AS m_c
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND value IS NOT NULL
      |  GROUP BY 1),
      |mx AS (SELECT MAX(last_d) AS dmax FROM per),
      |sc AS (SELECT u, m_c,
      |    6 - ntile(5) OVER (ORDER BY mx.dmax - last_d, u)
      |      AS r_score,
      |    6 - ntile(5) OVER (ORDER BY f DESC, u) AS f_score,
      |    6 - ntile(5) OVER (ORDER BY m_c DESC, u) AS m_score
      |  FROM per, mx)
      |SELECT r_score, f_score, m_score,
      |  CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(m_c) AS BIGINT) AS segment_rev_c,
      |  r_score = 5 AND f_score = 5 AND m_score = 5 AS champion
      |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
}
