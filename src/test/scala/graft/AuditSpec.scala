package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Audit

class AuditSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("contractViolations counts each rule in one pass") {
    val d = Seq(
      (Option(1L), Option(10.0)),
      (Option.empty[Long], Option(20.0)),
      (Option(3L), Option.empty[Double]),
      (Option(4L), Option(-5.0)))
      .toDF("user_id", "value")
    val r = Audit.contractViolations(d, Seq(
      Audit.Rule("null_user", col("user_id").isNull),
      Audit.Rule("bad_value", col("value").isNull || col("value") < 0)))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r === Map("null_user" -> 1L, "bad_value" -> 2L))
  }

  test("profile: nulls, exact distincts, typed min/max in one pass") {
    val d = Seq(
      (Option(3L), Option("b")),
      (Option(10L), Option("a")),   // numeric min/max must NOT be lexicographic
      (Option(3L), Option.empty[String]),
      (Option.empty[Long], Option("a")))
      .toDF("k", "s")
    val r = Audit.profile(d, Seq("k", "s")).collect()
      .map(x => x.getString(0) -> (x.getLong(1), x.getLong(2),
        x.getString(3), x.getString(4))).toMap
    assert(r("k") === ((1L, 2L, "3", "10"))) // min 3, max 10 (not "10" < "3")
    assert(r("s") === ((1L, 2L, "a", "b")))
    // one scan: the plan reads the table once (Expand handles the
    // multi-distinct), never unions per-column passes
    val plan = Audit.profile(d, Seq("k", "s")).queryExecution
      .optimizedPlan.toString
    assert(plan.contains("Expand") || plan.split("LocalRelation").length <= 3)
  }

  test("snapshotDiff classifies added / removed / changed; unchanged drops") {
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur = Seq((2L, "b"), (3L, "C2"), (4L, "d")).toDF("doc_id", "text")
    val r = Audit.snapshotDiff(old, cur).collect()
      .map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("status")).toMap
    assert(r === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
  }

  test("skewReport ranks hot keys with exact shares") {
    val d = (Seq.fill(60)(7L) ++ Seq.fill(30)(8L) ++ Seq.fill(10)(9L))
      .toDF("k")
    val r = Audit.skewReport(d, "k", k = 2).collect()
    assert(r.length === 2)
    assert(r(0).getAs[Long]("key") === 7L)
    assert(r(0).getAs[Long]("share_ppm") === 600000L)
    assert(r(1).getAs[Long]("key") === 8L)
    assert(r(1).getAs[Long]("cum_ppm") === 900000L)
  }

  test("annotatorAgreement: hand-computed kappa on a known table") {
    import spark.implicits._
    // contingency: (x,x)=3 (y,y)=1 (x,y)=1 → n=5, A=4
    // rowMarg: x=4, y=1 ; colMarg: x=3, y=2 → S = 4·3 + 1·2 = 14
    // kappa = (4·5 − 14)/(25 − 14) = 6/11
    val d = (Seq.fill(3)(("x", "x")) ++ Seq(("y", "y"), ("x", "y")))
      .toDF("a", "b")
    val r = graft.ops.Audit.annotatorAgreement(d, "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((5L, 4L, 14L)))
    assert(r.getAs[Long]("po_ppm") === 800000L)
    assert(r.getAs[Long]("pe_ppm") === 560000L)
    assert(r.getAs[Long]("kappa_num") === 6L)
    assert(r.getAs[Long]("kappa_den") === 11L)
  }

  test("annotatorAgreement: perfect agreement gives kappa_num == kappa_den") {
    import spark.implicits._
    val d = Seq(("p", "p"), ("q", "q"), ("p", "p")).toDF("a", "b")
    val r = graft.ops.Audit.annotatorAgreement(d, "a", "b").collect().head
    assert(r.getAs[Long]("kappa_num") === r.getAs[Long]("kappa_den"))
    assert(r.getAs[Long]("po_ppm") === 1000000L)
  }

  test("benford: digit extraction is exact at power-of-ten boundaries") {
    import spark.implicits._
    // 9.99 → 999 cents → digit 9 ; 10.00 → 1000 → 1 ; 0.01 → 1 → 1 ;
    // 99.995 rounds to 10000 cents → 1 ; zero/negative rows drop
    val d = Seq(9.99, 10.00, 0.01, 99.995, 0.0, -5.0).toDF("v")
    val r = graft.ops.Audit.benford(d, "v").collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(r === Map(1 -> 3L, 9 -> 1L))
  }

  test("lDiversity flags low-diversity classes k-anonymity would pass") {
    import spark.implicits._
    // class (a,1): 4 rows but a single user — k-anonymous at k=3,
    // yet l-diversity(3) must flag it; class (b,1): 3 distinct users → ok
    val d = (Seq.fill(4)(("a", 1L, 100L)) ++
      Seq(("b", 1L, 1L), ("b", 1L, 2L), ("b", 1L, 3L)) ++
      Seq(("c", 2L, 5L), ("c", 2L, 6L))) // 2 distinct → flagged
      .toDF("event_type", "hour", "user_id")
    val r = graft.ops.Audit.lDiversity(d, Seq("event_type", "hour"),
      "user_id", l = 3L).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq === Seq(("a", 1L, 1L, 4L), ("c", 2L, 2L, 2L)))
  }

  test("tCloseness: EMD gaps against the global band distribution") {
    // global band0=3 band1=3 (cum ppm 500000 at band0, r=2):
    // u all-band0 → gap 500000; w all-band1 → 500000; v matches the
    // global split exactly → 0
    val d = Seq(("u", 0L), ("u", 0L), ("w", 1L), ("w", 1L),
      ("v", 0L), ("v", 1L)).toDF("source", "band")
    val r = Audit.tCloseness(d, Seq("source"), "band", tPpm = 200000L)
      .collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    assert(r.toSeq === Seq(("u", 2L, 500000L, true),
      ("v", 2L, 0L, false), ("w", 2L, 500000L, true)))
  }

  test("tCloseness: single global band still emits zero-EMD rows") {
    val d = Seq(("u", 0L), ("u", 0L), ("v", 0L)).toDF("source", "band")
    val r = Audit.tCloseness(d, Seq("source"), "band").collect()
      .map(x => (x.getString(0), x.getLong(2), x.getBoolean(3)))
    assert(r.toSeq === Seq(("u", 0L, false), ("v", 0L, false)))
  }

  test("privateRelease: suppresses below k, noise bounded and seed-stable") {
    import org.apache.spark.sql.functions.to_timestamp
    // group "big": 25 rows on day 0 (released); "small": 3 rows (suppressed)
    val rows = (1 to 25).map(i => ("big", i.toLong)) ++
      (1 to 3).map(i => ("small", i.toLong))
    val d = rows.toDF("event_type", "sec")
      .select(col("event_type"), to_timestamp(col("sec")).as("ts"))
    val r1 = Audit.privateRelease(d, k = 20L, b = 5).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r1.map(_._1).toSeq === Seq("big"))
    val (_, _, released) = r1.head
    assert(math.abs(released - 25L) <= 5L)
    // seeded: a second run releases the identical table
    val r2 = Audit.privateRelease(d, k = 20L, b = 5).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r1.toSeq === r2.toSeq)
  }

  test("integritySweep: orphans counted per relationship, clean FKs zero") {
    val child = Seq(1L, 2L, 9L).toDF("ck")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Audit.integritySweep(Seq(
      ("bad.fk", child, "ck", parent, "pk"),
      ("good.fk", parent, "pk", parent, "pk"))).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq === Seq(("bad.fk", 3L, 3L, 1L), ("good.fk", 3L, 3L, 0L)))
  }

  test("joinableColumns: overlapping keys found with exact Jaccard, disjoint cut") {
    val a = Seq(1L, 2L, 3L, 4L).toDF("k")
    val b = Seq(3L, 4L, 5L).toDF("k")
    val c = Seq(100L, 200L).toDF("k")
    val r = Audit.joinableColumns(Seq(("t1.k", a, "k"), ("t2.k", b, "k"),
      ("t3.k", c, "k"))).collect()
      .map(x => ((x.getString(0), x.getString(1)),
        (x.getAs[Long]("inter"), x.getAs[Long]("jac_ppm")))).toMap
    // |{3,4}| / |{1..5}| = 2/5 = 400000 ppm; t3 is disjoint from both
    assert(r === Map(("t1.k", "t2.k") -> ((2L, 400000L))))
  }

  test("joinCardinalityEstimate: collision-free is exact, collisions only inflate") {
    val a = Seq(1L, 1L, 2L).toDF("ka")
    val b = Seq(1L, 2L, 2L, 3L).toDF("kb")
    // exact: key 1 → 2·1, key 2 → 1·2 = 4 matches
    val r = Audit.joinCardinalityEstimate(a, b, "ka", "kb", m = 256)
      .collect().head
    assert(r.getAs[Long]("exact") === 4L)
    assert(r.getAs[Long]("est") === 4L)
    assert(r.getAs[Long]("ratio_ppm") === 1000000L)
    // m = 1 merges every key into one bucket: 3·4 = 12 ≥ exact
    val c = Audit.joinCardinalityEstimate(a, b, "ka", "kb", m = 1)
      .collect().head
    assert(c.getAs[Long]("est") === 12L)
    assert(c.getAs[Long]("est") >= c.getAs[Long]("exact"))
  }

  test("deltaCompressionEstimate: sequential keys compress, gaps cost bits") {
    val d = Seq(1L, 2L, 3L, 4L).toDF("seq")
      .withColumn("gap", col("seq") * 0 + col("seq")) // placeholder col
    val r = Audit.deltaCompressionEstimate(d, Seq("seq")).collect().head
    // first row 64 bits + three 1-bit deltas = 67 of 256 raw
    assert(r.getAs[Long]("n") === 4L)
    assert(r.getAs[Long]("delta_bits") === 67L)
    assert(r.getAs[Long]("ratio_ppm") === 261718L)
    assert(r.getAs[Long]("est_bytes") === 9L)
    // a 1024 jump charges exactly 11 bits (length of '10000000000')
    val g = Seq(0L, 1024L).toDF("v")
    val rg = Audit.deltaCompressionEstimate(g, Seq("v")).collect().head
    assert(rg.getAs[Long]("delta_bits") === 75L)
  }

  test("fdDiscovery: exact FD certifies, violations count the g3 error") {
    val df = Seq((1, "a", 10), (1, "a", 11), (2, "b", 10), (2, "c", 12))
      .toDF("k", "v", "w")
    val r = Audit.fdDiscovery(df, Seq("k" -> "v", "w" -> "k", "v" -> "k"))
      .collect().map(x => (x.getAs[String]("det"), x.getAs[String]("dep")) ->
        (x.getAs[Long]("n_groups"), x.getAs[Long]("n_rows"),
          x.getAs[Long]("violations"), x.getAs[Long]("violation_ppm"),
          x.getAs[Boolean]("holds"))).toMap
    // k→v: k=1 pure (a,a), k=2 splits (b,c) → one row must go
    assert(r(("k", "v")) === ((2L, 4L, 1L, 250000L, false)))
    // w→k: w=10 maps to both k=1 and k=2 → 1 violation of 4 rows
    assert(r(("w", "k")) === ((3L, 4L, 1L, 250000L, false)))
    // v→k holds exactly: every v value has a single k
    assert(r(("v", "k")) === ((3L, 4L, 0L, 0L, true)))
    // ordering contract: (det, dep) ascending
    val names = Audit.fdDiscovery(df, Seq("w" -> "k", "k" -> "v"))
      .collect().map(_.getAs[String]("det")).toSeq
    assert(names === Seq("k", "w"))
  }

  test("clusteringAgreement: exact pair arithmetic, no pair lists") {
    val a = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z"))
      .toDF("id", "cluster")
    val b = Seq((1L, "p"), (2L, "p"), (3L, "p"), (4L, "q"))
      .toDF("id", "cluster")
    val r = Audit.clusteringAgreement(a, b).collect().head
    // A has 1 pair {1,2}; B has 3 pairs {12,13,23}; both share {1,2}
    assert(r.getAs[Long]("pairs_a") === 1L)
    assert(r.getAs[Long]("pairs_b") === 3L)
    assert(r.getAs[Long]("n_both") === 1L)
    assert(r.getAs[Long]("precision_ppm") === 333333L)
    assert(r.getAs[Long]("recall_ppm") === 1000000L)
    // all-singleton side: zero pairs → NULL ratio, not a crash
    val s = Seq((1L, "a"), (2L, "b")).toDF("id", "cluster")
    val r2 = Audit.clusteringAgreement(s, b.where($"id" <= 2)).collect().head
    assert(r2.getAs[Long]("pairs_a") === 0L)
    assert(r2.isNullAt(r2.fieldIndex("recall_ppm")))
  }

  test("joinableColumnsSketch: identical columns match fully, disjoint zero") {
    val a = (1L to 50L).toDF("k")
    val b = (1L to 50L).toDF("k")          // identical value set
    val c = (1001L to 1050L).toDF("k")     // disjoint
    val r = Audit.joinableColumnsSketch(Seq(("a.k", a, "k"), ("b.k", b, "k"),
        ("c.k", c, "k"))).collect()
      .map(x => (x.getAs[String]("ca"), x.getAs[String]("cb")) ->
        (x.getAs[Long]("matches"), x.getAs[Long]("est_ppm"),
          x.getAs[Long]("jac_ppm"), x.getAs[Long]("err_ppm"))).toMap
    assert(r(("a.k", "b.k")) === ((32L, 1000000L, 1000000L, 0L)))
    assert(r(("a.k", "c.k")) === ((0L, 0L, 0L, 0L)))
    assert(r(("b.k", "c.k")) === ((0L, 0L, 0L, 0L)))
  }

  test("retentionDryRun: age buckets split at the newest timestamp") {
    val d = Seq((1L, 0L), (2L, 5L), (3L, 10L), (4L, 40L))
      .toDF("event_id", "age")
      // newest row (age 0) anchors the clock; others age backwards
      .withColumn("ts", expr("timestamp_micros((100 - age) * 86400000000)"))
      .withColumn("event_type", lit("x"))
      .withColumn("props", lit("{}"))
    val r = Audit.retentionDryRun(d, keepDays = 21L, warmDays = 7L)
      .collect().map(x => x.getAs[String]("bucket") ->
        (x.getAs[Long]("n_rows"), x.getAs[Boolean]("would_delete"))).toMap
    assert(r("a_warm") === ((2L, false)))     // ages 0, 5
    assert(r("b_cool") === ((1L, false)))     // age 10
    assert(r("c_expired") === ((1L, true)))   // age 40
  }

  test("broadcastAdvisor: exact byte arithmetic per type, threshold flag") {
    // 2 rows: long(8) + string(len+4) + int(4); strings "ab","c" = 3
    // bytes + 2×4 offsets → est = 2×8 + 3 + 8 + 2×4 = 35
    val t1 = Seq((1L, "ab", 7), (2L, "c", 9)).toDF("id", "s", "i")
    // array<float>: 3+1 elems ×4 + 2×4 offsets + 2×8 for the long
    val t2 = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(4.0f)))
      .toDF("id", "v")
    val r = Audit.broadcastAdvisor(Seq("one" -> t1, "two" -> t2),
        thresholdBytes = 40L)
      .collect().map(x => x.getAs[String]("table_name") ->
        (x.getAs[Long]("n_rows"), x.getAs[Long]("est_bytes"),
          x.getAs[Boolean]("broadcastable"))).toMap
    assert(r("one") === ((2L, 35L, true)))
    assert(r("two") === ((2L, 40L, true)))
    // null strings charge only the offset, and the flag flips
    val t3 = Seq((1L, null: String), (2L, "xyz")).toDF("id", "s")
    val r3 = Audit.broadcastAdvisor(Seq("three" -> t3),
        thresholdBytes = 20L).collect().head
    assert(r3.getAs[Long]("est_bytes") === 2L * 8 + 3 + 2 * 4)
    assert(!r3.getAs[Boolean]("broadcastable"))
  }

  test("aqpEstimate at rate 1 degenerates to the exact total") {
    // rate=1 samples EVERY row (x % 1 == 0): the estimate must equal
    // the exact total with err_ppm 0, and the variance moments reduce
    // to the hand-computable n·Σx² − S²
    val li = Seq((1L, 1, 1.00), (1L, 2, 3.00))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
    val r = Audit.aqpEstimate(li, rate = 1L).collect().head
    assert(r.getAs[Long]("n_total") === 2L)
    assert(r.getAs[Long]("n_sample") === 2L)
    assert(r.getAs[Long]("est_total_c") === 400L)
    assert(r.getAs[Long]("exact_total_c") === 400L)
    assert(r.getAs[Long]("err_ppm") === 0L)
    // 2·(100² + 300²) − 400² = 40000 (double at the output edge,
    // matching the q317 oracle canon)
    assert(r.getAs[Double]("sample_var_n2_c2") === 40000.0)
  }

  test("aqpEstimate's sample is a strict subset that still lands near") {
    // 1000 identical rows at 2.00: any k-row sample scales back to
    // exactly k·200·rate; with xc constant the variance moment is 0
    val li = (1 to 1000).map(i => (i.toLong, 1, 2.00))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice")
    val r = Audit.aqpEstimate(li, rate = 10L).collect().head
    val k = r.getAs[Long]("n_sample")
    assert(k > 0 && k < 1000)
    assert(r.getAs[Long]("est_total_c") === k * 200 * 10)
    assert(r.getAs[Double]("sample_var_n2_c2") === 0.0)
  }

  test("temporalSanity: each rule counts exactly its planted violations") {
    def d(day: Long) = new java.sql.Timestamp(day * 86400 * 1000)
    // order 1: ordered day 10; lines shipped day 5 (BEFORE order!),
    // day 12, day 200 (late AND stretching the span to 195)
    // order 2: ordered day 20, one clean line day 25
    val li = Seq((1L, d(5)), (1L, d(12)), (1L, d(200)), (2L, d(25)))
      .toDF("l_orderkey", "l_shipdate")
    val o = Seq((1L, d(10)), (2L, d(20)))
      .toDF("o_orderkey", "o_orderdate")
    val r = graft.ops.Audit.temporalSanity(li, o).collect()
      .map(x => x.getAs[String]("rule") ->
        (x.getAs[Long]("n_checked"), x.getAs[Long]("n_violations")))
      .toMap
    assert(r("ship_before_order") === (4L, 1L))
    assert(r("ship_late") === (4L, 1L)) // day 200 vs order day 10
    assert(r("order_span") === (2L, 1L)) // order 1 spans 195 days
  }
}
