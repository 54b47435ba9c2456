package graft

import org.apache.spark.sql.functions._

import graft.ops.{Analytics, Audit, Bloom, Curation, DocDedup, Entity, Graph, HeavyHitters, Multimodal, Par, Similarity, Skew, Stats, Temporal, TextAnalysis}
import graft.sources.{BloomSkipping, KeyedTable, Lake, Skipping, ZOrder}

/** Training-data pipeline operators (dedup, similarity search, text
  * analysis, multimodal) over `documents` / `embeddings`. Exact
  * operators carry DuckDB oracles (identical float folds, micro-unit
  * scores). Every hash-based operator (MinHash, SimHash, SRP,
  * winnowing) uses engine-PORTABLE integer arithmetic (polynomial
  * folds + a non-linear 31-bit mixer), so its oracle restates the
  * full algorithm relationally and verifies hashes end to end; only
  * q47/q57/q36 additionally make corpus-empirical semantic claims
  * (noted DATA-COUPLED at the query).
  */
private[graft] object QueriesPipeline {
  import SparkEntryRegistry.Q

  // the q231/q290 melted (column id, value) block — one source of
  // truth for the joinable-column candidate set in both oracles
  private val duckColumnsMelted: String =
    """m AS (
      |  SELECT 'customer.c_custkey' AS cid,
      |    CAST(c_custkey AS VARCHAR) AS v FROM customer
      |    WHERE c_custkey IS NOT NULL
      |  UNION SELECT 'customer.c_nationkey',
      |    CAST(c_nationkey AS VARCHAR) FROM customer
      |    WHERE c_nationkey IS NOT NULL
      |  UNION SELECT 'lineitem.l_orderkey',
      |    CAST(l_orderkey AS VARCHAR) FROM lineitem
      |    WHERE l_orderkey IS NOT NULL
      |  UNION SELECT 'lineitem.l_partkey',
      |    CAST(l_partkey AS VARCHAR) FROM lineitem
      |    WHERE l_partkey IS NOT NULL
      |  UNION SELECT 'lineitem.l_suppkey',
      |    CAST(l_suppkey AS VARCHAR) FROM lineitem
      |    WHERE l_suppkey IS NOT NULL
      |  UNION SELECT 'nation.n_nationkey',
      |    CAST(n_nationkey AS VARCHAR) FROM nation
      |    WHERE n_nationkey IS NOT NULL
      |  UNION SELECT 'orders.o_custkey',
      |    CAST(o_custkey AS VARCHAR) FROM orders
      |    WHERE o_custkey IS NOT NULL
      |  UNION SELECT 'orders.o_orderkey',
      |    CAST(o_orderkey AS VARCHAR) FROM orders
      |    WHERE o_orderkey IS NOT NULL
      |  UNION SELECT 'part.p_partkey',
      |    CAST(p_partkey AS VARCHAR) FROM part
      |    WHERE p_partkey IS NOT NULL
      |  UNION SELECT 'supplier.s_nationkey',
      |    CAST(s_nationkey AS VARCHAR) FROM supplier
      |    WHERE s_nationkey IS NOT NULL
      |  UNION SELECT 'supplier.s_suppkey',
      |    CAST(s_suppkey AS VARCHAR) FROM supplier
      |    WHERE s_suppkey IS NOT NULL)""".stripMargin

  /** The q231/q290 candidate columns on the Spark side. */
  private def joinableColSet(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, org.apache.spark.sql.DataFrame, String)] = Seq(
    ("customer.c_custkey", Tables(s, dir, "customer"), "c_custkey"),
    ("customer.c_nationkey", Tables(s, dir, "customer"), "c_nationkey"),
    ("lineitem.l_orderkey", Tables(s, dir, "lineitem"), "l_orderkey"),
    ("lineitem.l_partkey", Tables(s, dir, "lineitem"), "l_partkey"),
    ("lineitem.l_suppkey", Tables(s, dir, "lineitem"), "l_suppkey"),
    ("nation.n_nationkey", Tables(s, dir, "nation"), "n_nationkey"),
    ("orders.o_custkey", Tables(s, dir, "orders"), "o_custkey"),
    ("orders.o_orderkey", Tables(s, dir, "orders"), "o_orderkey"),
    ("part.p_partkey", Tables(s, dir, "part"), "p_partkey"),
    ("supplier.s_nationkey", Tables(s, dir, "supplier"), "s_nationkey"),
    ("supplier.s_suppkey", Tables(s, dir, "supplier"), "s_suppkey"))

  // shared per-label centroid oracle (q66 batch + q279 streaming twin
  // — integer sums commute, so the stream replay equals the batch op
  // and one definition serves both)
  private val centroidOracle: String =
    """WITH e AS (SELECT label,
      |            generate_subscripts(embedding,1) - 1 AS idx,
      |            CAST(floor(CAST(unnest(embedding) AS DOUBLE)*1000000)
      |              AS BIGINT) AS micro
      |          FROM embeddings)
      |SELECT label, CAST(idx AS INTEGER) AS idx,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(micro) AS BIGINT) AS sum_micro,
      |  CAST(floor(CAST(SUM(micro) AS DOUBLE) / COUNT(*)) AS BIGINT)
      |    AS mean_micro
      |FROM e GROUP BY 1,2 ORDER BY 1,2""".stripMargin

  // shared two-step funnel oracle (q102 batch + q274 streaming twin —
  // the stream's single-microbatch replay equals the batch fold, so
  // one definition serves both and they can never drift)
  private val funnelOracle: String =
    """WITH b AS (SELECT user_id AS key, event_type AS t,
      |            epoch_us(ts) AS us FROM events
      |          WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |            AND event_type IN ('view', 'purchase')),
      |f AS (SELECT key,
      |        MIN(CASE WHEN t = 'view' THEN us END) AS first_us,
      |        list(CASE WHEN t = 'purchase' THEN us END) AS seconds
      |      FROM b GROUP BY 1),
      |g AS (SELECT key, first_us,
      |        list_min(list_filter(seconds, s -> s >= first_us))
      |          AS second_us
      |      FROM f WHERE first_us IS NOT NULL)
      |SELECT key AS user_id, first_us, second_us,
      |  CAST(CASE WHEN second_us IS NOT NULL
      |       AND second_us - first_us <= 3600000000
      |       THEN 1 ELSE 0 END AS INTEGER) AS converted
      |FROM g ORDER BY key""".stripMargin

  // shared token-bucket oracle (q250 batch + q251 streaming twin —
  // identical recurrence, one source of truth): recursive CTE folding
  // capacity 3 × refill 1 day in µs-of-refill credit
  private val tokenBucketOracle: String =
    """WITH RECURSIVE ev AS (SELECT user_id, event_id,
      |    epoch_us(ts) AS us,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_id IS NOT NULL),
      |st AS (
      |  SELECT user_id, rn, us, event_id,
      |    CAST(259200000000 AS BIGINT) AS avail_us,
      |    TRUE AS allowed,
      |    CAST(172800000000 AS BIGINT) AS tok
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.rn, e.us, e.event_id,
      |    LEAST(259200000000, s.tok + (e.us - s.us)) AS avail_us,
      |    LEAST(259200000000, s.tok + (e.us - s.us))
      |      >= 86400000000 AS allowed,
      |    LEAST(259200000000, s.tok + (e.us - s.us))
      |      - CASE WHEN LEAST(259200000000, s.tok + (e.us - s.us))
      |          >= 86400000000 THEN 86400000000 ELSE 0 END AS tok
      |  FROM ev e JOIN st s
      |    ON s.user_id = e.user_id AND e.rn = s.rn + 1)
      |SELECT user_id, event_id, allowed, avail_us
      |FROM st ORDER BY user_id, event_id""".stripMargin

  // shared cosine text for the DuckDB side (deterministic left fold,
  // same op order as Similarity.dot's aggregate fold)
  private def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a,$b), x -> x[1]*x[2])) /
       |  (sqrt(list_sum(list_transform(list_zip($a,$a), x -> x[1]*x[2]))) *
       |   sqrt(list_sum(list_transform(list_zip($b,$b), x -> x[1]*x[2]))))""".stripMargin

  // same-text SQL surfaces (run verbatim on Spark AND DuckDB)
  private val LateralSql =
    """SELECT t.event_type, l.user_id, l.cnt
      |FROM (SELECT DISTINCT event_type FROM events
      |      WHERE event_type IS NOT NULL) t,
      |LATERAL (
      |  SELECT user_id, COUNT(*) AS cnt FROM events e
      |  WHERE e.event_type = t.event_type AND e.user_id IS NOT NULL
      |  GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 2
      |) l
      |ORDER BY t.event_type, l.cnt DESC, l.user_id""".stripMargin

  private val UnpivotSql =
    """SELECT event_id, metric, val FROM (
      |  SELECT event_id,
      |    CAST(floor(value * 1000000) AS BIGINT) AS value_micro,
      |    CAST(user_id AS BIGINT) AS user_id_n,
      |    CAST(length(event_type) AS BIGINT) AS type_len
      |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL)
      |UNPIVOT (val FOR metric IN (value_micro, user_id_n, type_len))
      |ORDER BY event_id, metric""".stripMargin

  private val SetOpsAllSql =
    """(SELECT user_id FROM events WHERE event_type = 'click'
      | INTERSECT ALL SELECT user_id FROM events WHERE event_type = 'view')
      |EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'error'
      |ORDER BY user_id""".stripMargin

  // Output edge is DOUBLE, not DECIMAL: the correctness gate reads the
  // Spark parquet through pandas (DECIMAL → Decimal('209.00')) and the
  // DuckDB oracle through .df() (DECIMAL → float64 209.0), so decimal
  // edges hash-mismatch on trailing zeros even when values are equal.
  // Both engines run this same text: the decimal math stays internal
  // and the final decimal→double conversion is the identical IEEE
  // nearest on both sides (r04 verdict task 1).
  // o_orderdate stays the raw TIMESTAMP (the Q3 convention): a DATE
  // edge is the only date32 output in the suite and pandas (date) vs
  // DuckDB .df() (Timestamp 00:00:00) stringify it differently.
  private val TpchQ18Sql =
    """SELECT c.c_name, o.o_orderkey,
      |  o.o_orderdate AS o_orderdate,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
      |    AS o_totalprice,
      |  CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2)))
      |    AS DECIMAL(18,2)) AS DOUBLE) AS total_qty
      |FROM orders o
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      |GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
      |ORDER BY o_totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  /** Q18 with the double lineitem pass folded away: the textbook form
    * aggregates lineitem once for the HAVING semi-join and AGAIN for
    * total_qty; since o_orderkey is a group key, total_qty IS the
    * per-orderkey sum — so one HAVING-filtered aggregate feeds both
    * consumers. The filtered key set is tiny (~1 in 10⁴ orders), so
    * AQE broadcasts it into orders and lineitem is scanned exactly
    * once. The ORACLE stays the textbook Q18 text, pinning the
    * rewrite's equivalence.
    */
  private val TpchQ18OnePassSql =
    """WITH q AS (
      |  SELECT l_orderkey,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      |SELECT c.c_name, o.o_orderkey,
      |  o.o_orderdate AS o_orderdate,
      |  CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
      |    AS o_totalprice,
      |  CAST(CAST(q.qty AS DECIMAL(18,2)) AS DOUBLE) AS total_qty
      |FROM q
      |JOIN orders o ON o.o_orderkey = q.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |ORDER BY o_totalprice DESC, o.o_orderkey
      |LIMIT 100""".stripMargin

  private val TpchQ21Sql =
    """SELECT s.s_name, COUNT(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** TPC-H Q22 shape (no phone prefixes in this schema — market
    * segment stands in for the country code, and since this synthetic
    * corpus gives EVERY customer orders, "no orders at all" becomes
    * "no urgent-priority order" to keep the anti-join non-vacuous):
    * rich customers who never placed an urgent order, vs the
    * positive-balance average of their segment group. Balances as
    * exact cents; the one float step (the average) is a single double
    * division floored identically by both engines. Plan shape:
    * scalar-subquery broadcast + anti hash join on custkey — no
    * per-row re-execution.
    */
  private val TpchQ22Sql =
    """WITH c AS (SELECT c_custkey, c_mktsegment,
      |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |  FROM customer
      |  WHERE c_mktsegment IN ('AUTOMOBILE', 'MACHINERY', 'FURNITURE')),
      |a AS (SELECT CAST(floor(
      |      SUM(CASE WHEN bal_c > 0 THEN bal_c ELSE 0 END) * 1.0 /
      |      SUM(CASE WHEN bal_c > 0 THEN 1 ELSE 0 END)) AS BIGINT) AS ab
      |  FROM c)
      |SELECT c_mktsegment AS segment, COUNT(*) AS numcust,
      |  CAST(SUM(bal_c) AS BIGINT) AS totbal
      |FROM c, a
      |WHERE bal_c > ab
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment ORDER BY segment""".stripMargin

  /** TPC-H Q5 shape (local-supplier revenue by nation): the 6-way
    * join gauntlet — region filter prunes nation, dims broadcast down
    * the chain, the fact shuffles once per join key; revenue in exact
    * DECIMAL (cast each factor BEFORE multiplying — Spark rounds
    * half-up, DuckDB half-even on a double→decimal cast of the
    * product). Same text on both engines.
    */
  private val TpchQ5Sql =
    """SELECT n.n_name AS n_name,
      |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
      |           (1 - CAST(l.l_discount AS DECIMAL(18,2))))
      |    AS DECIMAL(28,4)) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  AND c.c_nationkey = s.s_nationkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name = 'ASIA'
      |GROUP BY n.n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  private val TpchQ7Sql =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
      |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
      |           (1 - CAST(l.l_discount AS DECIMAL(18,2))))
      |    AS DECIMAL(28,4)) AS DOUBLE) AS revenue
      |FROM supplier s
      |JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      |WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
      |    OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      |GROUP BY sn.n_name, cn.n_name, EXTRACT(year FROM l.l_shipdate)
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q3 shape (shipping-priority top-10): the segment filter
    * prunes customer BEFORE either join, both dims broadcast into the
    * lineitem scan, and the top-10 is a TakeOrdered over the grouped
    * revenue — totally ordered by (revenue desc, date, key) so LIMIT
    * is deterministic. `o_orderpriority` stands in for the reference
    * schema's `o_shippriority` (not in the synthetic table). Decimal
    * factor-by-factor cast as in Q5 (half-even parity with DuckDB).
    */
  private val TpchQ3Sql =
    """SELECT l.l_orderkey AS l_orderkey,
      |  CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
      |           (1 - CAST(l.l_discount AS DECIMAL(18,2))))
      |    AS DECIMAL(28,4)) AS DOUBLE) AS revenue,
      |  o.o_orderdate AS o_orderdate,
      |  o.o_orderpriority AS o_orderpriority
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1996-03-15'
      |  AND l.l_shipdate > TIMESTAMP '1996-03-15'
      |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
      |ORDER BY revenue DESC, o_orderdate, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q13 shape (customer order-count distribution): the LEFT
    * JOIN keeps zero-order customers, the filter lives in the JOIN
    * CONDITION (a WHERE would silently drop them — the classic Q13
    * trap), and the outer aggregate histograms the per-customer
    * counts. `o_orderpriority <> '1-URGENT'` stands in for the
    * reference schema's `o_comment NOT LIKE` (no comment column in
    * the synthetic table). Scale: both aggregates are
    * map-side-combinable; the join shuffles on `custkey` once, and
    * the second aggregate's domain is ≤ max-orders-per-customer.
    * Output is exactly the two grouping axes, so the two-key ORDER BY
    * is total — deterministic without a tiebreaker column.
    */
  private val TpchQ13Sql =
    """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
      |FROM (
      |  SELECT c.c_custkey AS c_custkey,
      |    COUNT(o.o_orderkey) AS c_count
      |  FROM customer c
      |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |    AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** TPC-H Q19 shape (disjunctive promo revenue): three brand ×
    * size × quantity conjunct arms OR'd together — the canonical
    * test that an optimizer pushes a DISJUNCTION of conjunctions
    * down to the scans (each arm's part predicate prunes `part`
    * before the join; the join itself stays a plain equi-join with
    * the OR as a post-join residual). Revenue kept exact as
    * cents × (100 − disc_pct); `p_size`/`l_quantity` arms replace
    * the reference schema's shipmode/container conjuncts (columns
    * not in the synthetic tables). COALESCE keeps the empty-match
    * case a 0 row, identically in both engines.
    */
  private val TpchQ19Sql =
    """SELECT COALESCE(CAST(SUM(
      |    CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      |    (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
      |  AS BIGINT), 0) AS revenue_c_pct
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
      |       AND l.l_quantity BETWEEN 1 AND 11)
      |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
      |       AND l.l_quantity BETWEEN 10 AND 20)
      |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
      |       AND l.l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** TPC-H Q4 shape (order-priority checking): date-windowed orders
    * kept only when a correlated EXISTS finds a late-shipping
    * lineitem — the semi-join decorrelation test. `l_shipdate >
    * o_orderdate + 30 days` stands in for the reference schema's
    * commitdate/receiptdate lateness (columns not in the synthetic
    * table).
    */
  private val TpchQ4Sql =
    """SELECT o.o_orderpriority AS o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin

  /** TPC-H Q8 shape (national market share): 6-join star over a
    * region's customers, revenue bucketed by supplier nation and
    * order year, each nation's share of the year total via a window
    * over the aggregate. Revenue exact as cents×pct BIGINTs; the
    * share alone goes through double (floor(a·10⁶/b) — identical
    * IEEE in both engines) because a BIGINT ppm cross-multiply
    * overflows at warehouse scale.
    */
  private val TpchQ8Sql =
    """WITH rev AS (
      |  SELECT year(o.o_orderdate) AS o_year, n2.n_name AS supp_nation,
      |    CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100) AS BIGINT))
      |      AS rev_c_pct
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n1.n_regionkey
      |    AND r.r_name = 'ASIA'
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      |  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o.o_orderdate < TIMESTAMP '1998-01-01')
      |SELECT o_year, supp_nation,
      |  CAST(SUM(rev_c_pct) AS BIGINT) AS nation_rev,
      |  CAST(floor(CAST(SUM(rev_c_pct) AS DOUBLE) * 1000000 /
      |    CAST(SUM(SUM(rev_c_pct)) OVER (PARTITION BY o_year)
      |      AS DOUBLE)) AS BIGINT) AS share_ppm
      |FROM rev GROUP BY o_year, supp_nation
      |ORDER BY o_year, supp_nation""".stripMargin

  /** TPC-H Q10 shape (returned-item revenue): the quarter's 'R'
    * lineitems rolled up to customers, top 20 by revenue with the
    * key as tiebreak so LIMIT is total-order deterministic.
    */
  private val TpchQ10Sql =
    """SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
      |  CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      |    (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
      |    AS BIGINT) AS revenue_c_pct
      |FROM customer c
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o.o_orderdate < TIMESTAMP '1996-04-01'
      |  AND l.l_returnflag = 'R'
      |GROUP BY c.c_custkey, c.c_name
      |ORDER BY revenue_c_pct DESC, c_custkey
      |LIMIT 20""".stripMargin

  /** TPC-H Q14 shape (promo revenue share): one month's revenue
    * split by `p_type = 'PROMO'` (the synthetic table stores the
    * type family without a suffix, so equality replaces LIKE
    * 'PROMO%'), share as the same double-floored ppm as Q8.
    */
  private val TpchQ14Sql =
    """SELECT CAST(floor(CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN
      |      CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100) AS BIGINT))
      |    ELSE 0 END) AS DOUBLE) * 1000000 /
      |    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
      |      AS DOUBLE)) AS BIGINT) AS promo_share_ppm
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      |  AND l.l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin

  /** TPC-H Q15 shape (top supplier): a quarter's per-supplier
    * revenue as a CTE ("the view"), the max selected by scalar
    * subquery — ties all surface (no LIMIT), ordered by key.
    */
  private val TpchQ15Sql =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) *
      |      (100 - CAST(round(l_discount * 100) AS BIGINT)))
      |      AS BIGINT) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
      |  r.total_rev AS total_rev
      |FROM supplier s
      |JOIN rev r ON r.l_suppkey = s.s_suppkey
      |WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
      |ORDER BY s.s_suppkey""".stripMargin

  /** DuckDB CTE chain `s0`…`s<rounds>` + `p_r`/`m_r`: the full BPE
    * merge replay of `Curation.bpeMerges` — normalization, corpus
    * pair counts, deterministic argmax, and the leftmost
    * non-overlapping rewrite — carrying `doc_id` through every round
    * so both the merge table (q117) and the encoded corpus (q125)
    * verify off the SAME restatement.
    */
  private def duckBpeCtes(rounds: Int): String = {
    def roundCte(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT pair, COUNT(*) AS cnt FROM (
         |    SELECT unnest(list_transform(range(1, len(t)),
         |      i -> t[i] || ' ' || t[i+1])) AS pair
         |    FROM (SELECT string_split(trim(s), ' ') AS t FROM $prev)
         |    WHERE len(t) >= 2)
         |  GROUP BY 1),
         |m$r AS (SELECT pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |s$r AS (SELECT doc_id, replace(s, ' ' || (SELECT pair FROM m$r) || ' ',
         |    ' ' || replace((SELECT pair FROM m$r), ' ', '_') || ' ') AS s
         |  FROM $prev)""".stripMargin
    }
    s"""s0 AS (SELECT doc_id, ' ' || n || ' ' AS s FROM (
       |    SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z ]', '', 'g'), ' +', ' ', 'g')) AS n FROM documents)
       |  WHERE n <> ''),
       |${(1 to rounds).map(roundCte).mkString(",\n")}""".stripMargin
  }

  /** DuckDB restatement of `VecKernels.mix31` — the non-linear 31-bit
    * mixer (xorshift, multiply mod 2^31, xorshift) in exact BIGINT
    * arithmetic (`//` on non-negative values = the kernel's `>>`).
    * The input expression must be non-negative.
    */
  private[graft] def duckMix31(e: String): String = {
    val x0 = s"(($e) % 2147483648)"
    val x1 = s"xor($x0, $x0 // 32768)"
    val x2 = s"(($x1 * 1103515245) % 2147483648)"
    s"xor($x2, $x2 // 4096)"
  }

  /** Exact integer floor-sqrt in DuckDB SQL: IEEE sqrt (bit-identical
    * to Spark's) with the same off-by-one guard Graph.sgnsShards
    * applies, so floor(sqrt(x)) is mathematically exact on both
    * engines.
    */
  private[graft] def duckIsqrt(x: String): String = {
    val s = s"CAST(FLOOR(SQRT(CAST(($x) AS DOUBLE))) AS BIGINT)"
    s"(CASE WHEN (($s)+1)*(($s)+1) <= ($x) THEN ($s)+1 " +
      s"WHEN ($s)*($s) > ($x) THEN ($s)-1 ELSE ($s) END)"
  }

  /** TPC-H Q12 shape (shipping-mode priority mix): join + two-way
    * conditional count per mode axis; `l_returnflag` stands in for
    * the reference schema's `l_shipmode` (not in the synthetic
    * table).
    */
  private val TpchQ12Sql =
    """SELECT l.l_returnflag AS mode,
      |  CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT',
      |    '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders o
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l.l_shipdate < TIMESTAMP '1997-01-01'
      |GROUP BY l.l_returnflag
      |ORDER BY l.l_returnflag""".stripMargin

  /** TPC-H Q16 shape (supplier diversity per part attribute):
    * distinct-supplier counts per (brand, type, size) with a brand
    * exclusion and a NOT IN supplier blacklist; supplier-part pairs
    * derive from lineitem (the synthetic schema has no partsupp),
    * the blacklist is negative-balance suppliers (no comment
    * column).
    */
  private val TpchQ16Sql =
    """SELECT p.p_brand AS p_brand, p.p_type AS p_type,
      |  p.p_size AS p_size,
      |  CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand <> 'Brand#5'
      |  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |    WHERE s_acctbal < 0)
      |GROUP BY p.p_brand, p.p_type, p.p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** DuckDB replay of `Stats.holtForecast`'s packed-scalar Holt fold
    * (see the op's scaladoc for why the state is one BIGINT): same
    * constants, same truncating divisions, unpacked at the end.
    */
  private val HoltOracleSql: String = {
    val L = "(acc // 2147483648 - 1073741824)"
    val B = "(acc % 2147483648 - 1073741824)"
    val NL = s"((500 * x + 500 * ($L + $B)) // 1000)"
    val NB = s"((300 * ($NL - $L) + 700 * $B) // 1000)"
    s"""WITH daily AS (SELECT event_type AS grp,
       |    epoch_us(ts) // 86400000000 AS day,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM events
       |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
       |  GROUP BY 1, 2),
       |ds AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days,
       |    list_sort(list({'day': day, 'cnt': cnt})) AS l
       |  FROM daily GROUP BY 1),
       |st AS (SELECT grp, n_days,
       |    list_reduce(
       |      list_prepend(
       |        (l[1].cnt * 1000 + 1073741824) * 2147483648 + 1073741824,
       |        list_transform(l[2:], x -> x.cnt * 1000)),
       |      (acc, x) -> ($NL + 1073741824) * 2147483648
       |                  + ($NB + 1073741824)) AS s
       |  FROM ds)
       |SELECT grp, n_days,
       |  s // 2147483648 - 1073741824 AS level_milli,
       |  s % 2147483648 - 1073741824 AS trend_milli,
       |  (s // 2147483648 - 1073741824) + (s % 2147483648 - 1073741824)
       |    AS forecast_milli
       |FROM st ORDER BY grp""".stripMargin
  }

  /** DuckDB replay of `DocDedup.alignSpans` — positioned 3-gram
    * shingles, df-cut, pair filter, diagonal gaps-and-islands, best
    * run per pair.
    */
  private val AlignSpansOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
      |  FROM documents),
      |ps0 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      |    i -> {'pos': i - 1,
      |          'sh': ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]})) AS p
      |  FROM w WHERE len(ws) >= 3),
      |ps AS (SELECT doc_id, p.pos AS pos, p.sh AS sh FROM ps0),
      |keep AS (SELECT sh FROM (SELECT sh,
      |    COUNT(DISTINCT doc_id) AS d FROM ps GROUP BY 1)
      |  WHERE d <= 100),
      |psf AS (SELECT ps.* FROM ps JOIN keep USING (sh)),
      |m AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |    a.pos AS pa, b.pos AS pb
      |  FROM psf a JOIN psf b
      |    ON a.sh = b.sh AND a.doc_id < b.doc_id),
      |pairs AS (SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS n_matches
      |  FROM m GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |d AS (SELECT m.*, m.pa - m.pb AS diag
      |  FROM m JOIN pairs USING (a_id, b_id)),
      |r AS (SELECT *, pa - ROW_NUMBER() OVER (PARTITION BY a_id, b_id,
      |    diag ORDER BY pa) AS isl FROM d),
      |runs AS (SELECT a_id, b_id, CAST(COUNT(*) AS BIGINT) AS run_len,
      |    CAST(MIN(pa) AS BIGINT) AS start_a,
      |    CAST(MIN(pb) AS BIGINT) AS start_b
      |  FROM r GROUP BY a_id, b_id, diag, isl),
      |best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY a_id, b_id
      |    ORDER BY run_len DESC, start_a, start_b) AS rn FROM runs)
      |SELECT best.a_id AS a_id, best.b_id AS b_id,
      |  pairs.n_matches AS n_matches, best.run_len AS run_len,
      |  best.start_a AS start_a, best.start_b AS start_b
      |FROM best JOIN pairs USING (a_id, b_id)
      |WHERE best.rn = 1
      |ORDER BY a_id, b_id""".stripMargin

  /** DuckDB restatement of the engine-portable base-31 code-point
    * fold (`VecKernels.polyHash31` / `TextAnalysis.rollingHash`,
    * proven bit-exact by q38) applied to string expression `e`.
    */
  private def duckPoly31(e: String): String =
    s"""list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($e, ''),
       |      c -> CAST(unicode(c) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % 2147483647)""".stripMargin

  /** DuckDB CTE triple `e`/`pb`/`srpbits`: per-(vector, plane) sign
    * bits of the engine-portable SRP projections — the exact integer
    * LCG weights and strict left-fold of `VecKernels.srpBucket`
    * restated relationally, so SRP-bucketed queries (q26, q55) get
    * full hash verification instead of rows-only.
    */
  private def duckSrpBits(planes: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pb AS (SELECT vec_id, p,
       |         list_sum(list_transform(generate_series(1, len(v)),
       |           i -> v[i] * ((${duckMix31("p*8192 + i - 1")} % 20001)
       |                        - 10000) / 10000.0)) AS proj
       |       FROM e CROSS JOIN (SELECT unnest(range(0, $planes)) AS p) ps),
       |srpbits AS (SELECT vec_id, p, CASE WHEN proj >= 0 THEN 1 ELSE 0 END AS bit FROM pb)""".stripMargin

  /** DuckDB CTE pair `<p>tok`/`<p>sh`: 3-gram word shingles of `src`
    * (one distinct-shingle row per doc) — the single source of truth
    * for the tokenize step every Jaccard oracle shares (q21 inlines an
    * equivalent dated before this helper; q22/q47 compose it).
    */
  private[graft] def duckShingles(p: String, src: String): String =
    s"""${p}w AS (SELECT doc_id, string_split(text,' ') AS ws FROM $src),
       |${p}tok AS (SELECT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
       |       FROM (SELECT doc_id, ws, generate_subscripts(ws,1) AS i FROM ${p}w) t
       |       WHERE i+2 <= len(ws)),
       |${p}sh AS (SELECT DISTINCT doc_id, s FROM ${p}tok),
       |${p}sz AS (SELECT doc_id, COUNT(*) AS n FROM ${p}sh GROUP BY 1)""".stripMargin

  /** DuckDB CTE block `w`/`g2`/`c2`/`t2`/`top2`/`g5`/`c5`/`d5`: the
    * per-doc repetition-quality metrics of `Curation.repetition` —
    * shared by q59 (the metric surface) and q74 (the composite
    * pipeline's quality gate) so the restatements can't drift.
    */
  private lazy val duckRepetitionCtes: String =
    """w AS (SELECT doc_id, length(text) AS nc,
      |            string_split(text,' ') AS ws FROM documents),
      |g2 AS (SELECT doc_id, ws[i]||' '||ws[i+1] AS g
      |       FROM (SELECT doc_id, ws, generate_subscripts(ws,1) AS i FROM w) t
      |       WHERE i+1 <= len(ws)),
      |c2 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1,2),
      |t2 AS (SELECT doc_id, g, cnt,
      |       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
      |       FROM c2),
      |top2 AS (SELECT doc_id, g AS top_gram, cnt*length(g) AS top_chars
      |         FROM t2 WHERE rn = 1),
      |g5 AS (SELECT doc_id,
      |         ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS g
      |       FROM (SELECT doc_id, ws, generate_subscripts(ws,1) AS i FROM w) t
      |       WHERE i+4 <= len(ws)),
      |c5 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g5 GROUP BY 1,2),
      |d5 AS (SELECT doc_id,
      |         SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_pos,
      |         SUM(cnt) AS tot_pos FROM c5 GROUP BY 1)""".stripMargin

  /** The ONE incremental-dedup oracle q47 (text path) and q57
    * (persisted-signature path) both verify against — a shared
    * definition so the two contracts can never drift.
    */
  private lazy val duckIncrementalOracle: String =
    s"""WITH f AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
       |c AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
       |ex AS (SELECT f.doc_id, min(c.doc_id) AS dup_of
       |       FROM f JOIN c ON md5(f.text) = md5(c.text) GROUP BY 1),
       |${duckShingles("f", "f")},
       |${duckShingles("c", "c")},
       |pr AS (SELECT a.doc_id AS f_id, b.doc_id AS c_id, COUNT(*) AS inter
       |       FROM fsh a JOIN csh b ON a.s = b.s GROUP BY 1, 2),
       |nr AS (SELECT f_id, min(c_id) AS dup_of
       |       FROM pr JOIN fsz ON fsz.doc_id = f_id JOIN csz ON csz.doc_id = c_id
       |       WHERE inter*1.0/(fsz.n+csz.n-inter) >= 0.5
       |         AND f_id NOT IN (SELECT doc_id FROM ex) GROUP BY 1)
       |SELECT f.doc_id,
       |  COALESCE(ex.dup_of, nr.dup_of) AS dup_of,
       |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
       |       WHEN nr.f_id IS NOT NULL THEN 'near' END AS match_kind
       |FROM f LEFT JOIN ex ON ex.doc_id = f.doc_id
       |       LEFT JOIN nr ON nr.f_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin

  /** Documents replayed as a file stream — the q54 glob trick (the
    * one-char class makes the sf dir the FileStreamSource base path),
    * one micro-batch so stream-static join output is batch-complete.
    */
  private def docStream(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val raw = s.read.parquet(s"$dir/documents.parquet").schema
    s.readStream.schema(raw)
      .option("maxFilesPerTrigger", Int.MaxValue)
      .parquet(s"$dir/documents.[p]arquet")
  }

  def registry: Seq[Q] = Seq(
    // lake sink round-trip: one day of events written hive-partitioned
    // by UTC hour (the reference's Athena layout, write side), read
    // back with partition-equality predicates that prune to ONE
    // directory at plan time (LakeSpec asserts the scan's partition
    // count). The oracle restates the hour slice as a ts range.
    Q("q51_lake_roundtrip",
      (s, dir) => Scratch.withDir("q51") { lakeDir =>
        val day1 = Tables(s, dir, "events")
          .where(col("ts") < lit("2024-01-02").cast("timestamp"))
        Lake.write(day1, lakeDir.getPath)
          .where(col("year") === "2024" && col("month") === "01" &&
            col("day") === "01" && col("hour") === "05")
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .localCheckpoint()
      }.orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-01 05:00:00'
             |  AND ts < TIMESTAMP '2024-01-01 06:00:00'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // skew-salted equi-join surfaced as a query: lineitem fans over 8
    // salt sub-keys, part replicates ×8 in-plan — result provably
    // equals the plain join (also SkewSpec on 90%-hot data).
    Q("q52_skew_salted_join",
      (s, dir) => {
        val partDim = Tables(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
        Skew.saltedEquiJoin(Tables(s, dir, "lineitem"), partDim,
            "l_partkey", salts = 8)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q20_dedup_exact",
      (s, dir) => DocDedup.exact(Tables(s, dir, "documents")),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, COUNT(*) AS dup_count
             |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin)),

    // df-cut skew guard explicitly ON (drops shingles shared by >100
    // docs before the self-join — the f² blow-up protection at corpus
    // scale). Measured at sf0.01: max shingle df is 7 and true pairs
    // share df ≤ 6, so the guard cuts nothing here and the exact
    // oracle below still applies verbatim.
    Q("q21_dedup_ngram_jaccard",
      (s, dir) => DocDedup.ngramJaccard(Tables(s, dir, "documents"), n = 3, threshold = 0.5,
        maxShingleDocFreq = 100L),
      Some("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS ws FROM documents),
             |tok AS (SELECT doc_id, lang, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             |        FROM (SELECT doc_id, lang, ws, generate_subscripts(ws,1) AS i FROM w) t
             |        WHERE i+2 <= len(ws)),
             |sh AS (SELECT DISTINCT doc_id, lang, s FROM tok),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
             |          FROM sh a JOIN sh b ON a.s=b.s AND a.lang=b.lang AND a.doc_id<b.doc_id
             |          GROUP BY 1,2)
             |SELECT p.a_id, p.b_id, p.inter,
             |  CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) AS jac
             |FROM pairs p
             |JOIN sizes sa ON p.a_id=sa.doc_id
             |JOIN sizes sb ON p.b_id=sb.doc_id
             |WHERE CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) >= 0.5
             |ORDER BY a_id, b_id""".stripMargin)),

    // dedup decision step: connected components over the exact
    // near-dup pairs — every doc in a component maps to its min-id
    // representative. Oracle computes the same components with a
    // recursive transitive-closure CTE.
    Q("q37_dedup_clusters",
      (s, dir) => DocDedup.clusters(
        DocDedup.ngramJaccard(Tables(s, dir, "documents"), n = 3, threshold = 0.5,
          maxShingleDocFreq = 100L)),
      Some("""WITH RECURSIVE
             |w AS (SELECT doc_id, lang, string_split(text,' ') AS ws FROM documents),
             |tok AS (SELECT doc_id, lang, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             |        FROM (SELECT doc_id, lang, ws, generate_subscripts(ws,1) AS i FROM w) t
             |        WHERE i+2 <= len(ws)),
             |sh AS (SELECT DISTINCT doc_id, lang, s FROM tok),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |pairs AS (SELECT p.a_id, p.b_id FROM (
             |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
             |    FROM sh a JOIN sh b ON a.s=b.s AND a.lang=b.lang AND a.doc_id<b.doc_id
             |    GROUP BY 1,2) p
             |  JOIN sizes sa ON p.a_id=sa.doc_id
             |  JOIN sizes sb ON p.b_id=sb.doc_id
             |  WHERE CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) >= 0.5),
             |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
             |          UNION SELECT b_id, a_id FROM pairs),
             |reach(s, d) AS (
             |  SELECT s, d FROM edges
             |  UNION
             |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
             |nodes AS (SELECT DISTINCT s AS node FROM edges)
             |SELECT n.node AS doc_id,
             |  LEAST(n.node, COALESCE(MIN(r.d), n.node)) AS cluster_id
             |FROM nodes n LEFT JOIN reach r ON r.s = n.node
             |GROUP BY n.node
             |ORDER BY doc_id""".stripMargin)),

    // MinHash + LSH banding, hash-verified END TO END: the
    // minhash_state kernel uses engine-portable integer arithmetic
    // (62-bit dual polynomial shingle hash, LCG permutation chain,
    // LCG band fold), so the oracle recomputes signatures, band keys
    // and the candidate join relationally before the exact-Jaccard
    // verify — the oracle checks the ALGORITHM (banding included),
    // not a corpus-empirical recall claim. (PipelineOpsSpec separately
    // pins that banding recovers the exact pair set on near-dup
    // fixtures — the semantic claim lives in the spec, the
    // implementation claim in this oracle.)
    Q("q22_dedup_minhash_lsh",
      (s, dir) => DocDedup.minhashLsh(Tables(s, dir, "documents"),
        n = 3, numHashes = 16, bands = 4, threshold = 0.5),
      Some(s"""WITH ${duckShingles("", "documents")},
              |-- only h37 matters here: the permutation chain whitens
              |-- h62 mod 2^31 = h37, and the verify join below uses the
              |-- shingle STRINGS (h31's only role is widening the `sh`
              |-- set ids inside the kernel, which the oracle never needs)
              |mh AS (SELECT doc_id, s,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
              |      (a, b) -> (a * 37 + b) % 2147483647) AS h37
              |  FROM sh),
              |yy AS (SELECT doc_id, ${duckMix31("h37")} AS y FROM mh),
              |sig AS (SELECT doc_id, i,
              |          MIN(${duckMix31("y + i")}) AS m
              |        FROM yy CROSS JOIN (SELECT unnest(range(0, 16)) AS i) xs
              |        GROUP BY 1, 2),
              |bands AS (SELECT doc_id, i // 4 AS band,
              |            list_reduce(list_prepend(CAST(i // 4 AS BIGINT),
              |                list(m ORDER BY i)),
              |              (a, b) -> (a * 1103515245 + b) % 2147483648) AS bh
              |          FROM sig GROUP BY doc_id, i // 4),
              |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
              |         FROM bands a JOIN bands b
              |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
              |pairs AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
              |          FROM cand c
              |          JOIN sh a ON a.doc_id = c.a_id
              |          JOIN sh b ON b.doc_id = c.b_id AND b.s = a.s
              |          GROUP BY 1, 2)
              |SELECT a_id, b_id, inter*1.0/(sa.n+sb.n-inter) AS jac
              |FROM pairs JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
              |WHERE inter*1.0/(sa.n+sb.n-inter) >= 0.5
              |ORDER BY a_id, b_id""".stripMargin)),

    // nightly-ingest pattern: dedupe a fresh batch against the
    // historical corpus (never corpus × corpus). Oracle restates the
    // NET semantics relationally: exact = content-hash equi-join (min
    // corpus id), near = exact fresh×corpus Jaccard ≥ threshold minus
    // exact matches — the MinHash band stage is recall-complete on
    // this corpus (all true pairs sit at jac ≥ 0.9), and the verify
    // stage is exact Jaccard, so the band path reduces to the
    // relational definition. PipelineOpsSpec pins the same three-way
    // split on adversarial fixtures. DATA-COUPLED: this recall-1.0
    // reduction (inherited by q57, and q36's probe coverage) is a
    // property of the current fixture generation — re-verify before
    // trusting a mismatch on regenerated corpora as a product bug
    // (q22/q23/q26/q55/q56 restate their algorithms relationally and
    // carry no such coupling).
    Q("q47_incremental_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        DocDedup.incremental(
          docs.where(col("doc_id") % 5 =!= 0),
          docs.where(col("doc_id") % 5 === 0))
      },
      Some(duckIncrementalOracle)),

    // the SERVING form of q47: corpus signatures are persisted once
    // (parquet snapshot of DocDedup.signatures — what the streaming
    // ingest maintains at scale) and nightly dedup reads them instead
    // of re-hashing corpus text. Shares q47's oracle BY REFERENCE (one
    // definition — the two contracts must never drift), and therefore
    // also q47's DATA-COUPLED caveat above: the near stage relies on
    // band recall being complete on this corpus.
    Q("q57_incremental_dedup_served",
      (s, dir) => Scratch.withDir("q57") { tmp =>
        val docs = Tables(s, dir, "documents")
        val sigDir = s"$tmp/sigs"
        DocDedup.signatures(docs.where(col("doc_id") % 5 =!= 0))
          .write.parquet(sigDir)
        DocDedup.incrementalFromSignatures(
          s.read.parquet(sigDir), docs.where(col("doc_id") % 5 === 0))
          .localCheckpoint()
      },
      Some(duckIncrementalOracle)),

    // SimHash near-dup pairs, hash-verified END TO END: the simhash64
    // kernel uses engine-portable integer arithmetic (base-31 polyhash
    // over code points — q38's proven-exact fold — whitened by the
    // non-linear mix31, per-bit mix31 sign votes), so the oracle below
    // recomputes the identical 64-bit signatures relationally, then
    // restates the 4×16-bit band join + hamming ≤ 3 verify. No
    // rows-only concession, no empirical-recall coupling.
    Q("q23_dedup_simhash",
      (s, dir) => DocDedup.simhashPairs(Tables(s, dir, "documents"), maxHamming = 3),
      Some(s"""WITH tok AS (SELECT DISTINCT doc_id, w FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |    FROM documents WHERE text IS NOT NULL) u),
             |th AS (SELECT doc_id,
             |         list_reduce(list_prepend(CAST(0 AS BIGINT),
             |           list_transform(string_split(w, ''), c -> CAST(unicode(c) AS BIGINT))),
             |           (a, b) -> (a * 31 + b) % 2147483647) AS h
             |       FROM tok),
             |ty AS (SELECT doc_id, ${duckMix31("h")} AS y FROM th),
             |v AS (SELECT doc_id, b,
             |        SUM(CASE WHEN ${duckMix31("y + b")} >= 1073741824
             |                 THEN 1 ELSE -1 END) AS vote
             |      FROM ty CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bs
             |      GROUP BY 1, 2),
             |bits AS (SELECT doc_id, b, CASE WHEN vote >= 0 THEN 1 ELSE 0 END AS bit FROM v),
             |bands AS (SELECT doc_id, b // 16 AS band,
             |            SUM(bit << CAST(b % 16 AS INTEGER)) AS bh
             |          FROM bits GROUP BY 1, 2),
             |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             |         FROM bands a JOIN bands b
             |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
             |ham AS (SELECT c.a_id, c.b_id,
             |          CAST(SUM(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming
             |        FROM cand c
             |        JOIN bits ba ON ba.doc_id = c.a_id
             |        JOIN bits bb ON bb.doc_id = c.b_id AND bb.b = ba.b
             |        GROUP BY 1, 2)
             |SELECT a_id, b_id, hamming FROM ham
             |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin)),

    // EXACT cosine pair contract (label-blocked all-pairs). Kept exact
    // deliberately: the qualifying pairs here all measure cos ∈
    // [0.35, 0.48], where SRP per-plane collision prob ≈ 0.62 — no LSH
    // blocking preserves this pair set, so a LOSSY bounded rewrite
    // would silently change the answer. The bounded 100 TB path with
    // its own fully-verified contract is q55 (embeddingCosineBanded).
    // Per-TASK width is bounded even so: the candidate join runs on
    // the salted salt² grid (r05), so a skewed label spreads across
    // salt² cells instead of one task — same pair set, same oracle.
    Q("q24_dedup_embedding_cosine",
      (s, dir) => DocDedup.embeddingCosine(Tables(s, dir, "embeddings"),
        thresholdMicro = 350000L),
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              |scored AS (
              |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    CAST(floor((${duckCos("a.v", "b.v")}) * 1000000) AS BIGINT) AS cos_e6
              |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
              |SELECT a_id, b_id, cos_e6 FROM scored
              |WHERE cos_e6 >= 350000
              |ORDER BY a_id, b_id""".stripMargin)),

    // the bounded-block dedup twin of q24: SRP band signatures (4
    // bands × 6 planes from ONE srp_bucket kernel call) generate
    // candidates through a (band, bandHash) equi-join — per-band
    // bucket width is corpus/2^6, tunable, never data-skewed — then
    // exact cosine verifies. Hash-verified END TO END: the oracle
    // recomputes the portable-LCG sign bits, the banding, the
    // candidate join, and the verify relationally, so the approximate
    // recall is part of the CHECKED contract, not an empirical claim.
    Q("q55_dedup_cosine_srp_banded",
      (s, dir) => DocDedup.embeddingCosineBanded(Tables(s, dir, "embeddings"),
        thresholdMicro = 350000L, planesPerBand = 6, bands = 4),
      Some(s"""WITH ${duckSrpBits(24)},
              |bands AS (SELECT vec_id, p // 6 AS band,
              |            SUM(bit << CAST(p % 6 AS INTEGER)) AS bh
              |          FROM srpbits GROUP BY 1, 2),
              |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
              |         FROM bands a JOIN bands b
              |           ON a.band = b.band AND a.bh = b.bh AND a.vec_id < b.vec_id),
              |scored AS (
              |  SELECT c.a_id, c.b_id,
              |    CAST(floor((${duckCos("ea.v", "eb.v")}) * 1000000) AS BIGINT) AS cos_e6
              |  FROM cand c JOIN e ea ON ea.vec_id = c.a_id
              |              JOIN e eb ON eb.vec_id = c.b_id)
              |SELECT a_id, b_id, cos_e6 FROM scored
              |WHERE cos_e6 >= 350000
              |ORDER BY a_id, b_id""".stripMargin)),

    // DeepWalk-style walk corpus over the co-purchase graph with
    // hash-deterministic steps — the skip-gram training input for
    // graph embeddings, replayable on any engine. The oracle unrolls
    // all three hops relationally (ranked adjacency + mix31 pick).
    Q("q359_walk_corpus",
      (s, dir) => graft.ops.CoPurchase.walks(s, dir)
        .orderBy("n0", "w", "step"),
      Some(s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              |            FROM lineitem),
              |und AS (SELECT DISTINCT LEAST(a.p, b.p) AS u,
              |          GREATEST(a.p, b.p) AS v
              |        FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
              |adj AS (SELECT node, nbr,
              |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) - 1
              |      AS rnk
              |  FROM (SELECT u AS node, v AS nbr FROM und
              |        UNION ALL SELECT v, u FROM und)),
              |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
              |  FROM adj GROUP BY 1),
              |w0 AS (SELECT d.node AS n0, ws.w, d.node AS cur
              |  FROM deg d CROSS JOIN (SELECT unnest([0, 1]) AS w) ws),
              |s1 AS (SELECT f.n0, f.w, a.nbr AS cur FROM w0 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 1")}) % dg.d),
              |s2 AS (SELECT f.n0, f.w, a.nbr AS cur FROM s1 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 2")}) % dg.d),
              |s3 AS (SELECT f.n0, f.w, a.nbr AS cur FROM s2 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 3")}) % dg.d)
              |SELECT n0, w, 0 AS step, cur AS node FROM w0
              |UNION ALL SELECT n0, w, 1, cur FROM s1
              |UNION ALL SELECT n0, w, 2, cur FROM s2
              |UNION ALL SELECT n0, w, 3, cur FROM s3
              |ORDER BY n0, w, step""".stripMargin)),

    // skip-gram pairs over the q359 walk corpus — the word2vec-style
    // (center, context) co-occurrence counts an embedding trainer
    // consumes. One walk-keyed self-join with a bounded step-distance
    // predicate; the oracle extends q359's unrolled walks.
    Q("q360_skipgram_pairs",
      (s, dir) => graft.ops.Graph.skipgramPairs(
        graft.ops.CoPurchase.walks(s, dir)),
      Some(s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              |            FROM lineitem),
              |und AS (SELECT DISTINCT LEAST(a.p, b.p) AS u,
              |          GREATEST(a.p, b.p) AS v
              |        FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
              |adj AS (SELECT node, nbr,
              |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) - 1
              |      AS rnk
              |  FROM (SELECT u AS node, v AS nbr FROM und
              |        UNION ALL SELECT v, u FROM und)),
              |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
              |  FROM adj GROUP BY 1),
              |w0 AS (SELECT d.node AS n0, ws.w, d.node AS cur
              |  FROM deg d CROSS JOIN (SELECT unnest([0, 1]) AS w) ws),
              |s1 AS (SELECT f.n0, f.w, a.nbr AS cur FROM w0 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 1")}) % dg.d),
              |s2 AS (SELECT f.n0, f.w, a.nbr AS cur FROM s1 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 2")}) % dg.d),
              |s3 AS (SELECT f.n0, f.w, a.nbr AS cur FROM s2 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 3")}) % dg.d),
              |walks AS (
              |  SELECT n0, w, 0 AS step, cur AS node FROM w0
              |  UNION ALL SELECT n0, w, 1, cur FROM s1
              |  UNION ALL SELECT n0, w, 2, cur FROM s2
              |  UNION ALL SELECT n0, w, 3, cur FROM s3)
              |SELECT a.node AS center, b.node AS context,
              |  CAST(COUNT(*) AS BIGINT) AS cnt
              |FROM walks a JOIN walks b
              |  ON a.n0 = b.n0 AND a.w = b.w AND a.step <> b.step
              |  AND abs(a.step - b.step) <= 2
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // SGNS shard prep over the walk corpus (the q359/q360 trainer
    // story completed): every skip-gram pair draws 2 deterministic
    // negatives from the unigram^(3/4) noise table (two integer
    // square roots make floor(freq^0.75) exact; draws are mix31 mod
    // ΣW resolved against a dense position table) and gets an
    // LPT-style shard (rank by descending cnt, mod 4). Draws that
    // collide with their own pair are dropped (≤2 negatives per pair,
    // honest). The oracle replays walks → pairs → noise table →
    // every draw relationally.
    Q("q363_sgns_shards",
      (s, dir) => graft.ops.Graph.sgnsShards(
        graft.ops.CoPurchase.walks(s, dir)),
      Some(s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
              |            FROM lineitem),
              |und AS (SELECT DISTINCT LEAST(a.p, b.p) AS u,
              |          GREATEST(a.p, b.p) AS v
              |        FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
              |adj AS (SELECT node, nbr,
              |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) - 1
              |      AS rnk
              |  FROM (SELECT u AS node, v AS nbr FROM und
              |        UNION ALL SELECT v, u FROM und)),
              |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d
              |  FROM adj GROUP BY 1),
              |w0 AS (SELECT d.node AS n0, ws.w, d.node AS cur
              |  FROM deg d CROSS JOIN (SELECT unnest([0, 1]) AS w) ws),
              |s1 AS (SELECT f.n0, f.w, a.nbr AS cur FROM w0 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 1")}) % dg.d),
              |s2 AS (SELECT f.n0, f.w, a.nbr AS cur FROM s1 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 2")}) % dg.d),
              |s3 AS (SELECT f.n0, f.w, a.nbr AS cur FROM s2 f
              |  JOIN deg dg ON dg.node = f.cur
              |  JOIN adj a ON a.node = f.cur
              |    AND a.rnk = (${duckMix31("f.cur*1000003 + f.w*4096 + 3")}) % dg.d),
              |walks AS (
              |  SELECT n0, w, 0 AS step, cur AS node FROM w0
              |  UNION ALL SELECT n0, w, 1, cur FROM s1
              |  UNION ALL SELECT n0, w, 2, cur FROM s2
              |  UNION ALL SELECT n0, w, 3, cur FROM s3),
              |pairs AS (SELECT a.node AS center, b.node AS context,
              |    CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM walks a JOIN walks b
              |    ON a.n0 = b.n0 AND a.w = b.w AND a.step <> b.step
              |    AND abs(a.step - b.step) <= 2
              |  GROUP BY 1, 2),
              |uni AS (SELECT context AS node, SUM(cnt) AS freq
              |  FROM pairs GROUP BY 1),
              |wtt AS (SELECT node,
              |    ${duckIsqrt(duckIsqrt("freq*freq*freq"))} AS wt
              |  FROM uni),
              |wts AS (SELECT * FROM wtt WHERE wt > 0),
              |cum AS (SELECT node, wt,
              |    CAST(SUM(wt) OVER (ORDER BY node
              |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              |  FROM wts),
              |tbl AS (SELECT node AS neg, unnest(range(cum - wt, cum))
              |    AS pos FROM cum),
              |tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS w FROM wts),
              |draws AS (SELECT center, context, cnt, CAST(j AS BIGINT) AS j
              |  FROM pairs, UNNEST(range(1, 3)) AS u(j)),
              |res AS (SELECT d.center, d.context, d.cnt, d.j, t.neg
              |  FROM draws d, tot
              |  JOIN tbl t ON t.pos =
              |    (${duckMix31("d.center*1000003 + d.context*8191 + d.j")}) % tot.w
              |  WHERE t.neg <> d.center AND t.neg <> d.context),
              |shardof AS (SELECT center, context,
              |    (ROW_NUMBER() OVER (ORDER BY cnt DESC, center, context)
              |      - 1) % 4 AS shard
              |  FROM pairs)
              |SELECT s.shard, r.center, r.context, r.cnt, r.j, r.neg
              |FROM res r JOIN shardof s
              |  ON s.center = r.center AND s.context = r.context
              |ORDER BY r.center, r.context, r.j""".stripMargin)),

    // embedding-dedup threshold sweep (q278's cosine twin): pairs /
    // touched vectors / removable duplicates per micro-cosine grid
    // point, one exact candidate+verify pass at the lowest threshold.
    Q("q356_cosine_sweep",
      (s, dir) => DocDedup.cosineThresholdSweep(
        Tables(s, dir, "embeddings")),
      Some(s"""WITH e AS (SELECT vec_id, label,
              |    embedding::DOUBLE[] AS v FROM embeddings),
              |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    CAST(floor((${duckCos("a.v", "b.v")}) * 1000000) AS BIGINT)
              |      AS cos_e6
              |  FROM e a JOIN e b
              |    ON a.label = b.label AND a.vec_id < b.vec_id),
              |grid AS (SELECT CAST(unnest([300000, 400000, 500000,
              |    700000, 900000]) AS BIGINT) AS t_micro),
              |at AS (SELECT g.t_micro, p.a_id, p.b_id FROM p
              |  CROSS JOIN grid g WHERE p.cos_e6 >= g.t_micro),
              |bp AS (SELECT t_micro, CAST(COUNT(*) AS BIGINT) AS n_pairs,
              |    CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_removable
              |  FROM at GROUP BY 1),
              |bv AS (SELECT t_micro, CAST(COUNT(DISTINCT id) AS BIGINT)
              |    AS n_vecs
              |  FROM (SELECT t_micro, a_id AS id FROM at
              |        UNION ALL SELECT t_micro, b_id FROM at)
              |  GROUP BY 1)
              |SELECT g.t_micro, COALESCE(bp.n_pairs, 0) AS n_pairs,
              |  COALESCE(bv.n_vecs, 0) AS n_vecs,
              |  COALESCE(bp.n_removable, 0) AS n_removable
              |FROM grid g LEFT JOIN bp ON bp.t_micro = g.t_micro
              |LEFT JOIN bv ON bv.t_micro = g.t_micro
              |ORDER BY g.t_micro""".stripMargin)),

    // hard-negative mining (contrastive training): per anchor, the
    // most-similar vector of a DIFFERENT label, candidates through the
    // q55 SRP band equi-join, exact-cosine ranked. The oracle restates
    // the full algorithm — banding, cross-label filter, rank — so the
    // bucketed contract is hash-verified, not an empirical-recall
    // claim (q26's precedent).
    Q("q353_hard_negatives",
      (s, dir) => graft.ops.Similarity.hardNegatives(
        Tables(s, dir, "embeddings"), k = 2),
      Some(s"""WITH ${duckSrpBits(24)},
              |bands AS (SELECT vec_id, p // 6 AS band,
              |            SUM(bit << CAST(p % 6 AS INTEGER)) AS bh
              |          FROM srpbits GROUP BY 1, 2),
              |lab AS (SELECT vec_id, label FROM embeddings),
              |cand AS (SELECT DISTINCT a.vec_id AS anchor_id,
              |            b.vec_id AS neg_id
              |         FROM bands a JOIN bands b
              |           ON a.band = b.band AND a.bh = b.bh
              |         JOIN lab la ON la.vec_id = a.vec_id
              |         JOIN lab lb ON lb.vec_id = b.vec_id
              |         WHERE la.label <> lb.label),
              |scored AS (
              |  SELECT c.anchor_id, c.neg_id, lb.label AS neg_label,
              |    CAST(floor((${duckCos("ea.v", "eb.v")}) * 1000000) AS BIGINT) AS cos_e6
              |  FROM cand c JOIN e ea ON ea.vec_id = c.anchor_id
              |              JOIN e eb ON eb.vec_id = c.neg_id
              |              JOIN lab lb ON lb.vec_id = c.neg_id),
              |ranked AS (SELECT anchor_id, neg_id, neg_label, cos_e6,
              |    ROW_NUMBER() OVER (PARTITION BY anchor_id
              |      ORDER BY cos_e6 DESC, neg_id) AS rank
              |  FROM scored)
              |SELECT anchor_id, rank, neg_id, neg_label, cos_e6
              |FROM ranked WHERE rank <= 2
              |ORDER BY anchor_id, rank""".stripMargin)),

    Q("q25_ann_bruteforce_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 3)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.q_id, e.vec_id,
              |    CAST(floor((${duckCos("q.qv", "e.v")}) * 1000000) AS BIGINT) AS cos_e6
              |  FROM e, q),
              |ranked AS (SELECT q_id, vec_id, cos_e6,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
              |  FROM scored)
              |SELECT q_id, rank, vec_id, cos_e6 FROM ranked
              |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // SRP-bucketed ANN, hash-verified END TO END: the portable LCG
    // plane weights let the oracle recompute every bucket id
    // relationally, then restate the bucket equi-join + exact rank —
    // the oracle verifies the ALGORITHM (bucketing included), not an
    // empirical-recall claim. (Measured here: LSH top-k differs from
    // brute force on this corpus — neighbors sit at cos 0.3-0.5 where
    // bucket recall is inherently partial — which is exactly why the
    // oracle must restate the bucketed contract, not q25's.)
    Q("q26_ann_lsh_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.where(col("vec_id") < 5), k = 3, planes = 6)
      },
      Some(s"""WITH ${duckSrpBits(6)},
              |bk AS (SELECT vec_id, SUM(bit << CAST(p AS INTEGER)) AS bucket
              |       FROM srpbits GROUP BY 1),
              |c AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id)),
              |q AS (SELECT vec_id AS q_id, v AS qv, bucket FROM c WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.q_id, c.vec_id,
              |    CAST(floor((${duckCos("q.qv", "c.v")}) * 1000000) AS BIGINT) AS cos_e6
              |  FROM c JOIN q ON c.bucket = q.bucket),
              |ranked AS (SELECT q_id, vec_id, cos_e6,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
              |  FROM scored)
              |SELECT q_id, rank, vec_id, cos_e6 FROM ranked
              |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // IVF ANN: coarse k-means cells, nprobe probing, exact rank within
    // candidates. With nprobe=6 the probed cells cover every true
    // neighbor on ALL THREE fixture SFs (measured; nprobe=4 misses two
    // rank-3 neighbors at sf0.001 — DATA-COUPLED like q22, re-verify
    // on regenerated corpora), so the brute-force oracle applies
    // verbatim: within-candidate scoring is the same deterministic
    // fold as q25.
    Q("q36_ann_ivf_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        graft.ops.Ivf.topK(emb, emb.where(col("vec_id") < 5), k = 3,
          cells = 16, nprobe = 6)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
              |scored AS (
              |  SELECT q.q_id, e.vec_id,
              |    CAST(floor((${duckCos("q.qv", "e.v")}) * 1000000) AS BIGINT) AS cos_e6
              |  FROM e, q),
              |ranked AS (SELECT q_id, vec_id, cos_e6,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
              |  FROM scored)
              |SELECT q_id, rank, vec_id, cos_e6 FROM ranked
              |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    Q("q27_text_quality",
      (s, dir) => TextAnalysis.quality(Tables(s, dir, "documents")),
      Some(s"""SELECT doc_id, length(text) AS n_chars,
              |  len(string_split(text,' ')) AS n_words,
              |  len(list_distinct(string_split(text,' '))) AS n_uniq,
              |  len(list_filter(string_split(text,' '),
              |      t -> t IN ('the','a','of','and','to','in','is'))) AS stop_cnt,
              |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
              |    / len(string_split(text,' ')) AS ttr,
              |  CAST(len(list_filter(string_split(text,' '),
              |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
              |    / len(string_split(text,' ')) AS stop_ratio
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // linear quality classifier at serving shape: integer-weight dot
    // product over exact ppm features + threshold — bit-reproducible,
    // so even the keep decision is oracle-checked.
    Q("q78_quality_classifier",
      (s, dir) => TextAnalysis.qualityScore(Tables(s, dir, "documents")),
      Some("""WITH f AS (SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
             |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq,
             |  CAST(len(list_filter(string_split(text,' '),
             |      t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT)
             |    AS stop_cnt
             |  FROM documents),
             |p AS (SELECT doc_id,
             |  CAST((n_uniq*1000000)//n_words AS BIGINT) AS ttr_ppm,
             |  CAST((stop_cnt*1000000)//n_words AS BIGINT) AS stop_ppm,
             |  least(n_words, 100) * 10000 AS len_term
             |  FROM f)
             |SELECT doc_id, ttr_ppm, stop_ppm,
             |  CAST(len_term AS BIGINT) AS len_term,
             |  CAST(ttr_ppm*3 + stop_ppm*2 + len_term*1 AS BIGINT) AS score_micro,
             |  ttr_ppm*3 + stop_ppm*2 + len_term*1 >= 2400000 AS keep
             |FROM p ORDER BY doc_id""".stripMargin)),

    Q("q28_lang_id",
      (s, dir) => TextAnalysis.langId(Tables(s, dir, "documents")),
      Some("""WITH sc AS (SELECT doc_id,
             |  len(list_filter(string_split(text,' '),
             |      t -> t IN ('the','a','of','and','to','in','is'))) AS s_en,
             |  len(list_filter(string_split(text,' '),
             |      t -> t IN ('el','la','de','los','y','en','es'))) AS s_es,
             |  len(list_filter(string_split(text,' '),
             |      t -> t IN ('le','la','de','les','et','en','est'))) AS s_fr
             |  FROM documents)
             |SELECT doc_id, s_en, s_es, s_fr,
             |  CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
             |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             |       WHEN s_es >= s_fr THEN 'es'
             |       ELSE 'fr' END AS lang_pred
             |FROM sc ORDER BY doc_id""".stripMargin)),

    Q("q29_token_count",
      (s, dir) => TextAnalysis.tokenCounts(Tables(s, dir, "documents")),
      Some("""SELECT doc_id, len(string_split(text,' ')) AS ws_tokens,
             |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Rabin-Karp rolling hash per document: exact integer fold,
    // identical in both engines (corpus is ASCII; ascii()==unicode()).
    Q("q38_rolling_hash",
      (s, dir) => TextAnalysis.rollingHashes(Tables(s, dir, "documents")),
      Some("""SELECT doc_id,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT),
             |      list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
             |    (a, b) -> (a * 31 + b) % 2147483647) AS rhash
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q30_fingerprint",
      (s, dir) => TextAnalysis.fingerprint(Tables(s, dir, "documents")),
      Some("""SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
             |  min(doc_id) AS keep_id, COUNT(*) AS dup_count
             |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin)),

    // multimodal frame sampling: per-frame rows with offsets and
    // resize-target dims — the explode is in-plan; the oracle restates
    // the stub arithmetic over a generated frame-index series.
    // frame sampling over the REAL header decode (q31's fixture): GIF
    // docs fan out per their actual descriptor count, stills emit one
    // frame — the explode stays in-plan, the counts come from bytes.
    Q("q34_frame_sampling",
      (s, dir) => graft.ops.Multimodal.imageFramePipeline(
        Tables(s, dir, "documents")),
      Some("""WITH f AS (SELECT doc_id,
             |    CAST(1 + doc_id % 512 AS INTEGER) AS width,
             |    CAST(1 + (doc_id * 7) % 512 AS INTEGER) AS height,
             |    CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 8
             |      ELSE 1 END AS INTEGER) AS n_frames
             |  FROM documents)
             |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
             |  CAST(i AS BIGINT) * width * height AS offset_px,
             |  CAST(LEAST(224, width) AS INTEGER) AS out_width,
             |  CAST(LEAST(224, height) AS INTEGER) AS out_height
             |FROM (SELECT doc_id, width, height,
             |    unnest(range(0, n_frames)) AS i FROM f) u
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    // as-of join (point-in-time feature lookup): each purchase picks
    // the user's latest click at-or-before it; oracle is DuckDB's
    // native ASOF JOIN. One key-shuffle, no range explosion.
    Q("q32_asof_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("event_id").as("click_id"), col("value").as("click_value"))
        Temporal.asofJoin(purchases, clicks, "user_id", "ts",
            Seq("click_id", "click_value"))
          .select(col("event_id"), col("user_id"),
            col("click_id_r").as("click_id"), col("click_value_r").as("click_value"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, c.event_id AS click_id, c.value AS click_value
             |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
             |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY p.event_id""".stripMargin)),

    // interval join: clicks within ±1 hour of each purchase, same
    // user — equi-join on the key with a residual range predicate.
    Q("q40_interval_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select("user_id", "ts")
        Temporal.intervalJoin(purchases, clicks, "user_id", "ts", "ts",
            toleranceUs = 3600000000L)
          .groupBy("event_id")
          .agg(count(lit(1)).as("nearby_clicks"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, COUNT(*) AS nearby_clicks
             |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
             |JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
             |  ON p.user_id = c.user_id
             | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
             | AND epoch_us(c.ts) <= epoch_us(p.ts) + 3600000000
             |GROUP BY p.event_id
             |ORDER BY p.event_id""".stripMargin)),

    // gap-based sessionization: 30-minute inactivity gap per user,
    // compared in integer epoch-micros for engine-exact parity.
    Q("q33_sessionize",
      (s, dir) => Temporal.sessionize(Tables(s, dir, "events"), "user_id", "ts",
          gapUs = 1800000000L)
        .withColumnRenamed("key", "user_id"),
      Some("""WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL),
             |m AS (SELECT user_id, us,
             |  CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             |         OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
             |       THEN 1 ELSE 0 END AS ns
             |  FROM t),
             |s AS (SELECT user_id, us,
             |  CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
             |  FROM m)
             |SELECT user_id, session_id, COUNT(*) AS n_events,
             |  min(us) AS start_us, max(us) AS end_us
             |FROM s GROUP BY 1, 2
             |ORDER BY user_id, session_id""".stripMargin)),

    // batch tumbling-window aggregation: the batch twin of the
    // streaming threshold window — epoch-aligned 1h buckets via
    // window(), so batch backfill and the live stream bucket rows
    // identically. Oracle: DuckDB time_bucket (same epoch origin).
    Q("q46_tumbling_window",
      (s, dir) => Tables(s, dir, "events")
        .where(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"))
        .orderBy("ws", "event_type"),
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type, COUNT(*) AS cnt
             |FROM events WHERE ts IS NOT NULL
             |GROUP BY 1, 2
             |ORDER BY ws, event_type""".stripMargin)),

    // int8 scalar quantization of embeddings (4× memory before ANN
    // indexing): exact integer math after round-half-up, so the whole
    // quantized vector is oracle-checked element-wise.
    // (the raw int8 array is exported as a CSV string: the driver's
    // pandas-side compare cannot sort/hash ndarray cells)
    Q("q45_quantize_int8",
      (s, dir) => Similarity.quantizeInt8(Tables(s, dir, "embeddings"))
        .withColumn("q", array_join(col("q").cast("array<string>"), ",")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |s AS (SELECT vec_id, v,
             |        list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
             |-- zero-scale guard mirrors the Spark side: an all-zero
             |-- vector quantizes to zeros, never NaN/NULL
             |qq AS (SELECT vec_id, scale,
             |        CASE WHEN scale > 0
             |          THEN list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
             |          ELSE list_transform(v, x -> 0) END AS q
             |       FROM s)
             |SELECT vec_id,
             |  CAST(floor(scale * 1000000000) AS BIGINT) AS scale_e9,
             |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT))) AS BIGINT) AS q_sum,
             |  CAST(list_sum(list_transform(q, x -> abs(CAST(x AS BIGINT)))) AS BIGINT) AS q_l1,
             |  array_to_string(q, ',') AS q
             |FROM qq ORDER BY vec_id""".stripMargin)),

    // sketch surface: HLL++ approximate distinct beside the exact
    // count. At 100 TB exact countDistinct shuffles every distinct
    // (group, user) pair; the HLL sketch is fixed-size per group and
    // merges map-side — the only viable distinct-count at corpus
    // scale. The HLL estimate itself is engine-native, so the oracle
    // checks it as the accuracy CONTRACT (|approx−exact| ≤ 5%·exact,
    // generous over the rsd=0.02 setting — deterministic for a given
    // input) beside the fully-checked exact_users/cnt columns;
    // SketchSpec additionally pins ≤2% observed error.
    Q("q42_sketch_distinct",
      (s, dir) => Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("cnt"))
        .select(col("event_type"), col("exact_users"), col("cnt"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * 0.05).as("approx_ok"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             |  COUNT(*) AS cnt, CAST(1 AS BOOLEAN) AS approx_ok
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // bounded top-k per group via the TopKRows TypedImperativeAggregate
    // (graft.functions.TopKRows): identical rows to q11's row_number
    // window, computed as an O(n log k) bounded-heap aggregate — no
    // per-partition sort (the window form sorts every map partition
    // for its partial WindowGroupLimit), skew-bounded state, and the
    // group's top rows arrive as an array composable with sibling
    // aggregates. Descending value order is encoded by negating the
    // field in the ordering struct.
    Q("q41_grouped_topk",
      (s, dir) => {
        val tk = call_function("topk_rows",
          struct((-col("value")).as("nv"), col("event_id")), lit(3))
        Tables(s, dir, "events")
          // NaN ranks greatest in a DESC window but worst in the
          // negated heap ordering — exclude it from the contract
          .where(col("value").isNotNull && !isnan(col("value")))
          .groupBy("user_id")
          .agg(tk.as("top"))
          .select(col("user_id"), posexplode(col("top")).as(Seq("i", "r")))
          .select(col("user_id"), (col("i") + 1).cast("int").as("rn"),
            col("r.event_id").as("event_id"), (-col("r.nv")).as("value"))
          .orderBy("user_id", "rn")
      },
      Some("""SELECT user_id, rn, event_id, value FROM (
             |  SELECT user_id, event_id, value,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
             |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)) t
             |WHERE rn <= 3
             |ORDER BY user_id, rn""".stripMargin)),

    // winnowing containment search (the MOSS use-case): docs sharing
    // >= 8 winnow fingerprints (k=16-char grams, w=8 windows —
    // measured selective on this corpus: 25 pairs, the true near-dup
    // scale; 8-char grams collide on near-all pairs) are containment
    // candidates — the
    // fingerprint is the equi-join key, so cost scales with fingerprint
    // collisions (real shared content), never docs². Hash-verified END
    // TO END: k-gram hashes are the portable base-31 fold, so the
    // oracle recomputes every fingerprint (k-gram hash → window min →
    // distinct) relationally before restating the pair join.
    Q("q56_winnow_containment",
      (s, dir) => {
        // materialized once: the self-join consumes both branches
        // (sibling pairwise ops all checkpoint the shared intermediate)
        val fpAll = TextAnalysis.winnow(Tables(s, dir, "documents"), k = 16, w = 8)
          .select(col("doc_id"), explode(col("fingerprints")).as("fp"))
          .localCheckpoint()
        // df-cut, the q21 skew guard transplanted: a fingerprint shared
        // by f docs is f² join rows and near-worthless containment
        // evidence (boilerplate). The ORACLE applies the identical cut,
        // so exactness holds by construction at any cutoff — unlike
        // q21 there is no undercount subtlety, `shared` shrinks the
        // same way on both sides. (Measured sf0.1: max fp df 292,
        // p99.9 = 26 — cutoff 20 trims ~0.1% of fingerprints.)
        val hot = fpAll.groupBy("fp").agg(count(lit(1)).as("df"))
          .where(col("df") > 20).select("fp")
        val fp = fpAll.join(hot, Seq("fp"), "left_anti")
        fp.as("a").join(fp.as("b"),
            col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .agg(count(lit(1)).as("shared"))
          .where(col("shared") >= 8)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (SELECT doc_id, text, greatest(len(text) - 15, 1) AS grams
             |           FROM documents WHERE text IS NOT NULL),
             |g AS (SELECT doc_id, grams,
             |        unnest(range(1, grams + 1)) AS i, text
             |      FROM d),
             |h AS (SELECT doc_id, grams, i,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          list_transform(string_split(substr(text, CAST(i AS INTEGER), 16), ''),
             |            c -> CAST(unicode(c) AS BIGINT))),
             |          (a, b) -> (a * 31 + b) % 2147483647) AS kh
             |      FROM g),
             |wmin AS (SELECT doc_id, grams, i,
             |           MIN(kh) OVER (PARTITION BY doc_id ORDER BY i
             |             ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
             |         FROM h),
             |fps0 AS (SELECT DISTINCT doc_id, fp FROM wmin
             |        WHERE grams >= 8 AND i <= grams - 7
             |        UNION
             |        SELECT doc_id, MIN(kh) AS fp FROM h
             |        WHERE grams < 8 GROUP BY doc_id),
             |hot AS (SELECT fp FROM fps0 GROUP BY fp HAVING COUNT(*) > 20),
             |fps AS (SELECT doc_id, fp FROM fps0
             |        WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.fp = fps0.fp)),
             |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared
             |          FROM fps a JOIN fps b
             |            ON a.fp = b.fp AND a.doc_id < b.doc_id
             |          GROUP BY 1, 2)
             |SELECT a_id, b_id, shared FROM pairs
             |WHERE shared >= 8 ORDER BY a_id, b_id""".stripMargin)),

    // REAL header decode: each doc becomes an actual PNG/JPEG/GIF
    // byte payload (Multimodal.toImageBlobs) and the pipeline reads
    // width/height/frame-count back OUT OF THE BYTES (IHDR / SOF /
    // descriptor walk — parseImageMeta); the oracle restates the same
    // dimensions from the id arithmetic the fixture encoded, so a
    // parser that misread a single header byte diverges.
    Q("q31_multimodal_metadata",
      (s, dir) => Multimodal.imagePipeline(Tables(s, dir, "documents")),
      Some("""SELECT doc_id,
             |  CAST(CASE doc_id % 3 WHEN 0 THEN 45 WHEN 1 THEN 23
             |    ELSE 14 + 12 * (1 + doc_id % 8) END AS BIGINT)
             |    AS byte_len,
             |  CAST(1 + doc_id % 512 AS INTEGER) AS width,
             |  CAST(1 + (doc_id * 7) % 512 AS INTEGER) AS height,
             |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 8
             |    ELSE 1 END AS INTEGER) AS n_frames,
             |  CAST((1 + doc_id % 512) * (1 + (doc_id * 7) % 512)
             |    * (CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 8
             |       ELSE 1 END) AS BIGINT) AS total_px
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // benchmark decontamination: corpus docs sharing any word 3-gram
    // with the "eval" slice (doc_id % 50 = 0 stands in for a held-out
    // benchmark). Eval shingles broadcast; corpus streams through
    // map-side. The oracle joins textual shingles where the plan joins
    // their 8-byte hashes — identical counts absent 64-bit collisions
    // (the q21/q22 contract).
    Q("q58_decontaminate",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Curation.decontaminate(
          docs.where(col("doc_id") % 50 =!= 0),
          docs.where(col("doc_id") % 50 === 0))
      },
      Some(s"""WITH ev AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
              |co AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
              |${duckShingles("ev", "ev")},
              |${duckShingles("co", "co")}
              |SELECT a.doc_id, COUNT(DISTINCT a.s) AS hit_shingles,
              |  MIN(b.doc_id) AS eval_hit
              |FROM cosh a JOIN evsh b ON a.s = b.s
              |GROUP BY 1 ORDER BY a.doc_id""".stripMargin)),

    // Gopher-style repetition quality: top word-2-gram character
    // fraction + duplicate word-5-gram position fraction, micro-unit
    // floors, keep-flag thresholds 20% / 30%. The CTE block is shared
    // with q74's composite pipeline so the two restatements can't
    // drift.
    Q("q59_repetition_quality",
      (s, dir) => Curation.repetition(Tables(s, dir, "documents")),
      Some(s"""WITH $duckRepetitionCtes
             |SELECT w.doc_id, top2.top_gram,
             |  CAST(COALESCE((top2.top_chars*1000000)//w.nc, 0) AS BIGINT) AS top2_ppm,
             |  CAST(COALESCE((d5.dup_pos*1000000)//d5.tot_pos, 0) AS BIGINT) AS dup5_ppm,
             |  CAST(COALESCE((top2.top_chars*1000000)//w.nc, 0) AS BIGINT) < 200000
             |    AND CAST(COALESCE((d5.dup_pos*1000000)//d5.tot_pos, 0) AS BIGINT) < 300000
             |    AS keep
             |FROM w LEFT JOIN top2 ON top2.doc_id = w.doc_id
             |       LEFT JOIN d5 ON d5.doc_id = w.doc_id
             |ORDER BY w.doc_id""".stripMargin)),

    // deterministic stratified sample: mix31(doc_id) mod 1000 under a
    // per-source rate — reproducible across engines (the oracle
    // recomputes the same hash), map-only, no RNG state.
    Q("q60_stratified_sample",
      (s, dir) => Curation.stratifiedSample(Tables(s, dir, "documents"),
        Map("src1" -> 900, "src5" -> 700, "src9" -> 400), defaultPpk = 250),
      Some(s"""WITH h AS (SELECT doc_id, source AS label,
              |            (${duckMix31("doc_id")}) % 1000 AS h_ppk FROM documents)
              |SELECT doc_id, label, h_ppk FROM h
              |WHERE h_ppk < CASE label WHEN 'src1' THEN 900 WHEN 'src5' THEN 700
              |                         WHEN 'src9' THEN 400 ELSE 250 END
              |ORDER BY doc_id""".stripMargin)),

    // TF-IDF-style top terms: rational score floor(tf·1e6/df) instead
    // of a transcendental idf, so scores verify bit-for-bit.
    Q("q61_tfidf_topk",
      (s, dir) => Curation.tfidfTopK(Tables(s, dir, "documents")),
      Some("""WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
             |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
             |             FROM documents) t
             |       GROUP BY 1,2),
             |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |         CAST((tf.tf*1000000)//df.df AS BIGINT) AS score_ppm
             |       FROM tf JOIN df USING (term)),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |        ORDER BY score_ppm DESC, term) AS rank FROM sc)
             |SELECT doc_id, rank, term, tf, df, score_ppm FROM r
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // token-budget sequence packing: per-shard sequential fill, bin =
    // floor(tokens-before / 512). The window is partitioned by shard —
    // the global-sort variant would serialize the corpus through one
    // task at scale.
    Q("q62_pack_sequences",
      (s, dir) => Curation.packSequences(Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id, source AS shard,
             |            CAST(len(string_split(text,' ')) AS BIGINT) AS tokens
             |          FROM documents),
             |c AS (SELECT doc_id, shard, tokens,
             |        COALESCE(SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
             |      FROM t)
             |SELECT doc_id, shard, tokens,
             |  CAST(cum_before // 512 AS BIGINT) AS bin
             |FROM c ORDER BY doc_id""".stripMargin)),

    // PII scrub: the corpus itself is PII-free synthetic prose, so the
    // query plants deterministic email/IP tokens (a pure function of
    // doc_id/source, restated identically in the oracle) on every
    // third doc, then counts and redacts them. Both engines run the
    // same Java/RE2-common-subset regexes; redaction order
    // (emails, then IPs) is part of the contract.
    Q("q63_pii_scrub",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val aug = docs.select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@"), col("source"), lit(".org via 10."),
              pmod(col("doc_id"), lit(200L)) + 1, lit("."),
              pmod(col("doc_id") * 7, lit(250L)), lit(".25")))
            .otherwise(col("text")).as("text"))
        Curation.scrubPii(aug)
      },
      Some(s"""WITH aug AS (SELECT doc_id,
              |  CASE WHEN doc_id % 3 = 0 THEN
              |    text || ' contact user' || CAST(doc_id AS VARCHAR)
              |      || '@' || source || '.org via 10.'
              |      || CAST(doc_id % 200 + 1 AS VARCHAR) || '.'
              |      || CAST((doc_id*7) % 250 AS VARCHAR) || '.25'
              |  ELSE text END AS text FROM documents)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(text,
              |    '${Curation.EmailRe}')) AS BIGINT) AS n_emails,
              |  CAST(len(regexp_extract_all(text,
              |    '${Curation.Ipv4Re}')) AS BIGINT) AS n_ips,
              |  regexp_replace(regexp_replace(text,
              |    '${Curation.EmailRe}', '<EMAIL>', 'g'),
              |    '${Curation.Ipv4Re}', '<IP>', 'g') AS clean
              |FROM aug ORDER BY doc_id""".stripMargin)),

    // lexical diversity: type/token, hapax and mean-word-length ppm
    // floors — the counting complement of q59's repetition rules.
    Q("q64_lexical_diversity",
      (s, dir) => Curation.lexicalDiversity(Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
             |          FROM documents),
             |c AS (SELECT doc_id, w, COUNT(*) AS cnt FROM t GROUP BY 1,2)
             |SELECT doc_id,
             |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             |  CAST(COUNT(*) AS BIGINT) AS n_types,
             |  CAST((COUNT(*)*1000000)//SUM(cnt) AS BIGINT) AS ttr_ppm,
             |  CAST((SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)*1000000)
             |    //COUNT(*) AS BIGINT) AS hapax_ppm,
             |  CAST((SUM(length(w)*cnt)*1000000)//SUM(cnt) AS BIGINT) AS mwl_ppm
             |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // deterministic train/val/test split: mix31(doc_id) mod 1000 →
    // 80/10/10, aggregated to the per-(split, source) shard-sizing
    // table. Same portable hash as q60 — same doc, same split, in
    // every engine and on every retry.
    Q("q65_split_assign",
      (s, dir) => Curation.splitAssign(Tables(s, dir, "documents")),
      Some(s"""WITH h AS (SELECT doc_id, source,
              |            CAST(len(string_split(text,' ')) AS BIGINT) AS toks,
              |            (${duckMix31("doc_id")}) % 1000 AS hp FROM documents),
              |a AS (SELECT CASE WHEN hp < 800 THEN 'train'
              |              WHEN hp < 900 THEN 'val'
              |              ELSE 'test' END AS split, source, toks FROM h)
              |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(toks) AS BIGINT) AS n_tokens
              |FROM a GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // per-label embedding centroids in exact micro-units: floor each
    // element to long BEFORE summing, so the sum commutes (row order /
    // partitioning independent) and the oracle matches bit for bit.
    Q("q66_label_centroids",
      (s, dir) => Similarity.labelCentroidsMicro(Tables(s, dir, "embeddings")),
      Some(centroidOracle)),

    // the composite curation pipeline in ONE plan — quality gate
    // (q59's repetition keep) → exact-dedup representatives (min id
    // per content hash) → deterministic 50% sample (q60's hash
    // threshold) → token-budget packing (q62). Every stage is an
    // operator this registry already verifies in isolation; this entry
    // verifies their COMPOSITION as one Catalyst plan. (One stage
    // inside repetition() localCheckpoints its tokenized base — the
    // chain materializes that ONE shared intermediate, not four
    // per-stage corpora.)
    Q("q74_curation_pipeline",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val keepIds = Curation.repetition(docs).where(col("keep"))
          .select("doc_id")
        val qual = docs.join(keepIds, Seq("doc_id"))
        val reps = DocDedup.exact(qual).select(col("keep_id").as("doc_id"))
        val ded = qual.join(reps, Seq("doc_id"))
        val sampleIds = Curation.stratifiedSample(ded, Map.empty,
          defaultPpk = 500).select("doc_id")
        Curation.packSequences(ded.join(sampleIds, Seq("doc_id")))
      },
      Some(s"""WITH $duckRepetitionCtes,
              |qual AS (SELECT w.doc_id FROM w
              |         LEFT JOIN top2 ON top2.doc_id = w.doc_id
              |         LEFT JOIN d5 ON d5.doc_id = w.doc_id
              |         WHERE CAST(COALESCE((top2.top_chars*1000000)//w.nc, 0)
              |                 AS BIGINT) < 200000
              |           AND CAST(COALESCE((d5.dup_pos*1000000)//d5.tot_pos, 0)
              |                 AS BIGINT) < 300000),
              |kept AS (SELECT d.* FROM documents d JOIN qual USING (doc_id)),
              |reps AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
              |ded AS (SELECT k.* FROM kept k JOIN reps USING (doc_id)),
              |samp AS (SELECT * FROM ded
              |         WHERE (${duckMix31("doc_id")}) % 1000 < 500),
              |t AS (SELECT doc_id, source AS shard,
              |        CAST(len(string_split(text,' ')) AS BIGINT) AS tokens
              |      FROM samp),
              |c AS (SELECT doc_id, shard, tokens,
              |        COALESCE(SUM(tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              |          AS cum_before
              |      FROM t)
              |SELECT doc_id, shard, tokens,
              |  CAST(cum_before // 512 AS BIGINT) AS bin
              |FROM c ORDER BY doc_id""".stripMargin)),

    // fixed-size per-stratum sample: exactly 5 docs per source, the k
    // smallest mix31(doc_id) — bounded-heap aggregate caps the shuffle
    // at k rows/label/task; the oracle is the full-shuffle window form.
    Q("q73_stratified_fixed_k",
      (s, dir) => Curation.stratifiedFixedK(Tables(s, dir, "documents")),
      Some(s"""WITH h AS (SELECT source AS label, doc_id,
              |            (${duckMix31("doc_id")}) AS h FROM documents),
              |r AS (SELECT label, doc_id, h,
              |        ROW_NUMBER() OVER (PARTITION BY label
              |          ORDER BY h, doc_id) AS rn FROM h)
              |SELECT label, CAST(rn AS INTEGER) AS rn, doc_id, h
              |FROM r WHERE rn <= 5 ORDER BY label, rn""".stripMargin)),

    // tokenizer vocabulary head: top-k terms with rank and cumulative
    // corpus-coverage ppm. TakeOrdered(k) global cut — never a global
    // sort; the running sum runs over the k survivors only.
    Q("q71_vocab_topk",
      (s, dir) => Curation.vocabTopK(Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT unnest(string_split(text,' ')) AS term
             |          FROM documents),
             |c AS (SELECT term, COUNT(*) AS freq FROM t GROUP BY 1),
             |tot AS (SELECT SUM(freq) AS tot FROM c),
             |r AS (SELECT term, freq,
             |        ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
             |      FROM c),
             |top AS (SELECT * FROM r WHERE rank <= 100),
             |cum AS (SELECT rank, term, freq,
             |          SUM(freq) OVER (ORDER BY rank) AS cum_freq FROM top)
             |SELECT CAST(rank AS INTEGER) AS rank, term,
             |  CAST(freq AS BIGINT) AS freq,
             |  CAST((cum_freq*1000000)//tot AS BIGINT) AS cum_ppm
             |FROM cum, tot ORDER BY rank""".stripMargin)),

    // fixed-width token chunking: 32-token windows per doc, tail keeps
    // its remainder — map-only in-plan fan-out (transform + posexplode).
    Q("q72_chunk_tokens",
      (s, dir) => Curation.chunkTokens(Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws
             |          FROM documents),
             |x AS (SELECT doc_id, ws,
             |        unnest(range(0, CAST(ceil(len(ws)/32.0) AS BIGINT))) AS ci
             |      FROM w)
             |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
             |  CAST(len(ws[CAST(ci*32+1 AS INTEGER):CAST(ci*32+32 AS INTEGER)])
             |    AS BIGINT) AS n_tokens,
             |  array_to_string(ws[CAST(ci*32+1 AS INTEGER):CAST(ci*32+32 AS INTEGER)],
             |    ' ') AS chunk
             |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)),

    // STREAMING corpus filter through the oracle gate: fresh docs
    // (doc_id % 5 = 0, the q47 split) replayed as a file stream,
    // anti-joined per micro-batch against the static corpus signature
    // snapshot — only content the corpus has never seen lands. The
    // oracle is the NOT EXISTS restatement of the md5 anti-join.
    Q("q69_stream_corpus_filter",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val corpus = Tables(s, dir, "documents").where(col("doc_id") % 5 =!= 0)
        val sigs = DocDedup.signatures(corpus).localCheckpoint()
        val fresh = docStream(s, dir).where(col("doc_id") % 5 === 0)
        val out = graft.streaming.StreamingPipeline
          .corpusFilterStream(fresh, sigs).select("doc_id")
        QueriesAlert.drainToMemory(s, out, "q69_sink", OutputMode.Append())
          .orderBy("doc_id")
      },
      Some("""SELECT f.doc_id FROM documents f
             |WHERE f.doc_id % 5 = 0 AND NOT EXISTS (
             |  SELECT 1 FROM documents c
             |  WHERE c.doc_id % 5 <> 0 AND md5(c.text) = md5(f.text))
             |ORDER BY f.doc_id""".stripMargin)),

    // STREAMING near-dup alarm: the stream band-joins the persisted
    // corpus signatures and verifies candidates in-stream by exact
    // Jaccard — one row per matching band (a pair agreeing on two
    // bands fires twice; distinct-ing would cost a state store for no
    // serving value). The oracle restates BOTH sides' engine-portable
    // MinHash signatures, the band fold, the band join, and the
    // micro-unit Jaccard verify relationally — full hash verification,
    // band multiplicity included.
    Q("q70_stream_neardup_alarm",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val corpus = Tables(s, dir, "documents").where(col("doc_id") % 5 =!= 0)
        val sigs = DocDedup.signatures(corpus).localCheckpoint()
        val fresh = docStream(s, dir).where(col("doc_id") % 5 === 0)
        val out = graft.streaming.StreamingPipeline
          .nearDupAlarmStream(fresh, sigs)
        QueriesAlert.drainToMemory(s, out, "q70_sink", OutputMode.Append())
          .orderBy("doc_id", "c_id", "band")
      },
      Some(s"""WITH fr AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
              |co AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
              |${duckShingles("f", "fr")},
              |${duckShingles("c", "co")},
              |fmh AS (SELECT doc_id, s,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
              |      (a, b) -> (a * 37 + b) % 2147483647) AS h37
              |  FROM fsh),
              |cmh AS (SELECT doc_id, s,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(s, ''), c -> CAST(unicode(c) AS BIGINT))),
              |      (a, b) -> (a * 37 + b) % 2147483647) AS h37
              |  FROM csh),
              |fyy AS (SELECT doc_id, ${duckMix31("h37")} AS y FROM fmh),
              |cyy AS (SELECT doc_id, ${duckMix31("h37")} AS y FROM cmh),
              |fsig AS (SELECT doc_id, i, MIN(${duckMix31("y + i")}) AS m
              |         FROM fyy CROSS JOIN (SELECT unnest(range(0, 16)) AS i) xs
              |         GROUP BY 1, 2),
              |csig AS (SELECT doc_id, i, MIN(${duckMix31("y + i")}) AS m
              |         FROM cyy CROSS JOIN (SELECT unnest(range(0, 16)) AS i) xs
              |         GROUP BY 1, 2),
              |fbands AS (SELECT doc_id, i // 4 AS band,
              |             list_reduce(list_prepend(CAST(i // 4 AS BIGINT),
              |                 list(m ORDER BY i)),
              |               (a, b) -> (a * 1103515245 + b) % 2147483648) AS bh
              |           FROM fsig GROUP BY doc_id, i // 4),
              |cbands AS (SELECT doc_id, i // 4 AS band,
              |             list_reduce(list_prepend(CAST(i // 4 AS BIGINT),
              |                 list(m ORDER BY i)),
              |               (a, b) -> (a * 1103515245 + b) % 2147483648) AS bh
              |           FROM csig GROUP BY doc_id, i // 4),
              |hits AS (SELECT a.doc_id AS doc_id, b.doc_id AS c_id, a.band
              |         FROM fbands a JOIN cbands b
              |           ON a.band = b.band AND a.bh = b.bh),
              |pi AS (SELECT DISTINCT doc_id, c_id FROM hits),
              |iv AS (SELECT p.doc_id, p.c_id, COUNT(*) AS inter
              |       FROM pi p JOIN fsh a ON a.doc_id = p.doc_id
              |                 JOIN csh b ON b.doc_id = p.c_id AND b.s = a.s
              |       GROUP BY 1, 2),
              |jm AS (SELECT i.doc_id, i.c_id,
              |         CAST((i.inter*1000000)//(fa.n + cb.n - i.inter) AS BIGINT)
              |           AS jac_micro
              |       FROM iv i JOIN fsz fa ON fa.doc_id = i.doc_id
              |                 JOIN csz cb ON cb.doc_id = i.c_id)
              |SELECT h.doc_id, h.c_id, CAST(h.band AS INTEGER) AS band,
              |  jm.jac_micro
              |FROM hits h JOIN jm ON jm.doc_id = h.doc_id AND jm.c_id = h.c_id
              |WHERE jm.jac_micro >= 500000
              |ORDER BY h.doc_id, h.c_id, h.band""".stripMargin)),

    // integer-exact decayed feature state: per-user fold of the event
    // history in (ts, event_id) order, e := (e>>1) + value_micro. The
    // oracle restates the identical fold with list_reduce — same
    // order, same floor halving, bit-for-bit.
    Q("q80_ewma_decay",
      (s, dir) => Temporal.ewmaMicro(Tables(s, dir, "events"))
        .withColumnRenamed("key", "user_id"),
      Some("""WITH t AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |            CAST(floor(value*1000000) AS BIGINT) AS vm
             |          FROM events
             |          WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |            AND value IS NOT NULL),
             |l AS (SELECT user_id, list(vm ORDER BY us, event_id) AS vs
             |      FROM t GROUP BY 1)
             |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
             |  CAST(list_reduce(vs, (a, b) -> a // 2 + b) AS BIGINT)
             |    AS ewma_micro
             |FROM l ORDER BY user_id""".stripMargin)),

    // gap-fill LOCF resample: hourly grid per user across the observed
    // span, carrying each bucket's close (latest observation) through
    // empty buckets. Bucket math is integer epoch-micros; carried
    // values are copied, not computed — the compare is exact.
    Q("q81_gap_fill_locf",
      (s, dir) => Temporal.gapFill(Tables(s, dir, "events"))
        .withColumnRenamed("key", "user_id"),
      Some("""WITH t AS (SELECT user_id, epoch_us(ts) AS us, event_id, value,
             |            epoch_us(ts) // 3600000000 AS b
             |          FROM events
             |          WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |            AND value IS NOT NULL),
             |obs AS (SELECT user_id, b, value FROM
             |          (SELECT user_id, b, value, ROW_NUMBER() OVER (
             |             PARTITION BY user_id, b
             |             ORDER BY us DESC, event_id DESC) AS rn FROM t)
             |        WHERE rn = 1),
             |span AS (SELECT user_id, min(b) AS lo, max(b) AS hi
             |         FROM t GROUP BY 1),
             |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS b FROM span),
             |j AS (SELECT g.user_id, g.b, o.value FROM grid g
             |      LEFT JOIN obs o ON g.user_id = o.user_id AND g.b = o.b),
             |f AS (SELECT user_id, b,
             |        last_value(value IGNORE NULLS) OVER (
             |          PARTITION BY user_id ORDER BY b) AS fv,
             |        value FROM j)
             |SELECT user_id, make_timestamp(b*3600000000) AS bucket_ts,
             |  fv AS value,
             |  CAST(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
             |    AS filled
             |FROM f ORDER BY user_id, b""".stripMargin)),

    // blocked fuzzy entity-resolution join: distinct part names,
    // blocked on the head noun (last token), length-pre-cut, verified
    // by levenshtein <= 2. Both engines implement classic Levenshtein
    // — the oracle restates blocking, pre-cut, and verify identically,
    // so the compare is exact (no similarity heuristics involved).
    Q("q82_fuzzy_er_join",
      (s, dir) => Entity.fuzzySelfJoin(Tables(s, dir, "part"), "p_name"),
      Some("""WITH n AS (SELECT DISTINCT p_name AS name FROM part
             |          WHERE p_name IS NOT NULL),
             |b AS (SELECT name, string_split(name, ' ')[-1] AS block FROM n)
             |SELECT a.name AS name_a, c.name AS name_b,
             |  CAST(levenshtein(a.name, c.name) AS INTEGER) AS dist
             |FROM b a JOIN b c ON a.block = c.block AND a.name < c.name
             |WHERE abs(length(a.name) - length(c.name)) <= 2
             |  AND levenshtein(a.name, c.name) <= 2
             |ORDER BY 1, 2""".stripMargin)),

    // Bloom-prefiltered shuffle join: the dim's key set ships as a
    // 16 KB bitmap; the fact side drops non-joining rows BEFORE its
    // shuffle (shuffle_hash hint forces the shuffle the pattern
    // guards — broadcast would hide it at this SF). False positives
    // die in the exact join, so the oracle is the PLAIN join — no
    // bloom restatement needed.
    Q("q83_bloom_prefilter_join",
      (s, dir) => {
        val dim = Tables(s, dir, "orders").where(col("o_totalprice") > 450000)
        val words = Bloom.build(dim.select(col("o_orderkey")), "o_orderkey")
        Tables(s, dir, "lineitem")
          .where(Bloom.mightContain(words, col("l_orderkey")))
          .hint("shuffle_hash")
          .join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 450000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // domain-mixture planner: the 4:3:2:1 target mixture over four
    // sources — budget = the binding source's avail·10⁶ // weight,
    // then per-source quota, realized hash-sample rate, and what that
    // rate actually samples. Pure integer floor arithmetic end to end.
    Q("q84_mixture_plan",
      (s, dir) => Curation.mixturePlan(Tables(s, dir, "documents"),
        Map("src0" -> 400000L, "src1" -> 300000L,
          "src2" -> 200000L, "src3" -> 100000L)),
      Some(s"""WITH t AS (SELECT doc_id, source,
              |            CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
              |            (${duckMix31("doc_id")}) % 1000 AS h_ppk,
              |            CAST(CASE source WHEN 'src0' THEN 400000
              |                 WHEN 'src1' THEN 300000 WHEN 'src2' THEN 200000
              |                 WHEN 'src3' THEN 100000 END AS BIGINT) AS w_ppm
              |          FROM documents
              |          WHERE source IN ('src0','src1','src2','src3')
              |            AND text IS NOT NULL),
              |avail AS (SELECT source, w_ppm, SUM(toks) AS avail_tokens
              |          FROM t GROUP BY 1, 2),
              |b AS (SELECT MIN((avail_tokens*1000000)//w_ppm) AS budget
              |      FROM avail),
              |plan AS (SELECT source, w_ppm, avail_tokens,
              |           (b.budget*w_ppm)//1000000 AS quota_tokens,
              |           ((((b.budget*w_ppm)//1000000))*1000)//avail_tokens
              |             AS rate_ppk
              |         FROM avail, b),
              |sm AS (SELECT t.source, COUNT(*) AS sampled_docs,
              |         SUM(toks) AS sampled_tokens
              |       FROM t JOIN plan ON t.source = plan.source
              |         AND t.h_ppk < plan.rate_ppk
              |       GROUP BY 1)
              |SELECT p.source, p.w_ppm,
              |  CAST(p.avail_tokens AS BIGINT) AS avail_tokens,
              |  CAST(p.quota_tokens AS BIGINT) AS quota_tokens,
              |  CAST(p.rate_ppk AS BIGINT) AS rate_ppk,
              |  CAST(COALESCE(sm.sampled_docs, 0) AS BIGINT) AS sampled_docs,
              |  CAST(COALESCE(sm.sampled_tokens, 0) AS BIGINT) AS sampled_tokens
              |FROM plan p LEFT JOIN sm ON sm.source = p.source
              |ORDER BY p.source""".stripMargin)),

    // population z-score outliers with zero float moments: the flag
    // inequality (n·vm − S)² > k²(n·Q − S²) is integer-exact on both
    // engines (decimal38 sums here, HUGEINT there), so an outlier
    // list — normally float-fuzzy — hash-matches bit for bit.
    Q("q85_zscore_outliers",
      (s, dir) => Stats.zscoreOutliers(Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT event_id, event_type,
             |            CAST(floor(value*1000000) AS BIGINT) AS vm
             |          FROM events
             |          WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |st AS (SELECT event_type, COUNT(*) AS n,
             |         SUM(CAST(vm AS HUGEINT)) AS s,
             |         SUM(CAST(vm AS HUGEINT)*vm) AS q
             |       FROM t GROUP BY 1)
             |SELECT t.event_id, t.event_type, t.vm
             |FROM t JOIN st USING (event_type)
             |WHERE (n*vm - s)*(n*vm - s) > 9*(n*q - s*s)
             |ORDER BY event_id""".stripMargin)),

    // SemDeDup-shaped semantic dedup, hash-verified END TO END: the
    // oracle recomputes the anchor set (first k by id), the argmax
    // cell assignment (ties to the lower cell — Ivf.cellOf's
    // contract), the within-cell pair scan, and the keep-min decision
    // relationally. The quantizer's recall is part of the CHECKED
    // contract, like q55's banding and unlike corpus-coupled claims.
    Q("q79_semantic_dedup",
      (s, dir) => DocDedup.semanticDedup(Tables(s, dir, "embeddings")),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |anch AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
              |             AS INTEGER) AS cell, v AS av
              |         FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
              |sc AS (SELECT e.vec_id, a.cell,
              |         list_sum(list_transform(list_zip(e.v, a.av),
              |           x -> x[1]*x[2])) AS s
              |       FROM e CROSS JOIN anch a),
              |asg AS (SELECT vec_id, cell FROM (
              |          SELECT vec_id, cell, ROW_NUMBER() OVER (
              |            PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
              |          FROM sc)
              |        WHERE rn = 1),
              |sim AS (SELECT b.vec_id AS vid, a.vec_id AS cand,
              |          CAST(floor((${duckCos("ea.v", "eb.v")}) * 1000000)
              |            AS BIGINT) AS cos_e6
              |        FROM asg a JOIN asg b
              |          ON a.cell = b.cell AND a.vec_id < b.vec_id
              |          JOIN e ea ON ea.vec_id = a.vec_id
              |          JOIN e eb ON eb.vec_id = b.vec_id),
              |d AS (SELECT vid, MIN(cand) AS dup_of FROM sim
              |      WHERE cos_e6 >= 350000 GROUP BY 1)
              |SELECT g.vec_id, g.cell, d.dup_of
              |FROM asg g LEFT JOIN d ON d.vid = g.vec_id
              |ORDER BY g.vec_id""".stripMargin)),

    // fixed-iteration integer PageRank over the co-purchase part graph
    // (parts sharing an order link both ways). Every rank is floor
    // fixed-point arithmetic, so the oracle unrolls the three power
    // iterations relationally and matches bit for bit — an iterative
    // float algorithm made hash-checkable.
    Q("q86_pagerank_copurchase",
      (s, dir) => {
        val e = graft.ops.CoPurchase.directed(s, dir)
        graft.ops.Graph.pageRank(e)
          .withColumnRenamed("node", "part_id")
          .withColumnRenamed("rank", "rank_p12")
      },
      Some {
        def iter(prev: String, cur: String): String =
          s"""$cur AS (SELECT n.node,
             |    MAX(base.b) + COALESCE(SUM(
             |      (($prev.rank * 850000) // 1000000) // deg.d), 0) AS rank
             |  FROM n CROSS JOIN base
             |  LEFT JOIN e ON e.dst = n.node
             |  LEFT JOIN $prev ON $prev.node = e.src
             |  LEFT JOIN deg ON deg.src = e.src
             |  GROUP BY n.node)""".stripMargin
        s"""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e AS (SELECT DISTINCT a.p AS src, b.p AS dst
           |      FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
           |n AS (SELECT DISTINCT node FROM
           |        (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM n),
           |base AS (SELECT ((1000000000000 // cnt) * 150000) // 1000000 AS b,
           |           (1000000000000 // cnt) AS r0 FROM nn),
           |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
           |rk0 AS (SELECT node, (SELECT r0 FROM base) AS rank FROM n),
           |${iter("rk0", "rk1")},
           |${iter("rk1", "rk2")},
           |${iter("rk2", "rk3")}
           |SELECT node AS part_id, CAST(rank AS BIGINT) AS rank_p12
           |FROM rk3 ORDER BY rank DESC, part_id""".stripMargin
      }),

    // STREAMING sessionization through the oracle gate: Spark's
    // merging session_window state over the event replay, drained
    // complete so every session (including each key's trailing one)
    // emits. The oracle is q33's lag/cumsum gap restatement — batch
    // and stream agree everywhere except an exact-gap boundary step
    // (session_window splits, the lag form merges), absent from
    // microsecond event data.
    Q("q87_stream_sessionize",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val agg = QueriesAlert.eventStream(s, dir)
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            min(unix_micros(col("ts"))).as("start_us"),
            max(unix_micros(col("ts"))).as("end_us"))
          .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
        QueriesAlert.drainToMemory(s, agg, "q87_sink", OutputMode.Complete())
          .orderBy("user_id", "start_us")
      },
      Some("""WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events
             |          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |m AS (SELECT user_id, us,
             |  CASE WHEN LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
             |         OR us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
             |           > 1800000000
             |       THEN 1 ELSE 0 END AS ns
             |  FROM t),
             |sx AS (SELECT user_id, us,
             |  SUM(ns) OVER (PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM m)
             |SELECT user_id, COUNT(*) AS n_events,
             |  MIN(us) AS start_us, MAX(us) AS end_us
             |FROM sx GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin)),

    // product-quantization encode, hash-verified END TO END: the
    // oracle rebuilds the deterministic per-subspace codebooks (first
    // 16 vectors' subvectors), the L2 distance fold, and the argmin
    // (ties to the lower code) relationally — the PQ codes and the
    // micro-unit quantization errors match bit for bit.
    Q("q88_pq_encode",
      (s, dir) => Similarity.pqEncode(Tables(s, dir, "embeddings")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cb AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
             |           AS INTEGER) AS code, v
             |       FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
             |ss AS (SELECT unnest(range(0, 8)) AS s),
             |subs AS (SELECT vec_id, s,
             |           v[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS sv
             |         FROM e CROSS JOIN ss),
             |csubs AS (SELECT code, s,
             |            v[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS cv
             |          FROM cb CROSS JOIN ss),
             |d AS (SELECT vec_id, subs.s, code,
             |        list_sum(list_transform(list_zip(sv, cv),
             |          x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
             |      FROM subs JOIN csubs ON subs.s = csubs.s),
             |r AS (SELECT vec_id, s, code, dist, ROW_NUMBER() OVER (
             |        PARTITION BY vec_id, s ORDER BY dist, code) AS rn
             |      FROM d)
             |SELECT vec_id, CAST(s AS INTEGER) AS sub, code,
             |  CAST(floor(dist*1000000) AS BIGINT) AS dist_e6
             |FROM r WHERE rn = 1 ORDER BY vec_id, sub""".stripMargin)),

    // deterministic weighted bottom-k sample: rank = mix31(id) //
    // token-weight, 50 smallest win — PPSWOR-shaped preference for
    // longer documents with zero RNG. TakeOrdered plan (per-partition
    // top-k, k-row merge), never a global sort.
    Q("q89_weighted_sample",
      (s, dir) => Curation.weightedPrioritySample(Tables(s, dir, "documents")),
      Some(s"""WITH t AS (SELECT doc_id,
              |            CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
              |            (${duckMix31("doc_id")}) AS h
              |          FROM documents WHERE text IS NOT NULL),
              |r AS (SELECT doc_id, weight, h, h // weight AS rank_key
              |      FROM t WHERE weight > 0),
              |k AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rank_key, doc_id)
              |        AS rn FROM r)
              |SELECT doc_id, weight, h, rank_key FROM k WHERE rn <= 50
              |ORDER BY rank_key, doc_id""".stripMargin)),

    // bigram-LM quality score: corpus-trained transition counts score
    // each doc's mean transition probability in ppm — the rational
    // stand-in for a perplexity filter, integer floor arithmetic end
    // to end so the oracle verifies every score.
    Q("q90_bigram_lm_score",
      (s, dir) => TextAnalysis.bigramLmScore(Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             |          FROM documents WHERE text IS NOT NULL),
             |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
             |           i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
             |       FROM w WHERE len(ws) >= 2),
             |o AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
             |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM o GROUP BY 1, 2),
             |cp AS (SELECT w1, COUNT(*) AS cp FROM o GROUP BY 1),
             |sc AS (SELECT o.doc_id, (cb.cb*1000000)//cp.cp AS ppm
             |       FROM o JOIN cb USING (w1, w2) JOIN cp USING (w1))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(ppm)//COUNT(*) AS BIGINT) AS lm_ppm
             |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-label percentile gate: keep each source's top 30% by score
    // via exact integer rank arithmetic — no float percentiles. Score
    // here = token count (pluggable: any integer signal slots in).
    Q("q91_percentile_gate",
      (s, dir) => Curation.percentileGate(
        Tables(s, dir, "documents").select(col("source"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("score")),
        "score"),
      Some("""WITH t AS (SELECT source, doc_id,
             |            CAST(len(string_split(text, ' ')) AS BIGINT) AS score
             |          FROM documents),
             |r AS (SELECT source, doc_id, score,
             |        CAST(ROW_NUMBER() OVER (PARTITION BY source
             |          ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
             |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
             |      FROM t)
             |SELECT source, doc_id, score, rank, n FROM r
             |WHERE ((rank - 1) * 1000)//n < 300
             |ORDER BY source, doc_id""".stripMargin)),

    // STREAMING EWMA feature state through the oracle gate: the
    // integer halving fold runs live in flatMapGroupsWithState over
    // the one-batch replay; because it is the SAME arithmetic as the
    // batch fold, the serving state equals q80's backfill bit for bit
    // — the oracle is literally q80's.
    Q("q92_stream_ewma",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline
          .ewmaStream(QueriesAlert.eventStream(s, dir)).toDF()
        QueriesAlert.drainToMemory(s, out, "q92_sink", OutputMode.Update())
          .orderBy("user_id")
      },
      Some("""WITH t AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |            CAST(floor(value*1000000) AS BIGINT) AS vm
             |          FROM events
             |          WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |            AND value IS NOT NULL),
             |l AS (SELECT user_id, list(vm ORDER BY us, event_id) AS vs
             |      FROM t GROUP BY 1)
             |SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
             |  CAST(list_reduce(vs, (a, b) -> a // 2 + b) AS BIGINT)
             |    AS ewma_micro
             |FROM l ORDER BY user_id""".stripMargin)),

    // per-group equi-depth histogram: exact ntile binning over the
    // deterministic (value, id) order — the feature-bucketization
    // table where approx_percentile would be the sketch.
    Q("q93_equidepth_histogram",
      (s, dir) => Stats.equiDepthHistogram(Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT event_type, event_id,
             |            CAST(floor(value*1000000) AS BIGINT) AS vm
             |          FROM events
             |          WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |b AS (SELECT event_type, vm, NTILE(10) OVER (
             |        PARTITION BY event_type ORDER BY vm, event_id) AS bin
             |      FROM t)
             |SELECT event_type, CAST(bin AS INTEGER) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  MIN(vm) AS lo_micro, MAX(vm) AS hi_micro
             |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // per-group min-max feature scaling in exact ppm-of-range units —
    // bounded group aggregate broadcast back, map-only rescale.
    Q("q94_minmax_normalize",
      (s, dir) => Stats.minMaxNormalize(Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT event_id, event_type,
             |            CAST(floor(value*1000000) AS BIGINT) AS vm
             |          FROM events
             |          WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |r AS (SELECT event_type, MIN(vm) AS lo, MAX(vm) AS hi
             |      FROM t GROUP BY 1)
             |SELECT t.event_id, t.event_type,
             |  CAST(CASE WHEN hi = lo THEN 0
             |       ELSE ((vm - lo)*1000000)//(hi - lo) END AS BIGINT)
             |    AS norm_ppm
             |FROM t JOIN r USING (event_type)
             |ORDER BY event_id""".stripMargin)),

    // collocation mining by integer lift (the rational PMI): bigrams
    // with support >= 5, top-100 by how far co-occurrence exceeds the
    // parts' positional frequencies. The phrase table a tokenizer's
    // merge step reads.
    Q("q95_collocations",
      (s, dir) => TextAnalysis.collocations(Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             |          FROM documents WHERE text IS NOT NULL),
             |bg AS (SELECT unnest(list_transform(range(1, len(ws)),
             |           i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
             |       FROM w WHERE len(ws) >= 2),
             |o AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg),
             |cc AS (SELECT w1, w2, COUNT(*) AS c12 FROM o GROUP BY 1, 2
             |       HAVING COUNT(*) >= 5),
             |c1 AS (SELECT w1, COUNT(*) AS c1 FROM o GROUP BY 1),
             |c2 AS (SELECT w2, COUNT(*) AS c2 FROM o GROUP BY 1),
             |tt AS (SELECT COUNT(*) AS t FROM o),
             |l AS (SELECT w1, w2, c12,
             |        (tt.t * c12 * 1000000)//(c1.c1 * c2.c2) AS lift_ppm
             |      FROM cc JOIN c1 USING (w1) JOIN c2 USING (w2)
             |      CROSS JOIN tt),
             |r AS (SELECT *, ROW_NUMBER() OVER (
             |        ORDER BY lift_ppm DESC, w1, w2) AS rn FROM l)
             |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
             |  CAST(lift_ppm AS BIGINT) AS lift_ppm
             |FROM r WHERE rn <= 100
             |ORDER BY lift_ppm DESC, w1, w2""".stripMargin)),

    // single-pass data-contract validation: every rule is one
    // conditional sum in ONE scan; adding a rule adds a column, not a
    // pass. Mixed firing/zero rules prove both directions.
    Q("q96_contract_validation",
      (s, dir) => Audit.contractViolations(Tables(s, dir, "events"), Seq(
        Audit.Rule("null_ts", col("ts").isNull),
        Audit.Rule("null_user_id", col("user_id").isNull),
        Audit.Rule("props_missing_k",
          get_json_object(col("props"), "$.k").isNull),
        Audit.Rule("unknown_event_type", !col("event_type")
          .isin("click", "signup", "error", "view", "purchase")),
        Audit.Rule("value_out_of_range",
          col("value").isNull || col("value") < 0 || col("value") > 400))),
      Some("""WITH s AS (SELECT
             |  SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS null_ts,
             |  SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS null_user_id,
             |  SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
             |      THEN 1 ELSE 0 END) AS props_missing_k,
             |  SUM(CASE WHEN NOT event_type IN
             |        ('click','signup','error','view','purchase')
             |      THEN 1 ELSE 0 END) AS unknown_event_type,
             |  SUM(CASE WHEN value IS NULL OR value < 0 OR value > 400
             |      THEN 1 ELSE 0 END) AS value_out_of_range
             |  FROM events)
             |SELECT rule, CAST(violations AS BIGINT) AS violations FROM (
             |  SELECT 'null_ts' AS rule, null_ts AS violations FROM s
             |  UNION ALL SELECT 'null_user_id', null_user_id FROM s
             |  UNION ALL SELECT 'props_missing_k', props_missing_k FROM s
             |  UNION ALL SELECT 'unknown_event_type', unknown_event_type FROM s
             |  UNION ALL SELECT 'value_out_of_range', value_out_of_range FROM s)
             |ORDER BY rule""".stripMargin)),

    // snapshot diff by content hash: two deterministic corpus
    // versions (drops, additions, text rewrites carved from doc_id
    // residues), full-outer-joined on the id — the delta a dataset-
    // versioning layer stores.
    Q("q97_snapshot_diff",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val old = docs.where(col("doc_id") % 11 =!= 3)
        val cur = docs.where(col("doc_id") % 13 =!= 5)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Audit.snapshotDiff(old, cur)
      },
      Some("""WITH o AS (SELECT doc_id AS id, md5(text) AS oh FROM documents
             |          WHERE doc_id % 11 <> 3),
             |n AS (SELECT doc_id AS id,
             |        md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2'
             |            ELSE text END) AS nh
             |      FROM documents WHERE doc_id % 13 <> 5),
             |j AS (SELECT COALESCE(o.id, n.id) AS doc_id,
             |        CASE WHEN o.oh IS NULL THEN 'added'
             |             WHEN n.nh IS NULL THEN 'removed'
             |             WHEN o.oh <> n.nh THEN 'changed' END AS status
             |      FROM o FULL OUTER JOIN n ON o.id = n.id)
             |SELECT doc_id, status FROM j WHERE status IS NOT NULL
             |ORDER BY doc_id""".stripMargin)),

    // join-key skew report: the 10 hottest keys with exact ppm shares
    // and running concentration — the pre-join answer to "salt or
    // broadcast". TakeOrdered hot cut; shares over the survivors only.
    Q("q98_skew_report",
      (s, dir) => Audit.skewReport(Tables(s, dir, "events"), "user_id"),
      Some("""WITH c AS (SELECT user_id AS key, COUNT(*) AS cnt FROM events
             |          WHERE user_id IS NOT NULL GROUP BY 1),
             |t AS (SELECT SUM(cnt) AS t FROM c),
             |r AS (SELECT key, cnt, ROW_NUMBER() OVER (
             |        ORDER BY cnt DESC, key) AS rank FROM c),
             |top AS (SELECT * FROM r WHERE rank <= 10)
             |SELECT CAST(rank AS BIGINT) AS rank, key,
             |  CAST(cnt AS BIGINT) AS cnt,
             |  CAST((cnt*1000000)//t.t AS BIGINT) AS share_ppm,
             |  CAST((SUM(cnt) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)
             |    *1000000)//t.t AS BIGINT) AS cum_ppm
             |FROM top, t ORDER BY rank""".stripMargin)),

    // the six-table star join (TPC-H Q5 shape): local-supplier
    // revenue per nation inside one region-year. Region/nation/
    // customer/supplier broadcast; lineitem⋈orders is the ONE fact
    // shuffle — the plan shape that decides whether a 100 TB star
    // schema is joinable at all. Decimal-exact revenue like q01.
    Q("q99_star_join",
      (s, dir) => {
        val rev = col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
        Tables(s, dir, "lineitem")
          .join(Tables(s, dir, "orders")
              .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, dir, "supplier")),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, dir, "region"))
              .where(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("n_name")
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |    (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY n_name
             |ORDER BY revenue DESC, n_name""".stripMargin)),

    // rolling 24h range-frame count per user: the sliding-window
    // feature (events-in-last-day) as an exact RANGE window over
    // integer epoch-micros — rows-frames can't express it, and both
    // engines agree on the closed [t-24h, t] bound.
    Q("q100_rolling_window",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(-86400000000L, 0L)
        Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"))
          .withColumn("n_24h", count(lit(1)).over(w))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS us,
             |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             |    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS n_24h
             |FROM events
             |WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |ORDER BY event_id""".stripMargin)),

    // incremental materialized-view maintenance: yesterday's state +
    // today's delta, merged by key — and the ORACLE is the full
    // rescan aggregate, so the refresh-equals-rebuild invariant is
    // the thing the gate checks. State shuffles |keys| rows, never
    // history.
    Q("q101_incremental_view",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("ts").isNotNull)
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
        val state = Analytics.countSumState(ev.where(col("day") < 19743))
        val delta = Analytics.countSumState(ev.where(col("day") >= 19743))
        Analytics.mergeCountSum(state, delta)
          .withColumnRenamed("key", "user_id").orderBy("user_id")
      },
      Some("""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(floor(value*1000000) AS BIGINT)) AS BIGINT)
             |    AS sum_micro
             |FROM events
             |WHERE user_id IS NOT NULL AND value IS NOT NULL
             |  AND ts IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // two-step funnel (view → purchase within 1h): first-step min and
    // the second-step candidate fold in ONE groupBy pass — no
    // self-join; the at-or-after constraint resolves after the fold.
    Q("q102_funnel",
      (s, dir) => Analytics.funnel(Tables(s, dir, "events"),
          "view", "purchase")
        .withColumnRenamed("key", "user_id"),
      Some(funnelOracle)),

    // retention triangle on integer epoch-days: cohort = first active
    // day; one row per (cohort, offset) counting users active that
    // many days later.
    Q("q103_retention",
      (s, dir) => Analytics.retention(Tables(s, dir, "events")),
      Some("""WITH d AS (SELECT DISTINCT user_id AS key,
             |            epoch_us(ts)//86400000000 AS day
             |          FROM events
             |          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |c AS (SELECT key, MIN(day) AS cohort_day FROM d GROUP BY 1)
             |SELECT cohort_day, d.day - c.cohort_day AS day_offset,
             |  CAST(COUNT(*) AS BIGINT) AS n_users
             |FROM d JOIN c USING (key)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // STREAM-STREAM interval join through the oracle gate: views join
    // purchases of the same user within the following hour, both
    // sides watermarked (the state-eviction contract a real deploy
    // needs); the replay drains in one batch so append-mode emission
    // is complete. The oracle is the equivalent batch range join.
    Q("q104_stream_stream_join",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        def side(t: String, alias: String) =
          QueriesAlert.eventStream(s, dir)
            .where(col("event_type") === t &&
              col("user_id").isNotNull && col("ts").isNotNull)
            .withWatermark("ts", "1 hour").alias(alias)
        val joined = side("view", "v").join(side("purchase", "p"),
            expr("v.user_id = p.user_id AND " +
              "p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR"))
          .select(col("v.event_id").as("view_id"),
            col("p.event_id").as("purchase_id"),
            col("v.user_id").as("user_id"))
        QueriesAlert.drainToMemory(s, joined, "q104_sink", OutputMode.Append())
          .orderBy("view_id", "purchase_id")
      },
      Some("""SELECT v.event_id AS view_id, p.event_id AS purchase_id,
             |  v.user_id
             |FROM events v JOIN events p
             |  ON v.user_id = p.user_id
             |  AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
             |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
             |  AND v.user_id IS NOT NULL AND v.ts IS NOT NULL
             |  AND p.ts IS NOT NULL
             |ORDER BY view_id, purchase_id""".stripMargin)),

    // PPJoin-style prefix-filtered set-similarity self-join: tokens
    // sort by global df (rarest first), only the |s|−⌈t|s|⌉+1 prefix
    // joins, size-compatibility cuts the rest. LOSSLESS by the
    // prefix-filtering lemma, so the oracle is the plain exact-Jaccard
    // pair set (q21's, unblocked) — candidate generation must
    // reconstruct it perfectly. Hot shingles land at every list's
    // TAIL and never join: the f² blow-up q21 guards with a df-cut
    // disappears by construction, with zero recall loss.
    Q("q105_prefix_filter_jaccard",
      (s, dir) => DocDedup.prefixFilterJaccard(Tables(s, dir, "documents"),
        n = 3, threshold = 0.5),
      Some(s"""WITH ${duckShingles("x", "documents")},
              |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              |            COUNT(*) AS inter
              |          FROM xsh a JOIN xsh b
              |            ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2)
              |SELECT p.a_id, p.b_id, p.inter,
              |  CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) AS jac
              |FROM pairs p
              |JOIN xsz sa ON p.a_id = sa.doc_id
              |JOIN xsz sb ON p.b_id = sb.doc_id
              |WHERE CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) >= 0.5
              |ORDER BY a_id, b_id""".stripMargin)),

    // PQ asymmetric-distance top-k: the corpus is its 8-byte PQ code
    // rows (q88), each query a 128-entry integer LUT — approximate
    // distance is the SUM of m lookups, never a float op on the
    // corpus side. The oracle chains q88's code CTEs with the same
    // LUT join and rank, so codes, table entries and the final
    // ranking all verify bit for bit.
    Q("q106_pq_adc_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.pqAdcTopK(emb, emb.where(col("vec_id") < 5), k = 3)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cb AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
             |           AS INTEGER) AS code, v
             |       FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
             |ss AS (SELECT unnest(range(0, 8)) AS s),
             |subs AS (SELECT vec_id, s,
             |           v[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS sv
             |         FROM e CROSS JOIN ss),
             |csubs AS (SELECT code, s,
             |            v[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS cv
             |          FROM cb CROSS JOIN ss),
             |d AS (SELECT vec_id, subs.s, code,
             |        list_sum(list_transform(list_zip(sv, cv),
             |          x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
             |      FROM subs JOIN csubs ON subs.s = csubs.s),
             |r AS (SELECT vec_id, s, code, dist, ROW_NUMBER() OVER (
             |        PARTITION BY vec_id, s ORDER BY dist, code) AS rn
             |      FROM d),
             |codes AS (SELECT vec_id, s, code FROM r WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
             |qsubs AS (SELECT q_id, s,
             |            qv[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS sv
             |          FROM q CROSS JOIN ss),
             |lut AS (SELECT q_id, qsubs.s, code,
             |          CAST(floor(list_sum(list_transform(list_zip(sv, cv),
             |            x -> (x[1]-x[2])*(x[1]-x[2])))*1000000) AS BIGINT)
             |            AS lut_e6
             |        FROM qsubs JOIN csubs ON qsubs.s = csubs.s),
             |a AS (SELECT q_id, vec_id,
             |        CAST(SUM(lut_e6) AS BIGINT) AS adist_e6
             |      FROM codes JOIN lut
             |        ON codes.s = lut.s AND codes.code = lut.code
             |      GROUP BY 1, 2),
             |rk AS (SELECT q_id, vec_id, adist_e6, ROW_NUMBER() OVER (
             |        PARTITION BY q_id ORDER BY adist_e6, vec_id) AS rank
             |      FROM a)
             |SELECT q_id, rank, vec_id, adist_e6 FROM rk
             |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // one-scan column profiler: nulls, exact distincts, min/max for
    // four columns in a single pass (multi-distinct → one Expand
    // shuffle, never a second scan). Doubles pre-project to micro
    // longs — float→string rendering is the one thing engines
    // disagree on.
    Q("q107_column_profile",
      (s, dir) => Audit.profile(
        Tables(s, dir, "events").select(col("event_id"), col("user_id"),
          col("event_type"),
          floor(col("value") * 1e6).cast("long").as("value_micro")),
        Seq("event_id", "user_id", "event_type", "value_micro")),
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS col_name,
             |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_nulls,
             |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_s,
             |  CAST(MAX($c) AS VARCHAR) AS max_s
             |FROM t""".stripMargin
        s"""WITH t AS (SELECT event_id, user_id, event_type,
           |  CAST(floor(value*1000000) AS BIGINT) AS value_micro FROM events)
           |${Seq("event_id", "user_id", "event_type", "value_micro")
                .map(one).mkString("\nUNION ALL\n")}
           |ORDER BY col_name""".stripMargin
      }),

    // small-file compaction: a salted 4-way fan-out lake collapses
    // back to one file per hour partition; content is provably
    // untouched (the oracle aggregates the source rows directly).
    // LakeSpec pins the file-count mechanics; here the gate checks
    // the data contract.
    Q("q108_lake_compact",
      (s, dir) => Scratch.withDir("q108") { tmp =>
        val day1 = Tables(s, dir, "events")
          .where(col("ts") < lit("2024-01-02").cast("timestamp"))
        Lake.write(day1, s"$tmp/src", filesPerHour = 4)
        Lake.compact(s, s"$tmp/src", s"$tmp/out")
          .groupBy("hour")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .localCheckpoint()
      }.orderBy("hour"),
      Some("""SELECT lpad(CAST(EXTRACT(hour FROM ts) AS VARCHAR), 2, '0')
             |    AS hour,
             |  COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE ts IS NOT NULL AND ts < TIMESTAMP '2024-01-02'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // dynamic partition pruning: the fact side is the hour-partitioned
    // lake, the dim side is "hot hours" — hours holding more than an
    // even 1/24 share — derived by aggregate+filter, so NO static
    // predicate exists on the partition column; the pruning filter
    // must come from the dim at RUNTIME (PlanSpec asserts the
    // dynamicpruning expression in the scan). At 100 TB this is the
    // difference between scanning 11/24ths of the lake and all of it.
    Q("q109_dpp_join",
      (s, dir) => Scratch.withDir("q109") { lakeDir =>
        val ev = Tables(s, dir, "events").where(col("ts").isNotNull)
        val fact = Lake.write(ev, lakeDir.getPath)
        val byHour = ev.groupBy(date_format(col("ts"), "HH").as("hour"))
          .agg(count(lit(1)).as("hcnt"))
        // the total via an empty-frame window, NOT a crossJoin with a
        // scalar aggregate: the optimizer folds a cross-join filter
        // into a join CONDITION, and DPP's selectivity probe only
        // recognizes Filter nodes — the window keeps the predicate a
        // Filter and the pruning subquery materializes. The window is
        // a single partition of ≤24 rows (one per hour-of-day), not a
        // data-sized sort.
        import org.apache.spark.sql.expressions.Window
        val hot = byHour
          .withColumn("t", sum(col("hcnt")).over(Window.partitionBy()))
          .where(col("hcnt") * 24 > col("t")).select("hour")
        // broadcast the dim EXPLICITLY: DPP (reuseBroadcastOnly, the
        // default) only injects the runtime pruning subquery when the
        // dim side's broadcast exchange already exists to reuse —
        // without the hint the size estimate of an aggregate is
        // unknown and the planner picks SMJ, silently dropping the
        // pruning opportunity
        fact.join(broadcast(hot), Seq("hour"))
          .groupBy("hour")
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .localCheckpoint()
      }.orderBy("hour"),
      Some("""WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL),
             |h AS (SELECT lpad(CAST(EXTRACT(hour FROM ts) AS VARCHAR),
             |          2, '0') AS hour, COUNT(*) AS hcnt
             |      FROM e GROUP BY 1),
             |t AS (SELECT COUNT(*) AS t FROM e),
             |hot AS (SELECT hour FROM h, t WHERE h.hcnt*24 > t.t)
             |SELECT hour, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM e JOIN hot
             |  ON lpad(CAST(EXTRACT(hour FROM e.ts) AS VARCHAR), 2, '0')
             |     = hot.hour
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // grouping sets — the generalized rollup/cube surface (q17/q44
    // cover the fixed shapes): per (type, user-decile), per type, and
    // grand total in ONE pass, grouping_id disambiguating aggregate
    // nulls from data nulls.
    Q("q110_grouping_sets",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull)
          .select(col("event_type"), (col("user_id") % 10).as("user_mod"),
            floor(col("value") * 1e6).cast("long").as("vm"))
        ev.groupingSets(
            Seq(Seq(col("event_type"), col("user_mod")),
              Seq(col("event_type")), Seq()),
            col("event_type"), col("user_mod"))
          .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
            sum(col("vm")).as("sum_micro"))
          .orderBy("gid", "event_type", "user_mod")
      },
      Some("""SELECT event_type, user_id % 10 AS user_mod,
             |  CAST(GROUPING(event_type, user_id % 10) AS BIGINT) AS gid,
             |  COUNT(*) AS cnt,
             |  CAST(SUM(CAST(floor(value*1000000) AS BIGINT)) AS BIGINT)
             |    AS sum_micro
             |FROM events WHERE user_id IS NOT NULL
             |GROUP BY GROUPING SETS ((event_type, user_id % 10),
             |  (event_type), ())
             |ORDER BY gid, event_type, user_mod""".stripMargin)),

    // robust outliers: median/MAD rank statistics instead of moments —
    // the z-gate's σ is inflated by the very outliers it hunts; ranks
    // aren't. Lower-median convention keeps everything BIGINT (no
    // even/odd interpolation for engines to disagree on).
    Q("q111_mad_outliers",
      (s, dir) => Stats.madOutliers(Tables(s, dir, "events")),
      Some("""WITH b AS (SELECT event_id, event_type,
             |            CAST(floor(value*1000000) AS BIGINT) AS vm
             |          FROM events
             |          WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             |          ORDER BY vm, event_id) AS rn,
             |        COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM b),
             |med AS (SELECT event_type, vm AS med FROM r WHERE rn = (cnt+1)//2),
             |d AS (SELECT b.event_id, b.event_type, b.vm, med.med,
             |        ABS(b.vm - med.med) AS ad
             |      FROM b JOIN med USING (event_type)),
             |r2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             |          ORDER BY ad, event_id) AS rn,
             |        COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM d),
             |mad AS (SELECT event_type, ad AS mad FROM r2 WHERE rn = (cnt+1)//2)
             |SELECT d.event_id, d.event_type, d.vm, d.med, m.mad
             |FROM d JOIN mad m USING (event_type)
             |WHERE d.ad > 5*m.mad
             |ORDER BY d.event_id""".stripMargin)),

    // triangle counting over the co-purchase graph by degree-ordered
    // orientation — out-degree bounded O(√m) under the order, so the
    // wedge join survives power-law hubs. Each triangle is owned by
    // its minimum-order vertex and credited to all three.
    Q("q112_triangle_count",
      (s, dir) =>
        graft.ops.Graph.triangleCountOriented(
          graft.ops.CoPurchase.oriented(s, dir)),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |            FROM lineitem),
             |und AS (SELECT DISTINCT LEAST(a.p, b.p) AS u,
             |          GREATEST(a.p, b.p) AS v
             |        FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
             |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |        FROM und e1 JOIN und e2 ON e2.u = e1.v
             |        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
             |nodes AS (SELECT a AS node FROM tri
             |          UNION ALL SELECT b FROM tri
             |          UNION ALL SELECT c FROM tri)
             |SELECT node, COUNT(*) AS triangles FROM nodes
             |GROUP BY 1 ORDER BY triangles DESC, node LIMIT 100""".stripMargin)),

    // SCD2 dimension build: collapse the event stream to validity
    // intervals (one row per state change, [eff_from, eff_to) in
    // epoch-µs, open current interval). The inverse of q77's
    // latest-version compaction — and what turns "state at time t"
    // into a plain interval join.
    Q("q113_scd2_build",
      (s, dir) => Temporal.scd2Build(Tables(s, dir, "events")),
      Some("""WITH b AS (SELECT user_id, event_type,
             |            epoch_us(ts) AS eff_from, event_id
             |          FROM events
             |          WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |            AND event_type IS NOT NULL),
             |c AS (SELECT *, LAG(event_type) OVER (PARTITION BY user_id
             |          ORDER BY eff_from, event_id) AS prev FROM b),
             |ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type)
             |SELECT user_id, event_type AS state, eff_from,
             |  LEAD(eff_from) OVER (PARTITION BY user_id
             |    ORDER BY eff_from, event_id) AS eff_to,
             |  (LEAD(eff_from) OVER (PARTITION BY user_id
             |    ORDER BY eff_from, event_id) IS NULL) AS is_current
             |FROM ch ORDER BY user_id, eff_from""".stripMargin)),

    // HLL sketch persistence: per-(type, day) DataSketches HLL states
    // land in parquet and are UNIONED on read-back — the incremental-
    // analytics contract (yesterday's sketch never recomputes) that
    // q42's transient estimate can't give. exact_users/sketch_days
    // hash-check; the estimate is a 5% accuracy contract like q42's.
    Q("q114_hll_persist_union",
      (s, dir) => Scratch.withDir("q114") { tmp =>
        val skDir = s"$tmp/sketches"
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
        ev.groupBy("event_type", "day")
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
          .write.parquet(skDir)
        val merged = s.read.parquet(skDir)
          .groupBy("event_type")
          .agg(count(lit(1)).as("sketch_days"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        exact.join(merged, Seq("event_type"))
          .select(col("event_type"), col("exact_users"), col("sketch_days"),
            (abs(col("est") - col("exact_users")) <=
              col("exact_users") * 0.05).as("est_ok"))
          .localCheckpoint()
      }.orderBy("event_type"),
      Some("""WITH e AS (SELECT event_type,
             |            epoch_us(ts) // 86400000000 AS day, user_id
             |          FROM events
             |          WHERE user_id IS NOT NULL AND ts IS NOT NULL)
             |SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
             |  COUNT(DISTINCT day) AS sketch_days,
             |  CAST(1 AS BOOLEAN) AS est_ok
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // z-order (Morton) values: both dimensions floor-scaled onto 16
    // bits, bits interleaved by shift/mask column arithmetic — the
    // multi-dim clustering key behind OPTIMIZE ZORDER BY, exact
    // integer end to end (the LAYOUT effect — tight per-file min/max
    // on both dims — is pinned by ZOrderSpec; the z math is what an
    // oracle can check).
    Q("q115_zorder_values",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("event_id"), col("user_id"),
            floor(col("value") * 1e6).cast("long").as("vm"))
        ZOrder.withZValue(ev, "user_id", "vm")
          .select("event_id", "zx", "zy", "z")
          .orderBy("event_id")
      },
      Some {
        val interleave = (0 until 16).map(i =>
          s"((zx // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
            s"((zy // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
          .mkString(" + ")
        s"""WITH b AS (SELECT event_id, user_id,
           |            CAST(floor(value*1000000) AS BIGINT) AS vm
           |          FROM events
           |          WHERE user_id IS NOT NULL AND value IS NOT NULL),
           |r AS (SELECT MIN(user_id) AS xlo, MAX(user_id) AS xhi,
           |        MIN(vm) AS ylo, MAX(vm) AS yhi FROM b),
           |sc AS (SELECT event_id,
           |        CASE WHEN xhi = xlo THEN 0
           |          ELSE ((user_id - xlo) * 65535) // (xhi - xlo) END AS zx,
           |        CASE WHEN yhi = ylo THEN 0
           |          ELSE ((vm - ylo) * 65535) // (yhi - ylo) END AS zy
           |       FROM b, r)
           |SELECT event_id, zx, zy, $interleave AS z
           |FROM sc ORDER BY event_id""".stripMargin
      }),

    // dense global row numbering WITHOUT the single-task global
    // window: range shuffle on the order key, per-partition counts to
    // the driver, prefix-sum offsets broadcast back. The oracle is
    // the plan that does NOT scale — row_number() over a global
    // ORDER BY — which is exactly the point.
    Q("q116_global_rownum",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("ts").isNotNull && col("event_id").isNotNull)
          .select(col("event_id"), unix_micros(col("ts")).as("us"))
        Par.globalRowNumber(ev, Seq("us", "event_id"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, epoch_us(ts) AS us,
             |  ROW_NUMBER() OVER (ORDER BY epoch_us(ts), event_id) AS rownum
             |FROM events
             |WHERE ts IS NOT NULL AND event_id IS NOT NULL
             |ORDER BY event_id""".stripMargin)),

    // BPE merge training, 5 fixed rounds: corpus-wide adjacent-pair
    // counts → deterministic argmax → leftmost non-overlapping
    // rewrite, as literal string ops both engines implement
    // identically. The oracle replays all five rounds through chained
    // CTEs — counts, tie-breaks and rewrites verify end to end.
    Q("q117_bpe_merges",
      (s, dir) => Curation.bpeMerges(Tables(s, dir, "documents"), rounds = 5),
      Some {
        val unions = (1 to 5).map(r =>
          s"""SELECT $r AS round, split_part(pair, ' ', 1) AS lhs,
             |  split_part(pair, ' ', 2) AS rhs, cnt FROM m$r""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH ${duckBpeCtes(5)}
           |$unions
           |ORDER BY round""".stripMargin
      }),

    // Presto dialect breadth, part 2: URL extractors, split_to_map,
    // to_unixtime, to_iso8601 — the URL/map/time surface of the
    // reference's Athena dialect. The URLs are CONSTRUCTED from row
    // values, so the oracle re-derives every extraction from the
    // parts without needing URL functions of its own.
    Q("q118_presto_url_time",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """WITH t AS (SELECT event_id, event_type, user_id, ts,
                |    'https://ex.com/t/' || event_type || '?u=' ||
                |      cast(user_id AS string) || '&x=1' AS url,
                |    'a=1,b=' || cast(user_id % 10 AS string) AS kv
                |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
                |SELECT event_id,
                |  url_extract_host(url) AS host,
                |  url_extract_path(url) AS path,
                |  url_extract_parameter(url, 'u') AS pu,
                |  element_at(split_to_map(kv, ',', '='), 'b') AS pb,
                |  to_unixtime(ts) AS unix_s,
                |  to_iso8601(ts) AS iso
                |FROM t ORDER BY event_id""".stripMargin))
      },
      Some("""SELECT event_id, 'ex.com' AS host,
             |  '/t/' || event_type AS path,
             |  CAST(user_id AS VARCHAR) AS pu,
             |  CAST(user_id % 10 AS VARCHAR) AS pb,
             |  epoch_us(ts) / 1000000.0 AS unix_s,
             |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') AS iso
             |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |ORDER BY event_id""".stripMargin)),

    // hash-bucketed copy-on-write MERGE: two batches upsert into the
    // keyed table (clicks as tombstones), rewriting only touched
    // bucket directories; last-writer-wins by (ts, id) makes the
    // final state equal ONE global latest-row-per-key statement —
    // which is the oracle.
    Q("q119_keyed_merge",
      (s, dir) => Scratch.withDir("q119") { tmp =>
        val tdir = s"$tmp/table"
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), floor(col("value") * 1e6).cast("long").as("vm"))
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
          .withColumn("deleted", col("event_type") === "click")
        KeyedTable.merge(s, tdir, ev.where(col("day") < 19743).drop("day"),
          "user_id")
        KeyedTable.merge(s, tdir, ev.where(col("day") >= 19743).drop("day"),
          "user_id")
          .select("user_id", "event_id", "event_type", "vm")
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm,
             |        epoch_us(ts) AS us,
             |        (event_type = 'click') AS deleted
             |      FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY us DESC, event_id DESC) AS rn FROM e)
             |SELECT user_id, event_id, event_type, vm FROM r
             |WHERE rn = 1 AND NOT deleted ORDER BY user_id""".stripMargin)),

    // the same MERGE as a streaming sink: foreachBatch upserts every
    // micro-batch into the keyed table. LWW associativity is the
    // whole point — ANY batching of the stream converges to the same
    // table, so the single global-latest oracle stays valid no matter
    // how the drain splits. Every call drains into a fresh checkpoint
    // and table in one scratch directory.
    Q("q120_stream_upsert",
      (s, dir) => Scratch.withDir("q120") { work =>
        import org.apache.spark.sql.streaming.Trigger
        val tdir = s"$work/table"
        val src = QueriesAlert.eventStream(s, dir)
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), floor(col("value") * 1e6).cast("long").as("vm"))
          .withColumn("deleted", col("event_type") === "click")
        val upsert: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (b, _) => { KeyedTable.merge(s, tdir, b, "user_id"); () }
        val q = src.writeStream
          .option("checkpointLocation", s"$work/ckpt")
          .foreachBatch(upsert)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        KeyedTable.read(s, tdir)
          .select("user_id", "event_id", "event_type", "vm")
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm,
             |        epoch_us(ts) AS us,
             |        (event_type = 'click') AS deleted
             |      FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY us DESC, event_id DESC) AS rn FROM e)
             |SELECT user_id, event_id, event_type, vm FROM r
             |WHERE rn = 1 AND NOT deleted ORDER BY user_id""".stripMargin)),

    // feature-hashing vectorizer: token → mix31(polyhash37) mod 256
    // bucket, sparse counts per (doc, bucket) — fixed-dim features
    // with no vocabulary to build or ship; the hash is the q22
    // portable fold, so every bucket id verifies relationally.
    Q("q121_feature_hashing",
      (s, dir) => TextAnalysis.hashFeatures(Tables(s, dir, "documents"),
        dim = 256),
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              |            FROM documents),
              |t2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
              |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
              |        list_transform(string_split(w, ''),
              |          c -> CAST(unicode(c) AS BIGINT))),
              |        (a, b) -> (a * 37 + b) % 2147483647) AS h37
              |      FROM t2),
              |b AS (SELECT doc_id, ${duckMix31("h37")} % 256 AS bucket FROM h)
              |SELECT doc_id, bucket, COUNT(*) AS cnt FROM b
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // data skipping through a file-stats manifest over a z-ordered
    // lake: the range query lists the manifest, scans only
    // overlapping files, and the residual predicate keeps semantics
    // exact — so the oracle is the plain full-scan filter.
    // SkippingSpec pins that the prune actually drops files.
    Q("q122_file_skipping",
      (s, dir) => Scratch.withDir("q122") { tmp =>
        val zdir = s"$tmp/z"
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("value").isNotNull)
          .select(col("event_id"), col("event_type"), col("user_id"),
            floor(col("value") * 1e6).cast("long").as("vm"))
        ZOrder.write(ev, zdir, "user_id", "vm", files = 16)
        Skipping.buildManifest(s, zdir, Seq("user_id", "vm"))
        Skipping.readRange(s, zdir, "user_id", 100L, 300L)
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum(col("vm")).as("sum_micro"))
          .localCheckpoint()
      }.orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS cnt,
             |  CAST(SUM(CAST(floor(value*1000000) AS BIGINT)) AS BIGINT)
             |    AS sum_micro
             |FROM events
             |WHERE user_id IS NOT NULL AND value IS NOT NULL
             |  AND user_id BETWEEN 100 AND 300
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // heavy hitters without the distinct-cardinality wall: bounded
    // Misra-Gries sketch per task (provably can't miss an item above
    // the threshold), exact count over candidates only. The EXACT
    // threshold filter makes the output order-independent — so it
    // oracle-checks even though sketch internals don't.
    Q("q123_heavy_hitters",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        // scale-adaptive threshold: ceil(N/4000) keeps the k=4096
        // sketch guarantee valid at ANY corpus size (threshold >
        // N/(k+1) by construction); the floor of 20 keeps the sf0.01
        // semantics. The oracle computes the same expression.
        val n = ev.where(col("user_id").isNotNull).count()
        val minCount = math.max(20L, (n + 3999L) / 4000L)
        graft.ops.HeavyHitters.topByCount(ev, "user_id", minCount)
      },
      Some("""SELECT user_id, COUNT(*) AS cnt FROM events
             |WHERE user_id IS NOT NULL
             |GROUP BY 1
             |HAVING COUNT(*) >= GREATEST(20,
             |  (SELECT (COUNT(*) + 3999) // 4000 FROM events
             |   WHERE user_id IS NOT NULL))
             |ORDER BY cnt DESC, user_id""".stripMargin)),

    // Presto datetime breadth: ISO day_of_week, day_of_year,
    // week_of_year via the registry; 3-arg date_add through
    // Criteria.rewrite (Spark's parser claims the name with
    // unquoted-unit syntax, exactly like date_diff). DuckDB
    // re-derives everything natively.
    Q("q124_presto_datetime",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(graft.criteria.Criteria.rewrite(
          """SELECT event_id,
            |  day_of_week(ts) AS dow,
            |  day_of_year(ts) AS doy,
            |  week_of_year(ts) AS woy,
            |  unix_micros(date_add('hour', 2, ts)) AS plus2h_us,
            |  unix_micros(date_add('minute', -90, ts)) AS minus90m_us
            |FROM events WHERE ts IS NOT NULL
            |ORDER BY event_id""".stripMargin))
      },
      Some("""SELECT event_id,
             |  CAST(isodow(ts) AS INT) AS dow,
             |  CAST(dayofyear(ts) AS INT) AS doy,
             |  CAST(weekofyear(ts) AS INT) AS woy,
             |  epoch_us(ts + INTERVAL 2 HOUR) AS plus2h_us,
             |  epoch_us(ts - INTERVAL 90 MINUTE) AS minus90m_us
             |FROM events WHERE ts IS NOT NULL
             |ORDER BY event_id""".stripMargin)),

    // BPE ENCODE: apply q117's trained merges to the corpus — train
    // and encode in one plan, per-doc raw/encoded token counts and
    // the floor-ppm savings. The oracle replays the same five rounds
    // off the SHARED CTE chain and counts s5's tokens.
    Q("q125_bpe_encode",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val merges = Curation.bpeMerges(docs, rounds = 5).collect()
          .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs"))).toSeq
        Curation.bpeApply(docs, merges)
      },
      Some(s"""WITH ${duckBpeCtes(5)}
              |SELECT s0.doc_id,
              |  CAST(len(string_split(trim(s0.s), ' ')) AS BIGINT) AS n_raw,
              |  CAST(len(string_split(trim(s5.s), ' ')) AS BIGINT) AS n_tokens,
              |  ((CAST(len(string_split(trim(s0.s), ' ')) AS BIGINT)
              |    - len(string_split(trim(s5.s), ' '))) * 1000000)
              |    // len(string_split(trim(s0.s), ' ')) AS saved_ppm
              |FROM s0 JOIN s5 ON s0.doc_id = s5.doc_id
              |ORDER BY s0.doc_id""".stripMargin)),

    // ingest quarantine: a JSONL feed with planted corrupt lines
    // (every doc_id % 50 == 0 is truncated mid-object) reads under
    // PERMISSIVE with a _corrupt_record column; clean rows aggregate,
    // corrupt rows route to a quarantine tally instead of failing the
    // job or silently vanishing. The oracle re-derives both sides
    // from the documents table and the same % 50 rule.
    Q("q126_corrupt_quarantine",
      (s, dir) => Scratch.withDir("q126") { tmp =>
        val jdir = s"$tmp/jsonl"
        Tables(s, dir, "documents")
          .select(when(col("doc_id") % 50 === 0,
              concat(lit("{\"doc_id\":"), col("doc_id"), lit(",\"source\":\"")))
            .otherwise(to_json(struct(col("doc_id"), col("source"),
              col("text")))).as("value"))
          .coalesce(1).write.text(jdir)
        val read = s.read
          .schema("doc_id LONG, source STRING, text STRING, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(jdir)
        // ONE pass routes rows: corrupt lines fold into a quarantine
        // group (their data columns are null, so sum_chars lands NULL
        // by aggregation semantics, not special-casing). Spark also
        // refuses corrupt-column-only projections — the single
        // aggregate referencing the data columns sidesteps that.
        read.groupBy(when(col("_corrupt_record").isNotNull, "__quarantine__")
            .otherwise(col("source")).as("source"))
          .agg(count(lit(1)).as("cnt"),
            sum(length(col("text"))).as("sum_chars"))
          .localCheckpoint()
      }.orderBy("source"),
      Some("""SELECT source, COUNT(*) AS cnt,
             |  CAST(SUM(length(text)) AS BIGINT) AS sum_chars
             |FROM documents WHERE doc_id % 50 <> 0
             |GROUP BY 1
             |UNION ALL
             |SELECT '__quarantine__', COUNT(*), NULL
             |FROM documents WHERE doc_id % 50 = 0
             |ORDER BY source""".stripMargin)),

    // window-function breadth beyond q49: rank-family percent_rank /
    // cume_dist (frameless), nth_value and last_value under an
    // EXPLICIT full frame (default frames differ across engines — the
    // explicit frame is the portable spelling), lead with IGNORE
    // NULLS skipping null payloads.
    Q("q127_window_breadth",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql("""SELECT event_id,
                |  CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_ppm,
                |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_ppm,
                |  nth_value(event_id, 2) OVER wf AS second_id,
                |  last_value(event_id) OVER wf AS last_id,
                |  lead(nullif(event_type, 'click'), 1) IGNORE NULLS
                |    OVER w AS next_nonclick
                |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                |WINDOW
                |  w AS (PARTITION BY user_id ORDER BY ts, event_id),
                |  wf AS (PARTITION BY user_id ORDER BY ts, event_id
                |         ROWS BETWEEN UNBOUNDED PRECEDING
                |           AND UNBOUNDED FOLLOWING)
                |ORDER BY event_id""".stripMargin)
      },
      Some("""SELECT event_id,
             |  CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS prank_ppm,
             |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cume_ppm,
             |  nth_value(event_id, 2) OVER wf AS second_id,
             |  last_value(event_id) OVER wf AS last_id,
             |  lead(nullif(event_type, 'click'), 1 IGNORE NULLS)
             |    OVER w AS next_nonclick
             |FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |WINDOW
             |  w AS (PARTITION BY user_id ORDER BY ts, event_id),
             |  wf AS (PARTITION BY user_id ORDER BY ts, event_id
             |         ROWS BETWEEN UNBOUNDED PRECEDING
             |           AND UNBOUNDED FOLLOWING)
             |ORDER BY event_id""".stripMargin)),

    // LATERAL correlated subquery: per-group top-2 as a correlated
    // inner query with its own ORDER BY + LIMIT — the SQL surface a
    // dependent-join plan serves. Same text on both engines.
    Q("q128_lateral_topk",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(LateralSql)
      },
      Some(LateralSql)),

    // native UNPIVOT (wide metrics → long form) — the melt that q107's
    // stack() does as an expression, as first-class SQL. Same text.
    Q("q129_unpivot_melt",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(UnpivotSql)
      },
      Some(UnpivotSql)),

    // multiset set ops: INTERSECT ALL / EXCEPT ALL keep duplicity
    // (q18 covers the DISTINCT forms) — bag semantics are what event
    // streams actually need. Same text.
    Q("q130_setops_all",
      (s, dir) => {
        Tables(s, dir, "events").createOrReplaceTempView("events")
        s.sql(SetOpsAllSql)
      },
      Some(SetOpsAllSql)),

    // Matryoshka two-stage ANN: coarse rank on the 16-dim prefix,
    // full-dim re-rank of the 10 survivors — both stages restated
    // relationally (slice = list slice), so candidate generation AND
    // re-rank verify, not just the final ids.
    Q("q131_mrl_rerank",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.mrlTopK(emb, emb.where(col("vec_id") < 5),
          k = 3, dTrunc = 16, kCand = 10)
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |          FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
              |coarse AS (SELECT q.q_id, e.vec_id,
              |    CAST(floor((${duckCos("qv[1:16]", "v[1:16]")}) * 1000000)
              |      AS BIGINT) AS coarse_e6
              |  FROM e, q),
              |cand AS (SELECT q_id, vec_id FROM (
              |    SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
              |        ORDER BY coarse_e6 DESC, vec_id) AS crank
              |    FROM coarse)
              |  WHERE crank <= 10),
              |rer AS (SELECT c.q_id, c.vec_id,
              |    CAST(floor((${duckCos("qv", "v")}) * 1000000) AS BIGINT)
              |      AS cos_e6
              |  FROM cand c
              |  JOIN e ON e.vec_id = c.vec_id
              |  JOIN q ON q.q_id = c.q_id),
              |ranked AS (SELECT q_id, vec_id, cos_e6,
              |    ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY cos_e6 DESC, vec_id) AS rank
              |  FROM rer)
              |SELECT q_id, rank, vec_id, cos_e6 FROM ranked
              |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // TPC-H Q18 shape (large-volume customers): HAVING-filtered
    // aggregate drives a semi-join back onto the fact — the aggregate
    // produces a tiny key set that AQE broadcasts, so the big tables
    // pay one shuffle each, decimal-exact money.
    Q("q132_tpch_q18",
      (s, dir) => {
        Seq("orders", "customer", "lineitem")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ18OnePassSql)
      },
      Some(TpchQ18Sql)),

    // TPC-H Q7 shape (volume shipping between two nation pairs):
    // fact → supplier/customer bridges → nation dims, with the
    // cross-pair predicate AFTER both dim joins; dims broadcast, the
    // fact shuffles once per bridge key. Decimal-exact revenue.
    Q("q133_tpch_q7",
      (s, dir) => {
        Seq("supplier", "customer", "orders", "lineitem", "nation")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ7Sql)
      },
      Some(TpchQ7Sql)),

    // lake schema evolution: v1 files lack a column later versions
    // carry; mergeSchema reads the union schema and null-fills v1 —
    // adding a column must never mean rewriting 100 TB of history.
    // The oracle re-derives both epochs from the same split rule.
    Q("q134_schema_evolution",
      (s, dir) => Scratch.withDir("q134") { tmp =>
        val root = tmp.getPath
        val ev = Tables(s, dir, "events")
          .where(col("event_id").isNotNull && col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 1e6).cast("long").as("vm"))
        ev.where(col("event_id") % 2 === 0)
          .select("event_id", "event_type")
          .write.parquet(s"$root/epoch=1")
        ev.where(col("event_id") % 2 === 1)
          .write.parquet(s"$root/epoch=2")
        s.read.option("mergeSchema", "true")
          .option("basePath", root).parquet(root)
          .groupBy("event_type", "epoch")
          .agg(count(lit(1)).as("cnt"),
            count(col("vm")).as("vm_present"),
            coalesce(sum(col("vm")), lit(0L)).as("sum_micro"))
          .localCheckpoint()
      }.orderBy("event_type", "epoch"),
      Some("""WITH e AS (SELECT event_id, event_type,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm
             |      FROM events
             |      WHERE event_id IS NOT NULL AND value IS NOT NULL)
             |SELECT event_type, CAST(1 AS INT) AS epoch, COUNT(*) AS cnt,
             |  CAST(0 AS BIGINT) AS vm_present, CAST(0 AS BIGINT) AS sum_micro
             |FROM e WHERE event_id % 2 = 0 GROUP BY 1
             |UNION ALL
             |SELECT event_type, 2, COUNT(*),
             |  COUNT(*), CAST(SUM(vm) AS BIGINT)
             |FROM e WHERE event_id % 2 = 1 GROUP BY 1
             |ORDER BY event_type, epoch""".stripMargin)),

    // time travel: three day-batches commit as versions 1-3 of the
    // versioned keyed table; the query reads VERSION 2 — the state
    // the table had before batch 3 existed. LWW associativity makes
    // that exactly "latest row per key over batches 1-2", which is
    // the oracle; VersionedTableSpec pins the manifest mechanics
    // (untouched buckets share files across versions).
    Q("q135_time_travel",
      (s, dir) => Scratch.withDir("q135") { tmp =>
        val tdir = s"$tmp/t"
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), floor(col("value") * 1e6).cast("long").as("vm"))
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
          .withColumn("deleted", col("event_type") === "click")
        graft.sources.VersionedTable.merge(s, tdir,
          ev.where(col("day") < 19741).drop("day"), "user_id")
        graft.sources.VersionedTable.merge(s, tdir,
          ev.where(col("day") >= 19741 && col("day") < 19743).drop("day"),
          "user_id")
        graft.sources.VersionedTable.merge(s, tdir,
          ev.where(col("day") >= 19743).drop("day"), "user_id")
        graft.sources.VersionedTable.read(s, tdir, version = 2)
          .select("user_id", "event_id", "event_type", "vm")
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm,
             |        epoch_us(ts) AS us,
             |        (event_type = 'click') AS deleted
             |      FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |        AND epoch_us(ts) // 86400000000 < 19743),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY us DESC, event_id DESC) AS rn FROM e)
             |SELECT user_id, event_id, event_type, vm FROM r
             |WHERE rn = 1 AND NOT deleted ORDER BY user_id""".stripMargin)),

    // CDC between table versions: what did batch 3 change? Diff the
    // v2 and v3 snapshots of the versioned table (added / removed /
    // changed keys) — time travel making change capture a plain
    // full-outer join instead of a log subscription.
    Q("q136_version_diff",
      (s, dir) => Scratch.withDir("q136") { tmp =>
        val tdir = s"$tmp/t"
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("day", expr("unix_micros(ts) div 86400000000"))
          .withColumn("deleted", col("event_type") === "click")
        graft.sources.VersionedTable.merge(s, tdir,
          ev.where(col("day") < 19743).drop("day"), "user_id")
        graft.sources.VersionedTable.merge(s, tdir,
          ev.where(col("day") >= 19743).drop("day"), "user_id")
        val v1 = graft.sources.VersionedTable.read(s, tdir, 1)
          .select(col("user_id"), col("event_id").as("old_id"))
        val v2 = graft.sources.VersionedTable.read(s, tdir, 2)
          .select(col("user_id"), col("event_id").as("new_id"))
        v1.join(v2, Seq("user_id"), "full_outer")
          .withColumn("status",
            when(col("old_id").isNull, "added")
              .when(col("new_id").isNull, "removed")
              .when(col("old_id") =!= col("new_id"), "changed"))
          .where(col("status").isNotNull)
          .select("user_id", "status")
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_id,
             |        epoch_us(ts) AS us,
             |        epoch_us(ts) // 86400000000 AS day,
             |        (event_type = 'click') AS deleted
             |      FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |v1 AS (SELECT user_id, event_id AS old_id FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY us DESC, event_id DESC) AS rn
             |    FROM e WHERE day < 19743)
             |  WHERE rn = 1 AND NOT deleted),
             |v2 AS (SELECT user_id, event_id AS new_id FROM (
             |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY us DESC, event_id DESC) AS rn FROM e)
             |  WHERE rn = 1 AND NOT deleted),
             |j AS (SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
             |        CASE WHEN old_id IS NULL THEN 'added'
             |             WHEN new_id IS NULL THEN 'removed'
             |             WHEN old_id <> new_id THEN 'changed' END AS status
             |      FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id)
             |SELECT user_id, status FROM j WHERE status IS NOT NULL
             |ORDER BY user_id""".stripMargin)),

    // hard purge (erasure request): keys 0-49 are physically removed
    // from the keyed table's storage — tombstones included — by
    // rewriting only the buckets they hash to. The read view then
    // equals "global latest, not deleted, key not purged".
    Q("q137_keyed_purge",
      (s, dir) => Scratch.withDir("q137") { tmp =>
        val tdir = s"$tmp/t"
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), floor(col("value") * 1e6).cast("long").as("vm"))
          .withColumn("deleted", col("event_type") === "click")
        KeyedTable.merge(s, tdir, ev, "user_id")
        import s.implicits._
        KeyedTable.purge(s, tdir,
          (0L until 50L).toDF("user_id"), "user_id")
          .select("user_id", "event_id", "event_type", "vm")
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm,
             |        epoch_us(ts) AS us,
             |        (event_type = 'click') AS deleted
             |      FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY us DESC, event_id DESC) AS rn FROM e)
             |SELECT user_id, event_id, event_type, vm FROM r
             |WHERE rn = 1 AND NOT deleted AND user_id >= 50
             |ORDER BY user_id""".stripMargin)),

    // nested-array analytics: per user, the sorted event history as
    // an array of structs, then pure HOF folds over it — largest
    // consecutive jump, count of rising steps, last-minus-first — no
    // second shuffle, no re-explode. The array-of-structs + lambda
    // surface DuckDB restates with list lambdas.
    Q("q138_array_analytics",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull &&
            col("value").isNotNull)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), floor(col("value") * 1e6).cast("long").as("vm"))
        ev.groupBy("user_id")
          .agg(array_sort(collect_list(struct(col("us"), col("event_id"),
            col("vm")))).as("h"))
          .select(col("user_id"), size(col("h")).cast("long").as("n"),
            expr("""aggregate(sequence(1, size(h)-1), 0L,
                   |  (acc, i) -> greatest(acc,
                   |    abs(h[i].vm - h[i-1].vm)))""".stripMargin)
              .as("max_jump"),
            expr("""aggregate(sequence(1, size(h)-1), 0L,
                   |  (acc, i) -> acc +
                   |    CASE WHEN h[i].vm > h[i-1].vm THEN 1L ELSE 0L END)"""
              .stripMargin).as("rising"),
            expr("h[size(h)-1].vm - h[0].vm").as("net"))
          .where(col("n") >= 2)
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm
             |      FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |        AND value IS NOT NULL),
             |g AS (SELECT user_id,
             |        list(vm ORDER BY us, event_id, vm) AS v
             |      FROM e GROUP BY 1)
             |SELECT user_id, CAST(len(v) AS BIGINT) AS n,
             |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(2, len(v)+1),
             |      i -> abs(v[i] - v[i-1]))),
             |    (a, b) -> greatest(a, b)) AS BIGINT) AS max_jump,
             |  CAST(list_sum(list_transform(range(2, len(v)+1),
             |    i -> CASE WHEN v[i] > v[i-1] THEN 1 ELSE 0 END))
             |    AS BIGINT) AS rising,
             |  v[len(v)] - v[1] AS net
             |FROM g WHERE len(v) >= 2
             |ORDER BY user_id""".stripMargin)),

    // regexp extraction breadth: regexp_extract_all pulls every token
    // matching a pattern out of free text (the log-mining workhorse),
    // explodes, and aggregates — counts and integer sums only, so the
    // restatement is exact.
    Q("q139_regexp_extract_all",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        docs.select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-z]*a[rst][a-z]*', 0)").as("hits"))
          .select(col("doc_id"), explode(col("hits")).as("w"))
          .groupBy("w")
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("doc_id")).as("docs"))
          .orderBy(col("cnt").desc, col("w"))
      },
      Some("""WITH m AS (SELECT doc_id,
             |        unnest(regexp_extract_all(text, '[a-z]*a[rst][a-z]*'))
             |          AS w
             |      FROM documents)
             |SELECT w, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS docs
             |FROM m GROUP BY 1 ORDER BY cnt DESC, w""".stripMargin)),

    // nearest-event join: each purchase aligns to its CLOSEST click in
    // either direction (ties to the past), one key shuffle + two
    // window passes — the measurement-alignment join where as-of's
    // backward-only contract loses the "just after" match. The oracle
    // takes the quadratic per-key form with the same deterministic
    // tie ladder (distance, past-first, id).
    Q("q140_nearest_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
            floor(col("value") * 1e6).cast("long").as("click_vm"))
        Temporal.nearestJoin(purchases, clicks, "user_id", "ts",
            Seq("click_id", "click_vm"), rTieCol = "click_id")
          .select(col("event_id"), col("user_id"),
            col("click_id_n").as("click_id"), col("click_vm_n").as("click_vm"),
            col("nearest_dt_us"))
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us
             |      FROM events WHERE event_type = 'purchase'
             |        AND user_id IS NOT NULL AND ts IS NOT NULL),
             |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus,
             |        CAST(floor(value*1000000) AS BIGINT) AS click_vm
             |      FROM events WHERE event_type = 'click'
             |        AND user_id IS NOT NULL AND ts IS NOT NULL),
             |j AS (SELECT p.event_id, p.user_id, c.click_id, c.click_vm,
             |        c.cus - p.us AS dt,
             |        ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY
             |          abs(c.cus - p.us),
             |          CASE WHEN c.cus - p.us <= 0 THEN 0 ELSE 1 END,
             |          CASE WHEN c.cus - p.us <= 0 THEN -c.click_id
             |               ELSE c.click_id END) AS rn
             |      FROM p LEFT JOIN c ON p.user_id = c.user_id)
             |SELECT event_id, user_id, click_id, click_vm,
             |  dt AS nearest_dt_us
             |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // dedup survivorship: the cluster keeps its BEST document (most
    // distinct words, ties to the smallest id), not an arbitrary
    // representative — the policy that makes near-dedup quality-aware
    // instead of quality-blind. Composes q37's clustering with an
    // argmax; the oracle replays the recursive-CTE clustering and the
    // same argmax.
    Q("q141_dedup_survivorship",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val clusters = DocDedup.clusters(
          DocDedup.ngramJaccard(docs, n = 3, threshold = 0.5,
            maxShingleDocFreq = 100L))
        val nu = docs.select(col("doc_id"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("nu"))
        clusters.join(nu, "doc_id")
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("nu"), (-col("doc_id")).as("neg_id"))).as("best"))
          .select(col("cluster_id"), col("n_docs"),
            (-col("best.neg_id")).as("survivor_id"),
            col("best.nu").as("survivor_nu"))
          .orderBy("cluster_id")
      },
      Some("""WITH RECURSIVE
             |w AS (SELECT doc_id, lang, string_split(text,' ') AS ws FROM documents),
             |tok AS (SELECT doc_id, lang, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             |        FROM (SELECT doc_id, lang, ws, generate_subscripts(ws,1) AS i FROM w) t
             |        WHERE i+2 <= len(ws)),
             |sh AS (SELECT DISTINCT doc_id, lang, s FROM tok),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |pairs AS (SELECT p.a_id, p.b_id FROM (
             |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
             |    FROM sh a JOIN sh b ON a.s=b.s AND a.lang=b.lang AND a.doc_id<b.doc_id
             |    GROUP BY 1,2) p
             |  JOIN sizes sa ON p.a_id=sa.doc_id
             |  JOIN sizes sb ON p.b_id=sb.doc_id
             |  WHERE CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) >= 0.5),
             |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
             |          UNION SELECT b_id, a_id FROM pairs),
             |reach(s, d) AS (
             |  SELECT s, d FROM edges
             |  UNION
             |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
             |nodes AS (SELECT DISTINCT s AS node FROM edges),
             |cl AS (SELECT n.node AS doc_id,
             |    LEAST(n.node, COALESCE(MIN(r.d), n.node)) AS cluster_id
             |  FROM nodes n LEFT JOIN reach r ON r.s = n.node
             |  GROUP BY n.node),
             |nu AS (SELECT doc_id,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             |      AS nu
             |  FROM documents),
             |rk AS (SELECT cl.cluster_id, cl.doc_id, nu.nu,
             |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
             |      ORDER BY nu.nu DESC, cl.doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY cl.cluster_id) AS n_docs
             |  FROM cl JOIN nu ON nu.doc_id = cl.doc_id)
             |SELECT cluster_id, n_docs, doc_id AS survivor_id,
             |  nu AS survivor_nu
             |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    // winsorization: clip each value to its group's exact rank-based
    // [p05, p95] — the outlier-taming transform that keeps rows (vs
    // q111's flagging). Bound values are values AT ranks, so the whole
    // op stays BIGINT and engine-exact.
    Q("q142_winsorize",
      (s, dir) => {
        import org.apache.spark.sql.expressions.{Window => W}
        val base = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("value").isNotNull)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 1e6).cast("long").as("vm"))
        val w = W.partitionBy("event_type").orderBy(col("vm"), col("event_id"))
        val n = W.partitionBy("event_type")
        val ranked = base.withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(n))
        val lo = ranked.where(col("rn") === expr("greatest(1L, (cnt*5+99) div 100)"))
          .select(col("event_type"), col("vm").as("lo"))
        val hi = ranked.where(col("rn") === expr("(cnt*95+99) div 100"))
          .select(col("event_type"), col("vm").as("hi"))
        base.join(broadcast(lo), "event_type").join(broadcast(hi), "event_type")
          .select(col("event_id"), col("event_type"), col("vm"),
            least(greatest(col("vm"), col("lo")), col("hi")).as("clipped"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (SELECT event_id, event_type,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm
             |      FROM events
             |      WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
             |        ORDER BY vm, event_id) AS rn,
             |        COUNT(*) OVER (PARTITION BY event_type) AS cnt FROM b),
             |lo AS (SELECT event_type, vm AS lo FROM r
             |       WHERE rn = GREATEST(1, (cnt*5+99)//100)),
             |hi AS (SELECT event_type, vm AS hi FROM r
             |       WHERE rn = (cnt*95+99)//100)
             |SELECT b.event_id, b.event_type, b.vm,
             |  LEAST(GREATEST(b.vm, lo.lo), hi.hi) AS clipped
             |FROM b JOIN lo USING (event_type) JOIN hi USING (event_type)
             |ORDER BY b.event_id""".stripMargin)),

    // per-file bloom index: point lookups on a high-cardinality
    // column ORTHOGONAL to the file layout (logs laid out by time,
    // looked up by user — the GDPR subject-access shape q122's
    // min/max manifest cannot prune). Pruning is a pure optimization
    // — false negatives are impossible — so the oracle is the plain
    // full-scan filter with zero bloom restatement; BloomSkippingSpec
    // pins the pruning itself on a clustered fixture.
    Q("q143_bloom_point_lookup",
      (s, dir) => Scratch.withDir("q143") { tmp =>
        val bdir = s"$tmp/t"
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("value").isNotNull &&
            col("ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"), floor(col("value") * 1e6).cast("long").as("vm"))
        // time-layout write: range-partition by ts, the layout a log
        // naturally arrives in — user_id is scattered across files
        ev.repartitionByRange(16, col("ts"))
          .write.parquet(bdir)
        BloomSkipping.buildIndex(s, bdir, "user_id")
        // deterministic lookup set: the three smallest active users
        val keys = ev.select(col("user_id")).distinct()
          .orderBy("user_id").limit(3)
          .collect().map(_.getLong(0)).toSeq
        BloomSkipping.readKeys(s, bdir, "user_id", keys)
          .groupBy("user_id")
          .agg(count(lit(1)).as("cnt"),
            sum(col("vm")).as("sum_micro"),
            countDistinct(col("event_type")).as("n_types"))
          .localCheckpoint()
      }.orderBy("user_id"),
      Some("""WITH b AS (SELECT event_id, user_id, event_type,
             |        CAST(floor(value*1000000) AS BIGINT) AS vm
             |      FROM events
             |      WHERE user_id IS NOT NULL AND value IS NOT NULL
             |        AND ts IS NOT NULL),
             |k AS (SELECT DISTINCT user_id FROM b
             |      ORDER BY user_id LIMIT 3)
             |SELECT user_id, COUNT(*) AS cnt,
             |  CAST(SUM(vm) AS BIGINT) AS sum_micro,
             |  COUNT(DISTINCT event_type) AS n_types
             |FROM b WHERE user_id IN (SELECT user_id FROM k)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // rolling 7-day distinct users per event_type via DAILY HLL
    // sketches: each day's sketch is built once and unioned into the
    // ≤7 windows it serves, so only sketch bytes (not raw ids) cross
    // the window shuffle — at 100 TB the raw-id restatement shuffles
    // every id 7×, this ships O(days × 1.5 KiB). Exact columns carry
    // the oracle (q114's contract); the estimate is pinned by the
    // est_ok tolerance — DataSketches HLL is exact in sparse mode at
    // these cardinalities, the 5%/±2 band covers dense-mode drift.
    Q("q144_rolling_distinct_sketch",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .where(col("user_id").isNotNull && col("ts").isNotNull &&
            col("event_type").isNotNull)
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
        val daily = ev.groupBy("event_type", "day")
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        // report windows ENDING on a day that has data for the type
        val ends = daily.select(col("event_type"), col("day").as("win_day"))
        val contrib = daily.select(col("event_type"),
          explode(sequence(col("day"), col("day") + 6)).as("win_day"), col("sk"))
        val est = contrib.join(ends, Seq("event_type", "win_day"))
          .groupBy("event_type", "win_day")
          .agg(count(lit(1)).as("days_in_win"),
            hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = ev.as("e").join(broadcast(ends.as("d")),
            col("e.event_type") === col("d.event_type") &&
              col("e.day").between(col("d.win_day") - 6, col("d.win_day")))
          .groupBy(col("d.event_type"), col("d.win_day"))
          .agg(countDistinct(col("e.user_id")).as("exact_7d"))
        exact.join(est, Seq("event_type", "win_day"))
          .select(col("event_type"), col("win_day"), col("days_in_win"),
            col("exact_7d"),
            (abs(col("est") - col("exact_7d")) <=
              greatest(lit(2.0), col("exact_7d") * 0.05)).as("est_ok"))
          .orderBy("event_type", "win_day")
      },
      Some("""WITH e AS (SELECT event_type,
             |        epoch_us(ts) // 86400000000 AS day, user_id
             |      FROM events
             |      WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |        AND event_type IS NOT NULL),
             |d AS (SELECT DISTINCT event_type, day AS win_day FROM e)
             |SELECT d.event_type, d.win_day,
             |  COUNT(DISTINCT e.day) AS days_in_win,
             |  COUNT(DISTINCT e.user_id) AS exact_7d,
             |  CAST(1 AS BOOLEAN) AS est_ok
             |FROM d JOIN e ON e.event_type = d.event_type
             |  AND e.day BETWEEN d.win_day - 6 AND d.win_day
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // perceptual-hash near-dup — the IMAGE twin of q23's SimHash:
    // stub decode → 8×8 grid (mapPartitions; deterministic portable
    // fake, real codec drops in), average-hash bits packed into 4×16
    // bands in-plan, band equi-join candidates, exact Hamming ≤ 3
    // filter (lossless by pigeonhole at 4 bands). The oracle replays
    // decode, hash, banding AND the pair join relationally — the
    // algorithm end to end, not an empirical-recall claim.
    Q("q145_phash_neardup",
      (s, dir) => Multimodal.phashNearDup(Tables(s, dir, "documents")),
      Some("""WITH js AS (SELECT doc_id, text,
             |        CAST(unnest(range(1, length(text) + 1)) AS INTEGER) AS j
             |      FROM documents),
             |ch AS (SELECT doc_id, j - 1 AS j0,
             |        unicode(substring(text, j, 1)) AS cp
             |      FROM js),
             |pxr AS (SELECT doc_id, j0 % 64 AS i,
             |        CAST(SUM(cp * (j0 // 64 + 1)) % 256 AS BIGINT) AS p
             |      FROM ch GROUP BY 1, 2),
             |grid AS (SELECT d.doc_id, s.i, COALESCE(pxr.p, 0) AS p
             |      FROM (SELECT doc_id FROM documents) d
             |      CROSS JOIN generate_series(0, 63) AS s(i)
             |      LEFT JOIN pxr ON pxr.doc_id = d.doc_id AND pxr.i = s.i),
             |m AS (SELECT doc_id, CAST(SUM(p) // 64 AS BIGINT) AS mean_px
             |      FROM grid GROUP BY 1),
             |bands AS (SELECT g.doc_id,
             |    CAST(SUM(CASE WHEN g.i // 16 = 0 AND g.p > m.mean_px
             |      THEN (CAST(1 AS BIGINT) << (g.i % 16)) ELSE 0 END) AS BIGINT) AS b0,
             |    CAST(SUM(CASE WHEN g.i // 16 = 1 AND g.p > m.mean_px
             |      THEN (CAST(1 AS BIGINT) << (g.i % 16)) ELSE 0 END) AS BIGINT) AS b1,
             |    CAST(SUM(CASE WHEN g.i // 16 = 2 AND g.p > m.mean_px
             |      THEN (CAST(1 AS BIGINT) << (g.i % 16)) ELSE 0 END) AS BIGINT) AS b2,
             |    CAST(SUM(CASE WHEN g.i // 16 = 3 AND g.p > m.mean_px
             |      THEN (CAST(1 AS BIGINT) << (g.i % 16)) ELSE 0 END) AS BIGINT) AS b3
             |  FROM grid g JOIN m ON m.doc_id = g.doc_id GROUP BY 1)
             |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             |  bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
             |  bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
             |    AS hamming
             |FROM bands a JOIN bands b ON a.doc_id < b.doc_id
             |  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
             |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1)) +
             |  bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
             |ORDER BY a_id, b_id""".stripMargin)),

    // CCNet-shaped boilerplate removal: 8-word segments, corpus doc
    // frequency, drop df>2, reassemble in order (Curation scaladoc has
    // the 100 TB shape: combinable df agg + tiny-set broadcast anti)
    Q("q146_boilerplate_removal",
      (s, dir) => Curation.boilerplateRemove(Tables(s, dir, "documents")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents),
             |s0 AS (SELECT doc_id, t,
             |    CAST(unnest(range((len(t)+7)//8)) AS INTEGER) AS si
             |  FROM toks),
             |seg AS (SELECT doc_id, si,
             |    array_to_string(
             |      t[si*8+1 : CAST(LEAST(len(t), (si+1)*8) AS INTEGER)],
             |      ' ') AS seg
             |  FROM s0),
             |freq AS (SELECT seg, COUNT(DISTINCT doc_id) AS df
             |  FROM seg GROUP BY 1),
             |kept AS (SELECT s.doc_id, s.si, s.seg
             |  FROM seg s JOIN freq f USING (seg) WHERE f.df <= 2),
             |re AS (SELECT doc_id,
             |    string_agg(seg, ' ' ORDER BY si) AS clean_text,
             |    COUNT(*) AS kept_segments
             |  FROM kept GROUP BY 1),
             |tot AS (SELECT doc_id, (len(t)+7)//8 AS nseg FROM toks)
             |SELECT t.doc_id AS doc_id,
             |  COALESCE(re.clean_text, '') AS clean_text,
             |  CAST(COALESCE(re.kept_segments, 0) AS BIGINT)
             |    AS kept_segments,
             |  CAST(t.nseg - COALESCE(re.kept_segments, 0) AS BIGINT)
             |    AS dropped_segments
             |FROM tot t LEFT JOIN re ON re.doc_id = t.doc_id
             |ORDER BY t.doc_id""".stripMargin)),

    // Lee-et-al-shaped duplicated-span diagnostic: per 8-gram position,
    // shared-with-another-doc flag; per-doc permille fraction
    Q("q147_dup_span_stats",
      (s, dir) => Curation.dupSpanStats(Tables(s, dir, "documents")),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
             |  FROM documents),
             |g0 AS (SELECT doc_id, t,
             |    CAST(unnest(range(len(t)-7)) AS INTEGER) AS p
             |  FROM toks WHERE len(t) >= 8),
             |g AS (SELECT doc_id, array_to_string(t[p+1:p+8], ' ') AS gram
             |  FROM g0),
             |df AS (SELECT gram FROM (
             |    SELECT gram, COUNT(DISTINCT doc_id) AS c
             |    FROM g GROUP BY 1) WHERE c >= 2),
             |fl AS (SELECT g.doc_id,
             |    CASE WHEN df.gram IS NULL THEN 0 ELSE 1 END AS dup
             |  FROM g LEFT JOIN df USING (gram))
             |SELECT doc_id, COUNT(*) AS n_positions,
             |  CAST(SUM(dup) AS BIGINT) AS dup_positions,
             |  (CAST(SUM(dup) AS BIGINT) * 1000) // COUNT(*)
             |    AS dup_permille
             |FROM fl GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // DSIR-shaped importance scoring: integer likelihood-ratio weights
    // over word bigrams vs the src0 target domain; top-100 non-target
    Q("q148_dsir_importance",
      (s, dir) => Curation.dsirTopK(Tables(s, dir, "documents")),
      Some("""WITH toks AS (SELECT doc_id, source,
             |    string_split(text, ' ') AS t
             |  FROM documents),
             |g0 AS (SELECT doc_id, source, t,
             |    CAST(unnest(range(len(t)-1)) AS INTEGER) AS p
             |  FROM toks WHERE len(t) >= 2),
             |g AS (SELECT doc_id, source, t[p+1] || ' ' || t[p+2] AS f
             |  FROM g0),
             |w AS (SELECT f,
             |    (CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
             |      AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT) AS w
             |  FROM g GROUP BY 1)
             |SELECT g.doc_id AS doc_id, MIN(g.source) AS source,
             |  CAST(SUM(w.w) AS BIGINT) AS score
             |FROM g JOIN w USING (f) WHERE g.source <> 'src0'
             |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 100""".stripMargin)),

    // energy-threshold VAD over stubbed PCM: 16-byte frames, energy
    // >= 157000 active, consecutive actives merge (gaps-and-islands)
    Q("q149_audio_vad",
      (s, dir) => Multimodal.vadSegments(Tables(s, dir, "documents")),
      Some("""WITH ch AS (SELECT doc_id,
             |    CAST(unnest(range(1, length(text)+1)) AS INTEGER) AS j,
             |    text
             |  FROM documents),
             |cp AS (SELECT doc_id, (j-1) // 16 AS f,
             |    unicode(substring(text, j, 1)) AS c
             |  FROM ch WHERE (j-1) // 16 < length(text) // 16),
             |fe AS (SELECT doc_id, f, CAST(SUM(c*c) AS BIGINT) AS energy
             |  FROM cp GROUP BY 1, 2),
             |v AS (SELECT doc_id, f, energy,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY f) AS rn
             |  FROM fe WHERE energy >= 157000)
             |SELECT doc_id, CAST(MIN(f) AS BIGINT) AS seg_start,
             |  CAST(MAX(f) AS BIGINT) AS seg_end,
             |  COUNT(*) AS n_frames, CAST(SUM(energy) AS BIGINT) AS sum_energy
             |FROM v GROUP BY doc_id, f - rn
             |ORDER BY doc_id, seg_start""".stripMargin)),

    // STREAMING Misra-Gries heavy hitters through the oracle gate:
    // bounded per-bucket sketch state in mapGroupsWithState emits
    // candidates (superset of all true heavy hitters by the N/(k+1)
    // guarantee); the exact-verify join + threshold makes the final
    // answer order-independent — same oracle as batch q123.
    Q("q150_stream_heavy_hitters",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val sk = graft.streaming.StreamingPipeline
          .heavyHittersStream(QueriesAlert.eventStream(s, dir)).toDF()
        val cand = QueriesAlert.drainToMemory(s, sk, "q150_sink",
          OutputMode.Update())
          .select(col("item")).distinct()
        val ev = Tables(s, dir, "events")
        val n = ev.where(col("user_id").isNotNull).count()
        val minCount = math.max(20L, (n + 3999L) / 4000L)
        ev.join(broadcast(cand),
            ev("user_id").cast("long") === cand("item"), "left_semi")
          .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
          .where(col("cnt") >= minCount)
          .orderBy(col("cnt").desc, col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS cnt FROM events
             |WHERE user_id IS NOT NULL
             |GROUP BY 1
             |HAVING COUNT(*) >= GREATEST(20,
             |  (SELECT (COUNT(*) + 3999) // 4000 FROM events
             |   WHERE user_id IS NOT NULL))
             |ORDER BY cnt DESC, user_id""".stripMargin)),

    // leave-one-out target encoding: per-row group mean excluding the
    // row, exact micro-units; singleton groups excluded (LOO undefined)
    Q("q151_target_encoding",
      (s, dir) => Stats.looTargetEncode(Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT event_id, event_type AS grp,
             |    CAST(floor(value*1000000) AS BIGINT) AS vm
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |a AS (SELECT grp, CAST(SUM(vm) AS BIGINT) AS s,
             |    COUNT(*) AS c
             |  FROM t GROUP BY 1)
             |SELECT t.event_id AS event_id, t.grp AS grp,
             |  (a.s - t.vm) // (a.c - 1) AS loo_micro
             |FROM t JOIN a USING (grp) WHERE a.c >= 2
             |ORDER BY event_id""".stripMargin)),

    // BM25-shaped retrieval: rational idf + per-mille length norm,
    // exact integer cross-multiplied saturation (TextAnalysis scaladoc
    // derives the 88000/40000/12000/36 constants from k1=1.2, b=0.75)
    Q("q152_bm25_topk",
      (s, dir) => TextAnalysis.bm25TopK(Tables(s, dir, "documents"),
        Seq("spark", "join", "window")),
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             |  FROM documents),
             |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tot
             |  FROM base),
             |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM (
             |    SELECT doc_id, dl, unnest(t) AS w FROM base)
             |  WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
             |dfT AS (SELECT w, COUNT(DISTINCT doc_id) AS df
             |  FROM tf GROUP BY 1)
             |SELECT tf.doc_id AS doc_id,
             |  CAST(SUM(
             |    (((st.n - dfT.df + 1) * 1000000) // (dfT.df + 1))
             |      * 88000 * tf.tf
             |    // (40000 * tf.tf + 12000
             |        + 36 * ((1000 * tf.dl * st.n) // st.tot))
             |  ) AS BIGINT) AS score,
             |  COUNT(*) AS n_terms
             |FROM tf CROSS JOIN st JOIN dfT USING (w)
             |GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // content-defined chunking + chunk dedup ratio: boundaries where
    // the 16-char base-31 rolling window (q38's fold) ≡ 0 mod 64, so
    // chunk edges track content, not offsets; corpus chunk-frequency
    // join reports per-doc dedup savings
    Q("q153_cdc_chunk_dedup",
      (s, dir) => TextAnalysis.cdcChunkStats(Tables(s, dir, "documents")),
      Some("""WITH cs AS (SELECT doc_id, text, length(text) AS n,
             |    list_transform(string_split(text, ''),
             |      c -> CAST(unicode(c) AS BIGINT)) AS cp
             |  FROM documents),
             |b AS (SELECT doc_id, text, n,
             |    list_filter(range(16, n + 1), i ->
             |      list_reduce(list_prepend(CAST(0 AS BIGINT), cp[i-15:i]),
             |        (a, c) -> (a * 31 + c) % 2147483647) % 64 = 0) AS bnds
             |  FROM cs),
             |ch AS (SELECT doc_id,
             |    list_filter(
             |      list_transform(range(1, len(bl)), j ->
             |        substring(text, CAST(bl[j] + 1 AS INTEGER),
             |          CAST(bl[j+1] - bl[j] AS INTEGER))),
             |      c -> c <> '') AS chunks
             |  FROM (SELECT doc_id, text, list_sort(list_distinct(
             |          list_concat(list_concat([CAST(0 AS BIGINT)], bnds),
             |            [CAST(n AS BIGINT)]))) AS bl
             |        FROM b)),
             |e AS (SELECT doc_id, unnest(chunks) AS chunk FROM ch),
             |f AS (SELECT chunk, COUNT(*) AS occ FROM e GROUP BY 1)
             |SELECT e.doc_id AS doc_id, COUNT(*) AS n_chunks,
             |  CAST(SUM(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS dup_chunks,
             |  (CAST(SUM(CASE WHEN f.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             |    * 1000000) // COUNT(*) AS dup_ppm
             |FROM e JOIN f USING (chunk)
             |GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // EXACT per-group median without a global sort: multi-round
    // histogram narrowing (distributed k-th smallest); the oracle is
    // the direct rank definition the narrowing must reproduce
    Q("q154_exact_median",
      (s, dir) => Stats.exactMedianNarrowing(Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT event_type AS grp,
             |    CAST(floor(value*1000000) AS BIGINT) AS vm
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |r AS (SELECT grp, vm,
             |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY vm) AS rn,
             |    COUNT(*) OVER (PARTITION BY grp) AS n
             |  FROM t)
             |SELECT grp, n, vm AS median_micro FROM r
             |WHERE rn = (n + 1) // 2 ORDER BY grp""".stripMargin)),

    // local clustering coefficient over the co-purchase graph: exact
    // ppm cohesion per node (q112's degree-oriented wedge join + a
    // degree join); deg<2 nodes excluded
    Q("q155_clustering_coefficient",
      (s, dir) => graft.ops.Graph.clusteringCoefficientOriented(
        graft.ops.CoPurchase.oriented(s, dir)),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |            FROM lineitem),
             |und AS (SELECT DISTINCT LEAST(a.p, b.p) AS u,
             |          GREATEST(a.p, b.p) AS v
             |        FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
             |deg AS (SELECT node, COUNT(*) AS d FROM (
             |          SELECT u AS node FROM und
             |          UNION ALL SELECT v FROM und) GROUP BY 1),
             |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |        FROM und e1 JOIN und e2 ON e2.u = e1.v
             |        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
             |tcnt AS (SELECT node, COUNT(*) AS triangles FROM (
             |          SELECT a AS node FROM tri
             |          UNION ALL SELECT b FROM tri
             |          UNION ALL SELECT c FROM tri) GROUP BY 1)
             |SELECT deg.node AS node, CAST(deg.d AS BIGINT) AS d,
             |  CAST(COALESCE(tcnt.triangles, 0) AS BIGINT) AS triangles,
             |  (CAST(COALESCE(tcnt.triangles, 0) AS BIGINT) * 2000000)
             |    // (deg.d * (deg.d - 1)) AS cc_ppm
             |FROM deg LEFT JOIN tcnt USING (node) WHERE deg.d >= 2
             |ORDER BY cc_ppm DESC, node LIMIT 100""".stripMargin)),

    // shot-boundary detection over stubbed per-frame signatures:
    // histogram-difference cut detector (|Δsig| > 5000), running
    // boundary count → shot spans
    Q("q156_shot_boundaries",
      (s, dir) => Multimodal.shotSegments(Tables(s, dir, "documents")),
      Some("""WITH m AS (SELECT doc_id, text,
             |    octet_length(encode(text)) AS len FROM documents),
             |fr AS (SELECT doc_id, text,
             |    CAST(unnest(range(0, 1 + len % 8)) AS INTEGER) AS f
             |  FROM m),
             |ch AS (SELECT doc_id, f, text,
             |    CAST(unnest(range(1, length(text) + 1)) AS INTEGER) AS j
             |  FROM fr),
             |sig AS (SELECT doc_id, f,
             |    CAST(SUM(unicode(substring(text, j, 1))
             |      * ((j - 1 + f) % 7 + 1)) % 10000 AS BIGINT) AS s
             |  FROM ch GROUP BY 1, 2),
             |d AS (SELECT doc_id, f, s,
             |    LAG(s) OVER (PARTITION BY doc_id ORDER BY f) AS prev
             |  FROM sig),
             |b AS (SELECT doc_id, f,
             |    CASE WHEN prev IS NOT NULL AND ABS(s - prev) > 5000
             |      THEN 1 ELSE 0 END AS bd
             |  FROM d),
             |sh AS (SELECT doc_id, f, CAST(SUM(bd) OVER (
             |      PARTITION BY doc_id ORDER BY f) AS BIGINT) AS shot
             |  FROM b)
             |SELECT doc_id, shot, CAST(MIN(f) AS BIGINT) AS start_frame,
             |  CAST(MAX(f) AS BIGINT) AS end_frame, COUNT(*) AS n_frames
             |FROM sh GROUP BY 1, 2 ORDER BY doc_id, shot""".stripMargin)),

    // peak concurrency (sweep-line max): 1h half-open intervals per
    // event; net deltas per instant kill running-sum ties; the scan is
    // the two-pass partial-sum + prefix-offset shape, never a
    // one-partition-per-group window
    Q("q157_peak_concurrency",
      (s, dir) => Temporal.peakConcurrency(Tables(s, dir, "events")),
      Some("""WITH iv AS (SELECT event_type AS grp, epoch_us(ts) AS st
             |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
             |d AS (SELECT grp, st AS t, 1 AS delta FROM iv
             |  UNION ALL SELECT grp, st + 3600000000, -1 FROM iv),
             |nt AS (SELECT grp, t, CAST(SUM(delta) AS BIGINT) AS net
             |  FROM d GROUP BY 1, 2),
             |c AS (SELECT grp, t, CAST(SUM(net) OVER (
             |    PARTITION BY grp ORDER BY t) AS BIGINT) AS cum FROM nt),
             |p AS (SELECT grp, MAX(cum) AS peak FROM c GROUP BY 1)
             |SELECT c.grp AS grp, p.peak AS peak, MIN(c.t) AS peak_at_us
             |FROM c JOIN p ON p.grp = c.grp AND c.cum = p.peak
             |GROUP BY 1, 2 ORDER BY grp""".stripMargin)),

    // rate-spike monitor: hourly counts vs 2x the trailing-24h mean,
    // integer cross-multiplied; window runs over pre-aggregated rows
    Q("q158_rate_spikes",
      (s, dir) => Analytics.rateSpikes(Tables(s, dir, "events")),
      Some("""WITH h AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 3600000000 AS hour, COUNT(*) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |w AS (SELECT grp, hour, cnt, CAST(SUM(cnt) OVER (
             |    PARTITION BY grp ORDER BY hour
             |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT)
             |      AS sum24,
             |    CAST(COUNT(*) OVER (PARTITION BY grp ORDER BY hour
             |    RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS BIGINT)
             |      AS n24
             |  FROM h)
             |SELECT grp, hour * 3600000000 AS hour_us,
             |  CAST(cnt AS BIGINT) AS cnt, sum24, n24
             |FROM w WHERE sum24 IS NOT NULL
             |  AND cnt * n24 * 1000000 > 2000000 * sum24
             |ORDER BY grp, hour_us""".stripMargin)),

    // IVF-PQ composed ANN (FAISS architecture): anchor-cell coarse
    // quantizer (q79's restatable choice) prunes to nprobe cells, PQ
    // ADC (q106's integer LUT scan) ranks the survivors — the oracle
    // composes both restatements end to end
    Q("q159_ivfpq_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 5), k = 3)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |anch AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
             |             AS INTEGER) AS cell, v AS av
             |         FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
             |sc AS (SELECT e.vec_id, a.cell,
             |         list_sum(list_transform(list_zip(e.v, a.av),
             |           x -> x[1]*x[2])) AS s
             |       FROM e CROSS JOIN anch a),
             |asg AS (SELECT vec_id, cell FROM (
             |          SELECT vec_id, cell, ROW_NUMBER() OVER (
             |            PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
             |          FROM sc)
             |        WHERE rn = 1),
             |cb AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1
             |           AS INTEGER) AS code, v
             |       FROM (SELECT * FROM e ORDER BY vec_id LIMIT 16)),
             |ss AS (SELECT unnest(range(0, 8)) AS s),
             |subs AS (SELECT vec_id, s,
             |           v[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS sv
             |         FROM e CROSS JOIN ss),
             |csubs AS (SELECT code, s,
             |            v[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS cv
             |          FROM cb CROSS JOIN ss),
             |d AS (SELECT vec_id, subs.s, code,
             |        list_sum(list_transform(list_zip(sv, cv),
             |          x -> (x[1]-x[2])*(x[1]-x[2]))) AS dist
             |      FROM subs JOIN csubs ON subs.s = csubs.s),
             |codes AS (SELECT vec_id, s, code FROM (
             |        SELECT vec_id, s, code, dist, ROW_NUMBER() OVER (
             |          PARTITION BY vec_id, s ORDER BY dist, code) AS rn
             |        FROM d) WHERE rn = 1),
             |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
             |qprobe AS (SELECT q_id, cell FROM (
             |    SELECT q.q_id, a.cell, ROW_NUMBER() OVER (
             |      PARTITION BY q.q_id ORDER BY
             |        list_sum(list_transform(list_zip(q.qv, a.av),
             |          x -> x[1]*x[2])) DESC, a.cell) AS rn
             |    FROM q CROSS JOIN anch a) WHERE rn <= 2),
             |qsubs AS (SELECT q_id, s,
             |            qv[CAST(s*8+1 AS INTEGER):CAST(s*8+8 AS INTEGER)] AS sv
             |          FROM q CROSS JOIN ss),
             |lut AS (SELECT q_id, qsubs.s, code,
             |          CAST(floor(list_sum(list_transform(list_zip(sv, cv),
             |            x -> (x[1]-x[2])*(x[1]-x[2])))*1000000) AS BIGINT)
             |            AS lut_e6
             |        FROM qsubs JOIN csubs ON qsubs.s = csubs.s),
             |cand AS (SELECT p.q_id, g.vec_id
             |         FROM qprobe p JOIN asg g ON g.cell = p.cell),
             |a2 AS (SELECT c.q_id, c.vec_id,
             |         CAST(SUM(l.lut_e6) AS BIGINT) AS adist_e6
             |       FROM cand c JOIN codes k2 ON k2.vec_id = c.vec_id
             |       JOIN lut l ON l.q_id = c.q_id AND l.s = k2.s
             |         AND l.code = k2.code
             |       GROUP BY 1, 2),
             |rk AS (SELECT q_id, vec_id, adist_e6, ROW_NUMBER() OVER (
             |        PARTITION BY q_id ORDER BY adist_e6, vec_id) AS rank
             |      FROM a2)
             |SELECT q_id, rank, vec_id, adist_e6 FROM rk
             |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // Spark Observation API through the gate: zero-extra-pass pipeline
    // health metrics (row counts, null tallies, integer value sums)
    // collected DURING another action's scan — the instrumentation
    // every production pipeline bolts onto its ingest read
    Q("q160_observe_metrics",
      (s, dir) => {
        val obs = org.apache.spark.sql.Observation("q160")
        val ev = Tables(s, dir, "events")
          .observe(obs, count(lit(1)).as("rows_in"),
            sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_users"),
            sum(floor(col("value") * 1e6).cast("long")).as("value_sum_micro"))
        // the metrics ride along this action's single pass
        val purchases = ev.where(col("event_type") === "purchase").count()
        val m = obs.get
        import s.implicits._
        Seq((m("rows_in").asInstanceOf[Long],
          m("null_users").asInstanceOf[Long],
          m("value_sum_micro").asInstanceOf[Long], purchases))
          .toDF("rows_in", "null_users", "value_sum_micro", "purchases")
      },
      Some("""SELECT
             |  (SELECT COUNT(*) FROM events) AS rows_in,
             |  (SELECT COUNT(*) FROM events WHERE user_id IS NULL)
             |    AS null_users,
             |  (SELECT CAST(SUM(CAST(floor(value*1000000) AS BIGINT))
             |     AS BIGINT) FROM events) AS value_sum_micro,
             |  (SELECT COUNT(*) FROM events WHERE event_type = 'purchase')
             |    AS purchases""".stripMargin)),

    // interval-union coverage per group (two-pass prefix-max sweep):
    // union length + merged-island count from per-row clipped
    // contributions — no island ids, no per-group window
    Q("q161_interval_coverage",
      (s, dir) => Temporal.intervalCoverage(Tables(s, dir, "events")),
      Some("""WITH iv AS (SELECT event_type AS grp, epoch_us(ts) AS s,
             |    epoch_us(ts) + 3600000000 AS e
             |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
             |o AS (SELECT grp, s, e, MAX(e) OVER (
             |    PARTITION BY grp ORDER BY s, e
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |  FROM iv)
             |SELECT grp,
             |  CAST(SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_islands,
             |  CAST(SUM(GREATEST(0, e - GREATEST(s, COALESCE(pm, s))))
             |    AS BIGINT) AS covered_us
             |FROM o GROUP BY 1 ORDER BY grp""".stripMargin)),

    // multi-probe SRP LSH: probe own bucket + the flips lowest-margin
    // bit-flips — near more-tables recall at one table's memory; the
    // oracle re-derives margins, flip order, probe set, and ranks
    Q("q162_multiprobe_lsh",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.multiProbeLshTopK(emb, emb.where(col("vec_id") < 5),
          k = 3, planes = 6, flips = 2)
      },
      Some(s"""WITH ${duckSrpBits(6)},
              |bk AS (SELECT vec_id,
              |         CAST(SUM(bit << CAST(p AS INTEGER)) AS BIGINT)
              |           AS bucket
              |       FROM srpbits GROUP BY 1),
              |c AS (SELECT e.vec_id, e.v, bk.bucket
              |      FROM e JOIN bk USING (vec_id)),
              |qm AS (SELECT pb.vec_id AS q_id, pb.p, abs(pb.proj) AS m
              |       FROM pb WHERE pb.vec_id < 5),
              |fl AS (SELECT q_id, p FROM (
              |         SELECT q_id, p, ROW_NUMBER() OVER (
              |           PARTITION BY q_id ORDER BY m, p) AS rn FROM qm)
              |       WHERE rn <= 2),
              |qb AS (SELECT e.vec_id AS q_id, e.v AS qv,
              |         bk.bucket AS base
              |       FROM e JOIN bk USING (vec_id) WHERE e.vec_id < 5),
              |probes AS (SELECT q_id, qv, base AS bucket FROM qb
              |  UNION ALL
              |  SELECT qb.q_id, qb.qv,
              |    xor(qb.base, CAST(1 AS BIGINT) << CAST(fl.p AS INTEGER))
              |  FROM qb JOIN fl USING (q_id)),
              |scored AS (
              |  SELECT p2.q_id, c.vec_id,
              |    CAST(floor((${duckCos("p2.qv", "c.v")}) * 1000000)
              |      AS BIGINT) AS cos_e6
              |  FROM c JOIN probes p2 ON c.bucket = p2.bucket),
              |ranked AS (SELECT q_id, vec_id, cos_e6,
              |    ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY cos_e6 DESC, vec_id) AS rank
              |  FROM scored)
              |SELECT q_id, rank, vec_id, cos_e6 FROM ranked
              |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // cross-source vocabulary similarity matrix: q22's MinHash chain
    // per source (est_ppm, oracle-exact) beside the exact Jaccard —
    // the estimate's standing accuracy report
    Q("q163_source_similarity",
      (s, dir) => DocDedup.sourceSimilarity(Tables(s, dir, "documents")),
      Some(s"""WITH v AS (SELECT DISTINCT source AS src, w FROM (
              |    SELECT source, unnest(string_split(text, ' ')) AS w
              |    FROM documents) u WHERE w <> ''),
              |h AS (SELECT src, list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(w, ''),
              |        c -> CAST(unicode(c) AS BIGINT))),
              |      (a, b) -> (a * 37 + b) % 2147483647) AS h37 FROM v),
              |y AS (SELECT src, ${duckMix31("h37")} AS y FROM h),
              |sig AS (SELECT src, i, MIN(${duckMix31("y + i")}) AS m
              |        FROM y CROSS JOIN (SELECT unnest(range(0, 32)) AS i) xs
              |        GROUP BY 1, 2),
              |est AS (SELECT a.src AS src_a, b.src AS src_b,
              |          CAST(SUM(CASE WHEN a.m = b.m THEN 1 ELSE 0 END)
              |            AS BIGINT) AS matches
              |        FROM sig a JOIN sig b ON a.i = b.i AND a.src < b.src
              |        GROUP BY 1, 2),
              |sz AS (SELECT src, COUNT(*) AS n FROM v GROUP BY 1),
              |inter AS (SELECT a.src AS src_a, b.src AS src_b,
              |            COUNT(*) AS inter
              |          FROM v a JOIN v b ON a.w = b.w AND a.src < b.src
              |          GROUP BY 1, 2)
              |SELECT e.src_a AS src_a, e.src_b AS src_b,
              |  e.matches AS matches,
              |  (e.matches * 1000000) // 32 AS est_ppm,
              |  (CAST(COALESCE(i.inter, 0) AS BIGINT) * 1000000)
              |    // (sa.n + sb.n - COALESCE(i.inter, 0)) AS jac_ppm
              |FROM est e LEFT JOIN inter i
              |  ON i.src_a = e.src_a AND i.src_b = e.src_b
              |JOIN sz sa ON sa.src = e.src_a
              |JOIN sz sb ON sb.src = e.src_b
              |ORDER BY src_a, src_b""".stripMargin)),

    // STREAMING SCD2 enrichment: each purchase event on the stream
    // picks the dimension state whose validity interval contains its
    // event time (stream-static interval join — stateless, static
    // side is the q113 SCD2 build). The leak-free "state as of the
    // event" lookup, at serving time.
    Q("q164_stream_scd_enrich",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val dim = Temporal.scd2Build(Tables(s, dir, "events"))
          .select(col("user_id").as("d_user"), col("state"),
            col("eff_from"), col("eff_to"))
        val stream = QueriesAlert.eventStream(s, dir)
          .where(col("event_type") === "purchase" &&
            col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"))
        val joined = stream.join(dim,
            stream("user_id") === col("d_user") &&
              col("us") >= col("eff_from") &&
              (col("eff_to").isNull || col("us") < col("eff_to")))
          .select(col("event_id"), col("user_id"), col("state"),
            col("eff_from"))
        QueriesAlert.drainToMemory(s, joined, "q164_sink", OutputMode.Append())
          .orderBy("event_id")
      },
      Some("""WITH b AS (SELECT user_id, event_type,
             |    epoch_us(ts) AS eff_from, event_id
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IS NOT NULL),
             |c AS (SELECT *, LAG(event_type) OVER (PARTITION BY user_id
             |    ORDER BY eff_from, event_id) AS prev FROM b),
             |ch AS (SELECT * FROM c WHERE prev IS NULL
             |  OR prev <> event_type),
             |d AS (SELECT user_id, event_type AS state, eff_from,
             |    LEAD(eff_from) OVER (PARTITION BY user_id
             |      ORDER BY eff_from, event_id) AS eff_to FROM ch),
             |p AS (SELECT event_id, user_id, epoch_us(ts) AS us
             |  FROM events WHERE event_type = 'purchase'
             |    AND user_id IS NOT NULL AND ts IS NOT NULL)
             |SELECT p.event_id AS event_id, p.user_id AS user_id,
             |  d.state AS state, d.eff_from AS eff_from
             |FROM p JOIN d ON d.user_id = p.user_id
             |  AND p.us >= d.eff_from
             |  AND (d.eff_to IS NULL OR p.us < d.eff_to)
             |ORDER BY event_id""".stripMargin)),

    // linear multi-touch attribution: each purchase splits exactly
    // 1e6 ppm across the user's prior-24h clicks, remainder to the
    // earliest touch; per-click rollup
    Q("q165_attribution",
      (s, dir) => Analytics.linearAttribution(Tables(s, dir, "events")),
      Some("""WITH p AS (SELECT user_id, event_id AS p_id,
             |    epoch_us(ts) AS p_us
             |  FROM events WHERE event_type = 'purchase'
             |    AND user_id IS NOT NULL AND ts IS NOT NULL),
             |c AS (SELECT user_id, event_id AS c_id, epoch_us(ts) AS c_us
             |  FROM events WHERE event_type = 'click'
             |    AND user_id IS NOT NULL AND ts IS NOT NULL),
             |t AS (SELECT p.user_id, p.p_id, c.c_id, c.c_us
             |  FROM p JOIN c ON c.user_id = p.user_id
             |    AND c.c_us < p.p_us AND c.c_us >= p.p_us - 86400000000),
             |wgt AS (SELECT user_id, p_id, c_id,
             |    COUNT(*) OVER (PARTITION BY p_id) AS n,
             |    ROW_NUMBER() OVER (PARTITION BY p_id
             |      ORDER BY c_us, c_id) AS rn
             |  FROM t)
             |SELECT c_id AS click_id, user_id,
             |  COUNT(*) AS n_purchases,
             |  CAST(SUM(1000000 // n + CASE WHEN rn = 1
             |    THEN 1000000 % n ELSE 0 END) AS BIGINT) AS total_ppm
             |FROM wgt GROUP BY 1, 2 ORDER BY click_id""".stripMargin)),

    // leakage-free train/test split: every near-dup cluster (q37's
    // connected components) hashes ON ITS REPRESENTATIVE, so
    // near-duplicates can never straddle the split — the eval-set
    // contamination fix for random splits
    Q("q166_leakfree_split",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val cl = DocDedup.clusters(DocDedup.ngramJaccard(docs, n = 3,
          threshold = 0.5, maxShingleDocFreq = 100L))
        docs.select(col("doc_id"))
          .join(cl, Seq("doc_id"), "left")
          .withColumn("rep", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("split",
            when(pmod(graft.ops.Similarity.mix31Col(col("rep")),
              lit(1000L)) < 800, "train").otherwise("test"))
          .select("doc_id", "rep", "split")
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE
              |w AS (SELECT doc_id, lang, string_split(text,' ') AS ws
              |      FROM documents),
              |tok AS (SELECT doc_id, lang, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
              |        FROM (SELECT doc_id, lang, ws,
              |                generate_subscripts(ws,1) AS i FROM w) t
              |        WHERE i+2 <= len(ws)),
              |sh AS (SELECT DISTINCT doc_id, lang, s FROM tok),
              |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
              |pairs AS (SELECT p.a_id, p.b_id FROM (
              |    SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
              |    FROM sh a JOIN sh b
              |      ON a.s=b.s AND a.lang=b.lang AND a.doc_id<b.doc_id
              |    GROUP BY 1,2) p
              |  JOIN sizes sa ON p.a_id=sa.doc_id
              |  JOIN sizes sb ON p.b_id=sb.doc_id
              |  WHERE CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) >= 0.5),
              |edges AS (SELECT a_id AS s, b_id AS d FROM pairs
              |          UNION SELECT b_id, a_id FROM pairs),
              |reach(s, d) AS (
              |  SELECT s, d FROM edges
              |  UNION
              |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
              |nodes AS (SELECT DISTINCT s AS node FROM edges),
              |cc AS (SELECT n.node AS doc_id,
              |    LEAST(n.node, COALESCE(MIN(r.d), n.node)) AS cluster_id
              |  FROM nodes n LEFT JOIN reach r ON r.s = n.node
              |  GROUP BY n.node),
              |rep AS (SELECT d.doc_id AS doc_id,
              |    COALESCE(cc.cluster_id, d.doc_id) AS rep
              |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id)
              |SELECT doc_id, rep,
              |  CASE WHEN ${duckMix31("rep")} % 1000 < 800
              |    THEN 'train' ELSE 'test' END AS split
              |FROM rep ORDER BY doc_id""".stripMargin)),

    // embedding-quality gate: exact micro norms, zero counts, dim and
    // degeneracy flags — the audit before any ANN indexing
    Q("q167_embedding_audit",
      (s, dir) => Audit.embeddingAudit(Tables(s, dir, "embeddings")),
      Some("""SELECT vec_id, CAST(len(v) AS INTEGER) AS dim,
             |  CAST(floor(list_sum(list_transform(list_zip(v, v),
             |    x -> x[1]*x[2])) * 1000000) AS BIGINT) AS norm2_micro,
             |  CAST(len(list_filter(v, x -> x = 0)) AS BIGINT) AS n_zero,
             |  len(v) = 64 AS dim_ok,
             |  len(list_filter(v, x -> x = 0)) = len(v) AS degenerate
             |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
             |ORDER BY vec_id""".stripMargin)),

    // k-anonymity audit: equivalence classes of the quasi-identifier
    // tuple smaller than k — the re-identification risk report
    Q("q168_k_anonymity",
      (s, dir) => Audit.kAnonymity(
        Tables(s, dir, "events").where(col("user_id").isNotNull &&
            col("event_type").isNotNull && col("ts").isNotNull)
          .withColumn("day", expr("unix_micros(ts) div 86400000000")),
        Seq("user_id", "event_type", "day"), k = 3L),
      Some("""SELECT user_id, event_type,
             |  epoch_us(ts) // 86400000000 AS day, COUNT(*) AS class_size
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND ts IS NOT NULL
             |GROUP BY 1, 2, 3 HAVING COUNT(*) < 3
             |ORDER BY user_id, event_type, day, class_size""".stripMargin)),

    // TPC-H Q21 shape (the semi/anti-join gauntlet): multi-supplier
    // orders where this supplier was the ONLY late one — correlated
    // EXISTS + NOT EXISTS both planned as one-pass semi/anti joins
    // on the orderkey; same text runs on both engines
    Q("q169_tpch_q21",
      (s, dir) => {
        Seq("supplier", "lineitem", "orders")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ21Sql)
      },
      Some(TpchQ21Sql)),

    // k-hop BFS over the customer–supplier bipartite graph (who is
    // within 3 hops of the seed customers): iterative frontier
    // expansion vs the recursive-CTE min-hop oracle
    Q("q170_khop_bfs",
      (s, dir) => {
        val ol = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables(s, dir, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
            Seq("o_orderkey"))
          .select((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .distinct()
        val edges = ol.select(col("c").as("src"), col("sn").as("dst"))
          .union(ol.select(col("sn").as("src"), col("c").as("dst")))
        val seeds = Tables(s, dir, "customer")
          .where(col("c_custkey") % 500 === 0)
          .select((col("c_custkey") * 2).as("node"))
        Graph.bfsHops(edges, seeds, maxHops = 3)
      },
      Some("""WITH RECURSIVE ol AS (
             |  SELECT DISTINCT o.o_custkey * 2 AS c,
             |    l.l_suppkey * 2 + 1 AS sn
             |  FROM orders o JOIN lineitem l
             |    ON o.o_orderkey = l.l_orderkey),
             |e AS (SELECT c AS src, sn AS dst FROM ol
             |      UNION ALL SELECT sn, c FROM ol),
             |seeds AS (SELECT c_custkey * 2 AS node FROM customer
             |          WHERE c_custkey % 500 = 0),
             |walk(node, hop) AS (
             |  SELECT node, 0 FROM seeds
             |  UNION
             |  SELECT e.dst, w.hop + 1 FROM walk w
             |  JOIN e ON e.src = w.node WHERE w.hop < 3)
             |SELECT node, CAST(MIN(hop) AS INTEGER) AS hop
             |FROM walk GROUP BY node ORDER BY node""".stripMargin)),

    // 2-D Pareto skyline of parts (max size, min price-cents): the
    // per-cost agg + strict-prefix-max plan vs the NOT-EXISTS
    // dominance oracle
    Q("q171_pareto_skyline",
      (s, dir) => Stats.paretoSkyline(
        Tables(s, dir, "part")
          .withColumn("benefit", col("p_size").cast("long"))
          .withColumn("cost",
            round(col("p_retailprice") * 100).cast("long")),
        "p_partkey", "benefit", "cost"),
      Some("""WITH p AS (SELECT p_partkey,
             |    CAST(p_size AS BIGINT) AS benefit,
             |    CAST(round(p_retailprice * 100) AS BIGINT) AS cost
             |  FROM part)
             |SELECT p_partkey AS id, benefit, cost FROM p a
             |WHERE NOT EXISTS (SELECT 1 FROM p b
             |  WHERE b.cost <= a.cost AND b.benefit >= a.benefit
             |    AND (b.cost < a.cost OR b.benefit > a.benefit))
             |ORDER BY cost, benefit, id""".stripMargin)),

    // corpus-mix drift report: per-category ppm rates across the
    // even/odd day-of-epoch split, integer χ²-style score
    Q("q172_category_drift",
      (s, dir) => Stats.categoryDrift(Tables(s, dir, "events")),
      Some("""WITH d AS (SELECT event_type AS cat,
             |    (epoch_us(ts) // 86400000000) % 2 AS b
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
             |c AS (SELECT cat,
             |    CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_even,
             |    CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_odd
             |  FROM d GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_even) AS BIGINT) AS te,
             |    CAST(SUM(n_odd) AS BIGINT) AS tod FROM c),
             |r AS (SELECT cat, n_even, n_odd,
             |    n_even * 1000000 // te AS rate_even_ppm,
             |    n_odd * 1000000 // tod AS rate_odd_ppm
             |  FROM c CROSS JOIN t)
             |SELECT cat, n_even, n_odd, rate_even_ppm, rate_odd_ppm,
             |  abs(rate_even_ppm - rate_odd_ppm) AS drift_ppm,
             |  (abs(rate_even_ppm - rate_odd_ppm) *
             |   abs(rate_even_ppm - rate_odd_ppm))
             |    // (rate_even_ppm + rate_odd_ppm + 1) AS score
             |FROM r ORDER BY score DESC, cat""".stripMargin)),

    // TPC-H Q22 shape: scalar subquery + anti join; same text on
    // both engines
    Q("q173_tpch_q22",
      (s, dir) => {
        Seq("customer", "orders")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ22Sql)
      },
      Some(TpchQ22Sql)),

    // most-correlated embedding dimension pairs via the map-side
    // Gram kernel; exact integer covariance numerators
    Q("q174_gram_top_pairs",
      (s, dir) => Stats.gramTopPairs(Tables(s, dir, "embeddings")),
      Some("""WITH v AS (SELECT vec_id,
             |    list_transform(embedding::DOUBLE[],
             |      x -> CAST(floor(x * 1000) AS BIGINT)) AS q
             |  FROM embeddings
             |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
             |x AS (SELECT vec_id, i, q[i] AS xi
             |  FROM (SELECT vec_id, q, unnest(range(1, 65)) AS i FROM v)),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
             |s AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS sx
             |  FROM x GROUP BY 1),
             |p AS (SELECT a.i AS di, b.i AS dj,
             |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS sxy
             |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
             |  GROUP BY 1, 2)
             |SELECT CAST(p.di AS INTEGER) AS dim_i,
             |  CAST(p.dj AS INTEGER) AS dim_j,
             |  n.n AS n, p.sxy AS sxy, sa.sx AS sx_i, sb.sx AS sx_j,
             |  CAST(n.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS cov_num
             |FROM p CROSS JOIN n
             |JOIN s sa ON sa.i = p.di JOIN s sb ON sb.i = p.dj
             |ORDER BY abs(CAST(n.n * p.sxy - sa.sx * sb.sx AS BIGINT))
             |  DESC, dim_i, dim_j
             |LIMIT 20""".stripMargin)),

    // sorted-neighborhood ER dedup: rank-banded neighbor join over
    // the normalized sort order, threshold-levenshtein verify
    Q("q175_sorted_neighborhood",
      (s, dir) => Entity.sortedNeighborhood(Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id AS id,
             |    lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))
             |      AS norm
             |  FROM documents WHERE text IS NOT NULL),
             |t2 AS (SELECT id, substr(norm, 1, 16) AS sortkey,
             |    substr(norm, 1, 40) AS probe
             |  FROM t WHERE len(norm) > 0),
             |r AS (SELECT id, probe,
             |    row_number() OVER (ORDER BY sortkey, id) AS rn
             |  FROM t2)
             |SELECT a.id AS a_id, b.id AS b_id,
             |  CAST(levenshtein(a.probe, b.probe) AS INTEGER) AS dist
             |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
             |WHERE levenshtein(a.probe, b.probe) <= 10
             |ORDER BY a_id, b_id""".stripMargin)),

    // source-language concentration: exact ppm HHI / Gini impurity
    // per source — the log-free entropy profiling substitute
    Q("q176_hhi_concentration",
      (s, dir) => Stats.hhiConcentration(
        Tables(s, dir, "documents"), "source", "lang"),
      Some("""WITH c AS (SELECT source AS grp, lang AS cat,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM documents
             |  WHERE source IS NOT NULL AND lang IS NOT NULL
             |  GROUP BY 1, 2),
             |g AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n,
             |    CAST(COUNT(*) AS BIGINT) AS n_cats,
             |    CAST(SUM(c * c) AS BIGINT) AS ss
             |  FROM c GROUP BY 1)
             |SELECT grp, n, n_cats,
             |  (ss * 1000000) // (n * n) AS hhi_ppm,
             |  ((n * n - ss) * 1000000) // (n * n) AS gini_ppm
             |FROM g ORDER BY hhi_ppm DESC, grp""".stripMargin)),

    // per-category daily-activity trend: exact rational least-squares
    // slope kept as numerator/denominator, never divided
    Q("q177_group_trend",
      (s, dir) => Stats.groupTrend(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS x,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |s AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx
             |  FROM daily GROUP BY 1)
             |SELECT grp, n, n * sxy - sx * sy AS slope_num,
             |  n * sxx - sx * sx AS slope_den,
             |  CASE WHEN n * sxy - sx * sy > 0 THEN 'up'
             |       WHEN n * sxy - sx * sy < 0 THEN 'down'
             |       ELSE 'flat' END AS trend
             |FROM s ORDER BY grp""".stripMargin)),

    // l-diversity audit: hour-grained quasi-id classes whose members
    // share too few distinct users — the leak k-anonymity misses
    Q("q178_l_diversity",
      (s, dir) => Audit.lDiversity(
        Tables(s, dir, "events").where(col("user_id").isNotNull &&
            col("event_type").isNotNull && col("ts").isNotNull)
          .withColumn("hour", expr("unix_micros(ts) div 3600000000")),
        Seq("event_type", "hour"), "user_id", l = 3L),
      Some("""SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
             |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_sensitive,
             |  COUNT(*) AS class_size
             |FROM events
             |WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |  AND ts IS NOT NULL
             |GROUP BY 1, 2 HAVING COUNT(DISTINCT user_id) < 3
             |ORDER BY event_type, hour, n_sensitive""".stripMargin)),

    // hybrid retrieval: RRF fusion of a lexical (term-frequency) and
    // a semantic (exact integer dot vs probe vec 0) ranking, both
    // ranked by the two-pass global rownum, capped at 100
    Q("q179_rrf_hybrid",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val lex = docs.where(col("text").isNotNull)
          .select(col("doc_id").as("id"),
            regexp_count(lower(col("text")), lit("data")).cast("long")
              .as("tf"))
          .withColumn("ntf", -col("tf"))
        val lexRank = Par.globalRowNumber(lex, Seq("ntf", "id"))
          .where(col("rownum") <= 100)
          .select(col("id"), col("rownum").as("rnk"))
        val q = Tables(s, dir, "embeddings")
          .select(col("vec_id").as("id"),
            expr("transform(embedding, " +
              "x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
              .as("qv"))
        val probe = q.where(col("id") === 0)
          .select(col("qv").as("pv"))
        val sem = q.crossJoin(broadcast(probe))
          .select(col("id"),
            expr("aggregate(zip_with(qv, pv, (a, b) -> a * b), " +
              "0L, (acc, x) -> acc + x)").as("dot"))
          .withColumn("ndot", -col("dot"))
        val semRank = Par.globalRowNumber(sem, Seq("ndot", "id"))
          .where(col("rownum") <= 100)
          .select(col("id"), col("rownum").as("rnk"))
        Similarity.rrfFuse(Seq(lexRank, semRank))
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH a AS (SELECT doc_id AS id,
             |    CAST(len(regexp_extract_all(lower(text), 'data'))
             |      AS BIGINT) AS tf
             |  FROM documents WHERE text IS NOT NULL),
             |ra AS (SELECT id,
             |    row_number() OVER (ORDER BY tf DESC, id) AS rnk
             |  FROM a),
             |ra100 AS (SELECT id, rnk FROM ra WHERE rnk <= 100),
             |q AS (SELECT vec_id AS id,
             |    list_transform(embedding::DOUBLE[],
             |      x -> CAST(floor(x * 1000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |probe AS (SELECT qv AS pv FROM q WHERE id = 0),
             |d AS (SELECT id, CAST(list_sum(list_transform(
             |    list_zip(qv, pv), z -> z[1] * z[2])) AS BIGINT) AS dot
             |  FROM q CROSS JOIN probe),
             |rb AS (SELECT id,
             |    row_number() OVER (ORDER BY dot DESC, id) AS rnk
             |  FROM d),
             |rb100 AS (SELECT id, rnk FROM rb WHERE rnk <= 100),
             |u AS (SELECT id, rnk FROM ra100
             |      UNION ALL SELECT id, rnk FROM rb100)
             |SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
             |  CAST(SUM(1000000000 // (60 + rnk)) AS BIGINT) AS rrf
             |FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id
             |LIMIT 20""".stripMargin)),

    // market-basket association rules: co-purchased part pairs with
    // support/confidence/lift in exact ppm; pair join keyed by order
    Q("q180_association_rules",
      (s, dir) => Analytics.frequentPairs(Tables(s, dir, "lineitem")),
      Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o,
             |    l_partkey AS p
             |  FROM lineitem
             |  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
             |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT)
             |    AS n_baskets FROM op),
             |items AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM op GROUP BY 1),
             |pairs AS (SELECT a.p AS pa, b.p AS pb,
             |    CAST(COUNT(*) AS BIGINT) AS cab
             |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
             |SELECT pa, pb, cab, ia.c AS ca, ib.c AS cb,
             |  cab * 1000000 // ia.c AS conf_ab_ppm,
             |  cab * 1000000 // ib.c AS conf_ba_ppm,
             |  (cab * n.n_baskets * 1000000) // (ia.c * ib.c)
             |    AS lift_ppm
             |FROM pairs
             |JOIN items ia ON ia.p = pairs.pa
             |JOIN items ib ON ib.p = pairs.pb
             |CROSS JOIN n
             |ORDER BY lift_ppm DESC, pa, pb""".stripMargin)),

    // quantity-weighted median price per return flag: the (group,
    // value) pre-aggregate folds rows to distinct values before any
    // window runs
    Q("q181_weighted_median",
      (s, dir) => Stats.weightedMedian(
        Tables(s, dir, "lineitem")
          .where(col("l_extendedprice").isNotNull)
          .withColumn("cents",
            round(col("l_extendedprice") * 100).cast("long")),
        "l_returnflag", "cents", "l_quantity"),
      Some("""WITH t AS (SELECT l_returnflag AS grp,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             |    CAST(l_quantity AS BIGINT) AS w
             |  FROM lineitem
             |  WHERE l_returnflag IS NOT NULL
             |    AND l_extendedprice IS NOT NULL AND l_quantity > 0),
             |a AS (SELECT grp, v, CAST(SUM(w) AS BIGINT) AS w
             |  FROM t GROUP BY 1, 2),
             |c AS (SELECT grp, v,
             |    SUM(w) OVER (PARTITION BY grp ORDER BY v) AS cum,
             |    SUM(w) OVER (PARTITION BY grp) AS tot
             |  FROM a)
             |SELECT grp, MIN(v) AS wmedian,
             |  CAST(MAX(tot) AS BIGINT) AS w_total
             |FROM c WHERE cum * 2 >= tot
             |GROUP BY grp ORDER BY grp""".stripMargin)),

    // bounded-hop weighted shortest path (min-plus rounds) over the
    // customer-supplier graph, edge weight inverse to link strength
    Q("q182_shortest_path",
      (s, dir) => {
        val ol = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
          .join(Tables(s, dir, "lineitem")
            .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
            Seq("o_orderkey"))
          .groupBy((col("o_custkey") * 2).as("c"),
            (col("l_suppkey") * 2 + 1).as("sn"))
          .agg(countDistinct(col("o_orderkey")).as("cnt"))
          .withColumn("w", expr("1000 div cnt"))
        val edges = ol.select(col("c").as("src"), col("sn").as("dst"),
            col("w"))
          .union(ol.select(col("sn").as("src"), col("c").as("dst"),
            col("w")))
        val seeds = Tables(s, dir, "customer")
          .where(col("c_custkey") % 700 === 0)
          .select((col("c_custkey") * 2).as("node"))
        Graph.boundedShortestPath(edges, seeds, maxHops = 3)
      },
      Some("""WITH RECURSIVE ol AS (SELECT o.o_custkey * 2 AS c,
             |    l.l_suppkey * 2 + 1 AS sn,
             |    COUNT(DISTINCT o.o_orderkey) AS cnt
             |  FROM orders o JOIN lineitem l
             |    ON o.o_orderkey = l.l_orderkey
             |  GROUP BY 1, 2),
             |e AS (SELECT c AS src, sn AS dst, 1000 // cnt AS w FROM ol
             |      UNION ALL SELECT sn, c, 1000 // cnt FROM ol),
             |seeds AS (SELECT c_custkey * 2 AS node FROM customer
             |          WHERE c_custkey % 700 = 0),
             |walk(node, d, hop) AS (
             |  SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
             |  UNION
             |  SELECT e.dst, w.d + e.w, w.hop + 1 FROM walk w
             |  JOIN e ON e.src = w.node WHERE w.hop < 3)
             |SELECT node, CAST(MIN(d) AS BIGINT) AS d
             |FROM walk GROUP BY node ORDER BY node""".stripMargin)),

    // first-order Markov transition matrix over per-user event
    // streams, exact ppm row-normalization, total-order lead
    Q("q183_transition_matrix",
      (s, dir) => Analytics.transitionMatrix(Tables(s, dir, "events")),
      Some("""WITH t AS (SELECT user_id AS u, event_type AS et, ts,
             |    event_id AS id
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL),
             |p AS (SELECT et AS from_type,
             |    lead(et, 1) OVER (PARTITION BY u ORDER BY ts, id)
             |      AS to_type
             |  FROM t),
             |c AS (SELECT from_type, to_type,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT from_type, CAST(SUM(cnt) AS BIGINT)
             |    AS row_total
             |  FROM c GROUP BY 1)
             |SELECT c.from_type, c.to_type, c.cnt, tot.row_total,
             |  c.cnt * 1000000 // tot.row_total AS p_ppm
             |FROM c JOIN tot ON tot.from_type = c.from_type
             |ORDER BY c.from_type, c.to_type""".stripMargin)),

    // 3-step ordered funnel (view → click → purchase, 7-day step
    // windows): greedy-earliest chain recurrence as k min-fold joins
    Q("q184_funnel_k",
      (s, dir) => Analytics.funnelK(Tables(s, dir, "events"),
        Seq("view", "click", "purchase")),
      Some("""WITH e AS (SELECT user_id AS u, event_type AS et,
             |    epoch_us(ts) AS tsv
             |  FROM events
             |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             |    AND ts IS NOT NULL),
             |s1 AS (SELECT u, MIN(tsv) AS t FROM e
             |  WHERE et = 'view' GROUP BY u),
             |s2 AS (SELECT e.u, MIN(e.tsv) AS t
             |  FROM e JOIN s1 ON e.u = s1.u
             |  WHERE e.et = 'click' AND e.tsv > s1.t
             |    AND e.tsv <= s1.t + 604800000000
             |  GROUP BY e.u),
             |s3 AS (SELECT e.u, MIN(e.tsv) AS t
             |  FROM e JOIN s2 ON e.u = s2.u
             |  WHERE e.et = 'purchase' AND e.tsv > s2.t
             |    AND e.tsv <= s2.t + 604800000000
             |  GROUP BY e.u)
             |SELECT 1 AS step_idx, 'view' AS step,
             |  CAST(COUNT(*) AS BIGINT) AS users FROM s1
             |UNION ALL SELECT 2, 'click', CAST(COUNT(*) AS BIGINT)
             |  FROM s2
             |UNION ALL SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT)
             |  FROM s3
             |ORDER BY step_idx""".stripMargin)),

    // exact-budget proportional stratified sample: largest-remainder
    // allocation + bounded-heap per-stratum selection
    Q("q185_proportional_sample",
      (s, dir) => Curation.proportionalSample(Tables(s, dir, "documents")),
      Some(s"""WITH h AS (SELECT source AS label, doc_id,
              |    (${duckMix31("doc_id")}) AS h FROM documents),
              |c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
              |  FROM h GROUP BY 1),
              |t AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM c),
              |a AS (SELECT label, n, (n * 100) // nn AS base,
              |    (n * 100) % nn AS rem
              |  FROM c CROSS JOIN t),
              |rk AS (SELECT label, n, base,
              |    row_number() OVER (ORDER BY rem DESC, label) AS rk,
              |    CAST((SELECT SUM(base) FROM a) AS BIGINT) AS sb
              |  FROM a),
              |al AS (SELECT label, n, base +
              |    CASE WHEN rk <= 100 - sb THEN 1 ELSE 0 END AS k
              |  FROM rk),
              |r AS (SELECT label, doc_id, h, ROW_NUMBER() OVER (
              |    PARTITION BY label ORDER BY h, doc_id) AS rn FROM h)
              |SELECT r.label, CAST(r.rn AS INTEGER) AS rn, r.doc_id,
              |  r.h, al.n, CAST(al.k AS BIGINT) AS k
              |FROM r JOIN al ON al.label = r.label
              |WHERE r.rn <= al.k
              |ORDER BY r.label, r.rn""".stripMargin)),

    // TPC-H Q5 shape: 6-way join with region pruning; same text on
    // both engines
    Q("q186_tpch_q5",
      (s, dir) => {
        Seq("customer", "orders", "lineitem", "supplier", "nation",
          "region")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ5Sql)
      },
      Some(TpchQ5Sql)),

    // Cohen's kappa between the declared lang and the q28 heuristic
    // lang-id — chance-corrected labeler agreement, exact rational
    Q("q187_annotator_agreement",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val pred = TextAnalysis.langId(docs)
          .select(col("doc_id"), col("lang_pred"))
        Audit.annotatorAgreement(
          docs.select(col("doc_id"), col("lang")).join(pred, "doc_id"),
          "lang", "lang_pred")
      },
      Some("""WITH sc AS (SELECT doc_id,
             |  len(list_filter(string_split(text,' '),
             |      t -> t IN ('the','a','of','and','to','in','is'))) AS s_en,
             |  len(list_filter(string_split(text,' '),
             |      t -> t IN ('el','la','de','los','y','en','es'))) AS s_es,
             |  len(list_filter(string_split(text,' '),
             |      t -> t IN ('le','la','de','les','et','en','est'))) AS s_fr
             |  FROM documents),
             |p AS (SELECT doc_id,
             |  CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
             |       WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             |       WHEN s_es >= s_fr THEN 'es'
             |       ELSE 'fr' END AS b
             |  FROM sc),
             |t AS (SELECT d.lang AS a, p.b
             |  FROM documents d JOIN p ON p.doc_id = d.doc_id
             |  WHERE d.lang IS NOT NULL AND p.b IS NOT NULL),
             |ct AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM t GROUP BY 1, 2),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM ct),
             |ag AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS agree
             |  FROM ct WHERE a = b),
             |ra AS (SELECT a, CAST(SUM(c) AS BIGINT) AS r
             |  FROM ct GROUP BY 1),
             |cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cc
             |  FROM ct GROUP BY 1),
             |s AS (SELECT CAST(COALESCE(SUM(r * cc), 0) AS BIGINT) AS s
             |  FROM ra JOIN cb ON cb.b = ra.a)
             |SELECT n.n, ag.agree, s.s,
             |  ag.agree * 1000000 // n.n AS po_ppm,
             |  (s.s * 1000000) // (n.n * n.n) AS pe_ppm,
             |  ag.agree * n.n - s.s AS kappa_num,
             |  n.n * n.n - s.s AS kappa_den
             |FROM n CROSS JOIN ag CROSS JOIN s""".stripMargin)),

    // Benford first-digit audit over order totals: integer cents →
    // decimal-string first digit, ppm deviation vs the Benford table
    Q("q188_benford_audit",
      (s, dir) => Audit.benford(Tables(s, dir, "orders"),
        "o_totalprice"),
      Some("""WITH c AS (SELECT CAST(round(o_totalprice * 100)
             |    AS BIGINT) AS c
             |  FROM orders WHERE o_totalprice > 0),
             |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1)
             |    AS INTEGER) AS digit FROM c),
             |cnt AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM d GROUP BY 1),
             |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cnt),
             |e AS (SELECT * FROM (VALUES
             |    (1, CAST(301030 AS BIGINT)), (2, CAST(176091 AS BIGINT)),
             |    (3, CAST(124939 AS BIGINT)), (4, CAST(96910 AS BIGINT)),
             |    (5, CAST(79181 AS BIGINT)), (6, CAST(66947 AS BIGINT)),
             |    (7, CAST(58503 AS BIGINT)), (8, CAST(51153 AS BIGINT)),
             |    (9, CAST(45757 AS BIGINT))) AS v(digit, exp_ppm))
             |SELECT cnt.digit, cnt.cnt,
             |  cnt.cnt * 1000000 // n.n AS obs_ppm, e.exp_ppm,
             |  abs(cnt.cnt * 1000000 // n.n - e.exp_ppm) AS dev_ppm
             |FROM cnt JOIN e ON e.digit = cnt.digit CROSS JOIN n
             |ORDER BY cnt.digit""".stripMargin)),

    // rank-based AUC: does `value` separate purchases from the rest —
    // exact Mann-Whitney with midrank ties, two-pass prefix ranks
    Q("q189_rank_auc",
      (s, dir) => Stats.rankAuc(
        Tables(s, dir, "events")
          .where(col("event_type").isNotNull)
          .withColumn("pos", col("event_type") === "purchase"),
        "value", "pos"),
      Some("""WITH t AS (SELECT
             |    CAST(floor(value * 1000000) AS BIGINT) AS vm,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |      AS pos
             |  FROM events
             |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
             |v AS (SELECT vm, CAST(COUNT(*) AS BIGINT) AS cnt,
             |    CAST(SUM(pos) AS BIGINT) AS pc
             |  FROM t GROUP BY 1),
             |c AS (SELECT vm, cnt, pc,
             |    CAST(SUM(cnt) OVER (ORDER BY vm) AS BIGINT) AS cum
             |  FROM v),
             |agg AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             |    CAST(SUM(pc) AS BIGINT) AS n_pos,
             |    CAST(SUM(pc * (2 * (cum - cnt) + cnt + 1)) AS BIGINT)
             |      AS r2
             |  FROM c)
             |SELECT n_pos, n - n_pos AS n_neg, r2,
             |  r2 - n_pos * (n_pos + 1) AS auc_num,
             |  2 * n_pos * (n - n_pos) AS auc_den,
             |  ((r2 - n_pos * (n_pos + 1)) * 1000000)
             |    // (2 * n_pos * (n - n_pos)) AS auc_ppm
             |FROM agg""".stripMargin)),

    // greedy max-coverage selection: 3 rounds of "pick the doc adding
    // the most uncovered 3-gram shingles"; oracle unrolls the rounds
    Q("q190_greedy_cover",
      (s, dir) => Curation.greedyCoverage(Tables(s, dir, "documents")),
      Some("""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
             |  FROM documents WHERE text IS NOT NULL),
             |sh AS (SELECT DISTINCT doc_id,
             |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
             |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
             |        FROM ws WHERE len(w) >= 3) t),
             |g1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
             |  FROM sh GROUP BY 1),
             |p1 AS (SELECT 1 AS round, doc_id, gain FROM g1
             |  ORDER BY gain DESC, doc_id LIMIT 1),
             |c1 AS (SELECT DISTINCT s FROM sh
             |  JOIN p1 ON p1.doc_id = sh.doc_id),
             |g2 AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
             |  FROM sh LEFT JOIN c1 ON c1.s = sh.s
             |  WHERE c1.s IS NULL GROUP BY 1),
             |p2 AS (SELECT 2 AS round, doc_id, gain FROM g2
             |  ORDER BY gain DESC, doc_id LIMIT 1),
             |c2 AS (SELECT s FROM c1 UNION
             |  SELECT s FROM sh JOIN p2 ON p2.doc_id = sh.doc_id),
             |g3 AS (SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
             |  FROM sh LEFT JOIN c2 ON c2.s = sh.s
             |  WHERE c2.s IS NULL GROUP BY 1),
             |p3 AS (SELECT 3 AS round, doc_id, gain FROM g3
             |  ORDER BY gain DESC, doc_id LIMIT 1)
             |SELECT round, doc_id, gain FROM p1
             |UNION ALL SELECT round, doc_id, gain FROM p2
             |UNION ALL SELECT round, doc_id, gain FROM p3
             |ORDER BY round""".stripMargin)),

    // CUSUM changepoints: the max(0, ·) recurrence in closed form
    // (prefix sum minus running min); integer-exact via cross-
    // multiplied drift, alarm at 25% of a mean day's volume
    Q("q191_cusum_changepoint",
      (s, dir) => Stats.cusumChangepoints(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS x
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |t AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS cnt,
             |    CAST(SUM(x) AS BIGINT) AS tot FROM daily GROUP BY 1),
             |p AS (SELECT d.grp, d.day, d.x, t.tot,
             |    SUM(t.cnt * d.x - t.tot) OVER (PARTITION BY d.grp
             |      ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW) AS p
             |  FROM daily d JOIN t ON t.grp = d.grp),
             |s AS (SELECT grp, day, x, tot,
             |    p - LEAST(0, MIN(p) OVER (PARTITION BY grp
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |      AND CURRENT ROW)) AS cusum
             |  FROM p)
             |SELECT grp, day, x, CAST(cusum AS BIGINT) AS cusum,
             |  cusum * 1000000 >= 250000 * tot AS alarm
             |FROM s ORDER BY grp, day""".stripMargin)),

    // chi-square independence: event type × 6h time-of-day band,
    // dense grid with zero cells, per-cell contribution in milli
    Q("q192_chi_square",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .where(col("event_type").isNotNull && col("ts").isNotNull)
          .select(col("event_type").as("a"),
            expr("(unix_micros(ts) div 3600000000) % 24 div 6").as("b"))
        Stats.chiSquareIndependence(e, "a", "b")
      },
      Some("""WITH d AS (SELECT event_type AS a,
             |    (epoch_us(ts) // 3600000000) % 24 // 6 AS b
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL),
             |ct AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS o
             |  FROM d GROUP BY 1, 2),
             |ra AS (SELECT a, CAST(SUM(o) AS BIGINT) AS rt
             |  FROM ct GROUP BY 1),
             |cb AS (SELECT b, CAST(SUM(o) AS BIGINT) AS ctot
             |  FROM ct GROUP BY 1),
             |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM ct),
             |grid AS (SELECT ra.a, cb.b, COALESCE(ct.o, 0) AS o,
             |    ra.rt * cb.ctot * 1000 // n.n AS e_milli
             |  FROM ra CROSS JOIN cb CROSS JOIN n
             |  LEFT JOIN ct ON ct.a = ra.a AND ct.b = cb.b)
             |SELECT a, b, o, e_milli,
             |  CASE WHEN e_milli > 0
             |    THEN (o * 1000 - e_milli) * (o * 1000 - e_milli)
             |      // (e_milli * 1000)
             |    ELSE 0 END AS contrib_milli
             |FROM grid ORDER BY a, b""".stripMargin)),

    // t-closeness: per-source EMD of the length-band distribution
    // vs the global one (ordered-attribute privacy audit)
    Q("q193_t_closeness",
      (s, dir) => Audit.tCloseness(
        Tables(s, dir, "documents").withColumn("band",
          expr("n_chars div 200")),
        Seq("source"), "band", tPpm = 100000L),
      Some("""WITH base AS (SELECT source, n_chars // 200 AS band
             |  FROM documents
             |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
             |cells AS (SELECT source, band,
             |    CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
             |bands AS (SELECT band, CAST(SUM(c) AS BIGINT) AS gc
             |  FROM cells GROUP BY 1),
             |bx AS (SELECT band, SUM(gc) OVER (ORDER BY band
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS gcum,
             |    ROW_NUMBER() OVER (ORDER BY band) AS bidx FROM bands),
             |nt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             |    CAST(COUNT(DISTINCT band) AS BIGINT) AS r FROM cells),
             |cls AS (SELECT source, CAST(SUM(c) AS BIGINT) AS gn
             |  FROM cells GROUP BY 1),
             |grid AS (SELECT cls.source, cls.gn, b.band, b.gcum,
             |    b.bidx, nt.n, nt.r, COALESCE(cells.c, 0) AS c
             |  FROM cls CROSS JOIN bx b CROSS JOIN nt
             |  LEFT JOIN cells ON cells.source = cls.source
             |    AND cells.band = b.band),
             |cum AS (SELECT source, gn, bidx, r,
             |    SUM(c) OVER (PARTITION BY source ORDER BY band
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS ccum,
             |    gcum, n FROM grid),
             |gaps AS (SELECT source, gn, r,
             |    abs(ccum * 1000000 // gn - gcum * 1000000 // n)
             |      AS gap_ppm
             |  FROM cum WHERE bidx < r OR r = 1)
             |SELECT source, gn,
             |  CAST(CASE WHEN r > 1 THEN SUM(gap_ppm) // (r - 1)
             |    ELSE 0 END AS BIGINT) AS emd_ppm,
             |  (CASE WHEN r > 1 THEN SUM(gap_ppm) // (r - 1)
             |    ELSE 0 END) > 100000 AS violates
             |FROM gaps GROUP BY source, gn, r
             |ORDER BY source""".stripMargin)),

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // avg-per-part subquery decorrelated into a per-part aggregate
    // broadcast back; the 0.2·avg comparison cross-multiplied exact
    // (qty·5·cnt < Σqty), money in cents, /7.0 as a cents floor
    Q("q194_tpch_q17",
      (s, dir) => {
        val pk = Tables(s, dir, "part")
          .where(col("p_brand") === "Brand#1")
          .select(col("p_partkey").as("l_partkey"))
        val mine = Tables(s, dir, "lineitem")
          .join(broadcast(pk), "l_partkey")
          .select(col("l_partkey"),
            col("l_quantity").cast("long").as("qty"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
              .as("price_c"))
          .localCheckpoint() // per-part stats + the probe share it
        val pa = mine.groupBy("l_partkey")
          .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cq"))
        mine.join(broadcast(pa), "l_partkey")
          .where(col("qty") * 5 * col("cq") < col("sq"))
          .agg(expr("sum(price_c) div 7").as("avg_yearly_c"))
      },
      Some("""WITH pk AS (SELECT p_partkey FROM part
             |  WHERE p_brand = 'Brand#1'),
             |mine AS (SELECT l.l_partkey,
             |    CAST(l.l_quantity AS BIGINT) AS qty,
             |    CAST(round(l.l_extendedprice * 100) AS BIGINT)
             |      AS price_c
             |  FROM lineitem l JOIN pk ON pk.p_partkey = l.l_partkey),
             |pa AS (SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sq,
             |    CAST(COUNT(*) AS BIGINT) AS cq FROM mine GROUP BY 1)
             |SELECT CAST(SUM(price_c) AS BIGINT) // 7 AS avg_yearly_c
             |FROM mine JOIN pa ON pa.l_partkey = mine.l_partkey
             |WHERE mine.qty * 5 * pa.cq < pa.sq""".stripMargin)),

    // exact two-sample KS distance: en vs zh document lengths,
    // sup ECDF gap cross-multiplied integer-exact
    Q("q195_ks_two_sample",
      (s, dir) => Stats.ksTwoSample(Tables(s, dir, "documents"),
        "lang", "n_chars", "en", "zh"),
      Some("""WITH per AS (SELECT n_chars AS v,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS ca,
             |    CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS cb
             |  FROM documents
             |  WHERE lang IN ('en', 'zh') AND n_chars IS NOT NULL
             |  GROUP BY 1),
             |cum AS (SELECT v,
             |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cuma,
             |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS cumb
             |  FROM per),
             |t AS (SELECT MAX(cuma) AS na, MAX(cumb) AS nb FROM cum),
             |d AS (SELECT v, na, nb,
             |    abs(cuma * nb - cumb * na) AS d
             |  FROM cum CROSS JOIN t)
             |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             |  CAST(d AS BIGINT) AS d_num,
             |  CAST(d * 1000000 // (na * nb) AS BIGINT) AS ks_ppm,
             |  v AS at_value
             |FROM d ORDER BY d DESC, v LIMIT 1""".stripMargin)),

    // decision stump: best Gini split of `value` against the
    // is-error label — the weak learner as a relational program
    Q("q196_decision_stump",
      (s, dir) => Stats.decisionStump(
        Tables(s, dir, "events")
          .where(col("event_type").isNotNull)
          .withColumn("is_err", (col("event_type") === "error").cast("int")),
        "value", "is_err"),
      Some("""WITH base AS (SELECT
             |    CAST(floor(value) AS BIGINT) AS t,
             |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |per AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c,
             |    CAST(SUM(y) AS BIGINT) AS p FROM base GROUP BY 1),
             |cum AS (SELECT t,
             |    SUM(c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS n_l,
             |    SUM(p) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS pos_l
             |  FROM per),
             |tot AS (SELECT MAX(n_l) AS n, MAX(pos_l) AS pos FROM cum),
             |cand AS (SELECT t, n_l, pos_l, n - n_l AS n_r,
             |    pos - pos_l AS pos_r, n
             |  FROM cum CROSS JOIN tot WHERE n_l < n)
             |SELECT t AS threshold, CAST(n_l AS BIGINT) AS n_l,
             |  CAST(pos_l AS BIGINT) AS pos_l,
             |  CAST(n_r AS BIGINT) AS n_r,
             |  CAST(pos_r AS BIGINT) AS pos_r,
             |  CAST((n_l * n_l - pos_l * pos_l -
             |        (n_l - pos_l) * (n_l - pos_l)) * 1000000
             |      // (n_l * n) +
             |      (n_r * n_r - pos_r * pos_r -
             |        (n_r - pos_r) * (n_r - pos_r)) * 1000000
             |      // (n_r * n) AS BIGINT) AS gini_ppm
             |FROM cand
             |ORDER BY (n_l * n_l - pos_l * pos_l -
             |        (n_l - pos_l) * (n_l - pos_l)) * 1000000
             |      // (n_l * n) +
             |      (n_r * n_r - pos_r * pos_r -
             |        (n_r - pos_r) * (n_r - pos_r)) * 1000000
             |      // (n_r * n), t
             |LIMIT 1""".stripMargin)),

    // Naive Bayes training as a count fold: Laplace-smoothed
    // (lang, token) likelihood head, top-20 tokens per class
    Q("q197_naive_bayes",
      (s, dir) => TextAnalysis.naiveBayesCounts(
        Tables(s, dir, "documents")),
      Some("""WITH tok AS (SELECT lang AS cls,
             |    unnest(string_split(text, ' ')) AS tok
             |  FROM documents
             |  WHERE lang IS NOT NULL AND text IS NOT NULL),
             |tk AS (SELECT cls, tok FROM tok WHERE len(tok) > 0),
             |ct AS (SELECT cls, tok, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM tk GROUP BY 1, 2),
             |tot AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS ct_total
             |  FROM ct GROUP BY 1),
             |v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
             |  FROM ct),
             |rk AS (SELECT ct.cls, ct.tok, ct.cnt,
             |    (ct.cnt + 1) * 1000000 // (tot.ct_total + v.v)
             |      AS lik_ppm,
             |    ROW_NUMBER() OVER (PARTITION BY ct.cls
             |      ORDER BY ct.cnt DESC, ct.tok) AS rn
             |  FROM ct JOIN tot ON tot.cls = ct.cls CROSS JOIN v)
             |SELECT cls, CAST(rn AS INT) AS rn, tok, cnt,
             |  CAST(lik_ppm AS BIGINT) AS lik_ppm
             |FROM rk WHERE rn <= 20 ORDER BY cls, rn""".stripMargin)),

    // quantile normalization: per-source length quantiles mapped
    // onto the global order statistics (rank arithmetic only)
    Q("q198_quantile_normalize",
      (s, dir) => Stats.quantileNormalize(
        Tables(s, dir, "documents"), "source", "n_chars", "doc_id"),
      Some("""WITH base AS (SELECT doc_id AS id, source AS grp,
             |    n_chars AS v
             |  FROM documents
             |  WHERE source IS NOT NULL AND n_chars IS NOT NULL
             |    AND doc_id IS NOT NULL),
             |rk AS (SELECT id, grp, v,
             |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v, id)
             |      AS r
             |  FROM base),
             |gn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS gn
             |  FROM base GROUP BY 1),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
             |ax AS (SELECT v AS norm_v,
             |    ROW_NUMBER() OVER (ORDER BY v, id) AS k FROM base)
             |SELECT rk.id AS id, rk.grp AS grp, rk.v AS v,
             |  ax.norm_v AS norm_v
             |FROM rk JOIN gn ON gn.grp = rk.grp CROSS JOIN t
             |JOIN ax ON ax.k = rk.r * t.n // gn.gn
             |ORDER BY id""".stripMargin)),

    // TPC-H Q6 shape (forecasting revenue change): pure scan-side
    // query — the date range and quantity predicates push into the
    // parquet scan (PushedFilters), the discount band filters the
    // two integer factors, and the whole query is one combinable
    // sum with NO join and NO wide shuffle. Revenue kept exact as
    // cents×pct (price_c · disc_pct), never a float product.
    Q("q199_tpch_q6",
      (s, dir) => Tables(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_quantity") < 24)
        .select(
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
            .as("price_c"),
          expr("CAST(round(l_discount * 100) AS BIGINT)")
            .as("disc_pct"))
        .where(col("disc_pct").between(5, 7))
        .agg(coalesce(sum(col("price_c") * col("disc_pct")), lit(0L))
          .as("revenue_c_pct")),
      Some("""SELECT COALESCE(CAST(SUM(
             |    CAST(round(l_extendedprice * 100) AS BIGINT) *
             |    CAST(round(l_discount * 100) AS BIGINT))
             |  AS BIGINT), 0) AS revenue_c_pct
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             |  AND l_shipdate < TIMESTAMP '1997-01-01'
             |  AND l_quantity < 24
             |  AND CAST(round(l_discount * 100) AS BIGINT)
             |    BETWEEN 5 AND 7""".stripMargin)),

    // TPC-H Q3 (same-text oracle like Q5/Q7/Q22): see TpchQ3Sql
    Q("q200_tpch_q3",
      (s, dir) => {
        Seq("customer", "orders", "lineitem")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ3Sql)
      },
      Some(TpchQ3Sql)),

    // Day-of-week seasonal baseline: per-(type,dow) exact lower
    // median of daily counts, days flagged vs 1.5×/0.5× bands —
    // the seasonal lens q158/q191 miss. Calendar-axis windows only.
    Q("q201_seasonal_baseline",
      (s, dir) => Stats.seasonalBaseline(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |d2 AS (SELECT grp, day, cnt, day % 7 AS dow FROM daily),
             |rk AS (SELECT grp, dow, day, cnt,
             |    ROW_NUMBER() OVER (PARTITION BY grp, dow
             |      ORDER BY cnt, day) AS rn,
             |    COUNT(*) OVER (PARTITION BY grp, dow) AS n
             |  FROM d2),
             |med AS (SELECT grp, dow, cnt AS med FROM rk
             |  WHERE rn = (n + 1) // 2)
             |SELECT d2.grp AS grp, d2.day AS day, d2.dow AS dow,
             |  d2.cnt AS cnt, med.med AS med,
             |  d2.cnt * 2 > med.med * 3 AS high,
             |  d2.cnt * 2 < med.med AS low
             |FROM d2 JOIN med ON med.grp = d2.grp AND med.dow = d2.dow
             |ORDER BY grp, day""".stripMargin)),

    // Vocabulary coverage curve: types (most-frequent-first) needed
    // to cover 50/90/99% of corpus token mass — cumulative mass over
    // the ranked vocab axis via the Par.prefixSum two-pass scan, the
    // covering rank recovered as 1 + count(short types) (no global
    // row_number), totals and targets broadcast.
    Q("q202_vocab_coverage",
      (s, dir) => TextAnalysis.vocabCoverage(Tables(s, dir, "documents")),
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM tk WHERE tok <> '' GROUP BY 1),
             |cum AS (SELECT tok, cnt,
             |    SUM(cnt) OVER (ORDER BY cnt DESC, tok
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum
             |  FROM c),
             |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens,
             |    CAST(COUNT(*) AS BIGINT) AS vocab_size FROM c),
             |p AS (SELECT unnest([50, 90, 99]) AS pct)
             |SELECT p.pct AS pct,
             |  CAST(SUM(CASE WHEN cum.cum * 100 < p.pct * t.total_tokens
             |    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS types_needed,
             |  CAST(MIN(CASE WHEN cum.cum * 100 >= p.pct * t.total_tokens
             |    THEN cum.cum END) AS BIGINT) AS covered_tokens,
             |  t.total_tokens AS total_tokens,
             |  t.vocab_size AS vocab_size
             |FROM cum CROSS JOIN t CROSS JOIN p
             |GROUP BY p.pct, t.total_tokens, t.vocab_size
             |ORDER BY pct""".stripMargin)),

    // Inverted index with bounded postings head: df/tf per token plus
    // the first 10 posting doc_ids through the WindowTopKRewrite
    // bounded heap — hot tokens cost O(k) map-side state, not O(df).
    // The postings head is emitted space-joined: the gate's pandas
    // canon cannot sort rows on an ARRAY cell (r04's one ERR row), so
    // no registered query returns an array column at the edge — the
    // typed array stays in the library API (invertedIndex itself).
    Q("q203_inverted_index",
      (s, dir) => TextAnalysis.invertedIndex(Tables(s, dir, "documents"))
        .withColumn("postings", array_join(col("postings"), " ")),
      Some("""WITH tk AS (SELECT doc_id,
             |    unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |post AS (SELECT tok, doc_id,
             |    CAST(COUNT(*) AS BIGINT) AS tf
             |  FROM tk WHERE tok <> '' GROUP BY 1, 2),
             |stats AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
             |    CAST(SUM(tf) AS BIGINT) AS tf_total
             |  FROM post GROUP BY 1),
             |hk AS (SELECT tok, doc_id, ROW_NUMBER() OVER
             |    (PARTITION BY tok ORDER BY doc_id) AS rn
             |  FROM post),
             |pl AS (SELECT tok,
             |    array_to_string(list_sort(list(doc_id)), ' ') AS postings
             |  FROM hk WHERE rn <= 10 GROUP BY 1)
             |SELECT s.tok AS tok, s.df AS df, s.tf_total AS tf_total,
             |  pl.postings AS postings
             |FROM stats s JOIN pl ON pl.tok = s.tok
             |ORDER BY tok""".stripMargin)),

    // Deterministic 2-round majority-vote label propagation over the
    // co-purchase graph — community detection on top of the q112/q155
    // edge derivation; ties to the smallest label, sizes folded last.
    Q("q204_label_propagation",
      // both orientations on purpose: a row (u,v) = "u hears v"
      (s, dir) => graft.ops.Graph.labelPropagation(
        graft.ops.CoPurchase.directed(s, dir)),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS o,
             |    l_partkey AS p FROM lineitem),
             |e AS (SELECT DISTINCT a.p AS u, b.p AS v
             |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
             |l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
             |v1 AS (SELECT e.u, l.label, COUNT(*) AS cnt
             |  FROM e JOIN l0 l ON l.node = e.v GROUP BY 1, 2),
             |r1 AS (SELECT u, label, ROW_NUMBER() OVER (PARTITION BY u
             |    ORDER BY cnt DESC, label) AS rn FROM v1),
             |l1 AS (SELECT u AS node, label FROM r1 WHERE rn = 1),
             |v2 AS (SELECT e.u, l.label, COUNT(*) AS cnt
             |  FROM e JOIN l1 l ON l.node = e.v GROUP BY 1, 2),
             |r2 AS (SELECT u, label, ROW_NUMBER() OVER (PARTITION BY u
             |    ORDER BY cnt DESC, label) AS rn FROM v2),
             |l2 AS (SELECT u AS node, label FROM r2 WHERE rn = 1),
             |cs AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS csize
             |  FROM l2 GROUP BY 1)
             |SELECT l2.node AS node, l2.label AS label, cs.csize AS csize
             |FROM l2 JOIN cs ON cs.label = l2.label
             |ORDER BY node""".stripMargin)),

    // TPC-H Q13 shape (same-text oracle): see TpchQ13Sql
    Q("q205_tpch_q13",
      (s, dir) => {
        Seq("customer", "orders")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ13Sql)
      },
      Some(TpchQ13Sql)),

    // TPC-H Q19 shape (same-text oracle): see TpchQ19Sql
    Q("q206_tpch_q19",
      (s, dir) => {
        Seq("lineitem", "part")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ19Sql)
      },
      Some(TpchQ19Sql)),

    // Count-min sketch token frequencies beside exact counts — the
    // point-query sketch complementing q123's Misra-Gries top-k; the
    // overshoot column is the standing collision-accuracy report.
    // Hashes engine-portable (poly31 → row-salted mix31), oracle
    // replays cells and estimates bit for bit.
    Q("q207_countmin_sketch",
      (s, dir) => graft.ops.HeavyHitters.countMin(Tables(s, dir, "documents")),
      Some(s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
              |  FROM documents),
              |ex AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact
              |  FROM tk WHERE tok <> '' GROUP BY 1),
              |th AS (SELECT tok, exact, ${duckPoly31("tok")} AS h
              |  FROM ex),
              |bk AS (SELECT tok, exact, r.r,
              |    (${duckMix31("h + r.r * 1000003")}) % 1024 AS bucket
              |  FROM th CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r),
              |cells AS (SELECT r, bucket, CAST(SUM(exact) AS BIGINT) AS cell
              |  FROM bk GROUP BY 1, 2),
              |est AS (SELECT bk.tok, MIN(c.cell) AS est
              |  FROM bk JOIN cells c ON c.r = bk.r AND c.bucket = bk.bucket
              |  GROUP BY 1)
              |SELECT ex.tok AS tok, ex.exact AS exact, est.est AS est,
              |  est.est - ex.exact AS overshoot
              |FROM ex JOIN est ON est.tok = ex.tok
              |WHERE ex.exact >= 10
              |ORDER BY tok""".stripMargin)),

    // Seeded-noise private count release: k-suppression + bounded
    // deterministic perturbation over (event_type, day) cells — the
    // disclosure-avoidance release shape, reproducible by seed so
    // every released cell is oracle-verified. Composes with the
    // k-anonymity / l-diversity / t-closeness audit trio.
    Q("q208_private_release",
      (s, dir) => Audit.privateRelease(Tables(s, dir, "events")),
      Some(s"""WITH cells AS (SELECT event_type AS grp,
              |    epoch_us(ts) // 86400000000 AS day,
              |    CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM events
              |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
              |  GROUP BY 1, 2),
              |h AS (SELECT grp, day, cnt,
              |    ${duckPoly31("grp")} + day AS ch
              |  FROM cells WHERE cnt >= 20)
              |SELECT grp, day,
              |  cnt + ((${duckMix31("ch")}) % 11) - 5 AS released
              |FROM h ORDER BY grp, day""".stripMargin)),

    // Poisson-bootstrap CI for per-group means: B=32 seeded
    // Poisson(1) weight replicates (fixed integer CDF table), one
    // combinable (grp, r) aggregate, [2nd, 31st] of the sorted
    // replicate means as the p05/p95 band — distributed uncertainty
    // quantification with every weight replayed by the oracle.
    Q("q209_bootstrap_ci",
      (s, dir) => Stats.bootstrapCi(Tables(s, dir, "events")),
      Some(s"""WITH r0 AS (SELECT event_type AS grp,
              |    CAST(floor(value * 1000000) AS BIGINT) AS x,
              |    (${duckMix31("event_id")}) AS h
              |  FROM events
              |  WHERE event_type IS NOT NULL AND value IS NOT NULL
              |    AND event_id IS NOT NULL),
              |u0 AS (SELECT grp, x, r.r,
              |    (${duckMix31("h + r.r * 1000003")}) % 10000 AS u
              |  FROM r0 CROSS JOIN (SELECT unnest(range(0, 32)) AS r) r),
              |w0 AS (SELECT grp, x, r,
              |    CAST(CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
              |      WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3
              |      WHEN u < 9963 THEN 4 ELSE 5 END AS BIGINT) AS w
              |  FROM u0),
              |reps AS (SELECT grp, r,
              |    CAST(SUM(w * x) AS BIGINT) // CAST(SUM(w) AS BIGINT)
              |      AS mean_r
              |  FROM w0 GROUP BY 1, 2 HAVING SUM(w) > 0),
              |band AS (SELECT grp, ms[2] AS lo_micro, ms[31] AS hi_micro
              |  FROM (SELECT grp, list_sort(list(mean_r)) AS ms
              |        FROM reps GROUP BY 1)),
              |pt AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
              |    CAST(SUM(x) AS BIGINT) // COUNT(*) AS mean_micro
              |  FROM r0 GROUP BY 1)
              |SELECT pt.grp AS grp, pt.n AS n, pt.mean_micro AS mean_micro,
              |  band.lo_micro AS lo_micro, band.hi_micro AS hi_micro
              |FROM pt JOIN band ON band.grp = pt.grp
              |ORDER BY grp""".stripMargin)),

    // Classifier reliability table: quality score_micro binned
    // fixed-width vs the ground-truth lang='en' positive rate — the
    // calibration artifact published before trusting a threshold.
    Q("q210_calibration_table",
      (s, dir) => TextAnalysis.calibrationTable(Tables(s, dir, "documents")),
      Some("""WITH f AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
             |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
             |      AS n_uniq,
             |    CAST(len(list_filter(string_split(text,' '),
             |        t -> t IN ('the','a','of','and','to','in','is')))
             |      AS BIGINT) AS stop_cnt
             |  FROM documents),
             |p AS (SELECT lang,
             |    CAST((n_uniq*1000000)//n_words AS BIGINT) AS ttr_ppm,
             |    CAST((stop_cnt*1000000)//n_words AS BIGINT) AS stop_ppm,
             |    least(n_words, 100) * 10000 AS len_term
             |  FROM f),
             |sc AS (SELECT
             |    least((ttr_ppm*3 + stop_ppm*2 + len_term*1) // 600000, 9)
             |      AS bin,
             |    ttr_ppm*3 + stop_ppm*2 + len_term*1 AS score_micro,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
             |  FROM p)
             |SELECT CAST(bin AS BIGINT) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(CAST(SUM(score_micro) AS BIGINT) // COUNT(*) AS BIGINT)
             |    AS mean_score_micro,
             |  CAST(SUM(pos) AS BIGINT) AS pos,
             |  CAST(CAST(SUM(pos) AS BIGINT) * 1000000 // COUNT(*) AS BIGINT)
             |    AS pos_rate_ppm
             |FROM sc GROUP BY bin ORDER BY bin""".stripMargin)),

    // Bounded-round k-core peeling of the co-purchase graph (k=70
    // stabilizes in 3 rounds on this corpus — the stable flag is
    // part of the contract and the oracle recomputes it).
    Q("q211_kcore",
      (s, dir) => Graph.kCore(graft.ops.CoPurchase.directed(s, dir),
        k = 70L, rounds = 3),
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS o,
             |    l_partkey AS p FROM lineitem),
             |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
             |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
             |d1 AS (SELECT u, COUNT(*) AS deg FROM e0 GROUP BY 1),
             |a1 AS (SELECT u FROM d1 WHERE deg >= 70),
             |e1 AS (SELECT e.u, e.v FROM e0 e
             |  JOIN a1 x ON x.u = e.u JOIN a1 y ON y.u = e.v),
             |d2 AS (SELECT u, COUNT(*) AS deg FROM e1 GROUP BY 1),
             |a2 AS (SELECT u FROM d2 WHERE deg >= 70),
             |e2 AS (SELECT e.u, e.v FROM e1 e
             |  JOIN a2 x ON x.u = e.u JOIN a2 y ON y.u = e.v),
             |d3 AS (SELECT u, COUNT(*) AS deg FROM e2 GROUP BY 1),
             |a3 AS (SELECT u FROM d3 WHERE deg >= 70),
             |e3 AS (SELECT e.u, e.v FROM e2 e
             |  JOIN a3 x ON x.u = e.u JOIN a3 y ON y.u = e.v)
             |SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg,
             |  (SELECT COUNT(*) FROM a2) = (SELECT COUNT(*) FROM a3)
             |    AS stable
             |FROM e3 GROUP BY u ORDER BY node""".stripMargin)),

    // k-NN label-noise audit: deterministic 1-in-20 sample, exact
    // 5-NN by the q25 micro-cosine contract (self excluded before
    // ranking), neighbor-majority vote vs own label.
    Q("q212_knn_label_audit",
      (s, dir) => Similarity.knnLabelAudit(Tables(s, dir, "embeddings")),
      Some(s"""WITH e AS (SELECT vec_id, label,
              |    embedding::DOUBLE[] AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
              |  FROM e WHERE vec_id % 20 = 0),
              |scored AS (SELECT q.q_id, q.q_label,
              |    e.vec_id, e.label AS n_label,
              |    CAST(floor((${duckCos("q.qv", "e.v")}) * 1000000)
              |      AS BIGINT) AS cos_e6
              |  FROM e, q WHERE e.vec_id <> q.q_id),
              |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY cos_e6 DESC, vec_id) AS rank FROM scored),
              |votes AS (SELECT q_id, q_label, n_label,
              |    CAST(COUNT(*) AS BIGINT) AS votes
              |  FROM rk WHERE rank <= 5 GROUP BY 1, 2, 3),
              |mj AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY votes DESC, n_label) AS rn FROM votes)
              |SELECT q_id AS vec_id, q_label AS own_label,
              |  n_label AS maj_label, votes,
              |  n_label <> q_label AS suspect
              |FROM mj WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // Grid-density outliers: 3x3 neighborhood occupancy over a
    // (value-band x hour) grid, events in cells with density <= 10
    // flagged — local sparsity the global z-score/MAD gates miss.
    Q("q213_grid_density_outliers",
      (s, dir) => Stats.gridDensityOutliers(Tables(s, dir, "events")),
      Some("""WITH pts AS (SELECT event_id,
             |    CAST(floor(value / 20.0) AS BIGINT) AS gx,
             |    CAST(hour(ts) AS BIGINT) AS gy
             |  FROM events
             |  WHERE value IS NOT NULL AND ts IS NOT NULL
             |    AND event_id IS NOT NULL),
             |cells AS (SELECT gx, gy, COUNT(*) AS cnt
             |  FROM pts GROUP BY 1, 2),
             |f AS (SELECT gx + dx.x AS gx, gy + dy.y AS gy, cnt
             |  FROM cells
             |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS x) dx
             |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS y) dy),
             |dens AS (SELECT gx, gy, CAST(SUM(cnt) AS BIGINT) AS density
             |  FROM f GROUP BY 1, 2)
             |SELECT p.event_id AS event_id, p.gx AS gx, p.gy AS gy,
             |  d.density AS density
             |FROM pts p JOIN dens d ON d.gx = p.gx AND d.gy = p.gy
             |WHERE d.density <= 10
             |ORDER BY event_id""".stripMargin)),

    // Mutual-kNN pair mining: reciprocal top-5 within the 1-in-10
    // sample — the hub-killing precision filter of bitext/near-dup
    // candidate generation, both directional ranks reported.
    Q("q214_mutual_knn",
      (s, dir) => Similarity.mutualKnn(Tables(s, dir, "embeddings")),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |  FROM embeddings WHERE vec_id % 10 = 0),
              |scored AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id,
              |    CAST(floor((${duckCos("a.v", "b.v")}) * 1000000)
              |      AS BIGINT) AS cos_e6
              |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
              |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |    ORDER BY cos_e6 DESC, vec_id) AS rank FROM scored),
              |top AS (SELECT * FROM rk WHERE rank <= 5)
              |SELECT ab.q_id AS a_id, ab.vec_id AS b_id, ab.cos_e6,
              |  ab.rank AS rank_ab, ba.rank AS rank_ba
              |FROM top ab JOIN top ba
              |  ON ba.q_id = ab.vec_id AND ba.vec_id = ab.q_id
              |WHERE ab.q_id < ab.vec_id
              |ORDER BY a_id, b_id""".stripMargin)),

    // Join-cardinality preflight: 256-bucket histogram product
    // estimate vs the exact join count on the orders x lineitem
    // orderkey join — the re-plan gate before a 100 TB shuffle.
    Q("q215_join_cardinality",
      (s, dir) => Audit.joinCardinalityEstimate(
        Tables(s, dir, "orders"), Tables(s, dir, "lineitem"),
        "o_orderkey", "l_orderkey"),
      Some(s"""WITH ha AS (SELECT (${duckMix31("o_orderkey")}) % 256
              |      AS bucket, CAST(COUNT(*) AS BIGINT) AS ca
              |  FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1),
              |hb AS (SELECT (${duckMix31("l_orderkey")}) % 256
              |      AS bucket, CAST(COUNT(*) AS BIGINT) AS cb
              |  FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
              |est AS (SELECT COALESCE(CAST(SUM(ca * cb) AS BIGINT), 0)
              |    AS est FROM ha JOIN hb ON hb.bucket = ha.bucket),
              |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact
              |  FROM orders o JOIN lineitem l
              |    ON l.l_orderkey = o.o_orderkey)
              |SELECT est.est AS est, ex.exact AS exact,
              |  est.est * 1000000 // ex.exact AS ratio_ppm
              |FROM est CROSS JOIN ex""".stripMargin)),

    // Next-event prediction eval: first-order model trained on the
    // mix31-even user split, hit@1/hit@3 on held-out users, exact
    // ppm, cold-start priors scored as misses.
    Q("q216_next_event_eval",
      (s, dir) => Analytics.nextEventEval(Tables(s, dir, "events")),
      Some(s"""WITH pr AS (SELECT user_id AS u, event_type AS t,
              |    ts, event_id AS id,
              |    (${duckMix31("user_id")}) % 2 AS split
              |  FROM events
              |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
              |    AND ts IS NOT NULL),
              |px AS (SELECT u, t, split,
              |    LEAD(t) OVER (PARTITION BY u ORDER BY ts, id) AS nt
              |  FROM pr),
              |pairs AS (SELECT * FROM px WHERE nt IS NOT NULL),
              |cnts AS (SELECT t AS from_type, nt AS cand,
              |    CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM pairs WHERE split = 0 GROUP BY 1, 2),
              |rk AS (SELECT from_type, cand,
              |    ROW_NUMBER() OVER (PARTITION BY from_type
              |      ORDER BY cnt DESC, cand) AS rnk
              |  FROM cnts),
              |top AS (SELECT * FROM rk WHERE rnk <= 3),
              |ev AS (SELECT p.t, p.nt, top.rnk
              |  FROM pairs p LEFT JOIN top
              |    ON top.from_type = p.t AND top.cand = p.nt
              |  WHERE p.split = 1)
              |SELECT t AS from_type, CAST(COUNT(*) AS BIGINT) AS n_eval,
              |  CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS hit1,
              |  CAST(SUM(CASE WHEN rnk IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS hit3,
              |  CAST(SUM(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |    * 1000000 // COUNT(*) AS hit1_ppm,
              |  CAST(SUM(CASE WHEN rnk IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) * 1000000 // COUNT(*) AS hit3_ppm
              |FROM ev GROUP BY t ORDER BY from_type""".stripMargin)),

    // Per-dimension embedding whitening in the q66 micro contract:
    // floored micro means, exact integer deviations, floor-sqrt
    // scale, floor-division z in ppm (dims with zero variance drop).
    Q("q217_whiten_embeddings",
      (s, dir) => Similarity.whitenEmbeddings(Tables(s, dir, "embeddings")),
      Some("""WITH e AS (SELECT vec_id,
             |    generate_subscripts(embedding, 1) - 1 AS idx,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
             |      AS BIGINT) AS micro
             |  FROM embeddings),
             |mn AS (SELECT idx, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(micro) AS BIGINT) // COUNT(*) AS mean_micro
             |  FROM e GROUP BY 1),
             |dv AS (SELECT e.vec_id, e.idx,
             |    e.micro - mn.mean_micro AS dev
             |  FROM e JOIN mn ON mn.idx = e.idx),
             |sd AS (SELECT idx,
             |    CAST(floor(sqrt(CAST(SUM(dev * dev) AS DOUBLE)
             |      / COUNT(*))) AS BIGINT) AS sd_micro
             |  FROM dv GROUP BY 1)
             |SELECT dv.vec_id AS vec_id, CAST(dv.idx AS INTEGER) AS idx,
             |  (dv.dev * 1000000) // sd.sd_micro AS z_ppm
             |FROM dv JOIN sd ON sd.idx = dv.idx
             |WHERE sd.sd_micro > 0
             |ORDER BY vec_id, idx""".stripMargin)),

    // TPC-H Q4 shape (same-text oracle): see TpchQ4Sql
    Q("q218_tpch_q4",
      (s, dir) => {
        Seq("orders", "lineitem")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ4Sql)
      },
      Some(TpchQ4Sql)),

    // TPC-H Q8 shape (same-text oracle): see TpchQ8Sql
    Q("q219_tpch_q8",
      (s, dir) => {
        Seq("lineitem", "orders", "customer", "nation", "region",
            "supplier")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ8Sql)
      },
      Some(TpchQ8Sql)),

    // TPC-H Q10 shape (same-text oracle): see TpchQ10Sql
    Q("q220_tpch_q10",
      (s, dir) => {
        Seq("customer", "orders", "lineitem")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ10Sql)
      },
      Some(TpchQ10Sql)),

    // TPC-H Q14 shape (same-text oracle): see TpchQ14Sql
    Q("q221_tpch_q14",
      (s, dir) => {
        Seq("lineitem", "part")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ14Sql)
      },
      Some(TpchQ14Sql)),

    // TPC-H Q15 shape (same-text oracle): see TpchQ15Sql
    Q("q222_tpch_q15",
      (s, dir) => {
        Seq("lineitem", "supplier")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ15Sql)
      },
      Some(TpchQ15Sql)),

    // Seeded contrastive negative sampling: k uniform draws per
    // anchor over the dense id ranking (Par.globalRowNumber — no
    // single-partition sort), exact-dup draws dropped by the q30
    // fingerprint. Every draw oracle-replayed.
    Q("q223_negative_samples",
      (s, dir) => Curation.negativeSamples(Tables(s, dir, "documents")),
      Some(s"""WITH ids AS (SELECT doc_id AS id,
              |    ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk
              |  FROM documents),
              |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
              |  FROM documents),
              |probes AS (SELECT a.id AS anchor_id, j.j,
              |    (${duckMix31("a.id * 7 + j.j")}) % nn.n AS r
              |  FROM ids a
              |  CROSS JOIN (SELECT unnest(range(1, 4)) AS j) j
              |  CROSS JOIN nn
              |  WHERE a.id % 10 = 0),
              |neg AS (SELECT p.anchor_id, p.j, i.id AS neg_id
              |  FROM probes p JOIN ids i ON i.rk = p.r),
              |fp AS (SELECT doc_id,
              |    md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
              |  FROM documents)
              |SELECT g.anchor_id AS anchor_id, CAST(g.j AS BIGINT) AS j,
              |  g.neg_id AS neg_id
              |FROM neg g
              |JOIN fp fa ON fa.doc_id = g.anchor_id
              |JOIN fp fb ON fb.doc_id = g.neg_id
              |WHERE fa.fp <> fb.fp
              |ORDER BY anchor_id, j""".stripMargin)),

    // STL-lite decomposition: calendar-centered 7-day trend (RANGE
    // frame, full windows only), per-dow lower-median seasonal of
    // the detrended series, exact residual. cnt = trend + seasonal
    // + resid, verified per component.
    Q("q224_stl_decompose",
      (s, dir) => Stats.stlDecompose(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |tr0 AS (SELECT grp, day, cnt,
             |    COUNT(*) OVER w AS win_n,
             |    CAST(SUM(cnt) OVER w AS BIGINT) AS win_sum
             |  FROM daily
             |  WINDOW w AS (PARTITION BY grp ORDER BY day
             |    RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |tr AS (SELECT grp, day, cnt, win_sum // 7 AS trend,
             |    cnt - win_sum // 7 AS detr, day % 7 AS dow
             |  FROM tr0 WHERE win_n = 7),
             |rk AS (SELECT grp, dow, detr, day,
             |    ROW_NUMBER() OVER (PARTITION BY grp, dow
             |      ORDER BY detr, day) AS rn,
             |    COUNT(*) OVER (PARTITION BY grp, dow) AS n
             |  FROM tr),
             |seas AS (SELECT grp, dow, detr AS seasonal FROM rk
             |  WHERE rn = (n + 1) // 2)
             |SELECT tr.grp AS grp, tr.day AS day, tr.cnt AS cnt,
             |  tr.trend AS trend, seas.seasonal AS seasonal,
             |  tr.detr - seas.seasonal AS resid
             |FROM tr JOIN seas ON seas.grp = tr.grp AND seas.dow = tr.dow
             |ORDER BY grp, day""".stripMargin)),

    // Holt linear smoothing: integer milli-unit (level, trend) fold
    // over the sorted per-group day list (HOF aggregate, calendar-
    // bounded state), one-step forecast = l + b. The (l, b) state is
    // packed into one BIGINT — DuckDB 1.0's list_reduce miscomputes
    // multi-field struct accumulators (its two-step fold disagrees
    // with its own single-step evaluation), so BOTH engines fold the
    // packed scalar and the oracle replays every step.
    Q("q225_holt_forecast",
      (s, dir) => Stats.holtForecast(Tables(s, dir, "events")),
      Some(HoltOracleSql)),

    // Near-dup span alignment: longest common contiguous shingle run
    // per candidate pair via the diagonal gaps-and-islands pass —
    // the WHERE behind q21's near-dup verdicts.
    Q("q226_align_spans",
      (s, dir) => DocDedup.alignSpans(Tables(s, dir, "documents")),
      Some(AlignSpansOracleSql)),

    // ANN recall dashboard: SRP-LSH top-3 vs exact brute-force top-3
    // over the q25/q26 query set, per-query recall in exact ppm —
    // both chains fully restated in the oracle.
    Q("q227_ann_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.annRecallReport(emb, emb.where(col("vec_id") < 5),
          k = 3, planes = 6)
      },
      Some(s"""WITH ${duckSrpBits(6)},
              |bk AS (SELECT vec_id, SUM(bit << CAST(p AS INTEGER)) AS bucket
              |  FROM srpbits GROUP BY 1),
              |c AS (SELECT e.vec_id, e.v, bk.bucket
              |  FROM e JOIN bk USING (vec_id)),
              |q AS (SELECT vec_id AS q_id, v AS qv, bucket
              |  FROM c WHERE vec_id < 5),
              |ls AS (SELECT q.q_id, c.vec_id,
              |    CAST(floor((${duckCos("q.qv", "c.v")}) * 1000000)
              |      AS BIGINT) AS cos_e6
              |  FROM c JOIN q ON c.bucket = q.bucket),
              |lr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (
              |    PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
              |  FROM ls),
              |ann AS (SELECT q_id, vec_id FROM lr WHERE rank <= 3),
              |bs AS (SELECT q.q_id, e.vec_id,
              |    CAST(floor((${duckCos("q.qv", "e.v")}) * 1000000)
              |      AS BIGINT) AS cos_e6
              |  FROM e, q),
              |br AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (
              |    PARTITION BY q_id ORDER BY cos_e6 DESC, vec_id) AS rank
              |  FROM bs),
              |ex AS (SELECT q_id, vec_id FROM br WHERE rank <= 3)
              |SELECT ex.q_id AS q_id,
              |  CAST(COUNT(ann.vec_id) AS BIGINT) AS n_common,
              |  CAST(COUNT(ann.vec_id) AS BIGINT) * 1000000 // 3
              |    AS recall_ppm
              |FROM ex LEFT JOIN ann
              |  ON ann.q_id = ex.q_id AND ann.vec_id = ex.vec_id
              |GROUP BY ex.q_id
              |ORDER BY q_id""".stripMargin)),

    // Lang-ID eval: per-class precision/recall/F1 of q28's heuristic
    // against ground truth, classes = truth ∪ predictions, exact ppm
    // with 0/0 guards. The confusion-matrix marginal report.
    Q("q228_langid_eval",
      (s, dir) => TextAnalysis.langIdEval(Tables(s, dir, "documents")),
      Some("""WITH sc AS (SELECT doc_id, lang AS truth,
             |    len(list_filter(string_split(text,' '),
             |      t -> t IN ('the','a','of','and','to','in','is'))) AS s_en,
             |    len(list_filter(string_split(text,' '),
             |      t -> t IN ('el','la','de','los','y','en','es'))) AS s_es,
             |    len(list_filter(string_split(text,' '),
             |      t -> t IN ('le','la','de','les','et','en','est'))) AS s_fr
             |  FROM documents),
             |pr AS (SELECT truth,
             |    CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
             |         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
             |         WHEN s_es >= s_fr THEN 'es'
             |         ELSE 'fr' END AS pred
             |  FROM sc),
             |cells AS (SELECT truth, pred, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM pr GROUP BY 1, 2),
             |classes AS (SELECT truth AS cls FROM cells
             |  UNION SELECT pred FROM cells),
             |tt AS (SELECT truth AS cls, CAST(SUM(c) AS BIGINT) AS n_truth
             |  FROM cells GROUP BY 1),
             |pt AS (SELECT pred AS cls, CAST(SUM(c) AS BIGINT) AS n_pred
             |  FROM cells GROUP BY 1),
             |tp AS (SELECT truth AS cls, c AS tp FROM cells
             |  WHERE truth = pred),
             |j AS (SELECT cl.cls,
             |    COALESCE(tp.tp, 0) AS tp,
             |    COALESCE(tt.n_truth, 0) AS n_truth,
             |    COALESCE(pt.n_pred, 0) AS n_pred
             |  FROM classes cl
             |  LEFT JOIN tt ON tt.cls = cl.cls
             |  LEFT JOIN pt ON pt.cls = cl.cls
             |  LEFT JOIN tp ON tp.cls = cl.cls),
             |pr2 AS (SELECT cls, tp, n_truth, n_pred,
             |    CASE WHEN n_pred > 0 THEN tp * 1000000 // n_pred
             |         ELSE 0 END AS precision_ppm,
             |    CASE WHEN n_truth > 0 THEN tp * 1000000 // n_truth
             |         ELSE 0 END AS recall_ppm
             |  FROM j)
             |SELECT cls, tp, n_truth, n_pred, precision_ppm, recall_ppm,
             |  CASE WHEN precision_ppm + recall_ppm > 0
             |    THEN 2 * precision_ppm * recall_ppm //
             |         (precision_ppm + recall_ppm)
             |    ELSE 0 END AS f1_ppm
             |FROM pr2 ORDER BY cls""".stripMargin)),

    // Referential-integrity sweep over the declared FK graph: child
    // rows, distinct keys, orphans per relationship — each check one
    // broadcast anti-join, unioned into the report.
    Q("q229_integrity_sweep",
      (s, dir) => Audit.integritySweep(Seq(
        ("customer.nation", Tables(s, dir, "customer"), "c_nationkey",
          Tables(s, dir, "nation"), "n_nationkey"),
        ("lineitem.orders", Tables(s, dir, "lineitem"), "l_orderkey",
          Tables(s, dir, "orders"), "o_orderkey"),
        ("lineitem.part", Tables(s, dir, "lineitem"), "l_partkey",
          Tables(s, dir, "part"), "p_partkey"),
        ("lineitem.supplier", Tables(s, dir, "lineitem"), "l_suppkey",
          Tables(s, dir, "supplier"), "s_suppkey"),
        ("nation.region", Tables(s, dir, "nation"), "n_regionkey",
          Tables(s, dir, "region"), "r_regionkey"),
        ("orders.customer", Tables(s, dir, "orders"), "o_custkey",
          Tables(s, dir, "customer"), "c_custkey"),
        ("supplier.nation", Tables(s, dir, "supplier"), "s_nationkey",
          Tables(s, dir, "nation"), "n_nationkey"))),
      Some("""SELECT 'customer.nation' AS fk,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             |   WHERE c_nationkey IS NOT NULL) AS child_rows,
             |  (SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT)
             |   FROM customer) AS child_keys,
             |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
             |   WHERE c_nationkey IS NOT NULL AND c_nationkey NOT IN
             |     (SELECT n_nationkey FROM nation
             |      WHERE n_nationkey IS NOT NULL)) AS orphan_rows
             |UNION ALL SELECT 'lineitem.orders',
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_orderkey IS NOT NULL),
             |  (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem),
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
             |     (SELECT o_orderkey FROM orders
             |      WHERE o_orderkey IS NOT NULL))
             |UNION ALL SELECT 'lineitem.part',
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_partkey IS NOT NULL),
             |  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem),
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_partkey IS NOT NULL AND l_partkey NOT IN
             |     (SELECT p_partkey FROM part
             |      WHERE p_partkey IS NOT NULL))
             |UNION ALL SELECT 'lineitem.supplier',
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_suppkey IS NOT NULL),
             |  (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
             |  (SELECT COUNT(*) FROM lineitem
             |   WHERE l_suppkey IS NOT NULL AND l_suppkey NOT IN
             |     (SELECT s_suppkey FROM supplier
             |      WHERE s_suppkey IS NOT NULL))
             |UNION ALL SELECT 'nation.region',
             |  (SELECT COUNT(*) FROM nation
             |   WHERE n_regionkey IS NOT NULL),
             |  (SELECT COUNT(DISTINCT n_regionkey) FROM nation),
             |  (SELECT COUNT(*) FROM nation
             |   WHERE n_regionkey IS NOT NULL AND n_regionkey NOT IN
             |     (SELECT r_regionkey FROM region
             |      WHERE r_regionkey IS NOT NULL))
             |UNION ALL SELECT 'orders.customer',
             |  (SELECT COUNT(*) FROM orders
             |   WHERE o_custkey IS NOT NULL),
             |  (SELECT COUNT(DISTINCT o_custkey) FROM orders),
             |  (SELECT COUNT(*) FROM orders
             |   WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
             |     (SELECT c_custkey FROM customer
             |      WHERE c_custkey IS NOT NULL))
             |UNION ALL SELECT 'supplier.nation',
             |  (SELECT COUNT(*) FROM supplier
             |   WHERE s_nationkey IS NOT NULL),
             |  (SELECT COUNT(DISTINCT s_nationkey) FROM supplier),
             |  (SELECT COUNT(*) FROM supplier
             |   WHERE s_nationkey IS NOT NULL AND s_nationkey NOT IN
             |     (SELECT n_nationkey FROM nation
             |      WHERE n_nationkey IS NOT NULL))
             |ORDER BY fk""".stripMargin)),

    // Per-source dedup-rate dashboard: exact-duplicate share per
    // source via the q30 fingerprint — the corpus-mix health metric
    // a curation run reads before choosing dedup order.
    Q("q230_source_dedup_rates",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
        val fp = d.select(col("source"),
          md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fp"))
        fp.groupBy("source")
          .agg(count(lit(1)).as("docs"),
            countDistinct(col("fp")).as("uniq"))
          .select(col("source"), col("docs"), col("uniq"),
            (col("docs") - col("uniq")).as("dups"),
            expr("(docs - uniq) * 1000000 div docs").as("dup_ppm"))
          .orderBy("source")
      },
      Some("""WITH fp AS (SELECT source,
             |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
             |  FROM documents)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS docs,
             |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS uniq,
             |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS dups,
             |  (CAST(COUNT(*) AS BIGINT)
             |   - CAST(COUNT(DISTINCT fp) AS BIGINT)) * 1000000
             |    // COUNT(*) AS dup_ppm
             |FROM fp GROUP BY source ORDER BY source""".stripMargin)),

    // Joinable-column discovery: exact value-set Jaccard between key
    // columns across tables — the FK graph rediscovered from data
    // (the MinHash-sketch column-matching baseline).
    Q("q231_joinable_columns",
      (s, dir) => Audit.joinableColumns(joinableColSet(s, dir)),
      Some(s"""WITH $duckColumnsMelted,
              |sz AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
              |  FROM m GROUP BY 1),
              |ix AS (SELECT a.cid AS ca, b.cid AS cb,
              |    CAST(COUNT(*) AS BIGINT) AS inter
              |  FROM m a JOIN m b ON a.v = b.v AND a.cid < b.cid
              |  GROUP BY 1, 2),
              |j AS (SELECT ix.ca, ix.cb, ix.inter, sa.n AS na, sb.n AS nb,
              |    ix.inter * 1000000 // (sa.n + sb.n - ix.inter) AS jac_ppm
              |  FROM ix JOIN sz sa ON sa.cid = ix.ca
              |  JOIN sz sb ON sb.cid = ix.cb)
              |SELECT ca, cb, inter, na, nb, jac_ppm FROM j
              |WHERE jac_ppm >= 10000
              |ORDER BY ca, cb""".stripMargin)),

    // Length-balanced shard assignment: LPT-style round-robin deal
    // over the no-global-sort token ranking; per-shard totals and
    // signed ppm deviation from the ideal share.
    Q("q232_balanced_shards",
      (s, dir) => Curation.balancedShards(Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT doc_id AS id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |r AS (SELECT id, toks, ROW_NUMBER() OVER
             |    (ORDER BY -toks, id) AS rn FROM t),
             |a AS (SELECT toks, (rn - 1) % 8 AS shard FROM r),
             |sh AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(toks) AS BIGINT) AS tokens
             |  FROM a GROUP BY 1),
             |g AS (SELECT CAST(SUM(tokens) AS BIGINT) AS grand FROM sh)
             |SELECT sh.shard AS shard, sh.n_docs AS n_docs,
             |  sh.tokens AS tokens,
             |  (sh.tokens * 8 - g.grand) * 1000000 // g.grand AS dev_ppm
             |FROM sh CROSS JOIN g ORDER BY shard""".stripMargin)),

    // Matryoshka truncation distortion: mean |cos_prefix − cos_full|
    // per dimension prefix over the sampled pair set — which prefix
    // is safe to index before the q131 full-vector re-rank.
    Q("q233_mrl_distortion",
      (s, dir) => Similarity.mrlDistortion(Tables(s, dir, "embeddings")),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |  FROM embeddings WHERE vec_id % 20 = 0),
              |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |    a.v AS va, b.v AS vb
              |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
              |f AS (SELECT a_id, b_id, va, vb,
              |    CAST(floor((${duckCos("va", "vb")}) * 1000000)
              |      AS BIGINT) AS cos_full
              |  FROM p),
              |x AS (
              |  SELECT 8 AS dim, abs(CAST(floor(
              |      (${duckCos("va[1:8]", "vb[1:8]")}) * 1000000)
              |      AS BIGINT) - cos_full) AS err FROM f
              |  UNION ALL
              |  SELECT 16, abs(CAST(floor(
              |      (${duckCos("va[1:16]", "vb[1:16]")}) * 1000000)
              |      AS BIGINT) - cos_full) FROM f
              |  UNION ALL
              |  SELECT 32, abs(CAST(floor(
              |      (${duckCos("va[1:32]", "vb[1:32]")}) * 1000000)
              |      AS BIGINT) - cos_full) FROM f)
              |SELECT CAST(dim AS BIGINT) AS dim,
              |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
              |  CAST(SUM(err) AS BIGINT) // COUNT(*) AS mean_abs_err_e6
              |FROM x GROUP BY dim ORDER BY dim""".stripMargin)),

    // Rocchio PRF expansion: BM25 feedback set → terms ranked by
    // feedback-vs-corpus rate lift (cross-multiplied exact), query
    // terms and singleton-feedback terms excluded.
    Q("q234_prf_expansion",
      (s, dir) => TextAnalysis.prfExpansion(Tables(s, dir, "documents"),
        Seq("spark", "join", "window")),
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             |  FROM documents),
             |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tot
             |  FROM base),
             |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM (
             |    SELECT doc_id, dl, unnest(t) AS w FROM base)
             |  WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
             |dfT AS (SELECT w, COUNT(DISTINCT doc_id) AS df
             |  FROM tf GROUP BY 1),
             |fb AS (SELECT tf.doc_id AS doc_id,
             |    CAST(SUM(
             |      (((st.n - dfT.df + 1) * 1000000) // (dfT.df + 1))
             |        * 88000 * tf.tf
             |      // (40000 * tf.tf + 12000
             |          + 36 * ((1000 * tf.dl * st.n) // st.tot))
             |    ) AS BIGINT) AS score
             |  FROM tf CROSS JOIN st JOIN dfT USING (w)
             |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20),
             |dw AS (SELECT DISTINCT doc_id, w FROM (
             |    SELECT doc_id, unnest(t) AS w FROM base) WHERE w <> ''),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
             |ka AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM fb),
             |dfa AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df
             |  FROM dw GROUP BY 1),
             |fbdf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS fb_df
             |  FROM dw JOIN fb USING (doc_id)
             |  WHERE w NOT IN ('spark', 'join', 'window')
             |  GROUP BY 1 HAVING COUNT(*) >= 2)
             |SELECT fbdf.w AS term, fbdf.fb_df AS fb_df,
             |  dfa.df AS corpus_df,
             |  fbdf.fb_df * nn.n * 1000000 // (ka.k * dfa.df)
             |    AS lift_ppm
             |FROM fbdf JOIN dfa USING (w) CROSS JOIN nn CROSS JOIN ka
             |ORDER BY lift_ppm DESC, fb_df DESC, term
             |LIMIT 10""".stripMargin)),

    // One-way variance decomposition: eta² of value by event_type in
    // ppm — the effect-size gate before trusting a per-group
    // breakdown. Milli-exact SS terms against truncated means.
    Q("q235_variance_decomposition",
      (s, dir) => Stats.varianceDecomposition(Tables(s, dir, "events")),
      Some("""WITH x AS (SELECT event_type AS grp,
             |    CAST(floor(value * 1000) AS BIGINT) AS x
             |  FROM events
             |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
             |g AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g,
             |    CAST(SUM(x) AS BIGINT) AS s_g
             |  FROM x GROUP BY 1),
             |g2 AS (SELECT grp, n_g, s_g, s_g // n_g AS mean_g FROM g),
             |grand AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             |    CAST(SUM(s_g) AS BIGINT) // CAST(SUM(n_g) AS BIGINT)
             |      AS mean
             |  FROM g2),
             |ssw AS (SELECT CAST(SUM((x.x - g2.mean_g) * (x.x - g2.mean_g))
             |      AS BIGINT) AS ssw
             |  FROM x JOIN g2 ON g2.grp = x.grp),
             |ssb AS (SELECT CAST(SUM(n_g * (mean_g - grand.mean)
             |      * (mean_g - grand.mean)) AS BIGINT) AS ssb,
             |    CAST(COUNT(*) AS BIGINT) AS n_groups
             |  FROM g2 CROSS JOIN grand)
             |SELECT grand.n AS n, ssb.n_groups AS n_groups,
             |  ssb.ssb AS ssb, ssw.ssw AS ssw,
             |  CAST(floor(CAST(ssb.ssb AS DOUBLE) * 1000000 /
             |    CAST(ssb.ssb + ssw.ssw AS DOUBLE)) AS BIGINT)
             |    AS eta2_ppm
             |FROM grand CROSS JOIN ssb CROSS JOIN ssw""".stripMargin)),

    // Split-calibrated threshold: deepest calibration-prefix cutoff
    // meeting the precision floor (max recall at target), graded on
    // the held-out split. Prefix scan via the two-pass primitives —
    // no single-partition window.
    Q("q236_threshold_calibration",
      (s, dir) => TextAnalysis.thresholdCalibration(
        Tables(s, dir, "documents")),
      Some(s"""WITH f AS (SELECT doc_id, lang,
              |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
              |    CAST(len(list_distinct(string_split(text,' ')))
              |      AS BIGINT) AS n_uniq,
              |    CAST(len(list_filter(string_split(text,' '),
              |        t -> t IN ('the','a','of','and','to','in','is')))
              |      AS BIGINT) AS stop_cnt
              |  FROM documents),
              |sc AS (SELECT doc_id,
              |    CAST((n_uniq*1000000)//n_words AS BIGINT) * 3
              |      + CAST((stop_cnt*1000000)//n_words AS BIGINT) * 2
              |      + least(n_words, 100) * 10000 AS score_micro,
              |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos,
              |    (${duckMix31("doc_id")}) % 2 AS split
              |  FROM f),
              |cal AS (SELECT doc_id, score_micro, pos,
              |    ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
              |      AS rnk,
              |    SUM(pos) OVER (ORDER BY score_micro DESC, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS cum_pos
              |  FROM sc WHERE split = 0),
              |ch AS (SELECT CAST(MAX(rnk) AS BIGINT) AS cal_rank
              |  FROM cal WHERE cum_pos * 1000000 >= 500000 * rnk),
              |thr AS (SELECT ch.cal_rank, cal.score_micro
              |      AS threshold_micro
              |  FROM ch JOIN cal ON cal.rnk = ch.cal_rank),
              |ev AS (SELECT sc.score_micro, sc.pos FROM sc
              |  WHERE split = 1)
              |SELECT thr.cal_rank AS cal_rank,
              |  thr.threshold_micro AS threshold_micro,
              |  CAST(COUNT(*) AS BIGINT) AS eval_n,
              |  CAST(SUM(CASE WHEN ev.score_micro >= thr.threshold_micro
              |    THEN 1 ELSE 0 END) AS BIGINT) AS eval_pred,
              |  CAST(SUM(CASE WHEN ev.score_micro >= thr.threshold_micro
              |    THEN ev.pos ELSE 0 END) AS BIGINT) AS eval_tp,
              |  CASE WHEN SUM(CASE WHEN ev.score_micro >=
              |      thr.threshold_micro THEN 1 ELSE 0 END) > 0
              |    THEN CAST(SUM(CASE WHEN ev.score_micro >=
              |      thr.threshold_micro THEN ev.pos ELSE 0 END)
              |      AS BIGINT) * 1000000
              |      // CAST(SUM(CASE WHEN ev.score_micro >=
              |      thr.threshold_micro THEN 1 ELSE 0 END) AS BIGINT)
              |    ELSE 0 END AS eval_precision_ppm,
              |  CASE WHEN SUM(ev.pos) > 0
              |    THEN CAST(SUM(CASE WHEN ev.score_micro >=
              |      thr.threshold_micro THEN ev.pos ELSE 0 END)
              |      AS BIGINT) * 1000000 // CAST(SUM(ev.pos) AS BIGINT)
              |    ELSE 0 END AS eval_recall_ppm
              |FROM ev CROSS JOIN thr
              |GROUP BY thr.cal_rank, thr.threshold_micro""".stripMargin)),

    // TPC-H Q12 shape (same-text oracle): see TpchQ12Sql
    Q("q237_tpch_q12",
      (s, dir) => {
        Seq("orders", "lineitem")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ12Sql)
      },
      Some(TpchQ12Sql)),

    // TPC-H Q16 shape (same-text oracle): see TpchQ16Sql
    Q("q238_tpch_q16",
      (s, dir) => {
        Seq("lineitem", "part", "supplier")
          .foreach(t => Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql(TpchQ16Sql)
      },
      Some(TpchQ16Sql)),

    // Bounded-round k-truss peel of the small-part co-purchase graph
    // (k=4: edges need ≥ 2 triangles) — the edge-cohesion filter
    // that kills bridges k-core keeps. Still shrinking at round 3 on
    // this corpus (1244 → 425 → 213 → 159) and the stable flag says
    // so honestly.
    Q("q239_ktruss",
      (s, dir) => Graph.kTruss(graft.ops.CoPurchase.undirectedSmall(s, dir),
        k = 4L, rounds = 3),
      Some("""WITH pk AS MATERIALIZED (SELECT p_partkey FROM part WHERE p_size <= 5),
             |li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |  FROM lineitem JOIN pk ON pk.p_partkey = l_partkey),
             |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
             |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
             |adj0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
             |sup0 AS MATERIALIZED (SELECT e.u, e.v, COUNT(*) AS sup FROM e0 e
             |  JOIN adj0 a1 ON a1.u = e.u
             |  JOIN adj0 a2 ON a2.u = e.v AND a2.v = a1.v
             |  GROUP BY e.u, e.v),
             |e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e
             |  JOIN sup0 s ON s.u = e.u AND s.v = e.v WHERE s.sup >= 2),
             |adj1 AS MATERIALIZED (SELECT u, v FROM e1 UNION ALL SELECT v, u FROM e1),
             |sup1 AS MATERIALIZED (SELECT e.u, e.v, COUNT(*) AS sup FROM e1 e
             |  JOIN adj1 a1 ON a1.u = e.u
             |  JOIN adj1 a2 ON a2.u = e.v AND a2.v = a1.v
             |  GROUP BY e.u, e.v),
             |e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e
             |  JOIN sup1 s ON s.u = e.u AND s.v = e.v WHERE s.sup >= 2),
             |adj2 AS MATERIALIZED (SELECT u, v FROM e2 UNION ALL SELECT v, u FROM e2),
             |sup2 AS MATERIALIZED (SELECT e.u, e.v, COUNT(*) AS sup FROM e2 e
             |  JOIN adj2 a1 ON a1.u = e.u
             |  JOIN adj2 a2 ON a2.u = e.v AND a2.v = a1.v
             |  GROUP BY e.u, e.v),
             |e3 AS MATERIALIZED (SELECT e.u, e.v FROM e2 e
             |  JOIN sup2 s ON s.u = e.u AND s.v = e.v WHERE s.sup >= 2),
             |adj3 AS MATERIALIZED (SELECT u, v FROM e3 UNION ALL SELECT v, u FROM e3),
             |supF AS MATERIALIZED (SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS sup
             |  FROM e3 e
             |  JOIN adj3 a1 ON a1.u = e.u
             |  JOIN adj3 a2 ON a2.u = e.v AND a2.v = a1.v
             |  GROUP BY e.u, e.v)
             |SELECT e.u AS u, e.v AS v,
             |  COALESCE(s.sup, 0) AS sup,
             |  (SELECT COUNT(*) FROM e2) = (SELECT COUNT(*) FROM e3)
             |    AS stable
             |FROM e3 e LEFT JOIN supF s ON s.u = e.u AND s.v = e.v
             |ORDER BY u, v""".stripMargin)),

    // Rank-biased precision of the BM25 ranking at p=1/2 — the
    // log-free retrieval metric, exact pico units; relevance =
    // contains ALL query terms; graded vs the ideal ranking.
    Q("q240_rbp_eval",
      (s, dir) => TextAnalysis.rbpEval(Tables(s, dir, "documents"),
        Seq("spark", "join", "window")),
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
             |  FROM documents),
             |st AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS tot
             |  FROM base),
             |tf AS (SELECT doc_id, dl, w, COUNT(*) AS tf FROM (
             |    SELECT doc_id, dl, unnest(t) AS w FROM base)
             |  WHERE w IN ('spark', 'join', 'window') GROUP BY 1, 2, 3),
             |dfT AS (SELECT w, COUNT(DISTINCT doc_id) AS df
             |  FROM tf GROUP BY 1),
             |fb AS (SELECT tf.doc_id AS doc_id,
             |    CAST(SUM(
             |      (((st.n - dfT.df + 1) * 1000000) // (dfT.df + 1))
             |        * 88000 * tf.tf
             |      // (40000 * tf.tf + 12000
             |          + 36 * ((1000 * tf.dl * st.n) // st.tot))
             |    ) AS BIGINT) AS score
             |  FROM tf CROSS JOIN st JOIN dfT USING (w)
             |  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 20),
             |rk AS (SELECT doc_id, ROW_NUMBER() OVER
             |    (ORDER BY score DESC, doc_id) AS rank FROM fb),
             |rel AS (SELECT doc_id, CAST(1 AS BIGINT) AS rel FROM base
             |  WHERE list_has_all(t, ['spark', 'join', 'window'])),
             |rr AS (SELECT rk.rank, COALESCE(rel.rel, 0) AS rel
             |  FROM rk LEFT JOIN rel USING (doc_id)),
             |nrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM rel),
             |ideal AS (SELECT CAST(SUM(
             |    1000000000000 // CAST(pow(2, r.r) AS BIGINT))
             |    AS BIGINT) AS ideal
             |  FROM (SELECT unnest(range(1,
             |    least(20, (SELECT n FROM nrel)) + 1)) AS r) r)
             |SELECT CAST((SELECT COUNT(*) FROM rr) AS BIGINT) AS n_ranked,
             |  CAST((SELECT SUM(rel) FROM rr) AS BIGINT) AS n_rel_ranked,
             |  nrel.n AS n_rel_total,
             |  CAST((SELECT SUM(rel * (1000000000000 //
             |    CAST(pow(2, rank) AS BIGINT))) FROM rr) AS BIGINT)
             |    AS rbp_pico,
             |  ideal.ideal AS ideal_pico,
             |  CAST((SELECT SUM(rel * (1000000000000 //
             |    CAST(pow(2, rank) AS BIGINT))) FROM rr) AS BIGINT)
             |    * 1000000 // ideal.ideal AS nrbp_ppm
             |FROM nrel CROSS JOIN ideal""".stripMargin)),

    // Watermark-lateness audit: per-type share of events a 1-hour
    // watermark would drop (arrival order = event id), plus worst
    // lateness — the measured basis for picking withWatermark.
    Q("q241_lateness_audit",
      (s, dir) => Temporal.latenessAudit(Tables(s, dir, "events"),
        delayUs = 3600000000L),
      Some("""WITH a AS (SELECT event_type AS grp, event_id AS id,
             |    epoch_us(ts) AS us
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |    AND event_id IS NOT NULL),
             |h AS (SELECT grp, us,
             |    MAX(us) OVER (PARTITION BY grp ORDER BY id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS hwm
             |  FROM a),
             |l AS (SELECT grp, us,
             |    greatest(hwm - 3600000000 - us, 0) AS late_us
             |  FROM h)
             |SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_late,
             |  CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) * 1000000 // COUNT(*) AS late_ppm,
             |  CAST(MAX(late_us) AS BIGINT) AS max_late_us
             |FROM l GROUP BY grp ORDER BY grp""".stripMargin)),

    // Heaps-law vocabulary growth: distinct types after each decile
    // of the corpus — first-occurrence charging, no per-checkpoint
    // rescan. Flattening curve ⇒ vocab saturation.
    Q("q242_vocab_growth",
      (s, dir) => TextAnalysis.vocabGrowth(Tables(s, dir, "documents")),
      Some("""WITH fd AS (SELECT tok, CAST(MIN(doc_id) AS BIGINT)
             |      AS first_doc
             |  FROM (SELECT doc_id, unnest(string_split(text, ' '))
             |      AS tok FROM documents)
             |  WHERE tok <> '' GROUP BY tok),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |rk AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id)
             |    AS rn FROM documents),
             |bounds AS (SELECT (rk.rn * 10 + nn.n - 1) // nn.n AS pct_x,
             |    CAST(MAX(rk.doc_id) AS BIGINT) AS bound
             |  FROM rk CROSS JOIN nn GROUP BY 1)
             |SELECT CAST(b.pct_x * 10 AS BIGINT) AS pct,
             |  b.bound AS bound,
             |  CAST(SUM(CASE WHEN fd.first_doc <= b.bound THEN 1
             |    ELSE 0 END) AS BIGINT) AS types
             |FROM fd CROSS JOIN bounds b
             |GROUP BY b.pct_x, b.bound
             |ORDER BY pct""".stripMargin)),

    // HITS hubs & authorities over the bipartite customer→part basket
    // graph (small-part slice): auth = part popularity weighted by
    // buyer breadth, hub = buyer breadth weighted by part popularity.
    // L1-normalized integer fixed point (floor rescale in
    // decimal/HUGEINT), so the oracle unrolls both pull-renorm rounds
    // and matches bit for bit. Part nodes offset by 1e8 so the two id
    // spaces can share one node column without collision.
    Q("q243_hits_copurchase",
      (s, dir) => {
        val pk = Tables(s, dir, "part").where(col("p_size") <= 5)
          .select(col("p_partkey").as("l_partkey"))
        val e = Tables(s, dir, "lineitem")
          .join(broadcast(pk), "l_partkey")
          .join(Tables(s, dir, "orders")
            .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
            "l_orderkey")
          .select(col("o_custkey").as("src"),
            (col("l_partkey") + lit(100000000L)).as("dst"))
        Graph.hits(e)
      },
      Some {
        def pull(in: String, out: String, from: String, to: String,
            inC: String, outC: String): String =
          s"""${out}r AS (SELECT e.$to AS node,
             |    CAST(SUM($in.$inC) AS HUGEINT) AS raw
             |  FROM e JOIN $in ON $in.node = e.$from GROUP BY 1),
             |$out AS (SELECT node, (raw * 1000000000000)
             |    // (SELECT SUM(raw) FROM ${out}r) AS $outC FROM ${out}r)"""
            .stripMargin
        s"""WITH pk AS (SELECT p_partkey FROM part WHERE p_size <= 5),
           |e AS (SELECT DISTINCT o.o_custkey AS src,
           |    l.l_partkey + 100000000 AS dst
           |  FROM lineitem l
           |  JOIN pk ON pk.p_partkey = l.l_partkey
           |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
           |srcs AS (SELECT DISTINCT src AS node FROM e),
           |h0 AS (SELECT node, 1000000000000
           |    // (SELECT COUNT(*) FROM srcs) AS hub FROM srcs),
           |${pull("h0", "a1", "src", "dst", "hub", "auth")},
           |${pull("a1", "h1", "dst", "src", "auth", "hub")},
           |${pull("h1", "a2", "src", "dst", "hub", "auth")},
           |${pull("a2", "h2", "dst", "src", "auth", "hub")}
           |SELECT COALESCE(a2.node, h2.node) AS node,
           |  CAST(COALESCE(a2.auth, 0) AS BIGINT) AS auth,
           |  CAST(COALESCE(h2.hub, 0) AS BIGINT) AS hub
           |FROM a2 FULL JOIN h2 ON a2.node = h2.node
           |ORDER BY auth DESC, node LIMIT 100""".stripMargin
      }),

    // Common-neighbor link prediction on the small-part co-purchase
    // graph: rank part pairs that are NOT co-purchased yet by shared
    // co-purchase partners (cn) with Jaccard-ppm tie-break — the
    // "frequently bought with both" recommendation candidate list.
    // The apex-degree ≤ 64 guard is part of the contract (and the
    // oracle): hub parts assert little and cost d² wedges.
    Q("q244_link_prediction",
      (s, dir) => Graph.linkPredict(
        graft.ops.CoPurchase.undirectedSmall(s, dir),
        topN = 50, maxApexDegree = 64L),
      Some("""WITH pk AS (SELECT p_partkey FROM part WHERE p_size <= 5),
             |li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
             |  FROM lineitem JOIN pk ON pk.p_partkey = l_partkey),
             |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
             |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
             |deg AS (SELECT node, COUNT(*) AS d FROM (
             |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
             |  GROUP BY 1),
             |adj AS (SELECT u AS apex, v AS nb FROM e0
             |  UNION ALL SELECT v, u FROM e0),
             |adjg AS (SELECT adj.apex, adj.nb FROM adj
             |  JOIN deg ON deg.node = adj.apex AND deg.d <= 64),
             |cand AS (SELECT a.nb AS u, b.nb AS v,
             |    CAST(COUNT(*) AS BIGINT) AS cn
             |  FROM adjg a JOIN adjg b
             |    ON a.apex = b.apex AND a.nb < b.nb
             |  GROUP BY 1, 2),
             |ne AS (SELECT c.u, c.v, c.cn FROM cand c
             |  LEFT JOIN e0 ON e0.u = c.u AND e0.v = c.v
             |  WHERE e0.u IS NULL)
             |SELECT ne.u, ne.v, ne.cn,
             |  CAST((ne.cn * 1000000) // (du.d + dv.d - ne.cn) AS BIGINT)
             |    AS jaccard_ppm
             |FROM ne JOIN deg du ON du.node = ne.u
             |  JOIN deg dv ON dv.node = ne.v
             |ORDER BY cn DESC, jaccard_ppm DESC, u, v
             |LIMIT 50""".stripMargin)),

    // Personalized PageRank from the p_size=1 parts over the
    // small-part co-purchase graph — random-walk-with-restart
    // proximity to a seed catalog slice, the graph recommendation
    // primitive q86's global rank can't express. Same floor
    // fixed-point contract as q86; teleport and initial mass live
    // only on the seeds, so the oracle's three unrolled iterations
    // carry a per-node seed CASE instead of a global base.
    Q("q245_ppr_copurchase",
      (s, dir) => {
        val e = graft.ops.CoPurchase.directedSmall(s, dir)
        val seeds = Tables(s, dir, "part").where(col("p_size") === 1)
          .select(col("p_partkey").as("node"))
        Graph.personalizedPageRank(e, seeds)
          .withColumnRenamed("node", "part_id")
          .withColumnRenamed("rank", "rank_p12")
      },
      Some {
        def iter(prev: String, cur: String): String =
          s"""$cur AS (SELECT n.node,
             |    MAX(CASE WHEN sd.node IS NOT NULL
             |      THEN ((1000000000000 // (SELECT COUNT(*) FROM sd))
             |            * 150000) // 1000000 ELSE 0 END)
             |    + COALESCE(SUM(
             |        (($prev.rank * 850000) // 1000000) // deg.d), 0)
             |      AS rank
             |  FROM n LEFT JOIN sd ON sd.node = n.node
             |  LEFT JOIN e ON e.dst = n.node
             |  LEFT JOIN $prev ON $prev.node = e.src
             |  LEFT JOIN deg ON deg.src = e.src
             |  GROUP BY n.node)""".stripMargin
        s"""WITH pk AS (SELECT p_partkey FROM part WHERE p_size <= 5),
           |li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
           |  FROM lineitem JOIN pk ON pk.p_partkey = l_partkey),
           |e AS (SELECT DISTINCT a.p AS src, b.p AS dst
           |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
           |n AS (SELECT DISTINCT node FROM
           |    (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |sd AS (SELECT node FROM n WHERE node IN
           |    (SELECT p_partkey FROM part WHERE p_size = 1)),
           |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
           |rk0 AS (SELECT n.node, CASE WHEN sd.node IS NOT NULL
           |    THEN 1000000000000 // (SELECT COUNT(*) FROM sd)
           |    ELSE 0 END AS rank
           |  FROM n LEFT JOIN sd ON sd.node = n.node),
           |${iter("rk0", "rk1")},
           |${iter("rk1", "rk2")},
           |${iter("rk2", "rk3")}
           |SELECT node AS part_id, CAST(rank AS BIGINT) AS rank_p12
           |FROM rk3 WHERE rank > 0
           |ORDER BY rank DESC, node LIMIT 100""".stripMargin
      }),

    // Approximate functional-dependency discovery over orders: the g₃
    // violation count per candidate A→B (rows to delete for the FD to
    // hold). o_orderkey→o_custkey certifies exactly (key); the others
    // measure how far the attribute pairs are from dependence — the
    // schema-curation signal for near-keys and dirty denormalization.
    Q("q246_fd_discovery",
      (s, dir) => Audit.fdDiscovery(Tables(s, dir, "orders"),
        Seq("o_orderkey" -> "o_custkey", "o_custkey" -> "o_orderstatus",
          "o_orderpriority" -> "o_orderstatus",
          "o_orderdate" -> "o_orderpriority")),
      Some {
        def pair(i: Int, det: String, dep: String): String =
          s"""g$i AS (SELECT $det AS a, $dep AS b, COUNT(*) AS c
             |  FROM orders WHERE $det IS NOT NULL GROUP BY 1, 2),
             |p$i AS (SELECT a, SUM(c) AS n, MAX(c) AS m FROM g$i
             |  GROUP BY 1),
             |r$i AS (SELECT '$det' AS det, '$dep' AS dep,
             |    CAST(COUNT(*) AS BIGINT) AS n_groups,
             |    CAST(SUM(n) AS BIGINT) AS n_rows,
             |    CAST(SUM(n - m) AS BIGINT) AS violations
             |  FROM p$i)""".stripMargin
        s"""WITH ${pair(1, "o_orderkey", "o_custkey")},
           |${pair(2, "o_custkey", "o_orderstatus")},
           |${pair(3, "o_orderpriority", "o_orderstatus")},
           |${pair(4, "o_orderdate", "o_orderpriority")},
           |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
           |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
           |SELECT det, dep, n_groups, n_rows, violations,
           |  CAST(violations * 1000000 // n_rows AS BIGINT)
           |    AS violation_ppm,
           |  violations = 0 AS holds
           |FROM u ORDER BY det, dep""".stripMargin
      }),

    // Autocorrelation (lags 1-3, ppm) of each event type's daily
    // count series — the persistence/seasonality fingerprint before
    // model selection. Deviations scaled by n (dev = n·x − Σx) keep
    // the mean-centering integer-exact; both engines' integer
    // division truncates toward zero, so negative acf floors agree.
    Q("q247_acf_daily",
      (s, dir) => Stats.acf(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS x
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |d AS (SELECT grp, day, x,
             |    CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n,
             |    CAST(SUM(x) OVER (PARTITION BY grp) AS BIGINT) AS s
             |  FROM daily),
             |dv AS (SELECT grp, n, n * x - s AS dev,
             |    LEAD(n * x - s, 1) OVER (PARTITION BY grp ORDER BY day)
             |      AS d1,
             |    LEAD(n * x - s, 2) OVER (PARTITION BY grp ORDER BY day)
             |      AS d2,
             |    LEAD(n * x - s, 3) OVER (PARTITION BY grp ORDER BY day)
             |      AS d3
             |  FROM d),
             |a AS (SELECT grp, CAST(MAX(n) AS BIGINT) AS n_days,
             |    SUM(dev * dev) AS den, SUM(dev * d1) AS num1,
             |    SUM(dev * d2) AS num2, SUM(dev * d3) AS num3
             |  FROM dv GROUP BY 1)
             |SELECT grp, n_days,
             |  CAST(num1 * 1000000 // nullif(den, 0) AS BIGINT)
             |    AS acf1_ppm,
             |  CAST(num2 * 1000000 // nullif(den, 0) AS BIGINT)
             |    AS acf2_ppm,
             |  CAST(num3 * 1000000 // nullif(den, 0) AS BIGINT)
             |    AS acf3_ppm
             |FROM a ORDER BY grp""".stripMargin)),

    // Greedy k-center (farthest-point) coreset over the embedding
    // corpus: 8 maximally-spread exemplars on the milli-quantized
    // grid, exact integer squared-L2, ties to the smaller id. The
    // oracle replays all 8 selection rounds relationally; d2_sel is
    // non-increasing and ends at the covering radius.
    Q("q248_kcenter_coreset",
      (s, dir) => Similarity.kCenterSelect(Tables(s, dir, "embeddings"),
        k = 8),
      Some {
        val d2 = (a: String, b: String) =>
          s"CAST(list_sum(list_transform(list_zip($a, $b), " +
            s"p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT)"
        val rounds = (2 to 8).map { i =>
          val (p, c, m) = (s"m${i - 1}", s"c$i", s"m$i")
          s"""$c AS (SELECT vec_id, q, md FROM $p
             |  ORDER BY md DESC, vec_id LIMIT 1),
             |$m AS (SELECT m.vec_id, m.q,
             |    LEAST(m.md, ${d2("m.q", s"$c.q")}) AS md
             |  FROM $p m CROSS JOIN $c)""".stripMargin
        }.mkString(",\n")
        val sel = (2 to 8).map(i =>
          s"SELECT $i AS sel_order, vec_id, md AS d2_sel FROM c$i")
          .mkString("\nUNION ALL ")
        s"""WITH e AS (SELECT vec_id,
           |    list_transform(embedding::DOUBLE[],
           |      x -> CAST(floor(x * 1000) AS BIGINT)) AS q
           |  FROM embeddings),
           |c1 AS (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 1),
           |m1 AS (SELECT e.vec_id, e.q, ${d2("e.q", "c1.q")} AS md
           |  FROM e CROSS JOIN c1),
           |$rounds
           |SELECT sel_order, vec_id, d2_sel FROM (
           |  SELECT 1 AS sel_order, vec_id, CAST(0 AS BIGINT) AS d2_sel
           |  FROM c1
           |  UNION ALL $sel)
           |ORDER BY sel_order""".stripMargin
      }),

    // Tokenizer fertility + encoding profile per language: tokens per
    // 100 chars (whitespace and the q29 BPE-ish regex), UTF-8 bytes
    // per whitespace token, non-ASCII character share — the corpus
    // planning table a token-budgeted mixture reads per language.
    Q("q249_fertility_profile",
      (s, dir) => TextAnalysis.fertilityProfile(Tables(s, dir, "documents")),
      Some("""WITH s AS (SELECT lang, COUNT(*) AS n_docs,
             |    SUM(length(text)) AS chars, SUM(strlen(text)) AS bytes,
             |    SUM(len(string_split(text, ' '))) AS ws,
             |    SUM(len(regexp_extract_all(text,
             |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS bpe,
             |    SUM(length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')))
             |      AS ascii
             |  FROM documents
             |  WHERE lang IS NOT NULL AND text IS NOT NULL
             |  GROUP BY 1)
             |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(chars AS BIGINT) AS chars,
             |  CAST(ws AS BIGINT) AS ws_tokens,
             |  CAST(bpe AS BIGINT) AS bpe_tokens,
             |  CAST(ws * 100000 // nullif(chars, 0) AS BIGINT)
             |    AS ws_per_100c_e3,
             |  CAST(bpe * 100000 // nullif(chars, 0) AS BIGINT)
             |    AS bpe_per_100c_e3,
             |  CAST(bytes * 1000 // nullif(ws, 0) AS BIGINT)
             |    AS bytes_per_ws_e3,
             |  CAST((chars - ascii) * 1000000 // nullif(chars, 0) AS BIGINT)
             |    AS non_ascii_ppm
             |FROM s ORDER BY lang""".stripMargin)),

    // Token-bucket alert throttling per user: burst of 3, sustained
    // 1/day, credit kept in µs-of-refill so the whole fold is
    // add/compare integer arithmetic. The Spark side is an in-plan
    // per-key array fold; the oracle replays the same recurrence as a
    // recursive CTE over row_number'd events — allowed flags and
    // arrival credit match bit for bit.
    Q("q250_token_bucket",
      (s, dir) => Temporal.tokenBucket(Tables(s, dir, "events"),
        capacity = 3, refillUs = 86400000000L),
      Some(tokenBucketOracle)),

    // STREAMING token-bucket throttle through the oracle gate: the
    // flatMapGroupsWithState twin (two longs of state per key) over
    // the single-microbatch event replay — decisions equal the batch
    // fold and therefore the same recursive-CTE oracle, bit for bit.
    Q("q251_stream_token_bucket",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline.tokenBucketStream(
          QueriesAlert.eventStream(s, dir), capacity = 3,
          refillUs = 86400000000L)
        QueriesAlert.drainToMemory(s, out.toDF(), "q251_sink",
          OutputMode.Append())
          .orderBy("user_id", "event_id")
      },
      Some(tokenBucketOracle)),

    // Kaplan-Meier churn survival over event-derived user lifetimes:
    // right-censored at the corpus edge (last-active within 3 days =
    // censored, leaves the risk set without counting as churn). The
    // ppm product floors per step, so the oracle's recursive CTE
    // replays the identical integer recurrence.
    Q("q252_survival_curve",
      (s, dir) => Analytics.survivalCurve(Tables(s, dir, "events"),
        censorDays = 3L),
      Some("""WITH RECURSIVE ev AS (SELECT user_id AS k,
             |    epoch_us(ts) // 86400000000 AS day
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |lt AS (SELECT k, MIN(day) AS fd, MAX(day) AS ld FROM ev
             |  GROUP BY 1),
             |g AS (SELECT MAX(ld) AS gmax FROM lt),
             |u AS (SELECT ld - fd AS t,
             |    CASE WHEN ld <= gmax - 3 THEN 1 ELSE 0 END AS churn
             |  FROM lt CROSS JOIN g),
             |tg AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS ends,
             |    CAST(SUM(churn) AS BIGINT) AS d
             |  FROM u GROUP BY 1),
             |grid AS (SELECT t,
             |    CAST(SUM(ends) OVER (ORDER BY t DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n,
             |    d, ROW_NUMBER() OVER (ORDER BY t) AS rn
             |  FROM tg),
             |km AS (
             |  SELECT rn, t, n, d, (1000000 * (n - d)) // n AS s
             |  FROM grid WHERE rn = 1
             |  UNION ALL
             |  SELECT g2.rn, g2.t, g2.n, g2.d,
             |    (km.s * (g2.n - g2.d)) // g2.n
             |  FROM grid g2 JOIN km ON g2.rn = km.rn + 1)
             |SELECT t, n AS n_risk, d AS d_churn, CAST(s AS BIGINT) AS s_ppm
             |FROM km ORDER BY t""".stripMargin)),

    // Walk-forward backtest of the q225 Holt model: the SAME
    // milli-integer recurrence, scoring each day's one-step-ahead
    // forecast before folding the day in — one traversal, n−1 honest
    // out-of-sample errors. Oracle replays the fold as a recursive
    // CTE (no list_reduce struct limitation there).
    Q("q253_walkforward_holt",
      (s, dir) => Stats.walkForwardHolt(Tables(s, dir, "events")),
      Some("""WITH RECURSIVE daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |rk AS (SELECT grp, cnt * 1000 AS cm,
             |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS rn
             |  FROM daily),
             |nd AS (SELECT grp, CAST(MAX(rn) AS BIGINT) AS n_days
             |  FROM rk GROUP BY 1),
             |st AS (
             |  SELECT grp, rn, cm AS l, CAST(0 AS BIGINT) AS b,
             |    CAST(0 AS BIGINT) AS se, CAST(0 AS BIGINT) AS me,
             |    CAST(0 AS BIGINT) AS k
             |  FROM rk WHERE rn = 1
             |  UNION ALL
             |  SELECT r.grp, r.rn,
             |    (500 * r.cm + 500 * (s.l + s.b)) // 1000,
             |    (300 * (((500 * r.cm + 500 * (s.l + s.b)) // 1000)
             |            - s.l) + 700 * s.b) // 1000,
             |    s.se + abs(r.cm - (s.l + s.b)),
             |    GREATEST(s.me, abs(r.cm - (s.l + s.b))),
             |    s.k + 1
             |  FROM rk r JOIN st s ON r.grp = s.grp AND r.rn = s.rn + 1)
             |SELECT st.grp, nd.n_days, st.k AS n_eval,
             |  CAST(st.se // st.k AS BIGINT) AS mae_milli,
             |  st.me AS max_err_milli
             |FROM st JOIN nd ON nd.grp = st.grp AND st.rn = nd.n_days
             |WHERE nd.n_days >= 2
             |ORDER BY st.grp""".stripMargin)),

    // Consistent-hash ring resize audit on the customer key space:
    // 8 → 10 shards, 16 vnodes. The per-shard report contrasts ring
    // movement (only keys the new shards take over) against naive
    // mod-N placement (most keys move) — the measured case for ring
    // placement before rebalancing a 100 TB keyed store.
    Q("q254_shard_rebalance",
      (s, dir) => Skew.consistentShardDiff(Tables(s, dir, "orders"),
        "o_custkey", shardsBefore = 8, shardsAfter = 10, vnodes = 16),
      Some {
        def ring(n: Int, as: String): String =
          s"""$as AS (SELECT CAST(s.shard AS BIGINT) AS shard,
             |    ${duckMix31("s.shard * 1000003 + v.v * 7919")} AS rpos
             |  FROM (SELECT unnest(range(0, $n)) AS shard) s
             |  CROSS JOIN (SELECT unnest(range(0, 16)) AS v) v)"""
            .stripMargin
        def assign(r: String, as: String, shardAs: String): String =
          s"""$as AS (SELECT k, shard AS $shardAs FROM (
             |    SELECT kp.k, $r.shard, ROW_NUMBER() OVER (
             |      PARTITION BY kp.k
             |      ORDER BY ($r.rpos < kp.kpos), $r.rpos, $r.shard) AS rn
             |    FROM kp CROSS JOIN $r)
             |  WHERE rn = 1)""".stripMargin
        s"""WITH ks AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k
           |  FROM orders WHERE o_custkey IS NOT NULL),
           |kp AS (SELECT k, ${duckMix31("k")} AS kpos FROM ks),
           |${ring(8, "rb")},
           |${ring(10, "ra")},
           |${assign("rb", "bef", "before")},
           |${assign("ra", "aft", "after")},
           |j AS (SELECT bef.k, bef.before, aft.after,
           |    kp.kpos % 8 AS mod_before, kp.kpos % 10 AS mod_after
           |  FROM bef JOIN aft USING (k) JOIN kp USING (k))
           |SELECT before AS shard, CAST(COUNT(*) AS BIGINT) AS n_keys,
           |  CAST(SUM(CASE WHEN before <> after THEN 1 ELSE 0 END)
           |    AS BIGINT) AS ring_moved,
           |  CAST(SUM(CASE WHEN before <> after THEN 1 ELSE 0 END)
           |    * 1000000 // COUNT(*) AS BIGINT) AS ring_moved_ppm,
           |  CAST(SUM(CASE WHEN mod_before <> mod_after THEN 1 ELSE 0 END)
           |    AS BIGINT) AS mod_moved,
           |  CAST(SUM(CASE WHEN mod_before <> mod_after THEN 1 ELSE 0 END)
           |    * 1000000 // COUNT(*) AS BIGINT) AS mod_moved_ppm
           |FROM j GROUP BY 1 ORDER BY shard""".stripMargin
      }),

    // Trending parts: current-half top-20 by shipment count with the
    // rank shift vs the previous half — change detection on top of
    // heavy hitters, with previous ranks computed only for the 20
    // probes (count-of-better against broadcast probes, no global
    // item sort anywhere).
    Q("q255_trending_parts",
      (s, dir) => HeavyHitters.trendingDelta(Tables(s, dir, "lineitem"),
        itemCol = "l_partkey", tsCol = "l_shipdate",
        splitIso = "1998-07-01", k = 20),
      Some("""WITH it AS (SELECT l_partkey AS item,
             |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-07-01'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt_prev,
             |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-07-01'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS cnt_cur
             |  FROM lineitem
             |  WHERE l_partkey IS NOT NULL AND l_shipdate IS NOT NULL
             |  GROUP BY 1),
             |cur AS (SELECT * FROM it WHERE cnt_cur > 0
             |  ORDER BY cnt_cur DESC, item LIMIT 20),
             |pr AS (SELECT item, CAST(ROW_NUMBER() OVER (
             |    ORDER BY cnt_prev DESC, item) AS BIGINT) AS prev_rank
             |  FROM it WHERE cnt_prev > 0),
             |rk AS (SELECT cur.*, CAST(ROW_NUMBER() OVER (
             |    ORDER BY cnt_cur DESC, item) AS BIGINT) AS rank_cur
             |  FROM cur)
             |SELECT rk.rank_cur, rk.item, rk.cnt_cur, rk.cnt_prev,
             |  CASE WHEN rk.cnt_prev > 0 THEN pr.prev_rank END
             |    AS prev_rank,
             |  CASE WHEN rk.cnt_prev > 0 THEN pr.prev_rank - rk.rank_cur
             |    END AS rank_delta,
             |  rk.cnt_prev = 0 AS is_new
             |FROM rk LEFT JOIN pr ON pr.item = rk.item
             |ORDER BY rk.rank_cur""".stripMargin)),

    // Forecast bake-off: naive / seasonal-naive / Holt walk-forward
    // MAE on the common eval rows (rn ≥ 8), winner per event type
    // with ties to the simpler model — the model-selection gate in
    // front of q225. Baselines are window lags; Holt replays the
    // q253 recursive fold with the eval-row condition.
    Q("q256_forecast_bakeoff",
      (s, dir) => Stats.forecastBakeoff(Tables(s, dir, "events")),
      Some("""WITH RECURSIVE daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |rk AS (SELECT grp, cnt * 1000 AS cm,
             |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY day) AS rn
             |  FROM daily),
             |lg AS (SELECT grp, rn, cm,
             |    LAG(cm, 1) OVER (PARTITION BY grp ORDER BY rn) AS l1,
             |    LAG(cm, 7) OVER (PARTITION BY grp ORDER BY rn) AS l7
             |  FROM rk),
             |base AS (SELECT grp, CAST(MAX(rn) AS BIGINT) AS n_days,
             |    CAST(SUM(CASE WHEN rn >= 8 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_eval,
             |    CAST(SUM(CASE WHEN rn >= 8 THEN abs(cm - l1) END)
             |      AS BIGINT) AS sen,
             |    CAST(SUM(CASE WHEN rn >= 8 THEN abs(cm - l7) END)
             |      AS BIGINT) AS ses
             |  FROM lg GROUP BY 1
             |  HAVING SUM(CASE WHEN rn >= 8 THEN 1 ELSE 0 END) > 0),
             |st AS (
             |  SELECT grp, rn, cm AS l, CAST(0 AS BIGINT) AS b,
             |    CAST(0 AS BIGINT) AS seh, CAST(0 AS BIGINT) AS k
             |  FROM rk WHERE rn = 1
             |  UNION ALL
             |  SELECT r.grp, r.rn,
             |    (500 * r.cm + 500 * (s.l + s.b)) // 1000,
             |    (300 * (((500 * r.cm + 500 * (s.l + s.b)) // 1000)
             |            - s.l) + 700 * s.b) // 1000,
             |    s.seh + CASE WHEN s.k >= 6
             |      THEN abs(r.cm - (s.l + s.b)) ELSE 0 END,
             |    s.k + 1
             |  FROM rk r JOIN st s ON r.grp = s.grp AND r.rn = s.rn + 1),
             |nd AS (SELECT grp, MAX(rn) AS mx FROM rk GROUP BY 1),
             |hf AS (SELECT st.grp, st.seh FROM st
             |  JOIN nd ON nd.grp = st.grp AND st.rn = nd.mx)
             |SELECT base.grp, base.n_days, base.n_eval,
             |  CAST(sen // n_eval AS BIGINT) AS mae_naive_milli,
             |  CAST(ses // n_eval AS BIGINT) AS mae_snaive_milli,
             |  CAST(hf.seh // n_eval AS BIGINT) AS mae_holt_milli,
             |  CASE
             |    WHEN sen // n_eval <= ses // n_eval
             |     AND sen // n_eval <= hf.seh // n_eval THEN 'naive'
             |    WHEN ses // n_eval <= hf.seh // n_eval THEN 'snaive'
             |    ELSE 'holt' END AS best
             |FROM base JOIN hf ON hf.grp = base.grp
             |ORDER BY base.grp""".stripMargin)),

    // Context-length sweep: per candidate max length, dropped-token /
    // truncated-doc shares, concat-packing lower bound, naive padding
    // waste — the exact tradeoff table behind picking a training
    // sequence length. Single corpus pass, |lengths|-way counter
    // explode.
    Q("q257_packing_sweep",
      (s, dir) => Curation.packingSweep(Tables(s, dir, "documents")),
      Some("""WITH t AS (SELECT CAST(len(string_split(text, ' '))
             |      AS BIGINT) AS tok
             |  FROM documents WHERE text IS NOT NULL),
             |x AS (SELECT tok, CAST(unnest([64, 128, 256, 512]) AS BIGINT)
             |    AS len FROM t),
             |a AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(tok) AS BIGINT) AS total_tokens,
             |    CAST(SUM(LEAST(tok, len)) AS BIGINT) AS kept_tokens,
             |    CAST(SUM(GREATEST(tok - len, 0)) AS BIGINT)
             |      AS dropped_tokens,
             |    CAST(SUM(CASE WHEN tok > len THEN 1 ELSE 0 END)
             |      AS BIGINT) AS truncated_docs
             |  FROM x GROUP BY 1)
             |SELECT len, n_docs, total_tokens, kept_tokens,
             |  dropped_tokens, truncated_docs,
             |  CAST(dropped_tokens * 1000000 // total_tokens AS BIGINT)
             |    AS dropped_ppm,
             |  CAST(truncated_docs * 1000000 // n_docs AS BIGINT)
             |    AS truncated_doc_ppm,
             |  CAST((kept_tokens + len - 1) // len AS BIGINT)
             |    AS packed_seqs_lb,
             |  CAST((n_docs * len - kept_tokens) * 1000000
             |    // (n_docs * len) AS BIGINT) AS naive_pad_ppm
             |FROM a ORDER BY len""".stripMargin)),

    // Temperature-α=1/2 mixture weights: per-source √n flattening vs
    // the natural share, plus draw quotas for a 100-doc budget.
    // ⌊√(n·10⁶)⌋ is integer-exact in both engines (n·10⁶ ≪ 2^52).
    Q("q258_temperature_mixture",
      (s, dir) => Curation.temperatureMixture(Tables(s, dir, "documents"),
        budget = 100L),
      Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
             |w AS (SELECT source, n_docs,
             |    CAST(floor(sqrt(n_docs * 1000000.0)) AS BIGINT)
             |      AS weight_e3
             |  FROM c),
             |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
             |    CAST(SUM(weight_e3) AS BIGINT) AS tw FROM w)
             |SELECT source, n_docs, weight_e3,
             |  CAST(n_docs * 1000000 // t.tn AS BIGINT) AS natural_ppm,
             |  CAST(weight_e3 * 1000000 // t.tw AS BIGINT) AS temp_ppm,
             |  CAST((100 * weight_e3) // t.tw AS BIGINT) AS quota
             |FROM w CROSS JOIN t ORDER BY source""".stripMargin)),

    // Leave-one-source-out quality ablation: corpus mean of the q78
    // integer quality score with each source removed — exact algebra
    // on global sums, one pass, no per-source rescan. Positive delta
    // = dropping the source raises corpus quality.
    Q("q259_loso_ablation",
      (s, dir) => Curation.losoQualityAblation(Tables(s, dir, "documents")),
      Some("""WITH f AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             |    CAST(len(list_distinct(string_split(text, ' ')))
             |      AS BIGINT) AS n_uniq,
             |    CAST(len(list_filter(string_split(text, ' '),
             |        t -> t IN ('the','a','of','and','to','in','is')))
             |      AS BIGINT) AS stop_cnt
             |  FROM documents),
             |p AS (SELECT doc_id,
             |    (n_uniq * 1000000) // n_words * 3
             |      + (stop_cnt * 1000000) // n_words * 2
             |      + least(n_words, 100) * 10000 AS score_micro
             |  FROM f),
             |sc AS (SELECT d.source, p.score_micro FROM p
             |  JOIN documents d USING (doc_id)
             |  WHERE d.source IS NOT NULL),
             |per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(score_micro) AS BIGINT) AS ssum
             |  FROM sc GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
             |    CAST(SUM(ssum) AS BIGINT) AS ts FROM per)
             |SELECT source, n_docs,
             |  CAST(ssum // n_docs AS BIGINT) AS mean_micro,
             |  CAST(ts // tn AS BIGINT) AS overall_micro,
             |  CAST(CASE WHEN tn > n_docs
             |    THEN (ts - ssum) // (tn - n_docs) END AS BIGINT)
             |    AS loso_micro,
             |  CAST(CASE WHEN tn > n_docs
             |    THEN (ts - ssum) // (tn - n_docs) - ts // tn END
             |    AS BIGINT) AS delta_micro
             |FROM per CROSS JOIN t ORDER BY source""".stripMargin)),

    // Dimension delta attribution: split the stream at its temporal
    // midpoint and decompose the overall count delta per value of
    // (event_type, day-of-week) — signed contribution ppm + traffic
    // share shift, the root-cause table behind "what moved the
    // metric".
    Q("q260_delta_attribution",
      (s, dir) => Analytics.deltaAttribution(Tables(s, dir, "events"),
        Seq("event_type" -> col("event_type"),
          "dow" -> pmod(expr("unix_micros(ts) div 86400000000"), lit(7L)))),
      Some("""WITH b AS (SELECT epoch_us(ts) AS us, event_type,
             |    (epoch_us(ts) // 86400000000) % 7 AS dow
             |  FROM events WHERE ts IS NOT NULL),
             |sp AS (SELECT (MIN(us) + MAX(us) + 1) // 2 AS s FROM b),
             |d1 AS (SELECT 'event_type' AS dim,
             |    CAST(event_type AS VARCHAR) AS value,
             |    CAST(SUM(CASE WHEN us < (SELECT s FROM sp)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS prev_cnt,
             |    CAST(SUM(CASE WHEN us >= (SELECT s FROM sp)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
             |  FROM b WHERE event_type IS NOT NULL GROUP BY 2),
             |d2 AS (SELECT 'dow' AS dim, CAST(dow AS VARCHAR) AS value,
             |    CAST(SUM(CASE WHEN us < (SELECT s FROM sp)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS prev_cnt,
             |    CAST(SUM(CASE WHEN us >= (SELECT s FROM sp)
             |      THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
             |  FROM b GROUP BY 2),
             |u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2),
             |t AS (SELECT CAST(SUM(prev_cnt) AS BIGINT) AS tp,
             |    CAST(SUM(cur_cnt) AS BIGINT) AS tc FROM d1)
             |SELECT dim, value, prev_cnt, cur_cnt,
             |  cur_cnt - prev_cnt AS delta,
             |  CAST((cur_cnt - prev_cnt) * 1000000
             |    // nullif(t.tc - t.tp, 0) AS BIGINT) AS contrib_ppm,
             |  CAST(cur_cnt * 1000000 // t.tc
             |    - prev_cnt * 1000000 // t.tp AS BIGINT)
             |    AS share_shift_ppm
             |FROM u CROSS JOIN t ORDER BY dim, value""".stripMargin)),

    // SRE burn rate: per day, error share of the trailing 1-day and
    // 7-day windows; page only when BOTH burn above the 20% budget
    // (fast window = happening now, slow window = not a blip).
    Q("q261_burn_rate",
      (s, dir) => Analytics.burnRate(Tables(s, dir, "events"),
        budgetPpm = 200000L),
      Some("""WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS tot_1d,
             |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1
             |      ELSE 0 END) AS BIGINT) AS err_1d
             |  FROM events
             |  WHERE ts IS NOT NULL AND event_type IS NOT NULL
             |  GROUP BY 1),
             |w AS (SELECT day, err_1d, tot_1d,
             |    CAST(SUM(tot_1d) OVER (ORDER BY day
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS tot_7d,
             |    CAST(SUM(err_1d) OVER (ORDER BY day
             |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS err_7d
             |  FROM d)
             |SELECT day, err_1d, tot_1d,
             |  CAST(err_1d * 1000000 // tot_1d AS BIGINT) AS ratio_1d_ppm,
             |  err_7d, tot_7d,
             |  CAST(err_7d * 1000000 // tot_7d AS BIGINT) AS ratio_7d_ppm,
             |  err_1d * 1000000 // tot_1d > 200000
             |    AND err_7d * 1000000 // tot_7d > 200000 AS page
             |FROM w ORDER BY day""".stripMargin)),

    // Conversion-latency percentiles for the view→purchase funnel:
    // nearest-rank p50/p90/p99 of first→second delays over converted
    // users — exact (value at ⌈p·n⌉), global order via the two-pass
    // row-number primitive, never a single-partition window.
    Q("q262_conversion_latency",
      (s, dir) => Analytics.conversionLatency(Tables(s, dir, "events"),
        "view", "purchase"),
      Some("""WITH b AS (SELECT user_id AS key, event_type AS t,
             |    epoch_us(ts) AS us FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IN ('view', 'purchase')),
             |f1 AS (SELECT key, MIN(CASE WHEN t = 'view' THEN us END)
             |    AS first_us FROM b GROUP BY 1),
             |s AS (SELECT b.key, MIN(b.us) AS second_us FROM b
             |  JOIN f1 ON f1.key = b.key AND b.t = 'purchase'
             |    AND b.us >= f1.first_us
             |  GROUP BY 1),
             |c AS (SELECT s.second_us - f1.first_us AS delay_us
             |  FROM f1 JOIN s USING (key)
             |  WHERE f1.first_us IS NOT NULL
             |    AND s.second_us - f1.first_us <= 3600000000),
             |r AS (SELECT delay_us, ROW_NUMBER() OVER (ORDER BY delay_us)
             |    AS rn FROM c),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c)
             |SELECT n.n AS n_converted,
             |  (SELECT delay_us FROM r
             |    WHERE rn = (n.n * 500000 + 999999) // 1000000) AS p50_us,
             |  (SELECT delay_us FROM r
             |    WHERE rn = (n.n * 900000 + 999999) // 1000000) AS p90_us,
             |  (SELECT delay_us FROM r
             |    WHERE rn = (n.n * 990000 + 999999) // 1000000) AS p99_us
             |FROM n""".stripMargin)),

    // Per-dimension Fisher selectivity (one-way eta² per embedding
    // coordinate vs label): SSB/SSW exact on the milli grid against
    // truncated integer means via the q−2ms+nm² identity — which
    // dims carry the class signal, in one combinable pass.
    Q("q263_fisher_dims",
      (s, dir) => Similarity.fisherDims(Tables(s, dir, "embeddings")),
      Some("""WITH x AS (SELECT CAST(label AS BIGINT) AS lab,
             |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
             |      AS idx,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000)
             |      AS BIGINT) AS x
             |  FROM embeddings
             |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
             |gl AS (SELECT idx, lab, CAST(COUNT(*) AS BIGINT) AS n_l,
             |    CAST(SUM(x) AS BIGINT) AS s_l,
             |    CAST(SUM(x * x) AS BIGINT) AS q_l
             |  FROM x GROUP BY 1, 2),
             |gl2 AS (SELECT idx, lab, n_l, s_l, q_l,
             |    s_l // n_l AS m_l FROM gl),
             |gi AS (SELECT idx, CAST(SUM(n_l) AS BIGINT) AS n,
             |    CAST(SUM(s_l) AS BIGINT) AS s,
             |    CAST(COUNT(*) AS BIGINT) AS n_labels
             |  FROM gl GROUP BY 1),
             |gi2 AS (SELECT idx, n, n_labels, s // n AS m FROM gi),
             |agg AS (SELECT gl2.idx, MAX(gi2.n) AS n,
             |    MAX(gi2.n_labels) AS n_labels,
             |    CAST(SUM(n_l * (m_l - m) * (m_l - m)) AS BIGINT) AS ssb,
             |    CAST(SUM(q_l - 2 * m_l * s_l + n_l * m_l * m_l)
             |      AS BIGINT) AS ssw
             |  FROM gl2 JOIN gi2 ON gi2.idx = gl2.idx GROUP BY 1)
             |SELECT idx, n, n_labels, ssb, ssw,
             |  CAST(floor(CAST(ssb AS DOUBLE) * 1000000
             |    / CAST(nullif(ssb + ssw, 0) AS DOUBLE)) AS BIGINT)
             |    AS eta2_ppm
             |FROM agg ORDER BY eta2_ppm DESC, idx""".stripMargin)),

    // Nearest-centroid classification eval: per-label truncated-mean
    // prototypes on the milli grid, integer L2² argmin (ties to the
    // smaller label), exact confusion matrix — the baseline "are the
    // labels even clustered" eval for the embedding space.
    Q("q264_ncc_eval",
      (s, dir) => Similarity.nccEval(Tables(s, dir, "embeddings")),
      Some("""WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS lab,
             |    list_transform(embedding::DOUBLE[],
             |      v -> CAST(floor(v * 1000) AS BIGINT)) AS x
             |  FROM embeddings
             |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
             |e AS (SELECT CAST(label AS BIGINT) AS lab,
             |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
             |      AS idx,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000)
             |      AS BIGINT) AS xv
             |  FROM embeddings
             |  WHERE label IS NOT NULL AND embedding IS NOT NULL),
             |cm AS (SELECT lab, idx,
             |    CAST(SUM(xv) AS BIGINT) // COUNT(*) AS m
             |  FROM e GROUP BY 1, 2),
             |cent AS (SELECT lab AS clab, list(m ORDER BY idx) AS c
             |  FROM cm GROUP BY 1),
             |d AS (SELECT q.vec_id, q.lab, cent.clab,
             |    CAST(list_sum(list_transform(list_zip(q.x, cent.c),
             |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS dist
             |  FROM q CROSS JOIN cent),
             |pred AS (SELECT vec_id, lab, clab FROM (
             |    SELECT vec_id, lab, clab, ROW_NUMBER() OVER (
             |      PARTITION BY vec_id ORDER BY dist, clab) AS rn
             |    FROM d)
             |  WHERE rn = 1)
             |SELECT lab AS true_lab, clab AS pred_lab,
             |  CAST(COUNT(*) AS BIGINT) AS cnt, lab = clab AS correct
             |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ABC / Pareto revenue classes over parts: decimal-exact revenue
    // micro per row (the q01 contract), cumulative share via the
    // two-pass prefix-sum primitive, 70/90 integer cuts — the
    // "which slice of the catalog is the money" inventory table.
    Q("q265_abc_classes",
      (s, dir) => Analytics.abcClasses(Tables(s, dir, "lineitem")),
      Some("""WITH m AS (SELECT l_partkey AS part,
             |    CAST(SUM(CAST((CAST(l_extendedprice AS DECIMAL(18,2))
             |      * (CAST(1 AS DECIMAL(18,2))
             |         - CAST(l_discount AS DECIMAL(18,2)))) * 1000000
             |      AS BIGINT)) AS BIGINT) AS rev
             |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
             |t AS (SELECT CAST(SUM(rev) AS BIGINT) AS tot FROM m),
             |c AS (SELECT rev, CAST(SUM(rev) OVER (
             |    ORDER BY rev DESC, part
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum FROM m),
             |k AS (SELECT CASE
             |    WHEN cum <= (SELECT tot * 7 // 10 FROM t) THEN 'A'
             |    WHEN cum <= (SELECT tot * 9 // 10 FROM t) THEN 'B'
             |    ELSE 'C' END AS cls, rev FROM c)
             |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
             |  CAST(SUM(rev) AS BIGINT) AS rev_micro_total,
             |  CAST(CAST(SUM(rev) AS HUGEINT) * 1000000
             |    // (SELECT tot FROM t) AS BIGINT) AS share_ppm
             |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Delta-encoding size estimate for orders keys: exact bit-length
    // of sorted successor deltas (binary-string length, no float
    // log2) vs raw 8-byte storage — near-sequential o_orderkey
    // compresses hard, the scattered o_custkey barely.
    Q("q266_delta_compression",
      (s, dir) => Audit.deltaCompressionEstimate(Tables(s, dir, "orders"),
        Seq("o_custkey", "o_orderkey")),
      Some {
        def one(c: String): String =
          s"""(WITH v AS (SELECT CAST($c AS BIGINT) AS v FROM orders
             |    WHERE $c IS NOT NULL),
             |  r AS (SELECT v, LAG(v) OVER (ORDER BY v) AS pv FROM v),
             |  a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             |      CAST(SUM(CASE WHEN pv IS NULL THEN 64
             |        ELSE length(format('{:b}', v - pv)) END) AS BIGINT)
             |        AS delta_bits
             |    FROM r)
             |  SELECT '$c' AS col_name, n, n * 64 AS raw_bits,
             |    delta_bits,
             |    CAST(delta_bits * 1000000 // (n * 64) AS BIGINT)
             |      AS ratio_ppm,
             |    CAST((delta_bits + 7) // 8 AS BIGINT) AS est_bytes
             |  FROM a)""".stripMargin
        s"""SELECT * FROM (${one("o_custkey")}
           |UNION ALL ${one("o_orderkey")})
           |ORDER BY col_name""".stripMargin
      }),

    // Order-to-ship latency percentiles per priority: exact
    // nearest-rank p50/p90/p99 in whole days via the two-pass
    // (group, value)-count design — no per-group sort of line items,
    // the hottest priority folds map-side like any other.
    Q("q267_ship_latency",
      (s, dir) => Stats.groupPercentiles(
        Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
          .join(Tables(s, dir, "orders").select(
            col("o_orderkey").as("l_orderkey"), col("o_orderdate"),
            col("o_orderpriority")), "l_orderkey")
          .select(col("o_orderpriority"),
            expr("(unix_micros(l_shipdate) - unix_micros(o_orderdate))" +
              " div 86400000000").as("lat_days")),
        "o_orderpriority", "lat_days")
        .withColumnRenamed("grp", "priority"),
      Some("""WITH j AS (SELECT o.o_orderpriority AS grp,
             |    (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
             |      // 86400000000 AS v
             |  FROM lineitem l JOIN orders o
             |    ON o.o_orderkey = l.l_orderkey
             |  WHERE o.o_orderpriority IS NOT NULL
             |    AND l.l_shipdate IS NOT NULL
             |    AND o.o_orderdate IS NOT NULL),
             |c AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM j GROUP BY 1, 2),
             |cm AS (SELECT grp, v,
             |    CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum,
             |    CAST(SUM(c) OVER (PARTITION BY grp) AS BIGINT) AS n
             |  FROM c),
             |p50 AS (SELECT grp, MIN(v) AS p50 FROM cm
             |  WHERE cum >= (n * 500000 + 999999) // 1000000 GROUP BY 1),
             |p90 AS (SELECT grp, MIN(v) AS p90 FROM cm
             |  WHERE cum >= (n * 900000 + 999999) // 1000000 GROUP BY 1),
             |p99 AS (SELECT grp, MIN(v) AS p99 FROM cm
             |  WHERE cum >= (n * 990000 + 999999) // 1000000 GROUP BY 1),
             |mx AS (SELECT grp, MAX(n) AS n, MAX(v) AS max_v FROM cm
             |  GROUP BY 1)
             |SELECT mx.grp AS priority, mx.n, p50.p50, p90.p90, p99.p99,
             |  mx.max_v
             |FROM mx JOIN p50 USING (grp) JOIN p90 USING (grp)
             |  JOIN p99 USING (grp)
             |ORDER BY priority""".stripMargin)),

    // Incremental sessionization with handoff: q33's sessions split
    // at the batch edge into final 'closed' sessions vs 'open'
    // carry-state — the contract that stops a daily job from
    // double-counting boundary-spanning sessions.
    Q("q268_incremental_sessionize",
      (s, dir) => Temporal.sessionizeIncremental(Tables(s, dir, "events"),
        "user_id", "ts", gapUs = 1800000000L),
      Some("""WITH t AS (SELECT user_id AS key, epoch_us(ts) AS us
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |m AS (SELECT key, us,
             |    CASE WHEN us - LAG(us) OVER (PARTITION BY key ORDER BY us)
             |      > 1800000000 OR LAG(us) OVER (PARTITION BY key
             |        ORDER BY us) IS NULL THEN 1 ELSE 0 END AS brk
             |  FROM t),
             |sids AS (SELECT key, us, CAST(SUM(brk) OVER (
             |    PARTITION BY key ORDER BY us ROWS BETWEEN UNBOUNDED
             |    PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM m),
             |sess AS (SELECT key, session_id,
             |    CAST(COUNT(*) AS BIGINT) AS n_events,
             |    MIN(us) AS start_us, MAX(us) AS end_us
             |  FROM sids GROUP BY 1, 2),
             |e AS (SELECT MAX(end_us) AS edge FROM sess)
             |SELECT key, session_id, n_events, start_us, end_us,
             |  CASE WHEN end_us + 1800000000 <= (SELECT edge FROM e)
             |    THEN 'closed' ELSE 'open' END AS status
             |FROM sess ORDER BY key, session_id""".stripMargin)),

    // Theil–Sen robust daily trend: lower median of pairwise slopes
    // (floor milli, trunc-toward-zero division on both engines) —
    // the outlier-immune complement to q177's least-squares slope.
    // Pair set is day-grid-bounded, never row-bounded.
    Q("q269_theilsen_trend",
      (s, dir) => Stats.theilSenTrend(Tables(s, dir, "events")),
      Some("""WITH daily AS (SELECT event_type AS grp,
             |    epoch_us(ts) // 86400000000 AS x,
             |    CAST(COUNT(*) AS BIGINT) AS y
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |nd AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_days
             |  FROM daily GROUP BY 1),
             |p AS (SELECT a.grp, (b.y - a.y) * 1000 // (b.x - a.x)
             |    AS slope_milli
             |  FROM daily a JOIN daily b ON a.grp = b.grp AND a.x < b.x),
             |r AS (SELECT grp, slope_milli,
             |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY slope_milli)
             |      AS rn,
             |    CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS n_pairs
             |  FROM p)
             |SELECT r.grp, nd.n_days, r.n_pairs, r.slope_milli,
             |  CASE WHEN r.slope_milli > 0 THEN 'up'
             |    WHEN r.slope_milli < 0 THEN 'down' ELSE 'flat' END AS trend
             |FROM r JOIN nd ON nd.grp = r.grp
             |WHERE r.rn = (r.n_pairs + 1) // 2
             |ORDER BY r.grp""".stripMargin)),

    // LSH banding parameter sweep: for every (bands, rows) split of a
    // 16-hash MinHash signature, the theoretical S-curve (stepwise-
    // floored integer powers — oracle-exact) beside the empirical
    // candidate volume and verified yield on this corpus. The oracle
    // recomputes the whole chain: q22's signature restatement, a
    // per-config band fold, candidate joins, exact-Jaccard verify,
    // and the predicted probabilities via recursive-CTE powers.
    Q("q270_lsh_param_sweep",
      (s, dir) => DocDedup.lshParameterSweep(Tables(s, dir, "documents")),
      Some(s"""WITH RECURSIVE ${duckShingles("", "documents")},
              |mh AS (SELECT doc_id, s,
              |    list_reduce(list_prepend(CAST(0 AS BIGINT),
              |      list_transform(string_split(s, ''),
              |        c -> CAST(unicode(c) AS BIGINT))),
              |      (a, b) -> (a * 37 + b) % 2147483647) AS h37
              |  FROM sh),
              |yy AS (SELECT doc_id, ${duckMix31("h37")} AS y FROM mh),
              |sig AS (SELECT doc_id, i, MIN(${duckMix31("y + i")}) AS m
              |  FROM yy CROSS JOIN (SELECT unnest(range(0, 16)) AS i) xs
              |  GROUP BY 1, 2),
              |cfg AS (SELECT unnest([1, 2, 4, 8, 16]) AS nb),
              |bands AS (SELECT c.nb, doc_id, i // (16 // c.nb) AS band,
              |    list_reduce(list_prepend(CAST(i // (16 // c.nb) AS BIGINT),
              |        list(m ORDER BY i)),
              |      (a, y) -> (a * 1103515245 + y) % 2147483648) AS bh
              |  FROM sig CROSS JOIN cfg c
              |  GROUP BY c.nb, doc_id, i // (16 // c.nb)),
              |cand AS (SELECT DISTINCT a.nb, a.doc_id AS a_id,
              |    b.doc_id AS b_id
              |  FROM bands a JOIN bands b ON a.nb = b.nb
              |    AND a.band = b.band AND a.bh = b.bh
              |    AND a.doc_id < b.doc_id),
              |dp AS (SELECT DISTINCT a_id, b_id FROM cand),
              |iv AS (SELECT d.a_id, d.b_id, COUNT(*) AS inter
              |  FROM dp d
              |  JOIN sh a ON a.doc_id = d.a_id
              |  JOIN sh b ON b.doc_id = d.b_id AND b.s = a.s
              |  GROUP BY 1, 2),
              |ver AS (SELECT i.a_id, i.b_id FROM iv i
              |  JOIN sz sa ON sa.doc_id = i.a_id
              |  JOIN sz sb ON sb.doc_id = i.b_id
              |  WHERE i.inter * 1000000 >= 500000 * (sa.n + sb.n - i.inter)),
              |counts AS (SELECT c.nb,
              |    CAST(COUNT(*) AS BIGINT) AS cand_pairs,
              |    CAST(SUM(CASE WHEN v.a_id IS NOT NULL THEN 1 ELSE 0 END)
              |      AS BIGINT) AS true_pairs
              |  FROM cand c LEFT JOIN ver v
              |    ON v.a_id = c.a_id AND v.b_id = c.b_id
              |  GROUP BY 1),
              |grid AS (SELECT unnest([300000, 500000, 700000, 900000]) AS t),
              |powr AS (SELECT nb, 16 // nb AS nr, CAST(t AS BIGINT) AS t,
              |    1 AS k, CAST(t AS BIGINT) AS x
              |  FROM cfg CROSS JOIN grid
              |  UNION ALL SELECT nb, nr, t, k + 1, x * t // 1000000
              |  FROM powr WHERE k < nr),
              |tr AS (SELECT nb, t, x AS tr FROM powr
              |  WHERE k = 16 // nb),
              |powb AS (SELECT nb, t, 1 AS k, 1000000 - tr AS base,
              |    1000000 - tr AS x
              |  FROM tr
              |  UNION ALL SELECT nb, t, k + 1, base, x * base // 1000000
              |  FROM powb WHERE k < nb),
              |pred0 AS (SELECT nb, t, 1000000 - x AS p FROM powb
              |  WHERE k = nb),
              |pred AS (SELECT nb,
              |    MAX(CASE WHEN t = 300000 THEN p END) AS p30_ppm,
              |    MAX(CASE WHEN t = 500000 THEN p END) AS p50_ppm,
              |    MAX(CASE WHEN t = 700000 THEN p END) AS p70_ppm,
              |    MAX(CASE WHEN t = 900000 THEN p END) AS p90_ppm
              |  FROM pred0 GROUP BY 1)
              |SELECT CAST(cfg.nb AS BIGINT) AS n_bands,
              |  CAST(16 // cfg.nb AS BIGINT) AS n_rows,
              |  pr.p30_ppm, pr.p50_ppm, pr.p70_ppm, pr.p90_ppm,
              |  COALESCE(ct.cand_pairs, 0) AS cand_pairs,
              |  COALESCE(ct.true_pairs, 0) AS true_pairs
              |FROM cfg JOIN pred pr ON pr.nb = cfg.nb
              |LEFT JOIN counts ct ON ct.nb = cfg.nb
              |ORDER BY n_bands""".stripMargin)),

    // Encoding-hygiene audit over a deterministically dirtied corpus
    // (planted replacement chars / C0 controls / mojibake pairs —
    // same derivation on both engines, like q63's planted PII):
    // counts per class + cleaned length after strip-and-collapse.
    Q("q271_text_clean",
      (s, dir) => Curation.textClean(
        Tables(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit("\uFFFD x")))
          .when(col("doc_id") % 11 === 3,
            concat(lit("a\u0001b  "), col("text")))
          .when(col("doc_id") % 11 === 7,
            concat(col("text"), lit(" caf\u00C3\u00A9")))
          .otherwise(col("text")))),
      Some("""WITH dirty AS (SELECT doc_id, CASE
             |    WHEN doc_id % 11 = 0 THEN text || chr(65533) || ' x'
             |    WHEN doc_id % 11 = 3 THEN 'a' || chr(1) || 'b  ' || text
             |    WHEN doc_id % 11 = 7 THEN text || ' caf' || chr(195)
             |      || chr(169)
             |    ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(length(text) AS BIGINT) AS n_chars_raw,
             |  CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT)
             |    AS n_replacement,
             |  CAST(len(regexp_extract_all(text,
             |    '[\x01-\x08\x0B\x0C\x0E-\x1F]')) AS BIGINT) AS n_control,
             |  CAST(len(regexp_extract_all(text,
             |    '[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}]')) AS BIGINT)
             |    AS n_mojibake,
             |  CAST(length(trim(regexp_replace(regexp_replace(text,
             |    '[\x01-\x08\x0B\x0C\x0E-\x1F\x{FFFD}]', '', 'g'),
             |    '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_clean,
             |  len(regexp_extract_all(text, '\x{FFFD}')) = 0
             |    AND len(regexp_extract_all(text,
             |      '[\x01-\x08\x0B\x0C\x0E-\x1F]')) = 0
             |    AND len(regexp_extract_all(text,
             |      '[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}]')) = 0 AS is_clean
             |FROM dirty ORDER BY doc_id""".stripMargin)),

    // Contiguous 3-event path mining over user streams: trigram
    // counts + distinct-user support, top-20 under a total order.
    // q183's transition matrix is the bigram special case.
    Q("q272_event_trigrams",
      (s, dir) => Analytics.frequentSequences(Tables(s, dir, "events")),
      Some("""WITH o AS (SELECT user_id AS u, event_type AS e1,
             |    LEAD(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS e2,
             |    LEAD(event_type, 2) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS e3
             |  FROM events
             |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
             |    AND event_type IS NOT NULL)
             |SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS cnt,
             |  CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users
             |FROM o WHERE e3 IS NOT NULL
             |GROUP BY 1, 2, 3
             |ORDER BY cnt DESC, e1, e2, e3
             |LIMIT 20""".stripMargin)),

    // Leading principal direction by integer power iteration over the
    // exact covariance numerators (q174's Gram kernel with diagonal).
    // The oracle replays the identical trajectory: quantize, moments,
    // full symmetric A, two matvec+renorm rounds.
    Q("q273_power_iteration",
      (s, dir) => Similarity.powerComponent(Tables(s, dir, "embeddings")),
      Some("""WITH v AS (SELECT vec_id,
             |    list_transform(embedding::DOUBLE[],
             |      x -> CAST(floor(x * 1000) AS BIGINT)) AS q
             |  FROM embeddings
             |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
             |x AS (SELECT vec_id, i, q[i] AS xi
             |  FROM (SELECT vec_id, q, unnest(range(1, 65)) AS i FROM v)),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
             |s AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS sx
             |  FROM x GROUP BY 1),
             |p AS (SELECT a.i AS di, b.i AS dj,
             |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS sxy
             |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
             |  GROUP BY 1, 2),
             |up AS (SELECT p.di, p.dj,
             |    CAST(n.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS a
             |  FROM p CROSS JOIN n
             |  JOIN s sa ON sa.i = p.di JOIN s sb ON sb.i = p.dj),
             |am AS (SELECT di, dj, a FROM up
             |  UNION ALL SELECT dj, di, a FROM up WHERE di <> dj),
             |ma AS (SELECT MAX(abs(a)) AS ma FROM am),
             |a0 AS (SELECT di, dj, a * 1000 // ma AS a
             |  FROM am CROSS JOIN ma),
             |v0 AS (SELECT unnest(range(1, 65)) AS j,
             |    CAST(1000 AS BIGINT) AS w),
             |u1 AS (SELECT a0.di AS i, CAST(SUM(a0.a * v0.w) AS BIGINT) AS u
             |  FROM a0 JOIN v0 ON v0.j = a0.dj GROUP BY 1),
             |m1 AS (SELECT MAX(abs(u)) AS m FROM u1),
             |v1 AS (SELECT i AS j, u * 1000 // m AS w FROM u1 CROSS JOIN m1),
             |u2 AS (SELECT a0.di AS i, CAST(SUM(a0.a * v1.w) AS BIGINT) AS u
             |  FROM a0 JOIN v1 ON v1.j = a0.dj GROUP BY 1),
             |m2 AS (SELECT MAX(abs(u)) AS m FROM u2)
             |SELECT CAST(i AS INTEGER) AS dim_i,
             |  CAST(u * 1000 // m AS BIGINT) AS w_milli
             |FROM u2 CROSS JOIN m2
             |ORDER BY dim_i""".stripMargin)),

    // STREAMING two-step funnel through the oracle gate: the
    // flatMapGroupsWithState twin of q102 (two longs of state per
    // key) over the single-microbatch replay — rows equal the batch
    // fold, so the same relational oracle applies verbatim.
    Q("q274_stream_funnel",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline.funnelStream(
          QueriesAlert.eventStream(s, dir), "view", "purchase")
        QueriesAlert.drainToMemory(s, out.toDF(), "q274_sink",
          OutputMode.Append())
          .orderBy("user_id")
      },
      Some(funnelOracle)),

    // Embedding drift monitor: per-label centroid shift between the
    // even-id reference slice and the odd-id fresh slice — exact
    // micro-unit centroids (q66's contract), L2² shift, worst-moved
    // dimension with signed shift, and the threshold flag.
    Q("q275_centroid_drift",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
        Similarity.centroidDrift(e.where(col("vec_id") % 2 === 0),
          e.where(col("vec_id") % 2 === 1))
      },
      Some("""WITH e AS (SELECT vec_id % 2 AS side, label,
             |    generate_subscripts(embedding, 1) - 1 AS idx,
             |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
             |      AS BIGINT) AS micro
             |  FROM embeddings),
             |c AS (SELECT side, label, idx, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(floor(CAST(SUM(micro) AS DOUBLE) / COUNT(*))
             |      AS BIGINT) AS mm
             |  FROM e GROUP BY 1, 2, 3),
             |j AS (SELECT a.label, a.idx, a.n AS n_ref, b.n AS n_new,
             |    b.mm - a.mm AS d
             |  FROM c a JOIN c b ON a.label = b.label AND a.idx = b.idx
             |  WHERE a.side = 0 AND b.side = 1),
             |g AS (SELECT label, MAX(n_ref) AS n_ref, MAX(n_new) AS n_new,
             |    CAST(SUM(d * d) AS BIGINT) AS l2sq_micro2
             |  FROM j GROUP BY 1),
             |t AS (SELECT label, idx, d, ROW_NUMBER() OVER (
             |    PARTITION BY label ORDER BY abs(d) DESC, idx) AS rn
             |  FROM j)
             |SELECT g.label, g.n_ref, g.n_new, g.l2sq_micro2,
             |  CAST(t.idx AS INTEGER) AS top_dim, t.d AS top_shift_micro,
             |  g.l2sq_micro2 >= 100000000 AS drifted
             |FROM g JOIN t ON t.label = g.label AND t.rn = 1
             |ORDER BY g.label""".stripMargin)),

    // Broadcast-join preflight across the whole star schema: exact
    // row counts + deterministic byte estimates per table vs the
    // 10 MiB autoBroadcastJoinThreshold — which join sides can be
    // map-side at tonight's sizes.
    Q("q276_broadcast_advisor",
      (s, dir) => Audit.broadcastAdvisor(
        Tables.names.map(n => n -> Tables(s, dir, n))),
      Some {
        def sz(t: String, fixed: Int, strs: Seq[String],
            arr: Option[String] = None): String = {
          val strPart = if (strs.isEmpty) ""
            else strs.map(c => s"COALESCE(SUM(strlen($c)), 0)")
              .mkString(" + ", " + ", s" + COUNT(*) * ${strs.size * 4}")
          val arrPart = arr.map(c =>
            s" + COALESCE(SUM(len($c) * 4), 0) + COUNT(*) * 4").getOrElse("")
          s"""SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) * $fixed$strPart$arrPart AS BIGINT) AS est_bytes
             |FROM $t""".stripMargin
        }
        s"""WITH u AS (${sz("region", 4, Seq("r_name"))}
           |UNION ALL ${sz("nation", 8, Seq("n_name"))}
           |UNION ALL ${sz("customer", 20, Seq("c_name", "c_mktsegment"))}
           |UNION ALL ${sz("supplier", 20, Seq("s_name"))}
           |UNION ALL ${sz("part", 20, Seq("p_name", "p_brand", "p_type"))}
           |UNION ALL ${sz("orders", 32,
              Seq("o_orderstatus", "o_orderpriority"))}
           |UNION ALL ${sz("lineitem", 68,
              Seq("l_returnflag", "l_linestatus"))}
           |UNION ALL ${sz("events", 32, Seq("event_type", "props"))}
           |UNION ALL ${sz("documents", 16, Seq("text", "lang", "source"))}
           |UNION ALL ${sz("embeddings", 12, Seq(), Some("embedding"))})
           |SELECT table_name, n_rows, est_bytes,
           |  est_bytes <= 10485760 AS broadcastable
           |FROM u ORDER BY table_name""".stripMargin
      }),

    // Rayleigh-quotient dominance of q273's leading direction: exact
    // integer λ estimate vs the scaled-covariance trace — is one axis
    // eating the geometry. Oracle extends q273's trajectory with one
    // more matvec and the three scalar folds.
    Q("q277_power_explained",
      (s, dir) => Similarity.powerExplained(Tables(s, dir, "embeddings")),
      Some("""WITH v AS (SELECT vec_id,
             |    list_transform(embedding::DOUBLE[],
             |      x -> CAST(floor(x * 1000) AS BIGINT)) AS q
             |  FROM embeddings
             |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
             |x AS (SELECT vec_id, i, q[i] AS xi
             |  FROM (SELECT vec_id, q, unnest(range(1, 65)) AS i FROM v)),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
             |s AS (SELECT i, CAST(SUM(xi) AS BIGINT) AS sx
             |  FROM x GROUP BY 1),
             |p AS (SELECT a.i AS di, b.i AS dj,
             |    CAST(SUM(a.xi * b.xi) AS BIGINT) AS sxy
             |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
             |  GROUP BY 1, 2),
             |up AS (SELECT p.di, p.dj,
             |    CAST(n.n * p.sxy - sa.sx * sb.sx AS BIGINT) AS a
             |  FROM p CROSS JOIN n
             |  JOIN s sa ON sa.i = p.di JOIN s sb ON sb.i = p.dj),
             |am AS (SELECT di, dj, a FROM up
             |  UNION ALL SELECT dj, di, a FROM up WHERE di <> dj),
             |ma AS (SELECT MAX(abs(a)) AS ma FROM am),
             |a0 AS (SELECT di, dj, a * 1000 // ma AS a
             |  FROM am CROSS JOIN ma),
             |v0 AS (SELECT unnest(range(1, 65)) AS j,
             |    CAST(1000 AS BIGINT) AS w),
             |u1 AS (SELECT a0.di AS i, CAST(SUM(a0.a * v0.w) AS BIGINT) AS u
             |  FROM a0 JOIN v0 ON v0.j = a0.dj GROUP BY 1),
             |m1 AS (SELECT MAX(abs(u)) AS m FROM u1),
             |v1 AS (SELECT i AS j, u * 1000 // m AS w FROM u1 CROSS JOIN m1),
             |u2 AS (SELECT a0.di AS i, CAST(SUM(a0.a * v1.w) AS BIGINT) AS u
             |  FROM a0 JOIN v1 ON v1.j = a0.dj GROUP BY 1),
             |m2 AS (SELECT MAX(abs(u)) AS m FROM u2),
             |v2 AS (SELECT i AS j, u * 1000 // m AS w FROM u2 CROSS JOIN m2),
             |u3 AS (SELECT a0.di AS i, CAST(SUM(a0.a * v2.w) AS BIGINT) AS u
             |  FROM a0 JOIN v2 ON v2.j = a0.dj GROUP BY 1),
             |num AS (SELECT CAST(SUM(u3.u * v2.w) AS BIGINT) AS num
             |  FROM u3 JOIN v2 ON v2.j = u3.i),
             |den AS (SELECT CAST(SUM(w * w) AS BIGINT) AS den FROM v2),
             |tr AS (SELECT CAST(SUM(a) AS BIGINT) AS trace_scaled
             |  FROM a0 WHERE di = dj),
             |top AS (SELECT j AS top_dim FROM v2
             |  ORDER BY abs(w) DESC, j LIMIT 1)
             |SELECT num * 1000 // den AS lambda_milli, tr.trace_scaled,
             |  num * 1000000 // (den * tr.trace_scaled) AS explained_ppm,
             |  CAST(top.top_dim AS INTEGER) AS top_dim
             |FROM num CROSS JOIN den CROSS JOIN tr CROSS JOIN top""".stripMargin)),

    // Near-dup threshold sensitivity: one q21-chain candidate+verify
    // pass (df-cut guard in-plan) feeds every grid row; membership is
    // integer cross-multiplication, so the whole table is exact.
    Q("q278_dedup_threshold_sweep",
      (s, dir) => DocDedup.dedupThresholdSweep(Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, lang, string_split(text,' ') AS ws
             |  FROM documents),
             |tok AS (SELECT doc_id, lang,
             |    ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             |  FROM (SELECT doc_id, lang, ws, generate_subscripts(ws,1) AS i
             |        FROM w) t
             |  WHERE i+2 <= len(ws)),
             |sh AS (SELECT DISTINCT doc_id, lang, s FROM tok),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    COUNT(*) AS inter
             |  FROM sh a JOIN sh b ON a.s=b.s AND a.lang=b.lang
             |    AND a.doc_id<b.doc_id
             |  GROUP BY 1,2),
             |pu AS (SELECT p.a_id, p.b_id, p.inter,
             |    sa.n + sb.n - p.inter AS un
             |  FROM pairs p
             |  JOIN sizes sa ON p.a_id=sa.doc_id
             |  JOIN sizes sb ON p.b_id=sb.doc_id
             |  WHERE p.inter * 1000000 >= 500000 * (sa.n + sb.n - p.inter)),
             |grid AS (SELECT CAST(unnest([500000, 600000, 700000, 800000,
             |    900000]) AS BIGINT) AS t_ppm),
             |at AS (SELECT g.t_ppm, p.a_id, p.b_id FROM pu p
             |  CROSS JOIN grid g
             |  WHERE p.inter * 1000000 >= g.t_ppm * p.un),
             |bp AS (SELECT t_ppm, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             |    CAST(COUNT(DISTINCT b_id) AS BIGINT) AS n_removable
             |  FROM at GROUP BY 1),
             |bd AS (SELECT t_ppm, CAST(COUNT(DISTINCT id) AS BIGINT)
             |    AS n_docs
             |  FROM (SELECT t_ppm, a_id AS id FROM at
             |        UNION ALL SELECT t_ppm, b_id FROM at)
             |  GROUP BY 1)
             |SELECT g.t_ppm, COALESCE(bp.n_pairs, 0) AS n_pairs,
             |  COALESCE(bd.n_docs, 0) AS n_docs,
             |  COALESCE(bp.n_removable, 0) AS n_removable
             |FROM grid g LEFT JOIN bp ON bp.t_ppm = g.t_ppm
             |LEFT JOIN bd ON bd.t_ppm = g.t_ppm
             |ORDER BY g.t_ppm""".stripMargin)),

    // Shazam-shaped audio matching over the stub PCM chain: peak
    // constellation hashes (energy-bin pairs + frame gap), snippet→
    // track hash join, offset-histogram alignment — snippets are
    // byte-offset substrings of every 10th track, so the true match
    // must win with votes concentrated on one offset. The oracle
    // restates frames → peaks → pair hashes → vote argmax end to end.
    Q("q280_audio_match",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Multimodal.audioMatch(docs,
          docs.where(col("doc_id") % 10 === 0)
            .withColumn("text", substring(col("text"), 33, 160)))
      },
      Some {
        def cons(p: String, src: String): String =
          s"""${p}ch AS (SELECT doc_id,
             |    CAST(unnest(range(1, length(text)+1)) AS INTEGER) AS j,
             |    text
             |  FROM $src),
             |${p}cp AS (SELECT doc_id, (j-1) // 16 AS f,
             |    unicode(substring(text, j, 1)) AS c
             |  FROM ${p}ch WHERE (j-1) // 16 < length(text) // 16),
             |${p}fe AS (SELECT doc_id, f, CAST(SUM(c*c) AS BIGINT) AS energy
             |  FROM ${p}cp GROUP BY 1, 2),
             |${p}pk AS (SELECT doc_id, f, energy % 1024 AS b FROM (
             |    SELECT doc_id, f, energy,
             |      LAG(energy) OVER (PARTITION BY doc_id ORDER BY f) AS pe,
             |      LEAD(energy) OVER (PARTITION BY doc_id ORDER BY f) AS ne
             |    FROM ${p}fe)
             |  WHERE pe IS NOT NULL AND ne IS NOT NULL
             |    AND energy > pe AND energy >= ne),
             |${p}hp AS (SELECT a.doc_id, CAST(a.f AS BIGINT) AS f1,
             |    a.b * 8192 + b.b * 8 + (b.f - a.f) AS h
             |  FROM ${p}pk a JOIN ${p}pk b ON a.doc_id = b.doc_id
             |    AND b.f > a.f AND b.f <= a.f + 4)""".stripMargin
        s"""WITH snipsrc AS (SELECT doc_id, substring(text, 33, 160) AS text
           |  FROM documents WHERE doc_id % 10 = 0),
           |${cons("t", "documents")},
           |${cons("s", "snipsrc")},
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
           |      ORDER BY g.votes DESC, g.track_id, g.offset_frames) AS rn
           |  FROM g JOIN tot ON tot.snippet_id = g.snippet_id
           |    AND tot.track_id = g.track_id)
           |SELECT snippet_id, track_id, offset_frames, votes, n_matches
           |FROM r WHERE rn = 1 ORDER BY snippet_id""".stripMargin
      }),

    // Keyframe selection per shot: q156's cut detector + the argmax-
    // signature representative frame riding the same aggregate.
    Q("q281_keyframes",
      (s, dir) => Multimodal.keyframes(Tables(s, dir, "documents")),
      Some("""WITH m AS (SELECT doc_id, text,
             |    octet_length(encode(text)) AS len FROM documents),
             |fr AS (SELECT doc_id, text,
             |    CAST(unnest(range(0, 1 + len % 8)) AS INTEGER) AS f
             |  FROM m),
             |ch AS (SELECT doc_id, f, text,
             |    CAST(unnest(range(1, length(text) + 1)) AS INTEGER) AS j
             |  FROM fr),
             |sig AS (SELECT doc_id, f,
             |    CAST(SUM(unicode(substring(text, j, 1))
             |      * ((j - 1 + f) % 7 + 1)) % 10000 AS BIGINT) AS s
             |  FROM ch GROUP BY 1, 2),
             |d AS (SELECT doc_id, f, s,
             |    LAG(s) OVER (PARTITION BY doc_id ORDER BY f) AS prev
             |  FROM sig),
             |b AS (SELECT doc_id, f, s,
             |    CASE WHEN prev IS NOT NULL AND ABS(s - prev) > 5000
             |      THEN 1 ELSE 0 END AS bd
             |  FROM d),
             |sh AS (SELECT doc_id, f, s, CAST(SUM(bd) OVER (
             |      PARTITION BY doc_id ORDER BY f) AS BIGINT) AS shot
             |  FROM b),
             |kf AS (SELECT doc_id, shot, f, s, ROW_NUMBER() OVER (
             |    PARTITION BY doc_id, shot ORDER BY s DESC, f) AS rn
             |  FROM sh)
             |SELECT sh.doc_id, sh.shot,
             |  CAST(MIN(sh.f) AS BIGINT) AS start_frame,
             |  CAST(MAX(sh.f) AS BIGINT) AS end_frame,
             |  COUNT(*) AS n_frames,
             |  CAST(MIN(kf.f) AS BIGINT) AS key_frame,
             |  MIN(kf.s) AS key_sig
             |FROM sh JOIN kf ON kf.doc_id = sh.doc_id AND kf.shot = sh.shot
             |  AND kf.rn = 1
             |GROUP BY 1, 2 ORDER BY sh.doc_id, sh.shot""".stripMargin)),

    // Daily active/new/returning users + cumulative distinct curve —
    // no distinct-over-window: news come from the per-user min-day
    // fold, the cumulative total is their prefix sum.
    Q("q282_daily_users",
      (s, dir) => Analytics.dailyActiveUsers(Tables(s, dir, "events")),
      Some("""WITH d AS (SELECT DISTINCT user_id AS key,
             |    epoch_us(ts) // 86400000000 AS day
             |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             |a AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active
             |  FROM d GROUP BY 1),
             |fs AS (SELECT key, MIN(day) AS day FROM d GROUP BY 1),
             |nw AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
             |  FROM fs GROUP BY 1)
             |SELECT a.day, a.n_active, COALESCE(nw.n_new, 0) AS n_new,
             |  a.n_active - COALESCE(nw.n_new, 0) AS n_returning,
             |  CAST(SUM(COALESCE(nw.n_new, 0)) OVER (ORDER BY a.day)
             |    AS BIGINT) AS cum_users
             |FROM a LEFT JOIN nw ON nw.day = a.day
             |ORDER BY a.day""".stripMargin)),

    // Per-source curation funnel in one scan: length floor → language
    // gate → q78's linear quality classifier, stacked conditional
    // sums + end-to-end yield ppm.
    Q("q283_curation_funnel",
      (s, dir) => TextAnalysis.curationFunnel(Tables(s, dir, "documents")),
      Some("""WITH f AS (SELECT doc_id, source, lang, n_chars,
             |  CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
             |  CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
             |    AS n_uniq,
             |  CAST(len(list_filter(string_split(text,' '),
             |      t -> t IN ('the','a','of','and','to','in','is')))
             |    AS BIGINT) AS stop_cnt
             |  FROM documents),
             |p AS (SELECT source, lang, n_chars,
             |  (n_uniq*1000000)//n_words*3 + (stop_cnt*1000000)//n_words*2
             |    + least(n_words, 100) * 10000 AS score
             |  FROM f),
             |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS pass_len,
             |  CAST(SUM(CASE WHEN n_chars >= 200 AND lang = 'en'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS pass_lang,
             |  CAST(SUM(CASE WHEN n_chars >= 200 AND lang = 'en'
             |    AND score >= 2400000 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS pass_quality
             |  FROM p GROUP BY 1)
             |SELECT source, n_docs, pass_len, pass_lang, pass_quality,
             |  pass_quality * 1000000 // n_docs AS yield_ppm
             |FROM g ORDER BY source""".stripMargin)),

    // Apriori level-3 triples with the anti-monotone prune in-plan:
    // candidates only extend frequent pairs, support + extension
    // confidence exact.
    Q("q284_frequent_triples",
      (s, dir) => Analytics.frequentTriples(
        Tables(s, dir, "lineitem").join(Tables(s, dir, "part"),
          col("l_partkey") === col("p_partkey")),
        itemCol = "p_brand", minSup = 50L),
      Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, p_brand AS p
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  WHERE l_orderkey IS NOT NULL AND p_brand IS NOT NULL),
             |pb AS (SELECT a.o AS ob, a.p AS pa, b.p AS pb
             |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
             |pr AS (SELECT pa, pb, CAST(COUNT(*) AS BIGINT) AS cab
             |  FROM pb GROUP BY 1, 2 HAVING COUNT(*) >= 50),
             |tr AS (SELECT x.pa, x.pb, c.p AS pc,
             |    CAST(COUNT(*) AS BIGINT) AS support,
             |    MAX(pr.cab) AS cab
             |  FROM pb x JOIN pr ON pr.pa = x.pa AND pr.pb = x.pb
             |  JOIN op c ON c.o = x.ob AND c.p > x.pb
             |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 50)
             |SELECT pa, pb, pc, support,
             |  support * 1000000 // cab AS conf_ext_ppm
             |FROM tr ORDER BY support DESC, pa, pb, pc""".stripMargin)),

    // Per-source KS drift vs the global length distribution: exact
    // cross-multiplied ECDFs on a groups×values grid, peak gap +
    // location per source.
    Q("q285_ks_per_source",
      (s, dir) => Stats.ksPerGroup(Tables(s, dir, "documents"),
        "source", "n_chars"),
      Some("""WITH b AS (SELECT source AS grp, n_chars AS v
             |  FROM documents
             |  WHERE source IS NOT NULL AND n_chars IS NOT NULL),
             |gv AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM b GROUP BY 1, 2),
             |pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS cg
             |  FROM b GROUP BY 1),
             |cg AS (SELECT v, CAST(SUM(cg) OVER (ORDER BY v) AS BIGINT)
             |    AS cumg
             |  FROM pv),
             |grid AS (SELECT g.grp, cg.v, cg.cumg
             |  FROM (SELECT DISTINCT grp FROM gv) g CROSS JOIN cg),
             |cum AS (SELECT grid.grp, grid.v, grid.cumg,
             |    CAST(SUM(COALESCE(gv.c, 0)) OVER (PARTITION BY grid.grp
             |      ORDER BY grid.v) AS BIGINT) AS cums
             |  FROM grid LEFT JOIN gv ON gv.grp = grid.grp
             |    AND gv.v = grid.v),
             |tot AS (SELECT grp, MAX(cums) AS ng FROM cum GROUP BY 1),
             |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM b),
             |d AS (SELECT cum.grp, tot.ng, na.n_all, cum.v,
             |    abs(cum.cums * na.n_all - cum.cumg * tot.ng) AS d,
             |    ROW_NUMBER() OVER (PARTITION BY cum.grp ORDER BY
             |      abs(cum.cums * na.n_all - cum.cumg * tot.ng) DESC,
             |      cum.v) AS rn
             |  FROM cum JOIN tot ON tot.grp = cum.grp CROSS JOIN na)
             |SELECT grp, ng, n_all, d AS d_num,
             |  d * 1000000 // (ng * n_all) AS ks_ppm, v AS at_value
             |FROM d WHERE rn = 1 ORDER BY grp""".stripMargin)),

    // IDF-weighted Jaccard near-dup pairs: rare shingles dominate the
    // vote (w = 1e6 // df over the df-guarded shingle universe);
    // catches shared-rare-content pairs plain Jaccard dilutes.
    Q("q286_weighted_jaccard",
      (s, dir) => DocDedup.weightedJaccard(Tables(s, dir, "documents")),
      Some("""WITH w AS (SELECT doc_id, lang,
             |    string_split(text,' ') AS ws FROM documents),
             |tok AS (SELECT doc_id, lang,
             |    ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             |  FROM (SELECT doc_id, lang, ws, generate_subscripts(ws,1) AS i
             |        FROM w) t
             |  WHERE i+2 <= len(ws)),
             |sh0 AS (SELECT DISTINCT doc_id, lang, s FROM tok),
             |df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df
             |  FROM sh0 GROUP BY 1),
             |sh AS (SELECT sh0.doc_id, sh0.lang, sh0.s,
             |    1000000 // df.df AS w
             |  FROM sh0 JOIN df ON df.s = sh0.s WHERE df.df <= 100),
             |wt AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wt
             |  FROM sh GROUP BY 1),
             |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(SUM(a.w) AS BIGINT) AS inter_w,
             |    CAST(COUNT(*) AS BIGINT) AS inter
             |  FROM sh a JOIN sh b ON a.s = b.s AND a.lang = b.lang
             |    AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT p.a_id, p.b_id, p.inter, p.inter_w,
             |  p.inter_w * 1000000 // (wa.wt + wb.wt - p.inter_w)
             |    AS jacw_ppm
             |FROM p JOIN wt wa ON wa.doc_id = p.a_id
             |JOIN wt wb ON wb.doc_id = p.b_id
             |WHERE p.inter_w * 1000000 // (wa.wt + wb.wt - p.inter_w)
             |  >= 300000
             |ORDER BY a_id, b_id""".stripMargin)),

    // Display-cardinality cap: top-3 event types keep identity, the
    // tail rolls into 'other' with its merge count; exact ppm shares.
    Q("q287_topk_other",
      (s, dir) => Analytics.topKOther(Tables(s, dir, "events"),
        "event_type", k = 3),
      Some("""WITH c AS (SELECT event_type AS category,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM events WHERE event_type IS NOT NULL GROUP BY 1),
             |t AS (SELECT category, cnt FROM c
             |  ORDER BY cnt DESC, category LIMIT 3),
             |o AS (SELECT 'other' AS category,
             |    CAST(SUM(cnt) AS BIGINT) AS cnt,
             |    CAST(COUNT(*) AS BIGINT) AS n_merged
             |  FROM c WHERE category NOT IN (SELECT category FROM t)
             |  HAVING COUNT(*) > 0),
             |u AS (SELECT category, cnt, CAST(1 AS BIGINT) AS n_merged
             |  FROM t UNION ALL SELECT * FROM o),
             |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c)
             |SELECT u.category, u.cnt, u.n_merged,
             |  u.cnt * 1000000 // tt.tot AS share_ppm
             |FROM u CROSS JOIN tt
             |ORDER BY u.cnt DESC, u.category""".stripMargin)),

    // Average neighbor degree over the co-purchase graph (exact
    // milli): the assortativity / hub-attachment diagnostic, one
    // degree join — no iteration.
    Q("q288_avg_neighbor_degree",
      // avgNeighborDegree dedupes its edge input internally, so the
      // distinct both-orientations view (CoPurchase) is
      // result-identical to the oracle's a.p <> b.p self-join
      (s, dir) => Graph.avgNeighborDegree(
        graft.ops.CoPurchase.directed(s, dir)),
      Some("""WITH li AS (SELECT l_orderkey AS o, l_partkey AS p
             |  FROM lineitem),
             |e AS (SELECT DISTINCT a.p AS u, b.p AS v
             |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
             |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg
             |  FROM e GROUP BY 1),
             |s AS (SELECT e.u, CAST(SUM(dn.deg) AS BIGINT) AS s
             |  FROM e JOIN deg dn ON dn.u = e.v GROUP BY 1)
             |SELECT s.u AS node, deg.deg,
             |  s.s * 1000 // deg.deg AS nbr_deg_milli,
             |  s.s * 1000 // deg.deg > deg.deg * 1000 AS hubby
             |FROM s JOIN deg ON deg.u = s.u
             |ORDER BY nbr_deg_milli DESC, node LIMIT 100""".stripMargin)),

    // Region → nation revenue hierarchy with exact cents + ppm
    // share-of-parent at both levels — the drill-down rollup every
    // BI layer renders.
    Q("q289_hierarchy_share",
      (s, dir) => {
        val rev = Tables(s, dir, "orders")
          .join(Tables(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(Tables(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .join(Tables(s, dir, "region"),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
          .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")).as("cents"))
        val regional = rev.groupBy("region")
          .agg(sum(col("cents")).as("region_cents"))
        val total = rev.agg(sum(col("cents")).as("total_cents"))
        rev.join(regional, "region").crossJoin(broadcast(total))
          .select(col("region"), col("nation"), col("cents"),
            expr("cents * 1000000 div region_cents")
              .as("nation_share_ppm"),
            col("region_cents"),
            expr("region_cents * 1000000 div total_cents")
              .as("region_share_ppm"))
          .orderBy("region", "nation")
      },
      Some("""WITH rev AS (SELECT r_name AS region, n_name AS nation,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY 1, 2),
             |rg AS (SELECT region, CAST(SUM(cents) AS BIGINT)
             |    AS region_cents FROM rev GROUP BY 1),
             |tt AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents
             |  FROM rev)
             |SELECT rev.region, rev.nation, rev.cents,
             |  rev.cents * 1000000 // rg.region_cents AS nation_share_ppm,
             |  rg.region_cents,
             |  rg.region_cents * 1000000 // tt.total_cents
             |    AS region_share_ppm
             |FROM rev JOIN rg ON rg.region = rev.region CROSS JOIN tt
             |ORDER BY rev.region, rev.nation""".stripMargin)),

    // q231's promised scale path delivered: per-column MinHash
    // signatures (h37→mix31, engine-portable) beside the exact
    // value-set Jaccard for every pair — the standing accuracy report
    // for shipping sketches instead of the exact melted join.
    Q("q290_joinable_sketch",
      (s, dir) => Audit.joinableColumnsSketch(joinableColSet(s, dir)),
      Some(s"""WITH $duckColumnsMelted,
              |yy AS (SELECT cid, ${duckMix31(
                "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
                "list_transform(string_split(v, ''), " +
                "c -> CAST(unicode(c) AS BIGINT))), " +
                "(a, b) -> (a * 37 + b) % 2147483647)")} AS y, v
              |  FROM m),
              |sig AS (SELECT cid, i, MIN(${duckMix31("y + i")}) AS mh
              |  FROM yy CROSS JOIN (SELECT unnest(range(0, 32)) AS i) xs
              |  GROUP BY 1, 2),
              |est AS (SELECT a.cid AS ca, b.cid AS cb,
              |    CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
              |      AS BIGINT) AS matches
              |  FROM sig a JOIN sig b ON a.i = b.i AND a.cid < b.cid
              |  GROUP BY 1, 2),
              |sz AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n
              |  FROM m GROUP BY 1),
              |ix AS (SELECT a.cid AS ca, b.cid AS cb,
              |    CAST(COUNT(*) AS BIGINT) AS inter
              |  FROM m a JOIN m b ON a.v = b.v AND a.cid < b.cid
              |  GROUP BY 1, 2)
              |SELECT est.ca, est.cb, est.matches,
              |  matches * 1000000 // 32 AS est_ppm,
              |  COALESCE(ix.inter, 0) * 1000000
              |    // (sa.n + sb.n - COALESCE(ix.inter, 0)) AS jac_ppm,
              |  abs(matches * 1000000 // 32
              |    - COALESCE(ix.inter, 0) * 1000000
              |      // (sa.n + sb.n - COALESCE(ix.inter, 0))) AS err_ppm
              |FROM est LEFT JOIN ix ON ix.ca = est.ca AND ix.cb = est.cb
              |JOIN sz sa ON sa.cid = est.ca
              |JOIN sz sb ON sb.cid = est.cb
              |ORDER BY est.ca, est.cb""".stripMargin)),

    // Subject-access export: one user cohort's full activity summary
    // — per (user, event type): count, first/last seen, active days.
    Q("q291_subject_access",
      (s, dir) => Tables(s, dir, "events")
        .where(col("user_id") % 997 === 3 && col("ts").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"),
          countDistinct(expr("unix_micros(ts) div 86400000000"))
            .as("n_days"))
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
             |  CAST(COUNT(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
             |    AS n_days
             |FROM events WHERE user_id % 997 = 3 AND ts IS NOT NULL
             |GROUP BY 1, 2 ORDER BY user_id, event_type""".stripMargin)),

    // Lead-lag cross-correlation of view vs purchase daily counts:
    // exact integer covariance per lag, best-lag flag.
    Q("q292_best_lag_xcorr",
      (s, dir) => Stats.bestLagXcorr(Tables(s, dir, "events"),
        "view", "purchase"),
      Some("""WITH daily AS (SELECT event_type AS t,
             |    epoch_us(ts) // 86400000000 AS day,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM events
             |  WHERE event_type IN ('view', 'purchase') AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |a AS (SELECT day AS da, c AS xa FROM daily WHERE t = 'view'),
             |b AS (SELECT day AS db, c AS xb FROM daily
             |  WHERE t = 'purchase'),
             |lags AS (SELECT CAST(unnest(range(-3, 4)) AS BIGINT) AS lag),
             |al AS (SELECT l.lag, a.xa, b.xb
             |  FROM lags l CROSS JOIN a JOIN b ON b.db = a.da + l.lag),
             |pl AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(xa) AS BIGINT) AS sx,
             |    CAST(SUM(xb) AS BIGINT) AS sy,
             |    CAST(SUM(xa * xb) AS BIGINT) AS sxy
             |  FROM al GROUP BY 1),
             |cv AS (SELECT lag, n, n * sxy - sx * sy AS cov_num FROM pl)
             |SELECT lag, n, cov_num,
             |  ROW_NUMBER() OVER (ORDER BY cov_num DESC, abs(lag), lag) = 1
             |    AS best
             |FROM cv ORDER BY lag""".stripMargin)),

    // Retention-policy dry run: rows + estimated bytes per age bucket
    // against the table's newest timestamp; delete flag on expired.
    Q("q293_retention_dry_run",
      (s, dir) => Audit.retentionDryRun(Tables(s, dir, "events"),
        keepDays = 21L, warmDays = 7L),
      Some("""WITH mx AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
             |aged AS (SELECT event_type, props,
             |    (mx.mx - epoch_us(ts)) // 86400000000 AS age_days
             |  FROM events CROSS JOIN mx WHERE ts IS NOT NULL),
             |bk AS (SELECT CASE WHEN age_days <= 7 THEN 'a_warm'
             |    WHEN age_days <= 21 THEN 'b_cool'
             |    ELSE 'c_expired' END AS bucket, event_type, props
             |  FROM aged)
             |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
             |  CAST(COUNT(*) * 32 + COALESCE(SUM(strlen(event_type)), 0)
             |    + COALESCE(SUM(strlen(props)), 0) + COUNT(*) * 8
             |    AS BIGINT) AS est_bytes,
             |  bucket = 'c_expired' AS would_delete
             |FROM bk GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // STREAMING windowed leaderboard: tumbling 6h windows × event
    // type counted in-stream (Complete drain), top-3 per window
    // ranked on the drained aggregate.
    Q("q294_stream_leaderboard",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.streaming.OutputMode
        val counts = graft.streaming.StreamingPipeline.leaderboardStream(
          QueriesAlert.eventStream(s, dir))
        val drained = QueriesAlert.drainToMemory(s, counts, "q294_sink",
          OutputMode.Complete())
        val w = Window.partitionBy("window_start")
          .orderBy(col("cnt").desc, col("event_type"))
        drained.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .orderBy("window_start", "rank")
      },
      Some("""WITH w AS (SELECT time_bucket(INTERVAL 6 HOUR, ts)
             |    AS window_start, event_type,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM events
             |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
             |  GROUP BY 1, 2),
             |r AS (SELECT window_start, event_type, cnt,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY window_start
             |      ORDER BY cnt DESC, event_type) AS INTEGER) AS rank
             |  FROM w)
             |SELECT window_start, event_type, cnt, rank FROM r
             |WHERE rank <= 3
             |ORDER BY window_start, rank""".stripMargin)),

    // Dedup-strategy referee: pairwise precision/recall of the
    // near-dup CC clustering (q37) against exact-hash groups (q20) as
    // truth — C(n,2) arithmetic on size tables, no pair lists. Exact
    // dups are jac-1.0 pairs, so recall is 1e6 by construction and
    // precision reads "how much MORE the near pass merges".
    Q("q295_dedup_agreement",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val a = docs.select(col("doc_id").as("id"),
          md5(col("text")).as("cluster"))
        val near = DocDedup.clusters(DocDedup.ngramJaccard(docs, n = 3,
          threshold = 0.5, maxShingleDocFreq = 100L))
        val b = docs.select(col("doc_id").as("id"))
          .join(near.withColumnRenamed("doc_id", "id"), Seq("id"), "left")
          .select(col("id"),
            coalesce(col("cluster_id").cast("string"),
              concat(lit("s"), col("id"))).as("cluster"))
        Audit.clusteringAgreement(a, b)
      },
      Some("""WITH RECURSIVE
             |w AS (SELECT doc_id, lang, string_split(text,' ') AS ws
             |  FROM documents),
             |tok AS (SELECT doc_id, lang,
             |    ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
             |  FROM (SELECT doc_id, lang, ws, generate_subscripts(ws,1)
             |        AS i FROM w) t
             |  WHERE i+2 <= len(ws)),
             |sh AS (SELECT DISTINCT doc_id, lang, s FROM tok),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh
             |  GROUP BY doc_id),
             |prs AS (SELECT p.a_id, p.b_id FROM (
             |    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |      COUNT(*) AS inter
             |    FROM sh a JOIN sh b ON a.s=b.s AND a.lang=b.lang
             |      AND a.doc_id<b.doc_id
             |    GROUP BY 1,2) p
             |  JOIN sizes sa ON p.a_id=sa.doc_id
             |  JOIN sizes sb ON p.b_id=sb.doc_id
             |  WHERE CAST(p.inter AS DOUBLE)/(sa.n+sb.n-p.inter) >= 0.5),
             |edges AS (SELECT a_id AS s, d FROM (
             |    SELECT a_id, b_id AS d FROM prs
             |    UNION SELECT b_id, a_id FROM prs) x(a_id, d)),
             |reach(s, d) AS (
             |  SELECT s, d FROM edges
             |  UNION
             |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
             |nodes AS (SELECT DISTINCT s AS node FROM edges),
             |cc AS (SELECT n.node AS doc_id,
             |    LEAST(n.node, COALESCE(MIN(r.d), n.node)) AS cluster_id
             |  FROM nodes n LEFT JOIN reach r ON r.s = n.node
             |  GROUP BY n.node),
             |asg_a AS (SELECT doc_id AS id, md5(text) AS cluster
             |  FROM documents),
             |asg_b AS (SELECT d.doc_id AS id,
             |    COALESCE(CAST(cc.cluster_id AS VARCHAR),
             |      's' || CAST(d.doc_id AS VARCHAR)) AS cluster
             |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
             |pa AS (SELECT CAST(COALESCE(SUM(n*(n-1)//2), 0) AS BIGINT)
             |    AS pairs_a
             |  FROM (SELECT COUNT(*) AS n FROM asg_a GROUP BY cluster)),
             |pb AS (SELECT CAST(COALESCE(SUM(n*(n-1)//2), 0) AS BIGINT)
             |    AS pairs_b
             |  FROM (SELECT COUNT(*) AS n FROM asg_b GROUP BY cluster)),
             |bo AS (SELECT CAST(COALESCE(SUM(n*(n-1)//2), 0) AS BIGINT)
             |    AS n_both
             |  FROM (SELECT COUNT(*) AS n FROM asg_a a JOIN asg_b b
             |        ON a.id = b.id GROUP BY a.cluster, b.cluster))
             |SELECT pa.pairs_a, pb.pairs_b, bo.n_both,
             |  CASE WHEN pb.pairs_b > 0
             |    THEN bo.n_both * 1000000 // pb.pairs_b END AS precision_ppm,
             |  CASE WHEN pa.pairs_a > 0
             |    THEN bo.n_both * 1000000 // pa.pairs_a END AS recall_ppm
             |FROM pa CROSS JOIN pb CROSS JOIN bo""".stripMargin)),

    // Automated spike drill-down: the strongest hourly spike by
    // integer excess, attributed to its top users (in-spike share vs
    // baseline share, exact ppm).
    Q("q296_spike_drilldown",
      (s, dir) => Analytics.spikeDrilldown(Tables(s, dir, "events")),
      Some("""WITH b AS (SELECT event_type AS t, user_id AS u,
             |    epoch_us(ts) // 3600000000 AS h
             |  FROM events
             |  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
             |    AND ts IS NOT NULL),
             |hc AS (SELECT t, h, CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM b GROUP BY 1, 2),
             |tt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS total,
             |    CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hours
             |  FROM b GROUP BY 1),
             |sp AS (SELECT hc.t, hc.h, hc.cnt AS spike_cnt, tt.total,
             |    hc.cnt * tt.n_hours - tt.total AS score
             |  FROM hc JOIN tt ON tt.t = hc.t
             |  ORDER BY score DESC, hc.t, hc.h LIMIT 1),
             |isp AS (SELECT sp.t, sp.h, sp.spike_cnt, sp.total, sp.score,
             |    b.u, CAST(COUNT(*) AS BIGINT) AS u_cnt
             |  FROM b JOIN sp ON sp.t = b.t AND sp.h = b.h
             |  GROUP BY 1, 2, 3, 4, 5, 6),
             |bl AS (SELECT t, u, CAST(COUNT(*) AS BIGINT) AS u_total
             |  FROM b GROUP BY 1, 2)
             |SELECT isp.t AS event_type, isp.h * 3600000000
             |    AS hour_start_us,
             |  isp.spike_cnt, isp.score, isp.u AS user_id, isp.u_cnt,
             |  isp.u_cnt * 1000000 // isp.spike_cnt AS in_spike_share_ppm,
             |  bl.u_total * 1000000 // isp.total AS baseline_share_ppm
             |FROM isp JOIN bl ON bl.t = isp.t AND bl.u = isp.u
             |ORDER BY isp.u_cnt DESC, isp.u LIMIT 5""".stripMargin)),

    // STREAMING per-label centroid maintenance through the gate:
    // integer sums commute, so the single-batch replay equals q66's
    // batch op and its oracle verbatim.
    Q("q279_stream_centroids",
      (s, dir) => {
        import org.apache.spark.sql.streaming.OutputMode
        val out = graft.streaming.StreamingPipeline.centroidStream(
          QueriesAlert.tableStream(s, dir, "embeddings"))
        QueriesAlert.drainToMemory(s, out.toDF(), "q279_sink",
          OutputMode.Append())
          .orderBy("label", "idx")
      },
      Some(centroidOracle)),
  )
}
