package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics as join + aggregate rounds — the
  * power-iteration shape (PageRank here, and [[DocDedup.clusters]]'s
  * label propagation is the same skeleton) that a relational engine
  * runs at 100 TB without any graph runtime: edges shuffle by `src`
  * for the rank join and by `dst` for the inflow aggregate, both
  * map-side combinable, and each round materializes
  * (localCheckpoint) so lineage stays flat.
  *
  * Every operator starts from one of two edge sets ([[directed]],
  * [[undirected]]) and runs its rounds on one skeleton: [[iterate]]
  * for fixed rounds, [[peel]] for the bounded peels of [[kCore]] and
  * [[kTruss]].
  */
object Graph {

  /** The directed edge set: `srcCol`/`dstCol` renamed to `src`/`dst`,
    * then the `extra` columns (each carrying its own alias); rows with
    * a null in any of them are dropped, and so are self-loops unless
    * `loops`. Lazy — callers add their own distinct, partitioning and
    * checkpoint.
    */
  private def directed(edges: DataFrame, srcCol: String, dstCol: String,
      extra: Seq[Column] = Nil, loops: Boolean = true): DataFrame = {
    val e = edges.select(col(srcCol).as("src") +: col(dstCol).as("dst") +: extra: _*)
    val keep = e.columns.map(col(_).isNotNull) ++
      (if (loops) Nil else Seq(col("src") =!= col("dst")))
    e.where(keep.reduce(_ && _))
  }

  /** The canonical undirected edge set: each edge once as `(u, v)` with
    * `u < v`, whichever direction (or both) the input carries; nulls
    * and self-loops dropped.
    */
  private def undirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    directed(edges, srcCol, dstCol, loops = false)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Endpoint degrees `(node, d)`: every row of `e` credits both its
    * `a` and its `b` endpoint once — one map-side-combinable aggregate
    * over the two endpoint projections.
    */
  private def degrees(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col(a).as("node")).union(e.select(col(b).as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))

  /** `df` with the degrees `du`, `dv` of its `u`, `v` endpoints, read
    * from the node-sized (broadcast) `deg` table of [[degrees]].
    */
  private def withDegrees(df: DataFrame, deg: DataFrame): DataFrame =
    df.join(broadcast(deg.select(col("node").as("u"), col("d").as("du"))), "u")
      .join(broadcast(deg.select(col("node").as("v"), col("d").as("dv"))), "v")

  /** `n` fixed rounds of `step` (round numbers 1..n) from `init`, each
    * round's result materialized (localCheckpoint) so lineage stays one
    * round deep and the plan depth is static. Returns every state,
    * `init` first — `.last` is the result.
    */
  private def iterate(n: Int, init: DataFrame)(
      step: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    (1 to n).scanLeft(init)((r, i) => step(r, i).localCheckpoint())

  /** Bounded-round peeling shared by [[kCore]] and [[kTruss]]: the
    * canonical edge set `und` is partitioned by `u` and materialized
    * once, then each of `n` rounds maps it through `step` and
    * materializes the survivors. `step` also names the set whose size
    * decides stability (`None`: the surviving edges). Only the last
    * two rounds count it, and `stable` says those two counts agree.
    */
  private def peel(und: DataFrame, n: Int)(
      step: DataFrame => (DataFrame, Option[DataFrame])): (DataFrame, Boolean) = {
    var e = und.repartition(col("u")).localCheckpoint()
    val sizes = (1 to n).flatMap { i =>
      val (next, counted) = step(e)
      e = next.localCheckpoint()
      if (i >= n - 1) Some(counted.getOrElse(e).count()) else None
    }
    (e, sizes.length == 2 && sizes(0) == sizes(1))
  }

  /** Degree-order orientation of an undirected edge set — the shared
    * first stage of [[triangleCountOriented]] and
    * [[clusteringCoefficientOriented]]. Returns `(src, dst, dd)`: each undirected edge exactly once,
    * oriented from its (degree, id)-smaller endpoint, with `dd` = the
    * DESTINATION's degree (the orientation guarantees dst is the
    * larger endpoint, so `greatest(du, dv)` is exact).
    */
  def orientEdges(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
      .localCheckpoint() // degree agg + both orientation joins reuse it
    val deg = degrees(und, "u", "v")
    // orient low → high in (degree, id) order; dd (the destination's
    // degree) stays in the output — degrees reconstruct from it
    // without re-joining the degree table
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    withDegrees(und, deg)
      .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        greatest(col("du"), col("dv")).as("dd"))
  }

  /** Per-triangle node credits shared by [[triangleCountOriented]]
    * and [[clusteringCoefficientOriented]], by EDGE-ITERATOR
    * adjacency intersection instead of the wedge self-join: for every
    * oriented edge (u, v), the triangles through it are exactly
    * `N⁺(u) ∩ N⁺(v)` (a triangle a→b, a→c, b→c is found ONCE, at its
    * (a, b) edge, as c — never at (a, c) or (b, c), whose
    * intersections cannot contain the third vertex). Same triangle
    * set, same once-per-triangle ownership as the wedge join, but the
    * candidate wedges are never materialized as rows: the sf0.1
    * co-purchase graph's 41M wedges became 41M in-row long probes
    * inside `array_intersect` over 1.2M edge rows (guide §1.2 step 2
    * — per-task work — after step 1 left no shuffle to remove: the
    * closing probe was already a broadcast hash join, so a wedge row
    * existed only to die in it).
    *
    * Scale shape: the adjacency fold and both joins are node-keyed;
    * out-lists under the degree orientation are O(√m) long, so a row
    * is never hub-sized. Returns one row per (triangle, member node).
    */
  private def triangleNodes(ord: DataFrame): DataFrame = {
    val adj = ord.groupBy(col("src").as("n"))
      .agg(collect_list(col("dst")).as("nbrs"))
    ord
      .join(adj.select(col("n").as("src"), col("nbrs").as("un")), "src")
      .join(adj.select(col("n").as("dst"), col("nbrs").as("vn")), "dst")
      .select(col("src"), col("dst"),
        array_intersect(col("un"), col("vn")).as("cs"))
      .where(size(col("cs")) > 0)
      // credits: src and dst once per triangle through the edge, plus
      // every closing vertex once
      .select(explode(concat(
        array_repeat(col("src"), size(col("cs"))),
        array_repeat(col("dst"), size(col("cs"))),
        col("cs"))).as("node"))
  }

  /** Per-node triangle participation counts via degree-ordered
    * orientation (the "compact-forward" order), from an
    * already-oriented `(src, dst, dd)` edge list ([[orientEdges]]
    * output, possibly a persisted artifact): every undirected edge is
    * oriented from its (degree, id)-SMALLER endpoint to the larger,
    * and each oriented edge (u, v) finds its triangles as the
    * intersection of the two endpoints' OUT-neighbor lists
    * ([[triangleNodes]]). Each triangle is produced exactly once.
    *
    * The orientation is the scale guard: out-degree under the
    * degree-order is O(√m) for ANY graph (a node of degree d keeps
    * only neighbors of degree ≥ d), so the total intersection work is
    * bounded by Σ outdeg² ≤ m^1.5 instead of the hub-quadratic
    * Σ deg² — the difference between a social-graph power law melting
    * a reducer and not. The adjacency fold and the probe joins
    * shuffle on node keys only.
    *
    * Returns the `topN` nodes by `(triangles desc, node)` — counts
    * per node, each triangle crediting all three vertices.
    */
  def triangleCountOriented(ord: DataFrame, topN: Int = 100): DataFrame =
    triangleNodes(ord)
      .groupBy("node").agg(count(lit(1)).as("triangles"))
      .orderBy(col("triangles").desc, col("node"))
      .limit(topN)

  /** Local clustering coefficient per node, exact ppm, from an
    * already-oriented `(src, dst, dd)` list ([[orientEdges]] output):
    * `cc = 2·T_v·10⁶ / (d_v·(d_v−1))` — how close each node's
    * neighborhood is to a clique, THE per-node cohesion feature for
    * community/fraud pipelines. Triangles come from the same
    * degree-oriented adjacency intersection as
    * [[triangleCountOriented]] (each triangle counted once per member
    * node); degrees reconstruct exactly from the oriented set (each
    * undirected edge appears exactly once) in one combinable
    * aggregate, so the persisted artifact carries everything the
    * coefficient needs; nodes with d < 2 are excluded (coefficient
    * undefined). Integer ppm floor keeps it oracle-exact.
    *
    * Scale shape: identical to triangleCountOriented (the
    * intersection is the dominant cost, bounded by the degree
    * orientation's O(m^{3/2}) wedge bound); the final join is
    * node-keyed.
    */
  def clusteringCoefficientOriented(ord: DataFrame,
      topN: Int = 100): DataFrame = {
    val tri = triangleNodes(ord)
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    degrees(ord, "src", "dst").where(col("d") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("d"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_ppm",
        expr("(triangles * 2000000) div (d * (d - 1))"))
      .orderBy(col("cc_ppm").desc, col("node"))
      .limit(topN)
  }

  /** DeepWalk-style walk-corpus generation (Perozzi et al. 2014) with
    * DETERMINISTIC steps: from every node, `walksPerNode` walks of
    * `length` hops, where step `s` of walk `w` at node `n` moves to
    * the neighbor at index `mix31(n·1000003 + w·4096 + s) mod deg(n)`
    * of `n`'s id-ordered neighbor list. Hash-derived randomness makes
    * the corpus replayable on any engine — the oracle unrolls every
    * step relationally — while keeping the walk distribution
    * uniform-ish per step, which is all a skip-gram trainer needs.
    * Output rows: (n0 = start node, w = walk index, step, node).
    *
    * Scale shape: the ranked adjacency (one window over the edge
    * list, partitioned by node) replaces in-memory adjacency; each
    * hop is ONE equi-join of the walker frontier against
    * (node, rank) — `length` bounded rounds, localCheckpoint per
    * round keeps lineage flat, no driver state. Frontier size is
    * nodes × walksPerNode, constant across rounds.
    */
  def deterministicWalks(edges: DataFrame, walksPerNode: Int = 2,
      length: Int = 3, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, srcCol, dstCol)
    val adj = und.select(col("u").as("node"), col("v").as("nbr"))
      .union(und.select(col("v").as("node"), col("u").as("nbr")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("node").orderBy("nbr")) - 1)
      .localCheckpoint()
    val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val start = deg.select(col("node").as("n0"))
      .crossJoin(broadcast((0 until walksPerNode).toDF("w")))
      .withColumn("cur", col("n0"))
      .localCheckpoint()
    iterate(length, start) { (frontier, s) =>
      frontier
        .join(deg.withColumnRenamed("node", "cur"), "cur")
        .withColumn("rnk", pmod(Similarity.mix31Col(
          col("cur") * 1000003L + col("w") * 4096L + lit(s.toLong)),
          col("d")))
        .join(adj.withColumnRenamed("node", "cur"), Seq("cur", "rnk"))
        .select(col("n0"), col("w"), col("nbr").as("cur"))
    }.zipWithIndex.map { case (frontier, s) =>
      frontier.select(col("n0"), col("w"), lit(s).as("step"),
        col("cur").as("node"))
    }.reduce(_ union _).orderBy("n0", "w", "step")
  }

  /** Skip-gram training pairs from a walk corpus
    * ([[deterministicWalks]]'s output shape): for every walk, all
    * (center, context) node pairs within `window` steps of each
    * other (both directions, center ≠ step-equal), aggregated to
    * co-occurrence counts — the direct input of a word2vec-style
    * embedding trainer. One self-equi-join on the walk id with a
    * bounded step-distance predicate; counts are map-side
    * combinable on (center, context).
    */
  def skipgramPairs(walks: DataFrame, window: Int = 2): DataFrame =
    skipgramPairsUnordered(walks, window).orderBy("center", "context")

  /** [[skipgramPairs]] without the presentation sort — for downstream
    * consumers ([[sgnsShards]]) that would otherwise materialize a
    * pointless global range-sort into their checkpoint.
    */
  private def skipgramPairsUnordered(walks: DataFrame,
      window: Int): DataFrame = {
    require(window >= 1, s"window must be ≥ 1, got $window")
    val a = walks.select(col("n0"), col("w"),
      col("step").as("sa"), col("node").as("center"))
    val b = walks.select(col("n0"), col("w"),
      col("step").as("sb"), col("node").as("context"))
    a.join(b, Seq("n0", "w"))
      .where(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy("center", "context")
      .agg(count(lit(1)).as("cnt"))
  }

  /** SGNS (skip-gram with negative sampling) trainer-input shards
    * over a walk corpus — the last hop between the graph family and
    * an embedding trainer: every [[skipgramPairs]] (center, context)
    * pair gets `negK` DETERMINISTIC negative draws from the
    * unigram^(3/4) noise distribution (word2vec's) and an LPT-style
    * balanced shard id (the [[Curation.balancedShards]] round-robin
    * rule: rank pairs by descending cost, shard = rank mod S).
    *
    * Exactness: the noise weight floor(freq^(3/4)) is computed as two
    * INTEGER square roots (floor(sqrt(floor(sqrt(f³))))) with an
    * off-by-one guard around the IEEE sqrt, so the whole sampling
    * table is integer-exact and the oracle replays every draw. Draws
    * are `mix31(center·1000003 + context·8191 + j) mod ΣW` resolved
    * against a dense position table — an EQUI-join, never a range
    * probe. A draw colliding with its own pair (neg == center or
    * context) is dropped, so a pair honestly carries ≤ negK
    * negatives (same contract as [[Curation.negativeSamples]]).
    *
    * Scale shape: the position table is vocabulary-scale × avg
    * weight (≪ pair scale) and broadcasts into the draw join; the
    * cumulative offsets come from [[Par.prefixSum]] (range shuffle +
    * broadcast offsets — never a single-partition window); the shard
    * ranking is [[Par.globalRowNumber]]. Pair-side work is one
    * map-side-combinable aggregate plus two broadcast joins.
    */
  def sgnsShards(walks: DataFrame, window: Int = 2, negK: Int = 2,
      shards: Int = 4): DataFrame = {
    require(negK >= 1, s"negK must be ≥ 1, got $negK")
    require(shards >= 1, s"shards must be ≥ 1, got $shards")
    val pairs = skipgramPairsUnordered(walks, window).localCheckpoint()
    def isqrt(x: Column): Column = Similarity.isqrtCol(x)
    val uni = pairs.groupBy(col("context").as("node"))
      .agg(sum("cnt").as("freq"))
      .withColumn("wt",
        isqrt(isqrt(col("freq") * col("freq") * col("freq"))))
      .where(col("wt") > 0)
    val cum = Par.prefixSum(uni, Seq.empty, Seq("node"), "wt", "cum")
    val table = cum.select(col("node").as("neg"),
        explode(sequence(col("cum") - col("wt"), col("cum") - 1)).as("pos"))
      .localCheckpoint()
    // ΣW = max inclusive prefix = the exploded table's row count —
    // read it from the VOCABULARY-sized cum aggregate instead of
    // count()ing the exploded O(ΣW) table (same modulus, same one
    // driver scalar, an O(ΣW) scan fewer; stays a literal so the
    // draw join keeps its pinned broadcast-equi-join shape)
    val totalW = cum.agg(coalesce(max(col("cum")), lit(0L))).head().getLong(0)
    val draws = pairs
      .select(col("center"), col("context"), col("cnt"),
        explode(sequence(lit(1), lit(negK))).as("j"))
      .withColumn("pos", pmod(Similarity.mix31Col(
        col("center") * 1000003L + col("context") * 8191L + col("j")),
        lit(totalW)))
    val shardOf = Par.globalRowNumber(
        pairs.withColumn("negcnt", -col("cnt")),
        Seq("negcnt", "center", "context"))
      .withColumn("shard", pmod(col("rownum") - 1, lit(shards.toLong)))
      .select("center", "context", "shard")
    draws.join(broadcast(table), "pos")
      .where(col("neg") =!= col("center") && col("neg") =!= col("context"))
      .join(shardOf, Seq("center", "context"))
      .select(col("shard"), col("center"), col("context"), col("cnt"),
        col("j").cast("long").as("j"), col("neg"))
      .orderBy("center", "context", "j")
  }

  /** Minimum-hop BFS from a seed set, bounded depth — k-hop
    * reachability (blast-radius / influence-neighborhood queries)
    * as iterated relational rounds. Each round expands the frontier
    * through `edges` (directed rows; callers union both directions
    * for an undirected graph), then anti-joins the visited set so a
    * node keeps the FIRST hop it was reached at — exactly
    * `MIN(hop)` over all ≤`maxHops` walks, which is what the
    * recursive-CTE oracle restates.
    *
    * Shuffle shape: the edge set shuffles ONCE (pre-partitioned by
    * `src`, the per-round probe key) and is reused every round; the
    * frontier and visited sets are node-sized and broadcast, so a
    * round is broadcast-probe + distinct on the (small) frontier.
    * For a graph whose frontier outgrows broadcast (billions of
    * nodes), drop the hints — rounds then pay one node-keyed
    * shuffle each against the already-partitioned edges, never an
    * edge re-shuffle. Rounds are fixed (`maxHops`), so plan depth is
    * static; each round materializes (localCheckpoint) to keep
    * lineage flat, and the next round reads its frontier from it.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    val e = directed(edges, srcCol, dstCol)
      .distinct().repartition(col("src")).localCheckpoint()
    val dist0 = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hop", lit(0)).localCheckpoint()
    iterate(maxHops, dist0) { (dist, h) =>
      val frontier = dist.where(col("hop") === h - 1)
        .select(col("node").as("src"))
      val next = e.join(broadcast(frontier), "src")
        .select(col("dst").as("node")).distinct()
        .join(broadcast(dist.select("node")), Seq("node"), "left_anti")
        .withColumn("hop", lit(h))
      dist.union(next)
    }.last.orderBy("node")
  }

  /** Bounded-hop weighted shortest paths from a seed set — the
    * min-plus (tropical semiring) counterpart of [[bfsHops]]:
    * Bellman-Ford rounds as join + min-aggregate, `d(v) =
    * min(d(v), min over in-edges (d(u) + w))`, exactly the minimum
    * total weight over walks of ≤ `maxHops` edges. Integer weights
    * keep every distance oracle-exact.
    *
    * Shuffle shape: edges shuffle ONCE (pre-partitioned by src); the
    * distance table is node-sized, broadcast into each round's
    * probe, and re-folded by one combinable min aggregate per round.
    * Fixed rounds → static plan depth; localCheckpoint per round
    * keeps lineage flat. Same broadcast-vs-shuffle tradeoff as
    * bfsHops for billion-node frontiers.
    */
  def boundedShortestPath(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 3, srcCol: String = "src", dstCol: String = "dst",
      wCol: String = "w", seedCol: String = "node"): DataFrame = {
    val e = directed(edges, srcCol, dstCol, Seq(col(wCol).cast("long").as("w")))
      .repartition(col("src")).localCheckpoint()
    val dist0 = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint()
    iterate(maxHops, dist0) { (dist, _) =>
      val relaxed = e.join(broadcast(dist.withColumnRenamed("node", "src")),
          "src")
        .select(col("dst").as("node"), (col("d") + col("w")).as("d"))
      dist.union(relaxed).groupBy("node").agg(min(col("d")).as("d"))
    }.last.orderBy("node")
  }

  /** The dst-partitioned, materialized edge set of the rank operators
    * ([[pageRank]], [[personalizedPageRank]]) with their node table.
    * Pre-partitioning by dst — the inflow aggregate's key — lets each
    * round's groupBy(dst) reuse the materialized partitioning (zero
    * per-round edge shuffles; ranks/degrees are node-sized and
    * broadcast). The one edge shuffle happens here, once.
    */
  private def rankGraph(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame) = {
    val e = directed(edges, srcCol, dstCol)
      .distinct().repartition(col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct().localCheckpoint()
    (e, nodes)
  }

  /** Fixed-iteration PageRank in pure integer fixed-point: ranks are
    * parts-per-`scale` of the total mass, the damping multiply and
    * the out-degree split are floor divisions, so every engine (and
    * every retry) computes bit-identical ranks — the property that
    * makes an iterative float algorithm oracle-checkable at all.
    *
    * Variant contract (declared, deterministic): dangling mass is NOT
    * redistributed — a sink node's rank leaks, as in the original
    * sum formulation. Fixed `iterations`, not convergence-tested:
    * ranking stabilizes in a few rounds and a fixed plan depth is
    * what a relational pipeline wants.
    *
    * Shuffle shape: the edge set shuffles ONCE (pre-partitioned by
    * dst, the per-round aggregate key); rank and degree tables are
    * node-sized and broadcast, so each round is broadcast-join +
    * exchange-free aggregate. That explicit broadcast is the
    * nodes ≪ edges regime (every co-occurrence/citation graph);
    * for a graph whose node table outgrows broadcast, drop the hint
    * and pre-partition edges by src instead — rounds then pay one
    * node-keyed shuffle each, never an edge shuffle.
    */
  def pageRank(edges: DataFrame, iterations: Int = 3, dampPpm: Long = 850000L,
      scale: Long = 1000000000000L, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (e, nodes) = rankGraph(edges, srcCol, dstCol)
    val n = nodes.count()
    require(n > 0, "pageRank over an empty edge set")
    // every node holds an equal share of the mass (N is a driver-side
    // count, not data)
    powerIterate(e, nodes, iterations, dampPpm, scale / n, lit(true))
      .orderBy(col("rank").desc, col("node"))
  }

  /** The shared damped power-iteration core of [[pageRank]] and
    * [[personalizedPageRank]]: `iterations` rounds of
    * `rank'(v) = base(v) + Σ_{u→v} (rank(u)·damp ÷ 10⁶) ÷ outdeg(u)`
    * in floor fixed-point. `e` must already be dst-partitioned and
    * materialized. The nodes where `holds` is true start with mass
    * `r0` and teleport `base = r0·(1 − damp)` (floored like the
    * in-plan divisions); every other node starts at, and teleports,
    * zero — uniform for pageRank, seed-only for the personalized one.
    */
  private def powerIterate(e: DataFrame, nodes: DataFrame, iterations: Int,
      dampPpm: Long, r0: Long, holds: Column): DataFrame = {
    def onHolders(v: Long): Column = when(holds, lit(v)).otherwise(lit(0L))
    val base = r0 * (1000000L - dampPpm) / 1000000L
    val deg = e.groupBy("src").agg(count(lit(1)).as("d")).localCheckpoint()
    val init = nodes.select(col("node"), onHolders(r0).as("rank"))
    iterate(iterations, init) { (r, _) =>
      val contrib = e.join(broadcast(r.withColumnRenamed("node", "src")), "src")
        .join(broadcast(deg), "src")
        .select(col("dst").as("node"),
          expr(s"((rank * ${dampPpm}L) div 1000000L) div d").as("c"))
        .groupBy("node").agg(sum(col("c")).as("inflow"))
      nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (onHolders(base) + coalesce(col("inflow"), lit(0L))).as("rank"))
    }.last
  }

  /** Personalized PageRank — THE graph recommendation primitive:
    * random-walk-with-restart mass from a SEED set, so rank measures
    * proximity to the seeds instead of global importance ("parts
    * bought together with this brand", "accounts near these flagged
    * ones"). Same integer fixed-point contract as [[pageRank]]
    * (floor divisions, dangling mass leaks, fixed `iterations`), with
    * two changes: initial mass and the teleport base both live ONLY
    * on the seeds (uniform `scale ÷ |S|` split), every other node's
    * base is zero. Non-seed rank is therefore pure inflow — nodes
    * unreachable from the seeds stay at exactly 0 and are dropped.
    *
    * Scale shape: identical to pageRank — the edge set shuffles once
    * (dst-partitioned), rank/degree tables are node-sized broadcasts,
    * each round one combinable aggregate. The seed table joins once
    * up front (broadcast; seed sets are query-sized).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iterations: Int = 3, dampPpm: Long = 850000L,
      scale: Long = 1000000000000L, topN: Int = 100,
      srcCol: String = "src", dstCol: String = "dst",
      seedCol: String = "node"): DataFrame = {
    val (e, nodes) = rankGraph(edges, srcCol, dstCol)
    // seeds restricted to nodes actually in the graph — mass on an
    // isolated seed could never flow anyway, and |S| must count only
    // rows that hold mass or the per-seed share is silently diluted
    val s = seeds.select(col(seedCol).as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi").localCheckpoint()
    val nSeeds = s.count()
    require(nSeeds > 0, "personalizedPageRank: no seed is a graph node")
    val withSeed = nodes.join(broadcast(s.withColumn("seed", lit(1))),
      Seq("node"), "left").select("node", "seed")
    powerIterate(e, withSeed, iterations, dampPpm, scale / nSeeds,
        col("seed").isNotNull)
      .where(col("rank") > 0)
      .orderBy(col("rank").desc, col("node"))
      .limit(topN)
  }

  /** HITS hubs & authorities in integer fixed-point — the OTHER
    * classic eigenvector ranking, for graphs where pointing and being
    * pointed at mean different things (here: customers → parts they
    * bought, so hub score = breadth of a customer's basket weighted by
    * how popular its parts are, authority = part popularity weighted
    * by who buys it). Each round is the textbook pair of pulls with an
    * L1 renormalization — `auth(v) = Σ_{u→v} hub(u)` rescaled so
    * Σauth = `scale`, then `hub(u) = Σ_{u→v} auth(v)` rescaled the
    * same way. All arithmetic is floor integer: the rescale multiply
    * runs in decimal(38,0) (`raw × scale` overflows a long) and
    * floor-divides back to a long, so every engine agrees bit for bit.
    * L1 (not the textbook L2) keeps the iteration transcendental-free
    * — same direction, same ranking, oracle-exact.
    *
    * Scale shape: the edge set shuffles ONCE (dst-partitioned — the
    * auth pull reuses it; the hub pull's map-side partial aggregate
    * shrinks edge→node before its src shuffle); hub/auth tables are
    * node-sized broadcasts; the L1 sums are single-scalar driver
    * reads per round (an action already forced by the round's
    * localCheckpoint). Returns the `topN` nodes by
    * (auth desc, node) with both scores.
    */
  def hits(edges: DataFrame, iterations: Int = 2,
      scale: Long = 1000000000000L, topN: Int = 100,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = directed(edges, srcCol, dstCol)
      .distinct().repartition(col("dst")).localCheckpoint()
    val srcs = e.select(col("src").as("node")).distinct().localCheckpoint()
    val dsts = e.select(col("dst").as("node")).distinct().localCheckpoint()
    val nSrc = srcs.count()
    require(nSrc > 0, "hits over an empty edge set")
    def renorm(df: DataFrame, c: String): DataFrame = {
      val total = df.agg(sum(col(c))).head.getLong(0)
      require(total > 0, s"hits: $c mass vanished")
      df.select(col("node"),
        expr(s"(cast($c as decimal(38,0)) * ${scale}L) div ${total}L").as(c))
    }
    // init: uniform hub mass summing to ~scale — keeps every later raw
    // sum ≤ scale·davg, far inside long range at any graph size
    val hub0 = srcs.withColumn("hub", lit(scale / nSrc)).localCheckpoint()
    var auth = dsts.withColumn("auth", lit(0L))
    val hub = iterate(iterations, hub0) { (h, _) =>
      auth = renorm(
        e.join(broadcast(h.withColumnRenamed("node", "src")), "src")
          .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("auth")),
        "auth").localCheckpoint()
      renorm(
        e.join(broadcast(auth.withColumnRenamed("node", "dst")), "dst")
          .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hub")),
        "hub")
    }.last
    auth.join(hub, Seq("node"), "full")
      .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth"),
        coalesce(col("hub"), lit(0L)).as("hub"))
      .orderBy(col("auth").desc, col("node"))
      .limit(topN)
  }

  /** Common-neighbor link prediction — rank NON-edges by how many
    * neighbors their endpoints share (the baseline link-prediction /
    * "people you may know" score), with the Jaccard overlap of the
    * two neighborhoods as ppm tie-breaker. A candidate pair is any
    * two distinct neighbors of a shared apex; scoring walks a wedge
    * self-join like [[kTruss]]'s support count but KEEPS the open
    * wedges (closed ones are existing edges, anti-joined away)
    * instead of closing them.
    *
    * The apex-degree cut is the scale guard and part of the declared
    * contract: a hub apex of degree d contributes d² wedges, so
    * apexes with degree > `maxApexDegree` are excluded from wedge
    * generation (same design as the shingle df-cut in
    * [[DocDedup.ngramJaccard]] — a popularity hub asserts little
    * about any single pair, and the guard bounds the self-join at
    * Σ min(d,D)² ≤ D·m). Common-neighbor counts are therefore
    * "common neighbors of degree ≤ D"; Jaccard uses FULL endpoint
    * degrees. Degrees are node-sized and broadcast; the wedge join
    * and the existing-edge anti-join shuffle on pair keys only.
    */
  def linkPredict(edges: DataFrame, topN: Int = 50,
      maxApexDegree: Long = 64L,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val und = undirected(edges, srcCol, dstCol).localCheckpoint()
    val deg = degrees(und, "u", "v").localCheckpoint()
    // adjacency restricted to low-degree apexes (the guard), both
    // orientations so every neighbor pair of an apex becomes a wedge
    val lowApex = deg.where(col("d") <= maxApexDegree)
      .select(col("node").as("apex"))
    val adj = und.select(col("u").as("apex"), col("v").as("nb"))
      .union(und.select(col("v").as("apex"), col("u").as("nb")))
      .join(broadcast(lowApex), "apex")
    val cand = adj.as("a").join(adj.as("b"),
        col("a.apex") === col("b.apex") && col("a.nb") < col("b.nb"))
      .select(col("a.nb").as("u"), col("b.nb").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("cn"))
      .join(und, Seq("u", "v"), "left_anti")
    withDegrees(cand, deg)
      .select(col("u"), col("v"), col("cn"),
        expr("(cn * 1000000) div (du + dv - cn)").as("jaccard_ppm"))
      .orderBy(col("cn").desc, col("jaccard_ppm").desc, col("u"), col("v"))
      .limit(topN)
  }

  /** Synchronous majority-vote label propagation (community
    * detection): every node starts labelled with itself; each round
    * it adopts the most frequent label among its neighbours, ties
    * broken to the SMALLEST label — fully deterministic, unlike the
    * textbook randomised LPA. A fixed round count (the usual 2-5
    * converges on power-law graphs) keeps the plan finite.
    * [[DocDedup.clusters]]' min-label propagation finds connected
    * components; the majority vote finds dense communities WITHIN one.
    *
    * Contract: `edges` carries each undirected edge in BOTH
    * orientations (u,v)+(v,u) — a row (u,v) means "u hears v's label".
    *
    * Scale shape: per round ONE join of the (pre-partitioned,
    * materialized) edge set against the node-sized label table and
    * one combinable (node,label) vote count; the argmax is
    * `max(struct(cnt, -label))` — no window, no per-node sort.
    * Community sizes fold over the final node-sized table only.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 2,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    // shuffle the edge set once by the vote-listener key (src); every
    // round's join + vote fold reuses that partitioning
    val e = directed(edges, srcCol, dstCol)
      .distinct().repartition(col("src")).localCheckpoint()
    val labels0 = e.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    val labels = iterate(rounds, labels0) { (labels, _) =>
      e.join(broadcast(labels.select(col("node").as("dst"), col("label"))),
          "dst")
        .groupBy("src", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("src")
        .agg(max(struct(col("cnt"), (-col("label")).as("neg"))).as("m"))
        .select(col("src").as("node"), (-col("m.neg")).as("label"))
    }.last
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "label")
      .select(col("node"), col("label"), col("csize"))
      .orderBy("node")
  }

  /** Bounded-round k-truss peeling — the EDGE analog of [[kCore]]:
    * repeatedly drop edges whose support (triangles through the
    * edge, i.e. common neighbors of its endpoints) is below `k − 2`,
    * `rounds` times. A k-truss is a stronger cohesion filter than a
    * k-core: an edge survives only if embedded in enough triangles,
    * which kills bridge/hub edges a degree filter keeps. Each round
    * is ONE triangle-per-edge count (edge ⋈ adjacency ⋈ adjacency on
    * the closing vertex — the q112 wedge-join shape) + a filter;
    * `localCheckpoint` keeps the DAG fixed-depth. Output: surviving
    * canonical edges with their support IN THE FINAL graph (zero if
    * the last peel orphaned them) and the count-stability flag of
    * the last two rounds.
    */
  def kTruss(edges: DataFrame, k: Long = 4L, rounds: Int = 3,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    def support(e: DataFrame): DataFrame = {
      val adj = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      e.as("e")
        .join(adj.as("a1"), col("a1.u") === col("e.u"))
        .join(adj.as("a2"), col("a2.u") === col("e.v") &&
          col("a2.v") === col("a1.v"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("sup"))
    }
    val (e, stable) = peel(undirected(edges, srcCol, dstCol), rounds) { g =>
      (g.join(support(g).where(col("sup") >= k - 2), Seq("u", "v"),
        "left_semi"), None)
    }
    e.join(support(e), Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("sup"), lit(0L)).as("sup"),
        lit(stable).as("stable"))
      .orderBy("u", "v")
  }

  /** Bounded-round k-core peeling: repeatedly drop nodes of degree
    * < `k` (and their incident edges), `rounds` times — the classic
    * density filter separating the cohesive core from the periphery
    * (a peel round is exactly one degree-aggregate + one semi-join
    * per endpoint, so each round is two shuffles on the edge key
    * already partitioned once up front). Bounded rounds keep the job
    * a fixed-depth DAG like [[bfsHops]] / [[labelPropagation]] —
    * each round's survivor set is a subset of the last, so R rounds
    * give the exact k-core whenever peeling stabilizes within R
    * (true for all but adversarial chain graphs; the fixpoint is
    * detectable by comparing the last two rounds' node counts, and
    * `stable` reports it).
    *
    * `edges` is directed input; the CANONICAL edge set (u < v) is
    * derived here — when the input already carries both orientations
    * (CoPurchase.directed), materializing both would process four
    * copies of every undirected edge to keep two. Degrees fold from
    * the two endpoint projections instead (map-side-combinable,
    * node-sized shuffle), so degree = full undirected degree
    * (self-loops dropped). Output: surviving nodes with their
    * core-subgraph degree and the round-R stability flag (one global
    * boolean, same on every row).
    */
  def kCore(edges: DataFrame, k: Long = 3L, rounds: Int = 3,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val (e, stable) = peel(undirected(edges, srcCol, dstCol), rounds) { g =>
      val alive = degrees(g, "u", "v").where(col("d") >= k)
        .select(col("node").as("u")).localCheckpoint()
      // alive is node-sized: broadcast both peel probes so the edge
      // set is filtered in place — a shuffled semi-join re-shuffles
      // the whole edge set by the probe key EVERY round. Billion-node
      // caveat as in pageRank: drop the hint and pre-partition both
      // directions when nodes outgrow broadcast.
      (g.join(broadcast(alive), Seq("u"), "left_semi")
        .join(broadcast(alive.select(col("u").as("v"))), Seq("v"), "left_semi"),
        Some(alive))
    }
    degrees(e, "u", "v")
      .select(col("node"), col("d").as("deg"), lit(stable).as("stable"))
      .orderBy("node")
  }

  /** Average neighbor degree per node (exact milli) — the
    * assortativity diagnostic: hub-attached nodes show
    * `nbr_deg_milli ≫ 1000·deg` (a disassortative, hub-and-spoke
    * graph), peers-attach-to-peers shows the two in line. Also one
    * GraphSAGE-style mean-aggregation round with degree as the
    * feature — the shape any neighborhood feature propagation takes.
    * Top-`topN` by average neighbor degree (ties to node id).
    *
    * Shape: distinct edges → one combinable degree count → one join
    * of edges against the degree table (key = node, the graph's
    * natural shuffle) → combinable per-node sum. No iteration, no
    * window.
    */
  def avgNeighborDegree(edges: DataFrame, topN: Int = 100,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    val e = directed(edges, srcCol, dstCol, loops = false)
      .distinct().localCheckpoint() // degree count + the propagation join
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    e.join(deg.select(col("src").as("dst"), col("deg").as("dn")), "dst")
      .groupBy("src").agg(sum(col("dn")).as("s"))
      .join(deg, "src")
      .select(col("src").as("node"), col("deg"),
        expr("s * 1000 div deg").as("nbr_deg_milli"))
      .withColumn("hubby", col("nbr_deg_milli") > col("deg") * 1000L)
      .orderBy(col("nbr_deg_milli").desc, col("node"))
      .limit(topN)
  }

  /** The temporal Bellman–Ford rounds shared by [[temporalReach]] and
    * [[blastRadius]]: `hops` rounds of `at(v) = min(at(v), min{t :
    * (u, v, t), t > at(u)})` per `keys` group, over the timestamped
    * edges and from the `start` rows `(keys…, n)`, which carry
    * `at = Long.MinValue` (usable from time zero). Each round is one
    * hash join keyed on the src node + one min-fold. Returns the
    * reached `(keys…, n, at)` rows; the start rows stay at MinValue
    * (min with any real arrival) and are dropped.
    */
  private def relaxTemporal(edges: DataFrame, srcCol: String, dstCol: String,
      tCol: String, start: DataFrame, keys: Seq[String],
      hops: Int): DataFrame = {
    val e = directed(edges, srcCol, dstCol, Seq(col(tCol).as("t")))
      .localCheckpoint() // reused every round
    val ks = keys.map(col)
    val best0 = start.withColumn("at", lit(Long.MinValue)).localCheckpoint()
    iterate(hops, best0) { (best, _) =>
      val relaxed = e.join(best, e("src") === best("n"))
        .where(col("t") > col("at"))
        .groupBy(ks :+ e("dst").as("n2"): _*)
        .agg(min(col("t")).as("at2"))
        .select(ks ++ Seq(col("n2").as("n"), col("at2").as("at")): _*)
      best.unionByName(relaxed)
        .groupBy(ks :+ col("n"): _*).agg(min("at").as("at"))
    }.last.where(col("at") =!= Long.MinValue)
  }

  /** Time-respecting reachability from seed nodes over TIMESTAMPED
    * directed edges: a path counts only if edge times strictly
    * increase along it — the "who could have been infected after the
    * initial compromise" frontier that static BFS (q170) over-counts
    * (an edge that fired BEFORE you arrived can't carry you). Each
    * round relaxes EVERY current best arrival through the edge table
    * (temporal Bellman–Ford: `at_h(v) = min(at_{h−1}(v), min{e.t :
    * e = (u,v), e.t > at_{h−1}(u)})`) — frontier-only pruning would
    * be WRONG here, because a later hop can reach a node with an
    * EARLIER arrival and unlock spread its first reach couldn't.
    * Seeds carry `at = Long.MinValue` (usable from time zero).
    * Returns non-seed nodes with their earliest k-hop arrival.
    *
    * Scale shape: per round one hash join keyed on the src node +
    * one min-fold; the best-arrival table carries two columns.
    */
  def temporalReach(edges: DataFrame, seeds: DataFrame, hops: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      tCol: String = "t"): DataFrame =
    relaxTemporal(edges, srcCol, dstCol, tCol, seeds.select(col("n")), Nil,
        hops)
      .select(col("n").as("node"), col("at").as("earliest_at"))
      .orderBy("node")

  /** Per-seed blast radius: [[temporalReach]] vectorized over MANY
    * seeds at once — the best-arrival table carries a `seed` column,
    * so one join per round relaxes every seed's frontier together
    * (k independent BFS runs would pay k× the scans; the seed column
    * turns them into one keyed fold). Returns per seed the count of
    * nodes reachable within `hops` time-respecting hops and the
    * earliest completion time — the "if THIS account is compromised,
    * how far does it spread by when" triage ranking.
    */
  def blastRadius(edges: DataFrame, seeds: DataFrame, hops: Int = 3,
      srcCol: String = "src", dstCol: String = "dst",
      tCol: String = "t"): DataFrame =
    relaxTemporal(edges, srcCol, dstCol, tCol,
        seeds.select(col("seed"), col("seed").as("n")), Seq("seed"), hops)
      .groupBy("seed")
      .agg(count(lit(1)).as("n_reached"),
        min(col("at")).as("first_spread_at"),
        max(col("at")).as("last_spread_at"))
      .orderBy(col("n_reached").desc, col("seed"))

  /** The strongly connected component containing the minimum node id
    * of a DIRECTED graph — the cycle-cluster primitive the undirected
    * family (q37 CC, q211 k-core) cannot see: on a directed handoff
    * graph "reachable" and "mutually reachable" differ, and the SCC
    * is exactly the mutual part. FW-BW pivot step: frontier-expand
    * forward reachability from the pivot and backward reachability to
    * it, each to FIXPOINT (the driver loop stops when a round adds no
    * node — diameter-bounded, checked per round, not guessed); the
    * SCC is the intersection.
    *
    * Scale shape: each round is one hash join (frontier × edges) +
    * distinct, both keyed on the node id; the reach set only grows, so
    * work per round is bounded by |reachable edges|. The per-round
    * driver `count()` is a scalar, not a collect. At 1000-executor
    * scale the same loop runs with the edge table hash-partitioned
    * once and reused every round.
    */
  def sccFromPivot(edges: DataFrame, maxRounds: Int = 100,
      srcCol: String = "src", dstCol: String = "dst",
      hopsPerRound: Int = 4): DataFrame = {
    val e = directed(edges, srcCol, dstCol)
      .distinct().localCheckpoint() // reused every round, both directions
    val pivot = e.select(least(min("src"), min("dst")).as("n"))
    // delta iteration: only the round's NEW frontier joins the edge
    // table (the classic semi-naive trick — re-expanding the whole
    // reach set repeats every earlier round's work), and the
    // "anything new?" check rides the frontier count the loop already
    // needs. Termination is an empty frontier: exact fixpoint.
    //
    // MULTI-HOP rounds: each round expands `hopsPerRound` hops inside
    // ONE plan (chained joins, per-hop distinct to bound revisits)
    // before the round's checkpoint + anti-join + count. Handoff
    // graphs are path-shaped (per-part customer chains), so the
    // fixpoint depth is the longest chain — single-hop rounds paid
    // ~4 driver-scheduled jobs PER EDGE of that chain, and the job
    // launch latency (not the data) dominated. Depth covered is
    // hopsPerRound·maxRounds; per-hop frontiers are ≤ |V| rows, so
    // the deeper plan trades bounded executor work for an
    // O(hopsPerRound) cut in driver round-trips.
    def reach(forward: Boolean): DataFrame = {
      val (from, to) = if (forward) ("src", "dst") else ("dst", "src")
      // the reach set is re-materialized once per round. r14 tried the
      // union-of-frontier-checkpoints form (skip the per-round reach
      // checkpoint; frontiers are disjoint by the anti-join) and it
      // REGRESSED on both the driver box (3.8→5.7 s) and the builder
      // box (5.15→6.42 full-run): each round's anti-join re-read a
      // growing union of k checkpoint scans, adding more stages per
      // round than the one saved checkpoint job — reverted to the r13
      // per-round materialization (measured best of three variants,
      // see OPTIMIZATION_r15.md).
      var r = pivot.localCheckpoint()
      var frontier = r
      var round = 0
      var growing = true
      while (growing && round < maxRounds) {
        val hops = (1 to hopsPerRound).scanLeft(frontier) { (hop, _) =>
          // the frontier is node-sized — broadcast it so the edge
          // table is probed in place instead of shuffled per hop
          // (bfsHops' pattern; same broadcast-vs-shuffle tradeoff for
          // billion-node frontiers)
          e.join(broadcast(hop), e(from) === hop("n"))
            .select(e(to).as("n")).distinct()
        }
        frontier = hops.reduce(_ unionByName _).distinct()
          .join(broadcast(r), Seq("n"), "left_anti").localCheckpoint()
        growing = frontier.limit(1).count() > 0
        if (growing) r = r.unionByName(frontier).localCheckpoint()
        round += 1
      }
      r
    }
    // the two directions are independent Spark job chains — overlap
    // them so the driver loop isn't serialized on both eccentricities
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = edges.sparkSession
    // job-description is thread-local and does not reach pool threads
    // (ADVICE r14): re-assert the caller's label inside each Future
    val desc = spark.sparkContext.getLocalProperty("spark.job.description")
    def labeled(work: => DataFrame): Future[DataFrame] = Future {
      spark.sparkContext.setJobDescription(desc)
      work
    }
    val fwdF = labeled(reach(forward = true))
    val bwdF = labeled(reach(forward = false))
    val scc = Await.result(fwdF, Duration.Inf)
      .join(Await.result(bwdF, Duration.Inf), "n")
    scc.crossJoin(broadcast(scc.agg(count(lit(1)).as("scc_size"))))
      .select(col("n").as("node"), col("scc_size"))
      .orderBy("node")
  }
}
