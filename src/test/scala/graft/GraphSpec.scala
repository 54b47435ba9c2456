package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Graph

class GraphSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  test("deterministicWalks: every hop follows a real edge, replayably") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val adj: Map[Long, Set[Long]] = Map(
      1L -> Set(2L, 3L, 4L), 2L -> Set(1L, 3L), 3L -> Set(1L, 2L, 4L),
      4L -> Set(1L, 3L))
    def runOnce() = Graph.deterministicWalks(e, walksPerNode = 2, length = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val rows = runOnce()
    // every (start, walk) has steps 0..3; step 0 is the start itself
    val byWalk = rows.groupBy(r => (r._1, r._2))
    assert(byWalk.size === 4 * 2)
    byWalk.foreach { case ((n0, _), steps) =>
      val seq = steps.sortBy(_._3).map(_._4)
      assert(seq.length === 4 && seq.head === n0)
      seq.sliding(2).foreach(p => assert(adj(p(0)).contains(p(1)),
        s"hop ${p(0)}→${p(1)} is not an edge"))
    }
    // replayable: a second run yields the identical corpus
    assert(runOnce().toSeq === rows.toSeq)
    // the two walks from one start differ somewhere (hash varies by w)
    assert(byWalk.groupBy(_._1._1).values.exists(m =>
      m.values.map(_.sortBy(_._3).map(_._4).toSeq).toSet.size > 1))
  }

  test("skipgramPairs: symmetric within-window co-occurrence counts") {
    // one hand-built walk 1→2→3→4 (plus a second walk of the same
    // shape shifted) — window 2 pairs are enumerable by hand
    val walks = Seq(
      (1L, 0, 0, 1L), (1L, 0, 1, 2L), (1L, 0, 2, 3L), (1L, 0, 3, 4L))
      .toDF("n0", "w", "step", "node")
    val m = Graph.skipgramPairs(walks, window = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // each unordered pair within distance ≤2 appears once per direction
    assert(m((1L, 2L)) === 1L && m((2L, 1L)) === 1L)
    assert(m((1L, 3L)) === 1L && m((3L, 1L)) === 1L)
    assert(!m.contains((1L, 4L))) // distance 3 > window
    assert(m((2L, 4L)) === 1L)
    // symmetry holds globally
    m.foreach { case ((c, x), n) => assert(m((x, c)) === n) }
  }

  test("sgnsShards: deterministic unigram^(3/4) negatives, ≤ negK per " +
      "pair, shards round-robin by descending count") {
    val walks = Seq(
      (1L, 0, 0, 1L), (1L, 0, 1, 2L), (1L, 0, 2, 3L), (1L, 0, 3, 4L),
      (2L, 0, 0, 2L), (2L, 0, 1, 3L), (2L, 0, 2, 4L), (2L, 0, 3, 1L))
      .toDF("n0", "w", "step", "node")
    def runOnce() = Graph.sgnsShards(walks, window = 2, negK = 2,
      shards = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val rows = runOnce()
    assert(rows.nonEmpty)
    // deterministic: an identical rerun replays every draw
    assert(runOnce().toSeq === rows.toSeq)
    // ≤ negK draws per pair, j ∈ {1, 2}, and no draw collides with
    // its own pair (collisions are dropped, not resampled)
    rows.groupBy(r => (r._2, r._3)).foreach { case ((c, x), g) =>
      assert(g.length <= 2)
      g.foreach { r =>
        assert(r._5 == 1L || r._5 == 2L)
        assert(r._6 != c && r._6 != x)
      }
    }
    // negatives come from the corpus vocabulary
    val vocab = Set(1L, 2L, 3L, 4L)
    rows.foreach(r => assert(vocab.contains(r._6)))
    // shard ids cover [0, shards); assignment is count-desc round-robin
    // so the two shards carry an equal number of PAIRS (±1)
    val shardsOf = rows.map(r => ((r._2, r._3), r._1)).distinct
    val perShard = shardsOf.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perShard.keySet.subsetOf(Set(0L, 1L)))
    assert(math.abs(perShard.getOrElse(0L, 0) - perShard.getOrElse(1L, 0)) <= 1)
  }

  test("pageRank: a symmetric cycle stays uniform") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(e).collect().map(_.getAs[Long]("rank")).toSeq
    assert(r.distinct.size === 1) // same in-/out-structure → same rank
    // mass: 3 nodes at scale/3 minus only floor dust
    assert(math.abs(r.sum - 1000000000000L) < 100)
  }

  test("pageRank: the hub of an in-star outranks the leaves") {
    // leaves all point at the hub; hub points at one leaf
    val e = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("src", "dst")
    val r = Graph.pageRank(e).collect()
    assert(r.head.getAs[Long]("node") === 0L) // rank-desc ordering
    val ranks = r.map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank")).toMap
    assert(ranks(0L) > ranks(1L))
    assert(ranks(1L) > ranks(2L)) // hub's out-edge boosts leaf 1
    assert(ranks(2L) === ranks(3L)) // symmetric leaves tie exactly
  }

  test("triangleCount: K4 has four triangles, every vertex in three") {
    // complete graph on 4 nodes, fed as DIRECTED duplicates (both
    // directions) to prove the undirected dedup
    val und = for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b)
    val r = Graph.triangleCountOriented(Graph.orientEdges(und.toDF("src", "dst")))
      .collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("triangles")).toMap
    assert(r === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("triangleCount: a hub star has no triangles; closing one edge makes one") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L))
    assert(Graph.triangleCountOriented(Graph.orientEdges(star.toDF("src", "dst")))
      .collect().isEmpty)
    val closed = star :+ ((4L, 5L))
    val r = Graph.triangleCountOriented(Graph.orientEdges(closed.toDF("src", "dst")))
      .collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("triangles")).toMap
    assert(r === Map(0L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("triangleCount matches a brute-force reference on a random graph") {
    // deterministic pseudo-random sparse graph, heavy hub included so
    // the degree-orientation path is exercised on skew
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong)) ++
      (0 until 25).map(i => (99L, i.toLong)) // hub
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val adj = und.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val triangles = for {
      (a, b) <- und.toSeq; c <- adj.getOrElse(b, Set.empty)
      if und.contains((a, c))
    } yield (a, b, c)
    val expected = triangles.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val got = Graph.triangleCountOriented(Graph.orientEdges(edges.toDF("src", "dst")),
        topN = 1000)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("triangles"))
      .toMap
    assert(got === expected)
  }

  test("pageRank is exactly reproducible across partitionings") {
    val li = Tables(spark, sf(), "lineitem")
      .select(org.apache.spark.sql.functions.col("l_orderkey").as("o"),
        org.apache.spark.sql.functions.col("l_partkey").as("p"))
    import org.apache.spark.sql.functions.col
    val e = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") =!= col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst"))
    val x = Graph.pageRank(e, iterations = 2).collect().map(_.toSeq).toSeq
    val y = Graph.pageRank(e.repartition(13), iterations = 2)
      .collect().map(_.toSeq).toSeq
    assert(x === y)
  }

  test("clusteringCoefficient: clique scores 1e6, pendant bridge dilutes") {
    import spark.implicits._
    // triangle {1,2,3} plus pendant 4 attached to 1:
    //   2,3: d=2, T=1 → cc = 1e6 ; 1: d=3, T=1 → 2e6/6 = 333333
    //   4: d=1 → excluded
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L), (3L, 2L))
      .toDF("src", "dst") // one duplicate reversed edge — must dedup
    val r = Graph.clusteringCoefficientOriented(Graph.orientEdges(e)).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(2L) === ((2L, 1L, 1000000L)))
    assert(r(3L) === ((2L, 1L, 1000000L)))
    assert(r(1L) === ((3L, 1L, 333333L)))
    assert(!r.contains(4L))
  }

  test("bfsHops: path graph hops out to maxHops and stops") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = Graph.bfsHops(e, seeds, maxHops = 3).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Int]("hop")).toMap
    assert(r === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)) // 5 is hop 4: cut
  }

  test("bfsHops: each extra hop costs the same jobs (the frontier is " +
      "read from the checkpointed state)") {
    val e = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val jobs = Seq(2, 4, 6, 8).map(h => jobsOf(Graph.bfsHops(e, seeds, h)))
    // a frontier re-derived from every earlier round made this
    // quadratic: 15 / 38 / 73 / 120 jobs
    assert(jobs.sliding(2).map(p => p(1) - p(0)).toSet.size === 1, jobs)
  }

  test("bfsHops keeps the MINIMUM hop on multi-path reachability") {
    // diamond with a shortcut: 1→2→4 and 1→4 — node 4 is hop 1, and
    // the 2-cycle 1↔2 must not re-enqueue visited nodes
    val e = Seq((1L, 2L), (2L, 4L), (1L, 4L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.bfsHops(e, Seq(1L).toDF("node"), maxHops = 3).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Int]("hop")).toMap
    assert(r === Map(1L -> 0, 2L -> 1, 4L -> 1))
  }

  test("bfsHops: isolated seed stays at hop 0; multi-seed takes nearest") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.bfsHops(e, Seq(1L, 3L, 99L).toDF("node"), maxHops = 2)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Int]("hop")).toMap
    // 3 is itself a seed → 0, not hop 2 from seed 1; 99 has no edges
    assert(r === Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1, 99L -> 0))
  }

  test("boundedShortestPath: cheap multi-hop beats the direct edge") {
    // 1→3 direct costs 10; 1→2→3 costs 2 — min-plus must take it
    val e = Seq((1L, 3L, 10L), (1L, 2L, 1L), (2L, 3L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.boundedShortestPath(e, Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("d")).toMap
    assert(r === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("boundedShortestPath respects the hop bound") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.boundedShortestPath(e, Seq(1L).toDF("node"), maxHops = 2)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("d")).toMap
    assert(r === Map(1L -> 0L, 2L -> 1L, 3L -> 2L)) // 4,5 beyond 2 hops
  }

  test("boundedShortestPath: a longer-hop cheaper path found within bound") {
    // 1→4 direct 100; 1→2→3→4 = 3 within maxHops=3
    val e = Seq((1L, 4L, 100L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.boundedShortestPath(e, Seq(1L).toDF("node"), maxHops = 3)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("d")).toMap
    assert(r(4L) === 3L)
    // with maxHops=2 the direct edge is the best reachable
    val r2 = Graph.boundedShortestPath(e, Seq(1L).toDF("node"), maxHops = 2)
      .collect().map(x => x.getAs[Long]("node") -> x.getAs[Long]("d")).toMap
    assert(r2(4L) === 100L)
  }

  test("bfsHops matches a driver-side BFS on a pseudo-random graph") {
    val n = 60
    val edges = (for (i <- 0 until 300) yield {
      val a = (i * 2654435761L) % n
      val b = (i * 40503L + 7) % n
      (a, b)
    }).filter { case (a, b) => a != b }
    val seeds = Seq(0L, 17L)
    val got = Graph.bfsHops(edges.toDF("src", "dst"), seeds.toDF("node"),
        maxHops = 4).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Int]("hop")).toMap
    // reference BFS
    val adj = edges.distinct.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).toSet }
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds.toSet
    for (h <- 1 to 4) {
      val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .diff(dist.keySet)
      dist = dist ++ next.map(_ -> h)
      frontier = next
    }
    assert(got === dist)
  }

  test("labelPropagation: a clique absorbs its pendant, ties go low") {
    import spark.implicits._
    // triangle {1,2,3} plus pendant 4-1; both orientations supplied
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.labelPropagation(e, rounds = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    // round 1: 1→min(2,3,4)=2? no — majority: each neighbor label
    // appears once, tie → smallest: 1→2, 2→1, 3→1, 4→1
    // round 2: 1 hears {1,1,1}→1; 2 hears {2,1}→tie→1; 3 hears
    // {2,1}→1; 4 hears {2}→2
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
  }

  test("labelPropagation: community sizes fold over the final labels") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two disjoint triangles — each converges to its own min label
    val t1 = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val t2 = Seq((10L, 20L), (10L, 30L), (20L, 30L))
    val und = t1 ++ t2
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r = Graph.labelPropagation(e, rounds = 2)
    assert(r.where(col("csize") =!= 3L).count() === 0)
    assert(r.select("label").distinct().count() === 2)
  }

  test("kCore: pendant chain peels away, clique survives, cascade is real") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // K4 on 1-4 (degree 3 each) + chain 4-5-6: 6 has degree 1, drops
    // round 1; that leaves 5 at degree 1, which needs round 2 — the
    // cascade a single degree filter misses
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L))
    val e = (k4 ++ chain).toDF("src", "dst")
    val r = Graph.kCore(e, k = 2L, rounds = 3).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("deg")).toMap
    assert(r === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // one round only: 5 still present (its pendant 6 dropped, but the
    // recheck that would drop 5 hasn't run) — proves rounds matter
    val r1 = Graph.kCore(e, k = 2L, rounds = 1).collect()
      .map(_.getAs[Long]("node")).toSet
    assert(r1.contains(5L))
  }

  test("kTruss: bridge edges die, triangle-embedded edges survive with support") {
    import spark.implicits._
    // triangles {1,2,3} and {2,3,4} share edge (2,3); (4,5) is a bridge
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("src", "dst")
    val r = Graph.kTruss(e, k = 3L, rounds = 2).collect()
      .map(x => (x.getAs[Long]("u"), x.getAs[Long]("v")) ->
        x.getAs[Long]("sup")).toMap
    assert(r === Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L))
    // k=4 needs 2 triangles per edge: only (2,3) qualifies round 1,
    // then loses both triangles → everything peels away
    assert(Graph.kTruss(e, k = 4L, rounds = 3).count() === 0L)
  }

  test("hits: bipartite basket — popular part wins authority, broad buyer wins hub") {
    import spark.implicits._
    // customers 1,2,3 → parts 10,20: part 10 bought by everyone,
    // customer 1 buys both parts
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 20L)).toDF("src", "dst")
    val r = Graph.hits(e).collect()
      .map(x => x.getAs[Long]("node") ->
        (x.getAs[Long]("auth"), x.getAs[Long]("hub"))).toMap
    // bipartite: sources have zero auth, sinks zero hub
    assert(r(1L)._1 === 0L && r(10L)._2 === 0L)
    assert(r(10L)._1 > r(20L)._1) // 3 buyers beat 1
    assert(r(1L)._2 > r(2L)._2)   // two-part basket beats one
    assert(r(2L)._2 === r(3L)._2) // symmetric buyers tie exactly
    // ordering contract: auth desc, node — part 10 leads
    val first = Graph.hits(e).head
    assert(first.getAs[Long]("node") === 10L)
    // L1 renorm: each side's mass is scale minus floor dust only
    assert(math.abs(r.values.map(_._1).sum - 1000000000000L) < 10)
    assert(math.abs(r.values.map(_._2).sum - 1000000000000L) < 10)
  }

  test("linkPredict: open wedges score, existing edges never do") {
    import spark.implicits._
    // square 1-2-3-4-1: the two diagonals are the only candidates,
    // each with two common neighbors and Jaccard 2/(2+2-2) = 1
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r = Graph.linkPredict(sq).collect()
      .map(x => (x.getAs[Long]("u"), x.getAs[Long]("v")) ->
        (x.getAs[Long]("cn"), x.getAs[Long]("jaccard_ppm"))).toMap
    assert(r === Map((1L, 3L) -> (2L, 1000000L), (2L, 4L) -> (2L, 1000000L)))
    // a triangle is fully connected: no non-edge candidates at all
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.linkPredict(tri).count() === 0L)
  }

  test("linkPredict: apex-degree guard drops hub-mediated wedges") {
    import spark.implicits._
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    // hub apex degree 5: guarded out at maxApexDegree=3 (leaves have
    // degree 1 and generate no pairs), kept at the default
    assert(Graph.linkPredict(star, maxApexDegree = 3L).count() === 0L)
    assert(Graph.linkPredict(star).count() === 10L) // C(5,2) leaf pairs
  }

  test("personalizedPageRank: mass stays near the seed, unreachable nodes drop") {
    import spark.implicits._
    // chain 1→2→3 plus a disconnected 4→5; seed at 1
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r = Graph.personalizedPageRank(e, seeds).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("rank")).toMap
    assert(r.keySet === Set(1L, 2L, 3L)) // 4,5 unreachable → rank 0 → dropped
    // exact floor fixed-point: base 150e9 at the seed, one damped hop
    // to 2, two to 3 (within 3 iterations)
    assert(r(1L) === 150000000000L)
    assert(r(2L) === 127500000000L)
    assert(r(3L) === 108375000000L)
  }

  test("kCore: stable flag reports fixpoint vs still-peeling") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val e = k4.toDF("src", "dst")
    // K4 at k=2: nothing peels, round 2 confirms round 1 → stable
    val st = Graph.kCore(e, k = 2L, rounds = 2).collect()
    assert(st.nonEmpty && st.forall(_.getAs[Boolean]("stable")))
    // chain of 5 at k=2: every round peels the two current endpoints,
    // round counts keep shrinking → not stable within 2 rounds
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L)).toDF("src", "dst")
    val un = Graph.kCore(chain, k = 2L, rounds = 2).collect()
    assert(un.forall(!_.getAs[Boolean]("stable")))
  }

  test("kTruss: stable flag reports fixpoint vs still-peeling") {
    import spark.implicits._
    // K4 (every edge in two triangles) plus a triangle strip on 10-15
    // (edges (i, i+1) and (i, i+2)): at k=4 round 1 keeps K4 and the
    // strip's inner path (11,12),(12,13),(13,14); round 2 drops that
    // path, whose triangles went with round 1
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val strip = (10L to 14L).map(i => (i, i + 1)) ++
      (10L to 13L).map(i => (i, i + 2))
    val e = (k4 ++ strip).toDF("src", "dst")
    val un = Graph.kTruss(e, k = 4L, rounds = 2).collect()
    assert(un.length === 6 && un.forall(!_.getAs[Boolean]("stable")))
    val st = Graph.kTruss(e, k = 4L, rounds = 3).collect()
    assert(st.map(x => (x.getAs[Long]("u"), x.getAs[Long]("v"))).toSet === k4.toSet)
    assert(st.forall(_.getAs[Boolean]("stable")))
  }

  test("kCore and kTruss: jobs per call are pinned; kTruss counts only " +
      "its last two rounds") {
    import spark.implicits._
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val e = (k4 ++ Seq((4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L)))
      .toDF("src", "dst")
    // both count only their last two rounds (kCore its alive nodes,
    // kTruss its edges); a count() of a third round would add two jobs
    // under AQE, the partial-count shuffle stage and the result stage
    assert(jobsOf(Graph.kCore(e, k = 2L, rounds = 3)) === 22)
    assert(jobsOf(Graph.kTruss(e, k = 3L, rounds = 3)) === 25)
  }

  test("avgNeighborDegree: star graph — spokes read the hub, hub reads spokes") {
    // hub 1 ↔ {2,3,4}; edges given both directions like a co-purchase
    // derivation would produce
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 1L), (3L, 1L),
      (4L, 1L)).toDF("src", "dst")
    val r = Graph.avgNeighborDegree(e).collect()
      .map(x => x.getAs[Long]("node") ->
        (x.getAs[Long]("deg"), x.getAs[Long]("nbr_deg_milli"),
          x.getAs[Boolean]("hubby"))).toMap
    assert(r(1L) === ((3L, 1000L, false)))     // hub sees degree-1 spokes
    Seq(2L, 3L, 4L).foreach(n =>
      assert(r(n) === ((1L, 3000L, true)), s"node $n"))
  }

  test("sccFromPivot intersects forward and backward reachability") {
    // 1→2→3→1 is a cycle (the pivot's SCC); 3→4→5 dangles forward
    // (reachable but not mutual); 6→1 dangles backward
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (6L, 1L)).toDF("src", "dst")
    val r = Graph.sccFromPivot(e).collect()
      .map(x => (x.getAs[Long]("node"), x.getAs[Long]("scc_size")))
    assert(r.toSeq === Seq((1L, 3L), (2L, 3L), (3L, 3L)))
  }

  test("temporalReach: edge times must increase along the path") {
    import spark.implicits._
    // 1→2 at t=10, 2→3 at t=5 (BEFORE arrival at 2 — unusable),
    // 2→4 at t=20 (usable); 5→1 at t=1 (into the seed, irrelevant);
    // and the late-arrival trap: 1→6 at t=30, 6→7 at t=25 — 7 is NOT
    // reachable through 6 even though both edges exist statically
    val e = Seq((1L, 2L, 10L), (2L, 3L, 5L), (2L, 4L, 20L),
      (5L, 1L, 1L), (1L, 6L, 30L), (6L, 7L, 25L))
      .toDF("src", "dst", "t")
    val seeds = Seq(Tuple1(1L)).toDF("n")
    val r = Graph.temporalReach(e, seeds).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("earliest_at"))
      .toMap
    assert(r === Map(2L -> 10L, 4L -> 20L, 6L -> 30L))
  }

  test("temporalReach: a later hop's earlier arrival still spreads") {
    import spark.implicits._
    // two routes to node 3: direct at t=50, and 1→2(t=5)→3(t=10);
    // node 4 needs arrival at 3 BEFORE t=20 — only the 2-hop route
    // provides it, so frontier-only search that kept 3's first reach
    // at t=50... (min-fold per round handles it; pin the behavior)
    val e = Seq((1L, 3L, 50L), (1L, 2L, 5L), (2L, 3L, 10L),
      (3L, 4L, 20L)).toDF("src", "dst", "t")
    val seeds = Seq(Tuple1(1L)).toDF("n")
    val r = Graph.temporalReach(e, seeds).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("earliest_at"))
      .toMap
    assert(r === Map(2L -> 5L, 3L -> 10L, 4L -> 20L))
  }

  test("blastRadius: one fold ranks seeds by per-seed temporal spread") {
    import spark.implicits._
    // seed 1 spreads two hops (1→2 t10, 2→3 t20); seed 5 spreads one
    // hop (5→6 t5, 6→7 edge at t3 is stale); seed 9 reaches nothing
    val e = Seq((1L, 2L, 10L), (2L, 3L, 20L), (5L, 6L, 5L),
      (6L, 7L, 3L)).toDF("src", "dst", "t")
    val seeds = Seq(1L, 5L, 9L).toDF("seed")
    val r = Graph.blastRadius(e, seeds).collect()
      .map(x => x.getAs[Long]("seed") ->
        (x.getAs[Long]("n_reached"), x.getAs[Long]("first_spread_at"),
          x.getAs[Long]("last_spread_at"))).toMap
    assert(r(1L) === (2L, 10L, 20L))
    assert(r(5L) === (1L, 5L, 5L))
    assert(!r.contains(9L))
  }
}
