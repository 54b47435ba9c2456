package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DocDedup, Multimodal, Similarity, TextAnalysis}

class PipelineOpsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  def docs: DataFrame = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0"),
    (1L, "the quick brown fox jumps over the lazy cat", "en", "s1"), // near-dup of 0
    (2L, "completely different content here entirely now", "en", "s2"),
    (3L, "the quick brown fox jumps over the lazy dog", "en", "s3"), // exact dup of 0
    (4L, "el gato y el perro en la casa de los padres", "es", "s4"))
    .toDF("doc_id", "text", "lang", "source")

  test("wordpieceFertility: lexicographic (cost, pieces) Viterbi over " +
      "a rank-cost vocab, hand-checkable corpus") {
    // one doc, words "aa ab": grams and weighted counts —
    //   a: appears in aa(×2 spans), ab(×1) → cnt 3
    //   b: 1 ; aa: 1 ; ab: 1
    // vocab rank (cnt desc, piece asc): a=1, aa=2, ab=3, b=4
    // DP "aa": a|a = 1+1 = 2 cost 2 pieces → 2·64+2 = 130;
    //          aa = 2 cost 1 piece → 2·64+1 = 129 → min 129
    // DP "ab": a|b = 1+4 = 5 → 5·64+2 = 322; ab = 3 → 3·64+1 = 193
    val one = Seq((7L, "aa ab")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.wordpieceFertility(one).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // totals: cost 2+3 = 5, pieces 1+1 = 2
    assert(out.toSeq === Seq((7L, 2L, 5L, 2L)))
  }

  test("wordpieceFertility ties break to fewer pieces at equal cost") {
    // craft equal-cost segmentations: words: "ab" ×2 and "a","b"
    // weighted counts: a: ab×1·2 + a×1 = 3; b: 3; ab: 2
    // ranks: a=1, b=2, ab=3
    // DP "ab": a|b = 1+2 = 3 (2 pieces → 3·64+2=194);
    //          ab = 3 (1 piece → 3·64+1=193) — EQUAL cost, fewer
    //          pieces wins via the encoding
    val one = Seq((1L, "ab ab a b")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.wordpieceFertility(one).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // words: ab(3,1) ab(3,1) a(1,1) b(2,1) → cost 9, pieces 4
    assert(out.toSeq === Seq((1L, 4L, 9L, 4L)))
  }

  test("exact dedup groups identical texts, keeps min id") {
    val r = DocDedup.exact(docs).collect()
    val dupGroup = r.find(_.getAs[Long]("dup_count") == 2L)
    assert(dupGroup.isDefined && dupGroup.get.getAs[Long]("keep_id") === 0L)
    assert(r.length === 4) // 5 docs, one pair collapsed
  }

  test("shingles produce n-grams; short docs yield empty") {
    val r = docs.select(DocDedup.shingles(col("text"), 3).as("sh"))
      .where(col("sh")(0).isNotNull).head()
    assert(r.getSeq[String](0).contains("the quick brown"))
    val short = Seq((9L, "one two")).toDF("doc_id", "text")
      .select(DocDedup.shingles(col("text"), 3).as("sh")).head()
    assert(short.getSeq[String](0).isEmpty)
  }

  test("ngram jaccard finds the near-dup pair and the exact pair") {
    val pairs = DocDedup.ngramJaccard(docs, n = 3, threshold = 0.5).collect()
    val ids = pairs.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    assert(ids.contains((0L, 3L))) // exact dup → jac 1.0
    assert(ids.contains((0L, 1L)) && ids.contains((1L, 3L))) // near-dups
    assert(!ids.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated doc clean
    val exact = pairs.find(r => r.getAs[Long]("a_id") == 0L && r.getAs[Long]("b_id") == 3L).get
    assert(exact.getAs[Double]("jac") === 1.0)
  }

  test("minhash LSH recovers the exact-jaccard pairs (recall on dups)") {
    val exact = DocDedup.ngramJaccard(docs, n = 3, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // bands=8 (rows of 2): this fixture's near-dups sit at jac ≈ 0.75,
    // where 4×4 banding collides with only ~77% probability per hash
    // family — 8×2 makes the recall claim parameter-robust (~99.9%)
    // instead of coupled to hash luck
    val mh = DocDedup.minhashLsh(docs, n = 3, numHashes = 16, bands = 8, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(mh))
  }

  test("cluster labels: components collapse to min id, chains included") {
    val pairs = Seq((0L, 1L), (1L, 3L), (5L, 6L), (8L, 9L), (9L, 10L), (10L, 11L))
      .toDF("a_id", "b_id")
    val r = DocDedup.clusters(pairs).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) === 0L && r(1L) === 0L && r(3L) === 0L) // transitive 0-1-3
    assert(r(5L) === 5L && r(6L) === 5L)
    assert(Seq(8L, 9L, 10L, 11L).forall(r(_) == 8L)) // 4-chain propagates
  }

  test("simhash: identical docs have distance 0, near-dups small, distinct large") {
    val sh = DocDedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(3L)) // exact dup → same simhash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(1L)) < ham(sh(0L), sh(2L)))
  }

  test("cosine: self-similarity is 1.0; micro-cosine is exact") {
    val e = Seq((0L, Array(1.0f, 2.0f, 3.0f), 0), (1L, Array(2.0f, 4.0f, 6.0f), 0),
      (2L, Array(-3.0f, 1.0f, 0.5f), 0)).toDF("vec_id", "embedding", "label")
    val r = DocDedup.embeddingCosine(e, thresholdMicro = 999999L).collect()
    // colinear vectors 0 and 1 → cosine 1.0 → floor(1e6) = 1000000
    assert(r.length === 1)
    assert((r.head.getAs[Long]("a_id"), r.head.getAs[Long]("b_id")) === (0L, 1L))
    assert(r.head.getAs[Long]("cos_e6") === 1000000L)
    // the public cosine/cosineMicro column API agrees with the inline
    // precomputed-norm math the scorers use
    val api = e.as("a").crossJoin(e.as("b"))
      .where(col("a.vec_id") === 0 && col("b.vec_id") === 1)
      .select(graft.ops.Similarity.cosineMicro(col("a.embedding"), col("b.embedding")))
      .collect().head.getLong(0)
    assert(api === 1000000L)
  }

  test("embeddingCosine auto-salt: a skewed block picks a larger grid, " +
      "pairs unchanged") {
    // the decision function: small blocks stay unreplicated, a skewed
    // block scales the grid with its width, capped at 64
    assert(DocDedup.gridSalt(0L) === 1)
    assert(DocDedup.gridSalt(2048L) === 1)
    assert(DocDedup.gridSalt(2049L) === 2)
    assert(DocDedup.gridSalt(20480L) === 10)
    assert(DocDedup.gridSalt(1000000L) === 64) // cap
    // auto (salt=0) and any explicit grid agree pair-for-pair on a
    // skewed corpus (one label holds every vector)
    val e = (0L until 40L).map(i =>
        (i, Array(1.0f + i, 2.0f, 3.0f), 0)) // near-colinear family
      .toDF("vec_id", "embedding", "label")
    val auto = DocDedup.embeddingCosine(e, thresholdMicro = 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val explicit = DocDedup.embeddingCosine(e, thresholdMicro = 900000L,
        salt = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto === explicit && auto.nonEmpty)
  }

  test("hardNegatives: nearest cross-label vector wins; same-label excluded") {
    // labels 0/1 colinear across labels → every anchor's hard negative
    // is its cross-label twin at cosine 1.0; the same-label twin
    // (also cosine 1.0) must NOT appear
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(2.0f, 0.0f), 0),
      (2L, Array(3.0f, 0.0f), 1), (3L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.hardNegatives(e, k = 1, planesPerBand = 2, bands = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(2), x.getInt(3), x.getLong(4))).toMap
    // anchors 0 and 1 (label 0): hardest negative is vec 2 (label 1, cos 1.0)
    assert(r(0L) === ((2L, 1, 1000000L)))
    assert(r(1L) === ((2L, 1, 1000000L)))
    // anchor 2 (label 1): cross-label candidates are 0/1 — min id wins the tie
    assert(r(2L)._1 === 0L && r(2L)._3 === 1000000L)
    // rank column is dense per anchor and capped at k
    val ranks = Similarity.hardNegatives(e, k = 3, planesPerBand = 2, bands = 2)
      .collect().groupBy(_.getLong(0))
    ranks.values.foreach(rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to rs.length)))
  }

  test("intraDocRepetition: looping text scores high, varied text low") {
    val docs = Seq(
      (1L, "a b a b a b a b"),        // "a b" dominates 2-grams
      (2L, "w x y z q r s t"),        // all 2-grams unique
      (3L, "a"))                      // shorter than n=2 → absent
      .toDF("doc_id", "text")
    val r = graft.ops.Curation.intraDocRepetition(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!r.contains(3L))
    // doc 1: 7 positions of 2-grams, "a b" occurs 4, "b a" 3 → all repeated
    assert(r(1L).getAs[Long]("top2") === 4L)
    assert(r(1L).getAs[Long]("top2_permille") === 4000L / 7)
    assert(r(1L).getAs[Long]("dup2_permille") === 1000L)
    // doc 2: no repeats at all
    assert(r(2L).getAs[Long]("top2") === 1L)
    assert(r(2L).getAs[Long]("dup2_permille") === 0L)
    assert(r(2L).getAs[Long]("dup3_permille") === 0L)
  }

  test("ccnetBuckets: per-language token-mass terciles, best-first") {
    val docs = Tables(spark, sf(), "documents").limit(60)
    val rows = graft.ops.Curation.ccnetBuckets(docs).collect()
    assert(rows.nonEmpty)
    // re-derive the bucket contract in plain Scala from the emitted
    // (lang, lm_ppm, doc_id, toks) — pins the window semantics
    rows.groupBy(_.getAs[String]("lang")).foreach { case (_, rs) =>
      val ordered = rs.sortBy(r =>
        (-r.getAs[Long]("lm_ppm"), r.getAs[Long]("doc_id")))
      val total = ordered.map(_.getAs[Long]("toks")).sum
      var cum = 0L
      ordered.foreach { r =>
        cum += r.getAs[Long]("toks")
        val want = if (cum * 3 <= total) "head"
          else if (cum * 3 <= total * 2) "middle" else "tail"
        assert(r.getAs[String]("bucket") === want)
      }
      // buckets appear in head→middle→tail order along the ranking
      val seq = ordered.map(_.getAs[String]("bucket")).distinct
      assert(seq.sameElements(seq.sortBy(
        Seq("head", "middle", "tail").indexOf(_))))
    }
  }

  test("cosineThresholdSweep: counts are monotone non-increasing in t") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.1f), 0),
      (2L, Array(1.0f, 1.0f), 0), (3L, Array(0.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val rows = DocDedup.cosineThresholdSweep(e,
        gridMicro = Seq(100000L, 700000L, 990000L)).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(100000L, 700000L, 990000L))
    val pairs = rows.map(_.getAs[Long]("n_pairs"))
    assert(pairs.sliding(2).forall(w => w(0) >= w(1))) // tighter t → fewer
    // (0,1)≈.995 (0,2)=.707 (1,2)≈.77 (2,3)=.707 clear 0.1; the two
    // near-orthogonal pairs (0,3)=0 and (1,3)≈.0995 do not
    assert(pairs(0) === 4L)
    assert(pairs(2) === 1L) // only the 0-1 near-twins clear 0.99
  }

  test("chunkSliding: overlapping windows cover every token; short tail kept") {
    val docs = Seq((7L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")).toDF("doc_id", "text")
    val r = graft.ops.Curation.chunkSliding(docs, window = 4, stride = 3)
      .collect()
    assert(r.map(_.getAs[Long]("start_tok")).toSeq === Seq(0L, 3L, 6L, 9L))
    assert(r.map(_.getAs[Long]("n_toks")).toSeq === Seq(4L, 4L, 4L, 1L))
    assert(r(1).getAs[String]("chunk_text") === "t3 t4 t5 t6")
    assert(r(3).getAs[String]("chunk_text") === "t9") // suffix never lost
    // stride == window → disjoint partition, tokens covered exactly once
    val flat = graft.ops.Curation.chunkSliding(docs, window = 3, stride = 3)
      .collect().map(_.getAs[String]("chunk_text")).mkString(" ")
    assert(flat === "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")
  }

  test("brute-force top-k: query's own vector ranks first") {
    val e = Tables(spark, sf(), "embeddings")
    val top = Similarity.bruteForceTopK(e, e.where(col("vec_id") === 7), k = 2).collect()
    assert(top.length === 2)
    assert(top.head.getAs[Long]("vec_id") === 7L && top.head.getAs[Long]("cos_e6") === 1000000L)
    assert(top(1).getAs[Long]("cos_e6") < 1000000L)
  }

  test("ivf top-k: self at rank 1 and high recall vs brute force") {
    val e = Tables(spark, sf("sf0.01"), "embeddings")
    val queries = e.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(e, queries, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    val ivf = graft.ops.Ivf.topK(e, queries, k = 3, cells = 16, nprobe = 4).collect()
    assert(ivf.count(r => r.getAs[Int]("rank") == 1 &&
      r.getAs[Long]("q_id") == r.getAs[Long]("vec_id")) === 5) // self found
    val got = ivf.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"))).toSet
    // nprobe=4 of 16 cells: expect most of the exact top-3 recovered
    assert((exact & got).size >= exact.size / 2)
  }

  test("prefix-filter jaccard is lossless: equals brute-force pair set") {
    // the prefix-filtering lemma's claim is exactness — verify the
    // candidate generator against an in-memory brute force over the
    // full sf0.01 corpus (500 docs, every pair checked)
    val d = Tables(spark, sf("sf0.01"), "documents")
    val sets = d.select(col("doc_id"), DocDedup.shingles(col("text"), 3).as("sh"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet)
      .filter(_._2.nonEmpty).sortBy(_._1)
    val expected = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (ia, sa) = sets(i); (ib, sb) = sets(j)
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= 0.5
    } yield (ia, ib, inter.toLong, jac)).toSet
    val got = DocDedup.prefixFilterJaccard(d, n = 3, threshold = 0.5).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Long]("inter"), r.getAs[Double]("jac"))).toSet
    assert(got === expected)
  }

  test("prefix-filter jaccard stays lossless on adversarial random corpora") {
    // seeded random corpora from a TINY vocab: hot tokens everywhere,
    // heavy ties in the (df, hash) order, sizes around the
    // compatibility boundary — the regime where a buggy prefix length
    // or a misplaced ε actually drops pairs
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
      val docs = (0 until 40).map { i =>
        val n = 3 + rnd.nextInt(8)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val sets = docs.select(col("doc_id"), DocDedup.shingles(col("text"), 3).as("sh"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1).toSet)
        .filter(_._2.nonEmpty).sortBy(_._1)
      val expected = (for {
        i <- sets.indices; j <- (i + 1) until sets.length
        (ia, sa) = sets(i); (ib, sb) = sets(j)
        inter = (sa & sb).size
        jac = inter.toDouble / (sa.size + sb.size - inter)
        if jac >= 0.5
      } yield (ia, ib)).toSet
      val got = DocDedup.prefixFilterJaccard(docs, n = 3, threshold = 0.5)
        .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
      assert(got === expected, s"trial $trial diverged")
    }
  }

  test("pq adc top-k matches an in-memory reference implementation") {
    val e = Tables(spark, sf("sf0.01"), "embeddings")
    val vecs = e.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val (m, kcode) = (8, 16)
    val dim = vecs.head._2.length
    val w = dim / m
    val codebooks = (0 until m).map(s =>
      vecs.take(kcode).map(_._2.slice(s * w, (s + 1) * w)))
    // left-to-right fold, floor-e6 — the exact arithmetic of the plan
    def sq(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + (a(i) - b(i)) * (a(i) - b(i)))
    def code(v: Array[Double], s: Int): Int =
      codebooks(s).zipWithIndex
        .map { case (c, i) => (sq(v.slice(s * w, (s + 1) * w), c), i) }
        .min._2
    val queries = vecs.filter(_._1 < 5)
    val expected = (for { (qid, qv) <- queries } yield {
      val lut = (0 until m).map(s => (0 until kcode).map(c =>
        math.floor(sq(qv.slice(s * w, (s + 1) * w), codebooks(s)(c)) * 1e6).toLong))
      vecs.map { case (vid, v) =>
        (vid, (0 until m).map(s => lut(s)(code(v, s))).sum)
      }.sortBy { case (vid, ad) => (ad, vid) }.take(3).zipWithIndex
        .map { case ((vid, ad), i) => (qid, i + 1, vid, ad) }
    }).flatten.toSet
    val got = Similarity.pqAdcTopK(e, e.where(col("vec_id") < 5), k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("adist_e6"))).toSet
    assert(got === expected)
  }

  test("mrl rerank: full-dim scores are exact; wide kCand recovers brute force") {
    val e = Tables(spark, sf("sf0.01"), "embeddings")
    val q = e.where(col("vec_id") < 5)
    // with kCand = corpus size the coarse stage prunes nothing, so the
    // result MUST equal brute force (same score fold, same ties)
    val wide = Similarity.mrlTopK(e, q, k = 3, dTrunc = 16, kCand = 500)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val brute = Similarity.bruteForceTopK(e, q, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(wide.toSeq === brute.toSeq)
    // at serving width the guarantee is structural, not recall (these
    // synthetic embeddings are random — an UNtrained prefix carries no
    // signal, unlike real MRL embeddings): a vector's coarse cosine
    // with itself is 1.0 under ANY prefix, so rank-1 is always self
    val narrow = Similarity.mrlTopK(e, q, k = 3, dTrunc = 16, kCand = 10)
      .collect().filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(narrow === (0L until 5L).map(i => i -> i).toMap)
  }

  test("banded cosine dedup: exact-verified candidates, bands bound the blocks") {
    // colinear pair (cos 1.0) must land in the same bucket in EVERY
    // band (identical sign pattern), so banding can never lose it
    val e = Seq((0L, Array(1.0f, 2.0f, 3.0f), 0), (1L, Array(2.0f, 4.0f, 6.0f), 0),
      (2L, Array(-3.0f, 1.0f, 0.5f), 0)).toDF("vec_id", "embedding", "label")
    val r = DocDedup.embeddingCosineBanded(e, thresholdMicro = 999999L,
      planesPerBand = 6, bands = 4).collect()
    assert(r.length === 1)
    assert((r.head.getAs[Long]("a_id"), r.head.getAs[Long]("b_id")) === (0L, 1L))
    assert(r.head.getAs[Long]("cos_e6") === 1000000L)
    // output is a subset of the exact all-pairs result (precision exact)
    val ef = Tables(spark, sf("sf0.01"), "embeddings")
    val banded = DocDedup.embeddingCosineBanded(ef, thresholdMicro = 350000L)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2))).toSet
    val exactAll = DocDedup.embeddingCosine(
        ef.withColumn("label", lit(0)), thresholdMicro = 350000L)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2))).toSet
    assert(banded.subsetOf(exactAll))
  }

  test("pqEncode: codebook members encode to themselves at zero error") {
    val e = Tables(spark, sf("sf0.01"), "embeddings")
    val r = Similarity.pqEncode(e).collect()
    assert(r.length === e.count() * 8)
    // vector 3 is codeword 3 in every subspace → code 3, dist 0
    val v3 = r.filter(_.getAs[Long]("vec_id") == 3L)
    assert(v3.length === 8)
    v3.foreach { x =>
      assert(x.getAs[Int]("code") === 3)
      assert(x.getAs[Long]("dist_e6") === 0L)
    }
    assert(r.forall(_.getAs[Long]("dist_e6") >= 0L))
    assert(r.forall(x => x.getAs[Int]("code") >= 0 && x.getAs[Int]("code") < 16))
  }

  test("collocations: lift ppm from corpus-wide counts, support cutoff") {
    val d = Seq((1L, "x y x y"), (2L, "x y")).toDF("doc_id", "text")
    val r = TextAnalysis.collocations(d, k = 10, minSupport = 2).collect()
    // bigrams: (x,y)×3, (y,x)×1 — only (x,y) passes support 2
    assert(r.length === 1)
    assert((r.head.getString(0), r.head.getString(1)) === (("x", "y")))
    // lift = T·c12·1e6 // (c1·c2) = 4·3·1e6 // (3·3)
    assert(r.head.getAs[Long]("lift_ppm") === 1333333L)
  }

  test("bigramLmScore: corpus-wide transition counts, per-doc mean ppm") {
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_bigrams"), x.getAs[Long]("lm_ppm")))).toMap
    // cp(a)=3 corpus-wide: (a,b) → 666666 ppm, (b,a) → 1e6, (a,c) → 333333
    assert(r(1L) === ((3L, (666666L + 1000000L + 666666L) / 3)))
    assert(r(2L) === ((1L, 333333L)))
  }

  test("knBigramScore: discounted MLE + continuation backoff, exact " +
      "integer micro (hand-computed)") {
    val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val r = TextAnalysis.knBigramScore(d).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Long]("n_bigrams"), x.getAs[Long]("kn_ppm")))).toMap
    // cb: (a,b)=2 (b,a)=1 (a,c)=1; cp: a=3 b=1; N1+(a,·)=2 N1+(b,·)=1;
    // N1+(·,a)=N1+(·,b)=N1+(·,c)=1; |distinct bigrams|=3; D=0.75
    // (a,b): (2e6−75e4)div3 + ((75e4·2div3)·(1e6div3))div1e6
    //      = 416666 + 166666 = 583332
    // (b,a): 250000 + (750000·333333)div1e6 = 250000+249999 = 499999
    // (a,c): 83333 + 166666 = 249999
    assert(r(1L) === ((3L, (583332L + 499999L + 583332L) / 3))) // 555554
    assert(r(2L) === ((1L, 249999L)))
    // KN's defining property: the UNSEEN-but-plausible transition
    // outranks raw MLE's zero — every ppm keeps a continuation term
    assert(r(2L)._2 > 0L)
  }

  test("semanticDedup: dup_of is the min same-cell neighbor over threshold") {
    val e = Tables(spark, sf("sf0.01"), "embeddings")
    val r = DocDedup.semanticDedup(e).collect()
    assert(r.length === e.count())
    val cell = r.map(x => x.getAs[Long]("vec_id") -> x.getAs[Int]("cell")).toMap
    val dup = r.flatMap(x => Option(x.getAs[java.lang.Long]("dup_of"))
      .map(d => x.getAs[Long]("vec_id") -> d.toLong)).toMap
    // representatives are lower-id and in the same cell
    dup.foreach { case (v, d) =>
      assert(d < v); assert(cell(d) === cell(v))
    }
    // cross-check against the exact within-cell pair scan: a doc is
    // dropped iff it has a lower-id within-cell partner >= threshold
    val cellDf = r.map(x => (x.getAs[Long]("vec_id"), x.getAs[Int]("cell"))).toSeq
      .toDF("vec_id", "label")
    val pairs = DocDedup.embeddingCosine(
        e.drop("label").join(cellDf, "vec_id"), thresholdMicro = 350000L)
      .collect()
    val wantDup = pairs.groupBy(_.getAs[Long]("b_id"))
      .map { case (b, ps) => b -> ps.map(_.getAs[Long]("a_id")).min }
    assert(dup === wantDup)
  }

  test("lsh top-k buckets contain the query itself (same bucket, rank 1)") {
    val e = Tables(spark, sf(), "embeddings")
    val top = Similarity.lshTopK(e, e.where(col("vec_id") === 7), k = 2, planes = 6).collect()
    assert(top.nonEmpty && top.head.getAs[Long]("vec_id") === 7L)
  }

  test("language id votes by stopword lists") {
    val r = TextAnalysis.langId(docs).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(r(0L) === "en")
    assert(r(4L) === "es")
    assert(r(2L) === "und") // no stopwords from any list
  }

  test("quality + token counts are consistent") {
    val q = TextAnalysis.quality(docs).where(col("doc_id") === 0).head()
    assert(q.getAs[Int]("n_words") === 9)
    assert(q.getAs[Int]("n_uniq") === 8) // 'the' twice
    assert(q.getAs[Double]("ttr") === 8.0 / 9.0)
    val t = TextAnalysis.tokenCounts(docs).where(col("doc_id") === 0).head()
    assert(t.getAs[Int]("ws_tokens") === 9)
    assert(t.getAs[Int]("bpe_tokens") === 9) // pure words, no punct
  }

  test("rolling hash: content-sensitive, deterministic") {
    val d = Seq((0L, "abc"), (1L, "abc"), (2L, "abd")).toDF("doc_id", "text")
    val r = TextAnalysis.rollingHashes(d).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) === r(1L))
    assert(r(0L) !== r(2L))
    // known value: fold of 'a','b','c' = ((97*31+98)*31+99) with init 0*31+97
    assert(r(0L) === ((97L * 31 + 98) * 31 + 99) % 2147483647L)
  }

  test("winnowing: shared content yields overlapping fingerprints") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "PREFIX the quick brown fox jumps over the lazy dog tonight"),
      (2L, "entirely different content with no shared substrings at all here")).toDF("doc_id", "text")
    val fp = TextAnalysis.winnow(d).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    // local edit (prefix) keeps most fingerprints; unrelated doc shares ~none
    val shared01 = (fp(0L) & fp(1L)).size.toDouble / fp(0L).size
    val shared02 = (fp(0L) & fp(2L)).size.toDouble / fp(0L).size
    assert(shared01 > 0.5)
    assert(shared02 < 0.2)
  }

  test("fingerprint collapses case/whitespace variants") {
    val d = Seq((0L, "Hello  World"), (1L, "hello world"), (2L, "other")).toDF("doc_id", "text")
    val r = TextAnalysis.fingerprint(d).collect()
    assert(r.length === 2)
    assert(r.find(_.getAs[Long]("keep_id") == 0L).get.getAs[Long]("dup_count") === 2L)
  }

  test("int8 quantization: values in [-127,127], reconstruction within scale/2") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val q = graft.ops.Similarity.quantizeInt8(e)
    val joined = q.join(e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")), "vec_id")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val scale = r.getAs[Long]("scale_e9").toDouble / 1e9
      val qs = r.getSeq[Int](r.fieldIndex("q"))
      val vs = r.getSeq[Double](r.fieldIndex("v"))
      assert(qs.forall(x => x >= -127 && x <= 127))
      qs.zip(vs).foreach { case (qi, vi) =>
        // scale_e9 is floored, so allow one nano-unit of slack
        assert(math.abs(qi * scale - vi) <= scale / 2 + 1e-6,
          s"vec_id=${r.get(0)} q=$qi v=$vi scale=$scale")
      }
    }
  }

  test("quantized ANN: search over dequantized int8 vectors keeps high recall") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(sf() + "/embeddings.parquet")
    val exact = graft.ops.Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // dequantize q*scale back to doubles and run the same search
    val deq = graft.ops.Similarity.quantizeInt8(e)
      .select(col("vec_id"),
        transform(col("q"), x => x * (col("scale_e9").cast("double") / 1e9))
          .as("embedding"))
    val approx = graft.ops.Similarity.bruteForceTopK(deq, deq.where(col("vec_id") < 5), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // self-match at rank 1 survives quantization
    (0L until 5L).foreach(q => assert(approx((q, 1)) === q, s"query $q self-match"))
    // overlap@3 ≥ 2/3 per query
    (0L until 5L).foreach { q =>
      val ex = (1 to 3).map(r => exact((q, r))).toSet
      val ap = (1 to 3).map(r => approx((q, r))).toSet
      assert((ex intersect ap).size >= 2, s"query $q: exact=$ex approx=$ap")
    }
  }

  test("incremental dedup: fresh batch vs corpus finds exact, near, survivors") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely unrelated corpus text about distributed query engines and planning"),
      (3L, "another corpus document with its own unique words entirely different here"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (101L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near dup of 1
      (102L, "a genuinely novel document that matches nothing in the corpus at all"))
      .toDF("doc_id", "text")
    // bands=8 (rows of 2): the fixture's near-dup sits at jac ≈ 0.83,
    // where a 4×4 band scheme collides with only ~93% probability per
    // hash family — 8×2 banding makes the recall deterministic-robust
    // (≈ 0.9999) instead of coupling the test to hash luck
    val out = graft.ops.DocDedup.incremental(corpus, fresh, bands = 8).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)),
        Option(r.getString(2)))).toMap
    assert(out(100L) === (Some(1L), Some("exact")))
    assert(out(101L) === (Some(1L), Some("near")))
    assert(out(102L) === (None, None))
    assert(out.size === 3)
  }

  test("incremental dedup: persisted-signature path equals the text path") {
    val docs = Tables(spark, sf("sf0.01"), "documents")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val fresh = docs.where(col("doc_id") % 5 === 0)
    val dir = tempDir("graft_sigs_").toString
    // snapshot the corpus signatures to parquet and serve from there —
    // the nightly pattern where historical text is never re-read
    graft.ops.DocDedup.signatures(corpus).write.mode("overwrite").parquet(dir)
    val served = graft.ops.DocDedup.incrementalFromSignatures(
      spark.read.parquet(dir), fresh).collect().map(_.toSeq).toSeq
    val direct = graft.ops.DocDedup.incremental(corpus, fresh)
      .collect().map(_.toSeq).toSeq
    assert(served === direct)
    // a snapshot built with a different permutation count is refused
    // rather than silently served against
    intercept[IllegalArgumentException] {
      graft.ops.DocDedup.incrementalFromSignatures(
        spark.read.parquet(dir), fresh, numHashes = 32)
    }
  }

  test("incremental dedup: short docs match exactly but never band-join") {
    import spark.implicits._
    val corpus = Seq((1L, "hi"), (2L, "yo"), (3L, "a much longer corpus document right here"))
      .toDF("doc_id", "text")
    val fresh = Seq((100L, "hi"), (101L, "ok"), (102L, "bye"))
      .toDF("doc_id", "text")
    val out = graft.ops.DocDedup.incremental(corpus, fresh).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    // exact short dup found via the hash join; the other short docs are
    // survivors — the empty-signature sentinel must NOT near-match them
    assert(out(100L) === Some("exact"))
    assert(out(101L) === None)
    assert(out(102L) === None)
  }

  test("simhash drops null-text docs (explode-path contract)") {
    import spark.implicits._
    val docs = Seq((1L, "some text here"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = DocDedup.simhash(docs).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("ngram jaccard df-cut prunes hot shingles but keeps true near-dups") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sf() + "/documents.parquet")
    val full = DocDedup.ngramJaccard(docs, n = 3, threshold = 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // cut shingles shared by more than half the corpus — boilerplate
    // level; genuine near-dup evidence is in rarer shingles
    val cutoff = docs.count() / 2
    val cut = DocDedup.ngramJaccard(docs, n = 3, threshold = 0.5,
        maxShingleDocFreq = cutoff)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // approximate recall: surviving pairs are a subset, and the corpus'
    // real near-dups (which share many NON-hot shingles) all survive
    assert(cut.subsetOf(full))
    assert(cut === full, "no shingle in this corpus is hot enough to change results")
  }

  test("qualityScore: integer linear head, exact score and keep decision") {
    val d = Seq((1L, "aa bb aa the", "en", "s")).toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.qualityScore(d).collect()(0)
    // n_words 4, n_uniq 3, stop 1 → ttr 750000, stop 250000, len 40000
    assert(r.getLong(1) === 750000L && r.getLong(2) === 250000L)
    assert(r.getLong(3) === 40000L)
    assert(r.getLong(4) === 3L * 750000 + 2L * 250000 + 40000)  // 2790000
    assert(r.getBoolean(5))
  }

  test("gopherRules: per-rule verdicts and the drop-reason bitmask") {
    val d = Seq(
      // 6 words: wc fails (bit 0); word_chars 15 → mwl 2_500_000 < 3M
      // fails (bit 1); sym/alpha pass; only 'the' of the required
      // words → stop fails (bit 4) → mask 1+2+16 = 19
      (1L, "the cat sat on a mat", "en", "s"),
      // 20 words, word_chars 3+3+18·4 = 78 → mwl 3_900_000; 'the' and
      // 'and' present → every rule passes → mask 0, keep
      (2L, ("the and " + Seq.fill(18)("word").mkString(" ")), "en", "s"),
      // 6 words incl. '#','#','…': sym_cnt 3 → 500_000 ppm fails
      // (bit 2); alpha 3/6 = 500_000 fails (bit 3); wc/mwl/stop fail
      // too → mask 31
      (3L, "see # and # done …", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.gopherRules(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(2) === 2500000L)        // mwl_ppm
    assert(r(1L).getLong(5) === 1L)              // stop_hits
    assert(r(1L).getLong(6) === 19L && !r(1L).getBoolean(7))
    assert(r(2L).getLong(2) === 3900000L)
    assert(r(2L).getLong(6) === 0L && r(2L).getBoolean(7))
    assert(r(3L).getLong(3) === 500000L)         // sym_ppm
    assert(r(3L).getLong(4) === 500000L)         // alpha_ppm
    assert(r(3L).getLong(6) === 31L && !r(3L).getBoolean(7))
  }

  test("repetitionStats: single-word doc survives (no descending " +
      "sequence) with zeroed bigram profiles") {
    val d = Seq(
      (1L, "hello", "en", "s"),                 // 1 word: bigrams empty
      (2L, "a b a b", "en", "s"),               // dup bigram 'a b' ×2
      (3L, "  x ", "en", "s"))                  // 1 word after filter
      .toDF("doc_id", "text", "lang", "source")
    val r = TextAnalysis.repetitionStats(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 1: n=1, mxw=1 → top_word 1_000_000; bigram side empty →
    // both bigram ppms coalesce to 0 (the crash fix: sequence(1,0)
    // must never evaluate)
    assert(r(1L).getLong(1) === 1L)
    assert(r(1L).getLong(2) === 1000000L)
    assert(r(1L).getLong(3) === 0L && r(1L).getLong(4) === 0L)
    assert(r(3L).getLong(3) === 0L && r(3L).getLong(4) === 0L)
    // doc 2: n=4, mxw=2 → 500_000; bigrams (a b, b a, a b): mxb=2 →
    // top_bigram 2·2M/4 = 1_000_000; dup = 2·2M/4 = 1_000_000
    assert(r(2L).getLong(2) === 500000L)
    assert(r(2L).getLong(3) === 1000000L)
    assert(r(2L).getLong(4) === 1000000L)
  }

  test("label centroids: micro-floor before sum — exact and partitioning-independent") {
    val e = Seq(
      (1L, Array(0.5f, -0.25f), "x"),
      (2L, Array(1.5f, 0.75f), "x"),
      (3L, Array(2.0f, 1.0f), "y")).toDF("vec_id", "embedding", "label")
    def run(df: DataFrame) = Similarity.labelCentroidsMicro(df).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val out = run(e)
    assert(out.toSeq === Seq(
      ("x", 0, 2L, 2000000L, 1000000L),
      ("x", 1, 2L, 500000L, 250000L),
      ("y", 0, 1L, 2000000L, 2000000L),
      ("y", 1, 1L, 1000000L, 1000000L)))
    // integer sums commute: any partitioning yields the same rows
    assert(run(e.repartition(7)).toSeq === out.toSeq)
  }

  test("multimodal stub pipeline: deterministic metadata through mapPartitions") {
    val m = Multimodal.extractMetadata(Multimodal.toBlobs(docs)).collect()
      .sortBy(_.doc_id)
    assert(m.length === 5)
    val r0 = m.head
    val len = "the quick brown fox jumps over the lazy dog".length
    assert(r0.byte_len === len.toLong)
    assert(r0.width === 320 + len % 320)
    assert(r0.total_px ===
      (320 + len % 320).toLong * (240 + len % 240) * (1 + len % 8))
  }

  test("parseImageMeta: PNG/JPEG/GIF headers decode from real bytes — " +
      "dims and GIF frame counts round-trip the builders; non-images " +
      "fall back to the stub") {
    import Multimodal.{Blob, parseImageMeta}
    val png = parseImageMeta(Blob(1L, Multimodal.pngBytes(640, 360))).get
    assert((png.width, png.height, png.n_frames, png.byte_len)
      === ((640, 360, 1, 45L)))
    val jpg = parseImageMeta(Blob(2L, Multimodal.jpegBytes(1920, 1080))).get
    assert((jpg.width, jpg.height, jpg.n_frames, jpg.byte_len)
      === ((1920, 1080, 1, 23L)))
    val gif = parseImageMeta(Blob(3L, Multimodal.gifBytes(32, 24, 5))).get
    assert((gif.width, gif.height, gif.n_frames, gif.byte_len)
      === ((32, 24, 5, (14 + 12 * 5).toLong)))
    assert(gif.total_px === 32L * 24 * 5)
    // realistic JPEG: APP0 (JFIF) + comment segments BEFORE the SOF —
    // the marker walk must skip them by declared length
    val app0 = Array[Int](0xff, 0xe0, 0, 16, 'J', 'F', 'I', 'F', 0,
      1, 1, 0, 0, 1, 0, 1, 0, 0).map(_.toByte)
    val com = Array[Int](0xff, 0xfe, 0, 6, 'h', 'i', '!', '?')
      .map(_.toByte)
    val j = Multimodal.jpegBytes(300, 200)
    val realistic = j.take(2) ++ app0 ++ com ++ j.drop(2)
    val rj = parseImageMeta(Blob(4L, realistic)).get
    assert((rj.width, rj.height) === ((300, 200)))
    // non-image payloads: parse refuses, decode() falls back to the
    // deterministic stub
    val txt = Blob(5L, "not an image at all".getBytes("UTF-8"))
    assert(parseImageMeta(txt).isEmpty)
    assert(Multimodal.decode(txt) === Multimodal.decodeStub(txt))
    // truncated/corrupt headers refuse rather than misread
    assert(parseImageMeta(Blob(6L,
      Multimodal.pngBytes(9, 9).take(12))).isEmpty)
    assert(parseImageMeta(Blob(7L,
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte))).isEmpty)
  }

  test("parseWavMeta + wavFrameEnergies: RIFF/fmt/data walk decodes " +
      "rate/channels/bits/samples from real bytes; energies are " +
      "sample-exact; corrupt headers refuse rather than misparse") {
    import Multimodal.Blob
    val samples = Array.tabulate(48)(i => ((i * 37) % 2048 - 1024).toShort)
    val wav = Multimodal.wavBytes(16000, 2, samples)
    val m = Multimodal.parseWavMeta(Blob(1L, wav)).get
    assert((m.sample_rate, m.channels, m.bits_per_sample, m.n_samples)
      === ((16000, 2, 16, 24L))) // 48 interleaved / 2 channels
    // a LIST chunk with an ODD size before fmt/data: the walk must
    // skip by declared size + the RIFF word-alignment pad byte
    val list = Array[Int]('L', 'I', 'S', 'T', 5, 0, 0, 0,
      'I', 'N', 'F', 'O', 'x', 0).map(_.toByte)
    val padded = wav.take(12) ++ list ++ wav.drop(12)
    // patch the RIFF size (unchecked by the parser, but keep honest)
    val mp = Multimodal.parseWavMeta(Blob(2L, padded)).get
    assert((mp.sample_rate, mp.channels, mp.n_samples) === ((16000, 2, 24L)))
    // frame energies: 16-sample frames over the interleaved stream,
    // Σ s² exactly; trailing partial frame dropped
    import spark.implicits._
    val fe = Multimodal.wavFrameEnergies(
        Seq(Blob(1L, wav)).toDS(), frameSamples = 16)
      .collect().sortBy(_.frame)
    assert(fe.length === 3)
    val expect = samples.grouped(16).map(
      _.map(s => s.toLong * s).sum).toSeq
    assert(fe.map(_.energy).toSeq === expect)
    // 8-bit path: unsigned bytes re-centered at 128
    val wav8 = {
      val w = Multimodal.wavBytes(8000, 1, Array.fill(16)(0.toShort))
      // rewrite as an 8-bit file by hand: bits=8, blockAlign=1,
      // byteRate=8000, data = 16 raw bytes 0..15
      val out = new java.io.ByteArrayOutputStream()
      out.write(w, 0, 20) // RIFF..WAVE + "fmt " + its size field (16)
      out.write(Array[Int](1, 0, 1, 0, 0x40, 0x1f, 0, 0, 0x40, 0x1f, 0, 0,
        1, 0, 8, 0).map(_.toByte), 0, 16)
      out.write("data".getBytes("US-ASCII"), 0, 4)
      out.write(Array[Int](16, 0, 0, 0).map(_.toByte), 0, 4)
      out.write(Array.tabulate[Byte](16)(_.toByte), 0, 16)
      out.toByteArray
    }
    val m8 = Multimodal.parseWavMeta(Blob(3L, wav8)).get
    assert((m8.bits_per_sample, m8.n_samples) === ((8, 16L)))
    val fe8 = Multimodal.wavFrameEnergies(
      Seq(Blob(3L, wav8)).toDS(), 16).collect()
    assert(fe8.head.energy ===
      (0 until 16).map(b => { val s = b - 128L; s * s }).sum)
    // corrupt: bad magic, truncated data chunk, non-PCM format code —
    // all refuse (None), never a silent misparse
    assert(Multimodal.parseWavMeta(Blob(4L, "RIFX junk".getBytes)).isEmpty)
    assert(Multimodal.parseWavMeta(
      Blob(5L, wav.take(wav.length - 4))).isEmpty)
    val nonPcm = wav.clone(); nonPcm(20) = 3 // IEEE-float format code
    assert(Multimodal.parseWavMeta(Blob(6L, nonPcm)).isEmpty)
    assert(Multimodal.parseWavMeta(Blob(7L, wav.take(10))).isEmpty)
    // the loud contract: wavMetas throws with the doc id on non-WAV
    val err = intercept[org.apache.spark.SparkException] {
      Multimodal.wavMetas(Seq(Blob(9L, "text".getBytes)).toDS()).collect()
    }
    assert(err.getMessage.contains("not a decodable PCM WAV") ||
      Option(err.getCause).exists(
        _.getMessage.contains("not a decodable PCM WAV")))
  }

  test("imagePipeline: dimensions come OUT OF the bytes — corrupting " +
      "one header byte changes the decoded width") {
    import spark.implicits._
    val m = Multimodal.imagePipeline(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("width"), r.getAs[Int]("height"),
          r.getAs[Int]("n_frames"))).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    ids.foreach { id =>
      assert(m(id) === (((1 + id % 512).toInt, (1 + (id * 7) % 512).toInt,
        (if (id % 3 == 2) 1 + id % 8 else 1).toInt)))
    }
    // flip the PNG IHDR width low byte: the parsed width must track
    val bytes = Multimodal.pngBytes(100, 50)
    bytes(19) = (bytes(19) + 1).toByte
    val corrupted = Multimodal.parseImageMeta(
      Multimodal.Blob(1L, bytes)).get
    assert(corrupted.width === 101 && corrupted.height === 50)
  }

  test("phashNearDup: band join is lossless vs the all-pairs Hamming scan") {
    // exact dup (1,2), 1-char edit (3), unrelated (4, 5): the banded
    // candidate set filtered at hamming<=3 must equal brute force —
    // the pigeonhole contract phashNearDup claims
    val docs = Seq(
      (1L, "the cat sat on the mat and looked at the open door for a while"),
      (2L, "the cat sat on the mat and looked at the open door for a while"),
      (3L, "the cat sat on the mat and looked at the open door for a whilx"),
      (4L, "completely different content about spark physical planning"),
      (5L, "yet another unrelated string with its own pixel histogram"))
      .toDF("doc_id", "text")
    val got = Multimodal.phashNearDup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val bands = Multimodal.phashBands(
      Multimodal.pixelGrids(Multimodal.toBlobs(docs)).toDF())
      .collect().map(r => r.getLong(0) ->
        Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = (for {
      a <- bands.keys.toSeq; b <- bands.keys.toSeq if a < b
      h = bands(a).zip(bands(b))
        .map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum.toLong
      if h <= 3
    } yield (a, b, h)).sorted
    assert(got === want)
    // the exact-dup pair is present at hamming 0
    assert(got.contains((1L, 2L, 0L)))
  }

  test("boilerplateRemove drops only over-threshold segments, keeps order") {
    // "a b c d e f g h" appears in 3 docs (> maxDf=2) → boilerplate;
    // each doc's unique tail survives, in original order
    val d = Seq(
      (1L, "a b c d e f g h uniq1 tail1"),
      (2L, "a b c d e f g h uniq2 tail2"),
      (3L, "a b c d e f g h uniq3 tail3"),
      (4L, "solo document with no shared segments at all"))
      .toDF("doc_id", "text")
    val r = graft.ops.Curation.boilerplateRemove(d).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(1L) === (("uniq1 tail1", 1L, 1L)))
    assert(r(2L) === (("uniq2 tail2", 1L, 1L)))
    assert(r(4L) === (("solo document with no shared segments at all", 1L, 0L)))
  }

  test("dupSpanStats: full dup doc scores 1000 permille, unique doc 0") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),  // shared with doc 2 entirely
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")) // unique
      .toDF("doc_id", "text")
    val r = graft.ops.Curation.dupSpanStats(d).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
      .toMap
    assert(r(1L) === ((2L, 2L, 1000L))) // 9 words → 2 8-gram positions
    assert(r(3L) === ((2L, 0L, 0L)))
  }

  test("dsirTopK scores target-like docs above target-unlike docs") {
    // doc 10 repeats the target domain's bigrams; doc 11 shares none
    val d = Seq(
      (1L, "alpha beta alpha beta alpha beta", "src0"),
      (2L, "alpha beta gamma delta alpha beta", "src0"),
      (10L, "alpha beta alpha beta epsilon", "srcX"),
      (11L, "zeta eta theta iota kappa", "srcX"))
      .toDF("doc_id", "text", "source")
    val r = graft.ops.Curation.dsirTopK(d, k = 10).collect()
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(r(10L) > 0L)
    // doc 11's bigrams never occur in src0 → weight 0 everywhere
    assert(r.getOrElse(11L, 0L) === 0L)
  }

  test("multiProbeLshTopK: flips=0 equals single-bucket LSH; probing only improves") {
    val emb = Tables(spark, sf(), "embeddings")
    val q = emb.where(col("vec_id") < 5)
    val single = Similarity.lshTopK(emb, q, k = 3, planes = 6)
      .collect().map(_.toSeq).toSeq
    val zero = Similarity.multiProbeLshTopK(emb, q, k = 3, planes = 6, flips = 0)
      .collect().map(_.toSeq).toSeq
    assert(zero === single)
    // multi-probe candidates are a superset → best cosine per query
    // can only improve (or stay)
    def best(rows: Seq[Seq[Any]]): Map[Long, Long] = rows
      .filter(_(1) == 1).map(r => (r(0).asInstanceOf[Long],
        r(3).asInstanceOf[Long])).toMap
    val multi = Similarity.multiProbeLshTopK(emb, q, k = 3, planes = 6, flips = 2)
      .collect().map(_.toSeq).toSeq
    val bs = best(single); val bm = best(multi)
    bs.foreach { case (qid, cos) => assert(bm(qid) >= cos) }
  }

  test("ivfPqTopK with nprobe=cells equals the unpruned ADC scan") {
    val emb = Tables(spark, sf(), "embeddings")
    val q = emb.where(col("vec_id") < 3)
    val full = Similarity.pqAdcTopK(emb, q, k = 3)
      .collect().map(_.toSeq).toSeq
    val ivfpq = Similarity.ivfPqTopK(emb, q, k = 3, cells = 4, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    assert(ivfpq === full)
    // pruned probe returns a subset ranking: every hit it does return
    // carries the same ADC distance the full scan assigned
    val pruned = Similarity.ivfPqTopK(emb, q, k = 3, cells = 4, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val fullD = Similarity.pqAdcTopK(emb, q, k = 500)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    pruned.foreach { case (key, d) => assert(fullD(key) === d) }
  }

  test("shotSegments: shots split exactly at |Δsig| > threshold") {
    // recompute the stub signatures directly and diff against the op
    val d = docs.select(col("doc_id"), col("text"))
    val sigs = graft.ops.Multimodal
      .frameSignatures(graft.ops.Multimodal.toBlobs(d))
      .collect().groupBy(_.doc_id)
      .map { case (id, fs) => id -> fs.sortBy(_.frame).map(_.sig).toSeq }
    val want = sigs.flatMap { case (id, ss) =>
      val shots = ss.indices.foldLeft(Seq.empty[Seq[Int]]) { (acc, f) =>
        if (f == 0 || math.abs(ss(f) - ss(f - 1)) > 5000L)
          acc :+ Seq(f)
        else acc.init :+ (acc.last :+ f)
      }
      shots.zipWithIndex.map { case (fr, si) =>
        (id, si.toLong, fr.head.toLong, fr.last.toLong, fr.length.toLong)
      }
    }.toSet
    val got = graft.ops.Multimodal.shotSegments(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got === want)
  }

  test("vadSegments merges consecutive active frames (islands)") {
    // 64 chars = 4 frames; 'z'*16 frames are active (16*122^2=238k),
    // ' '*16 frames are not (16*1024=16k) → two 1-frame segments
    val txt = ("z" * 16) + (" " * 16) + ("z" * 16) + (" " * 16)
    val d = Seq((7L, txt)).toDF("doc_id", "text")
    val segs = graft.ops.Multimodal.vadSegments(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(segs.toSeq === Seq((7L, 0L, 0L, 1L), (7L, 2L, 2L, 1L)))
    // adjacent active frames merge into one segment
    val txt2 = ("z" * 32) + (" " * 32)
    val d2 = Seq((8L, txt2)).toDF("doc_id", "text")
    val segs2 = graft.ops.Multimodal.vadSegments(d2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(segs2.toSeq === Seq((8L, 0L, 1L, 2L)))
  }

  test("naiveBayesCounts: Laplace-smoothed likelihood head, hand-checked") {
    // en: a=3 b=1 c=1 (5 tokens), fr: x=1 y=1 (2 tokens), |V|=5
    val d = Seq(("en", "a b a"), ("en", "a c"), ("fr", "x y"))
      .toDF("lang", "text")
    val r = TextAnalysis.naiveBayesCounts(d).collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2),
        x.getLong(3), x.getLong(4)))
    assert(r.toSeq === Seq(
      ("en", 1, "a", 3L, 400000L), ("en", 2, "b", 1L, 200000L),
      ("en", 3, "c", 1L, 200000L),
      ("fr", 1, "x", 1L, 285714L), ("fr", 2, "y", 1L, 285714L)))
  }

  test("invertedIndex: df/tf exact, postings capped at k smallest ids") {
    val d = Seq(
      (1L, "w w x"), (2L, "w y"), (3L, "w"), (4L, "w z z"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.invertedIndex(d, k = 3).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getSeq[Long](3))).toSeq
    assert(r === Seq(
      ("w", 4L, 5L, Seq(1L, 2L, 3L)), // df 4 but postings cut at k=3
      ("x", 1L, 1L, Seq(1L)),
      ("y", 1L, 1L, Seq(2L)),
      ("z", 1L, 2L, Seq(4L))))
  }

  test("invertedIndex: the postings head goes through the bounded heap") {
    val d = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    val plan = TextAnalysis.invertedIndex(d, k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_topk_rows"),
      s"WindowTopKRewrite did not fire:\n$plan")
  }

  test("vocabCoverage: covering ranks over the frequency-sorted axis") {
    // counts a=4 b=2 c=1 d=1, total 8, cum 4,6,7,8:
    // 50% of 8 = cum 4 → 1 type; 90%/99% need the full tail (cum 8)
    val d = Seq((0L, "a a a a b b c d")).toDF("doc_id", "text")
    val r = TextAnalysis.vocabCoverage(d).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4)))
    assert(r.toSeq === Seq(
      (50, 1L, 4L, 8L, 4L), (90, 4L, 8L, 8L, 4L), (99, 4L, 8L, 8L, 4L)))
  }

  test("vocabCoverage: frequency ties break by token text") {
    // x=2 y=2 z=1, total 5; 50% → 2.5: cum(x)=2 short, cum(y)=4
    // covers → 2 types; 99% → 4.95: needs z → 3 types
    val d = Seq((0L, "x x y y z")).toDF("doc_id", "text")
    val r = TextAnalysis.vocabCoverage(d, targetsPct = Seq(50, 99)).collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2)))
    assert(r.toSeq === Seq((50, 2L, 4L), (99, 3L, 5L)))
  }

  test("vocabGrowth: first-occurrence charging yields the exact decile curve") {
    val docs = Seq((1L, "a b"), (2L, "b c"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.vocabGrowth(docs).collect()
      .map(x => (x.getAs[Long]("pct"), x.getAs[Long]("bound"),
        x.getAs[Long]("types"))).toSeq
    // ranks 1-4 land in ceil-deciles 3,5,8,10; types accumulate at
    // each boundary's first-occurrence count
    assert(r === Seq((30L, 1L, 2L), (50L, 2L, 3L), (80L, 3L, 3L),
      (100L, 4L, 4L)))
  }

  test("rbpEval: exact pico weights, perfect ranking normalizes to 1") {
    val docs = Seq((1L, "spark join x"), (2L, "spark y"),
      (3L, "spark join z")).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.rbpEval(docs, Seq("spark", "join"))
      .collect().head
    // relevant = {1, 3}, ranked 1st and 2nd (both-term docs outscore
    // the single-term doc): rbp = 1e12/2 + 1e12/4 = ideal → nrbp 1.0
    assert(r.getAs[Long]("n_rel_total") === 2L)
    assert(r.getAs[Long]("n_rel_ranked") === 2L)
    assert(r.getAs[Long]("rbp_pico") === 750000000000L)
    assert(r.getAs[Long]("ideal_pico") === 750000000000L)
    assert(r.getAs[Long]("nrbp_ppm") === 1000000L)
  }

  test("prfExpansion: feedback-co-occurring term surfaces with exact lift") {
    // query 'apple' retrieves docs 1-2; 'banana' rides along in both;
    // 'cherry' lives only outside the feedback set
    val docs = Seq((1L, "apple banana"), (2L, "apple banana"),
      (3L, "cherry x"), (4L, "cherry y"), (5L, "cherry z"))
      .toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.prfExpansion(docs, Seq("apple"))
      .collect().map(x => (x.getAs[String]("term"), x.getAs[Long]("fb_df"),
        x.getAs[Long]("corpus_df"), x.getAs[Long]("lift_ppm"))).toSeq
    // lift = (2/2) / (2/5) = 2.5 → 2500000 ppm; apple itself excluded
    assert(r === Seq(("banana", 2L, 2L, 2500000L)))
  }

  test("thresholdCalibration: cutoff picked on cal split, graded on eval") {
    // mix31 parity: ids 1-10 → eval, 11-20 → calibration. Good docs
    // score 5,050,000 (en), bad 3,030,000 (fr). Target 90%: the
    // deepest feasible calibration prefix is the 5 good docs.
    val good = "the a of and to"
    val bad = "zz yy xx"
    val docs = ((11L to 15L).map((_, good, "en")) ++
      (16L to 20L).map((_, bad, "fr")) ++
      (1L to 3L).map((_, good, "en")) ++
      (4L to 10L).map((_, bad, "fr")))
      .toDF("doc_id", "text", "lang")
    val r = graft.ops.TextAnalysis
      .thresholdCalibration(docs, targetPrecisionPpm = 900000L)
      .collect()
    assert(r.length === 1)
    val x = r.head
    assert(x.getAs[Long]("cal_rank") === 5L)
    assert(x.getAs[Long]("threshold_micro") === 5050000L)
    assert(x.getAs[Long]("eval_n") === 10L)
    assert(x.getAs[Long]("eval_pred") === 3L)
    assert(x.getAs[Long]("eval_tp") === 3L)
    assert(x.getAs[Long]("eval_precision_ppm") === 1000000L)
    assert(x.getAs[Long]("eval_recall_ppm") === 1000000L)
  }

  test("langIdEval: exact per-class PRF including never-predicted classes") {
    // en/es predicted right; zh exists only as truth (pred 'und'),
    // und exists only as prediction
    val docs = Seq((1L, "the a", "en"), (2L, "el la", "es"),
      (3L, "xx yy", "zh")).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.langIdEval(docs).collect()
      .map(x => x.getAs[String]("cls") ->
        (x.getAs[Long]("tp"), x.getAs[Long]("n_truth"),
          x.getAs[Long]("n_pred"), x.getAs[Long]("precision_ppm"),
          x.getAs[Long]("recall_ppm"), x.getAs[Long]("f1_ppm"))).toMap
    assert(r("en") === ((1L, 1L, 1L, 1000000L, 1000000L, 1000000L)))
    assert(r("es") === ((1L, 1L, 1L, 1000000L, 1000000L, 1000000L)))
    assert(r("zh") === ((0L, 1L, 0L, 0L, 0L, 0L)))
    assert(r("und") === ((0L, 0L, 1L, 0L, 0L, 0L)))
  }

  test("calibrationTable: exact bins, means and positive rates") {
    // "the the the the" en: ttr 250000, stop 1e6, len 40000 →
    // score 250000*3 + 1000000*2 + 40000 = 2790000 → bin 4, pos
    // "aa bb" fr: ttr 1e6, stop 0, len 20000 → 3020000 → bin 5, neg
    val d = Seq((1L, "the the the the", "en"), (2L, "aa bb", "fr"))
      .toDF("doc_id", "text", "lang")
    val r = TextAnalysis.calibrationTable(d).collect()
      .map(x => (x.getAs[Long]("bin"), x.getAs[Long]("n"),
        x.getAs[Long]("mean_score_micro"), x.getAs[Long]("pos"),
        x.getAs[Long]("pos_rate_ppm")))
    assert(r.toSeq === Seq((4L, 1L, 2790000L, 1L, 1000000L),
      (5L, 1L, 3020000L, 0L, 0L)))
  }

  test("knnLabelAudit: mislabeled point flagged, consistent point passes") {
    // audited ids (mod 20): 0 carries label 9 inside a label-1
    // cluster → suspect; 20 carries the cluster's own label → clean
    val pts = Seq(
      (0L, Array(1.0f, 0.00f), 9),
      (1L, Array(1.0f, 0.01f), 1),
      (2L, Array(1.0f, 0.02f), 1),
      (3L, Array(1.0f, 0.03f), 1),
      (4L, Array(1.0f, 0.04f), 1),
      (5L, Array(1.0f, 0.05f), 1),
      (20L, Array(1.0f, 0.06f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = graft.ops.Similarity.knnLabelAudit(pts).collect()
      .map(x => (x.getAs[Long]("vec_id"), x.getAs[Int]("own_label"),
        x.getAs[Int]("maj_label"), x.getAs[Boolean]("suspect"))).toSeq
    assert(r === Seq((0L, 9, 1, true), (20L, 1, 1, false)))
  }

  test("mutualKnn: reciprocal pair kept, one-directional hub edge dropped") {
    // a(0) and b(10) point at each other; c(20) points at b, but b's
    // top-1 is a — so (b, c) is one-directional and must not survive
    val pts = Seq(
      (0L, Array(1.0f, 0.0f)),
      (10L, Array(0.99f, 0.1f)),
      (20L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.ops.Similarity.mutualKnn(pts, k = 1).collect()
      .map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id"),
        x.getAs[Int]("rank_ab"), x.getAs[Int]("rank_ba"))).toSeq
    assert(r === Seq((0L, 10L, 1, 1)))
  }

  test("alignSpans: diagonal run found with exact starts and length") {
    // shared contiguous block "a b c d" → 3-gram matches "a b c"
    // (1,1) and "b c d" (2,2) on diagonal 0 → one run of length 2
    val docs = Seq((1L, "x a b c d y"), (2L, "q a b c d z w"))
      .toDF("doc_id", "text")
    val r = graft.ops.DocDedup.alignSpans(docs, minShared = 2L).collect()
    assert(r.length === 1)
    val x = r.head
    assert((x.getAs[Long]("a_id"), x.getAs[Long]("b_id")) === ((1L, 2L)))
    assert(x.getAs[Long]("n_matches") === 2L)
    assert(x.getAs[Long]("run_len") === 2L)
    assert((x.getAs[Long]("start_a"), x.getAs[Long]("start_b")) === ((1L, 1L)))
    // below the shared threshold nothing is emitted
    assert(graft.ops.DocDedup.alignSpans(docs, minShared = 3L).count() === 0)
  }

  test("annRecallReport: co-bucketed corpus gives full recall") {
    // near-identical positive vectors share every SRP sign → one
    // bucket → the LSH path sees the whole corpus → recall 10⁶
    val pts = (0L until 8L).map(i =>
      (i, Array(1.0f, 0.5f + 0.001f * i, 0.25f)))
      .toDF("vec_id", "embedding")
    val r = graft.ops.Similarity
      .annRecallReport(pts, pts.where(col("vec_id") < 2), k = 3)
      .collect()
    assert(r.length === 2)
    assert(r.forall(_.getAs[Long]("recall_ppm") === 1000000L))
  }

  test("mrlDistortion: full-length prefix has zero error, short prefix real error") {
    val pts = Seq((0L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (20L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (40L, Array(1.0f, 1.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.ops.Similarity.mrlDistortion(pts, prefixes = Seq(2, 4))
      .collect().map(x => x.getAs[Long]("dim") ->
        (x.getAs[Long]("n_pairs"), x.getAs[Long]("mean_abs_err_e6"))).toMap
    assert(r(4L) === ((3L, 0L))) // prefix = full vector → exact
    assert(r(2L)._1 === 3L)
    assert(r(2L)._2 > 0L) // dropping the shared 4th dim distorts
  }

  test("whitenEmbeddings: exact z on a hand pair; zero-variance dim drops") {
    val pts = Seq((1L, Array(1.0f, 3.0f)), (2L, Array(3.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val r = graft.ops.Similarity.whitenEmbeddings(pts).collect()
      .map(x => (x.getAs[Long]("vec_id"), x.getAs[Int]("idx"),
        x.getAs[Long]("z_ppm"))).toSeq
    // dim0: micros (1e6, 3e6), mean 2e6, devs ∓1e6, sd 1e6 → z ∓1e6;
    // dim1 is constant → sd 0 → dropped entirely
    assert(r === Seq((1L, 0, -1000000L), (2L, 0, 1000000L)))
  }

  test("kCenterSelect: farthest-point order on a line, radius shrinks") {
    import org.apache.spark.sql.functions._
    // 1-D points 0.0, 0.1, 0.5, 1.0 (milli grid: 0, 100, 500, 1000):
    // seed = id 0 (min id, at 0.0) → farthest is 1.0 (d²=1e6) →
    // then 0.5 (min(500²,500²)=250000) → then 0.1 (100²=10000)
    val e = Seq((0L, Seq(0.0f)), (1L, Seq(0.1f)), (2L, Seq(0.5f)),
      (3L, Seq(1.0f))).toDF("vec_id", "embedding")
    val r = graft.ops.Similarity.kCenterSelect(e, k = 4).collect()
      .map(x => (x.getAs[Int]("sel_order"), x.getAs[Long]("vec_id"),
        x.getAs[Long]("d2_sel"))).toSeq
    assert(r === Seq((1, 0L, 0L), (2, 3L, 1000000L), (3, 2L, 250000L),
      (4, 1L, 10000L)))
    // d2_sel non-increasing: the greedy covering radius only shrinks
    assert(r.map(_._3).drop(1).sliding(2).forall(w => w(0) >= w(1)))
  }

  test("fertilityProfile: exact integer ratios per language") {
    val d = Seq(
      (0L, "ab cd", "en"),   // 5 chars, 2 ws tokens, 2 bpe tokens
      (1L, "a b c", "en"),   // 5 chars, 3 ws, 3 bpe
      (2L, "x!", "de"))      // 2 chars, 1 ws, 2 bpe (x + !)
      .toDF("doc_id", "text", "lang")
    val r = graft.ops.TextAnalysis.fertilityProfile(d).collect()
      .map(x => x.getAs[String]("lang") ->
        (x.getAs[Long]("chars"), x.getAs[Long]("ws_tokens"),
          x.getAs[Long]("bpe_tokens"), x.getAs[Long]("ws_per_100c_e3"),
          x.getAs[Long]("non_ascii_ppm"))).toMap
    // en: 10 chars, 5 ws → 5·100000/10 = 50000 per-100c-e3; all ASCII
    assert(r("en") === ((10L, 5L, 5L, 50000L, 0L)))
    assert(r("de") === ((2L, 1L, 2L, 50000L, 0L)))
  }

  test("fisherDims: separating dim scores high, constant dim guards to NULL") {
    // dim 0 separates labels cleanly; dim 1 is constant (0/0 → NULL)
    val e = Seq((0L, Seq(0.0f, 0.005f), 0), (1L, Seq(0.002f, 0.005f), 0),
      (2L, Seq(0.010f, 0.005f), 1), (3L, Seq(0.012f, 0.005f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = graft.ops.Similarity.fisherDims(e).collect()
      .map(x => x.getAs[Long]("idx") ->
        (x.getAs[Long]("ssb"), x.getAs[Long]("ssw"),
          Option(x.getAs[Any]("eta2_ppm")))).toMap
    // float32: 0.010f is 9.9999…e-3, so milli = {0,2} vs {9,12} —
    // means 1 and 10, grand 5 → SSB 2·16+2·25 = 82,
    // SSW (4−4+2) + (225−420+200) = 7, eta² = ⌊82e6/89⌋
    assert(r(0L) === ((82L, 7L, Some(921348L))))
    assert(r(1L) === ((0L, 0L, None)))
  }

  test("nccEval: exact confusion matrix with a cross-label outlier") {
    // label 0 at milli {0,2,12}: centroid 4; label 1 at {10,12}:
    // centroid 11. The 12 with label 0 sits nearer centroid 1.
    val e = Seq((0L, Seq(0.0f), 0), (1L, Seq(0.002f), 0),
      (2L, Seq(0.012f), 0), (3L, Seq(0.010f), 1), (4L, Seq(0.012f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = graft.ops.Similarity.nccEval(e).collect()
      .map(x => (x.getAs[Long]("true_lab"), x.getAs[Long]("pred_lab")) ->
        (x.getAs[Long]("cnt"), x.getAs[Boolean]("correct"))).toMap
    assert(r === Map((0L, 0L) -> ((2L, true)), (0L, 1L) -> ((1L, false)),
      (1L, 1L) -> ((2L, true))))
  }

  test("fertilityProfile: non-ASCII share counts multibyte chars") {
    val d = Seq((0L, "aéb", "fr")).toDF("doc_id", "text", "lang")
    val r = graft.ops.TextAnalysis.fertilityProfile(d).collect().head
    // é is 1 of 3 chars → 333333 ppm; UTF-8 bytes = 4 for 1 ws token
    assert(r.getAs[Long]("non_ascii_ppm") === 333333L)
    assert(r.getAs[Long]("bytes_per_ws_e3") === 4000L)
  }

  test("lshParameterSweep: S-curve monotone in bands, dup pair found everywhere") {
    // docs 1/2 identical (every banding catches them), doc 3 disjoint
    // vocabulary (no shared shingle → can never become a candidate)
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val r = graft.ops.DocDedup.lshParameterSweep(d).collect()
      .map(x => x.getAs[Long]("n_bands") ->
        (x.getAs[Long]("n_rows"), x.getAs[Long]("p50_ppm"),
          x.getAs[Long]("cand_pairs"), x.getAs[Long]("true_pairs"))).toMap
    assert(r.keySet === Set(1L, 2L, 4L, 8L, 16L))
    r.foreach { case (b, (rows, _, cand, truePairs)) =>
      assert(b * rows === 16L)
      assert(cand === 1L, s"bands=$b")      // only the identical pair
      assert(truePairs === 1L, s"bands=$b")
    }
    // more bands (shorter rows) = more permissive: p(t) strictly
    // rises along 1→2→4→8→16 bands at the 0.5 design point
    val ps = Seq(1L, 2L, 4L, 8L, 16L).map(b => r(b)._2)
    assert(ps === ps.sorted && ps.distinct === ps)
    // endpoints of the S-curve table: a single 16-row band at t=0.5
    // is 0.5^16 ≈ 15 ppm; 16 single-row bands ≈ 1 − 0.5^16
    assert(ps.head === 15L)
    assert(ps.last >= 999000L)
  }

  test("centroidDrift: exact shift, worst dim, one-sided labels drop") {
    val ref = Seq((0L, Seq(0.0f, 0.0f), 0), (2L, Seq(0.5f, 0.5f), 1),
      (4L, Seq(0.9f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val fresh = Seq((1L, Seq(0.1f, 0.0f), 0), (3L, Seq(0.5f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = graft.ops.Similarity.centroidDrift(ref, fresh).collect()
      .map(x => x.getAs[Int]("label") ->
        (x.getAs[Long]("l2sq_micro2"), x.getAs[Int]("top_dim"),
          x.getAs[Long]("top_shift_micro"), x.getAs[Boolean]("drifted")))
      .toMap
    // label 0 moved +0.1 on dim 0 → 1e5 micro shift, 1e10 micro² L2²
    assert(r(0) === ((10000000000L, 0, 100000L, true)))
    // label 1 static → zero shift, tie on |d| resolves to dim 0
    assert(r(1) === ((0L, 0, 0L, false)))
    // label 2 exists only in the reference slice → no comparison
    assert(!r.contains(2))
  }

  test("weightedJaccard: shared-rare pair passes where plain Jaccard dilutes") {
    // word sets (n=1): docs 1/2 share only the rare word (df 2); the
    // four filler docs make the commons cheap (df 5 → w 200000).
    // jacw(1,2) = 5e5·1e6 // (9e5+9e5−5e5) = 384615 — passes 350000
    // where plain Jaccard is 1/5; jacw(1,filler) = 307692 — cut.
    val d = (Seq((1L, "rare common1 common2"), (2L, "rare common3 common4")) ++
      (3L to 6L).map(i => (i, "common1 common2 common3 common4")))
      .map { case (i, t) => (i, t, "en") }
      .toDF("doc_id", "text", "lang")
    val r = graft.ops.DocDedup.weightedJaccard(d, n = 1,
      thresholdPpm = 350000L).collect()
      .map(x => (x.getAs[Long]("a_id"), x.getAs[Long]("b_id")) ->
        x.getAs[Long]("jacw_ppm")).toMap
    assert(r((1L, 2L)) === 384615L)
    assert(!r.contains((1L, 3L)) && !r.contains((2L, 3L)))
    // the four identical filler docs pair at exactly 1e6
    assert(r((3L, 4L)) === 1000000L && r.size === 7)
  }

  test("curationFunnel: stacked gates count exactly, one scan") {
    val longEn = (1 to 80).map("word" + _).mkString(" ")   // distinct → ttr 1e6
    val longRep = Seq.fill(125)("w").mkString(" ")         // ttr tanks the score
    val d = Seq(
      (1L, longEn, "A", "en"), (2L, "too short", "A", "en"),
      (3L, longEn, "A", "fr"), (4L, longRep, "B", "en"))
      .toDF("doc_id", "text", "source", "lang")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = graft.ops.TextAnalysis.curationFunnel(d).collect()
      .map(x => x.getAs[String]("source") ->
        (x.getAs[Long]("n_docs"), x.getAs[Long]("pass_len"),
          x.getAs[Long]("pass_lang"), x.getAs[Long]("pass_quality"),
          x.getAs[Long]("yield_ppm"))).toMap
    assert(r("A") === ((3L, 2L, 1L, 1L, 333333L)))
    assert(r("B") === ((1L, 1L, 1L, 0L, 0L)))
  }

  test("keyframes: argmax-signature frame inside the shot span") {
    // "ab" → 3 stub frames with sigs 293/488/683 (hand fold): one
    // shot (diffs < 5000), keyframe = frame 2 at sig 683
    val d = Seq((1L, "ab")).toDF("doc_id", "text")
    val r = graft.ops.Multimodal.keyframes(d).collect()
    assert(r.length === 1)
    val k = r.head
    assert((k.getAs[Long]("start_frame"), k.getAs[Long]("end_frame"),
      k.getAs[Long]("n_frames"), k.getAs[Long]("key_frame"),
      k.getAs[Long]("key_sig")) === ((0L, 2L, 3L, 2L, 683L)))
  }

  test("audioMatch: snippet aligns to its track at the byte offset") {
    // 7 frames of 16 bytes: quiet 'a' valleys, three distinct loud
    // peaks (z, x, w) at frames 1/3/5 — distinct energy bins so the
    // constellation hashes are unambiguous
    val track = "a" * 16 + "z" * 16 + "a" * 16 + "x" * 16 +
      "a" * 16 + "w" * 16 + "a" * 16
    val tracks = Seq((1L, track), (2L, "b" * 112)).toDF("doc_id", "text")
    // snippet = frames 1-6 (bytes 17..112): interior peaks x@2, w@4 →
    // the (x,w,Δ2) hash matches the track's (3,5) pair at offset 1
    val snippets = Seq((1L, track.substring(16, 112)),
      (9L, "q r s t u v w x y z a b c d e f")).toDF("doc_id", "text")
    val r = graft.ops.Multimodal.audioMatch(tracks, snippets).collect()
    assert(r.length === 1)
    val m = r.head
    assert(m.getAs[Long]("snippet_id") === 1L)
    assert(m.getAs[Long]("track_id") === 1L)
    assert(m.getAs[Long]("offset_frames") === 1L)
    assert(m.getAs[Long]("votes") === 1L)
    assert(m.getAs[Long]("n_matches") === 1L)
  }

  test("powerExplained: rank-1 geometry shows 100% explained share") {
    // all variance on dim 2 → λ = trace, explained = 1e6 ppm
    val e1 = Seq(Seq(0.0f, 0.5f), Seq(0.0f, -0.5f),
      Seq(0.0f, 1.0f), Seq(0.0f, -1.0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val r1 = graft.ops.Similarity.powerExplained(e1, dim = 2).collect().head
    assert(r1.getAs[Long]("explained_ppm") === 1000000L)
    assert(r1.getAs[Int]("top_dim") === 2)
    // perfectly correlated dims: still rank 1 — λ doubles the trace
    // share of either diagonal, explained stays 100%; ties → dim 1
    val e2 = Seq(Seq(0.8f, 0.8f), Seq(-0.8f, -0.8f), Seq(0.4f, 0.4f),
      Seq(-0.4f, -0.4f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val r2 = graft.ops.Similarity.powerExplained(e2, dim = 2).collect().head
    assert(r2.getAs[Long]("explained_ppm") === 1000000L)
    assert(r2.getAs[Long]("lambda_milli") === 2000000L)
    assert(r2.getAs[Int]("top_dim") === 1)
  }

  test("dedupThresholdSweep: one pass, exact counts per threshold") {
    val d = Seq(
      (1L, "a b c d e", "en"),   // vs 2: jac 1/2; vs 3: identical
      (2L, "a b c d x", "en"),
      (3L, "a b c d e", "en")).toDF("doc_id", "text", "lang")
    val r = graft.ops.DocDedup.dedupThresholdSweep(d).collect()
      .map(x => x.getAs[Long]("t_ppm") ->
        (x.getAs[Long]("n_pairs"), x.getAs[Long]("n_docs"),
          x.getAs[Long]("n_removable"))).toMap
    // at 0.5: all three pairs; above: only the identical (1,3)
    assert(r(500000L) === ((3L, 3L, 2L)))
    Seq(600000L, 700000L, 800000L, 900000L).foreach { t =>
      assert(r(t) === ((1L, 2L, 1L)), s"t=$t")
    }
  }

  test("powerComponent: finds the dominant variance axis exactly") {
    // all variance on dim 2, none on dim 1 → component (0, 1000)
    val e1 = Seq(Seq(0.0f, 0.5f), Seq(0.0f, -0.5f),
      Seq(0.0f, 1.0f), Seq(0.0f, -1.0f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val r1 = graft.ops.Similarity.powerComponent(e1, dim = 2).collect()
      .map(x => x.getAs[Int]("dim_i") -> x.getAs[Long]("w_milli")).toMap
    assert(r1 === Map(1 -> 0L, 2 -> 1000L))
    // perfectly correlated dims → the diagonal direction (1000, 1000)
    val e2 = Seq(Seq(0.8f, 0.8f), Seq(-0.8f, -0.8f), Seq(0.4f, 0.4f),
      Seq(-0.4f, -0.4f))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val r2 = graft.ops.Similarity.powerComponent(e2, dim = 2).collect()
      .map(x => x.getAs[Int]("dim_i") -> x.getAs[Long]("w_milli")).toMap
    assert(r2 === Map(1 -> 1000L, 2 -> 1000L))
  }

  test("suffixArrayChecksum matches brute-force suffix sort") {
    // banana: classic repeated-suffix stress; abab: period-2 ties that
    // only resolve in the second doubling round; z: single char
    val docs = Seq((1L, "banana"), (2L, "abab"), (3L, "z"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.suffixArrayChecksum(docs, maxLen = 8).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_suffixes"), r.getAs[Long]("rank_checksum"))).toMap
    val want = Seq((1L, "banana"), (2L, "abab"), (3L, "z")).map {
      case (id, t) =>
        val ranks = (1 to t.length)
          .sortBy(p => t.substring(p - 1)).zipWithIndex
          .map { case (p, i) => p.toLong * (i + 1) }
        id -> (t.length.toLong, ranks.sum)
    }.toMap
    assert(got === want)
  }

  test("rakeKeywords scores phrases by the deg/freq word graph") {
    // One doc, stopword 'the' splits two phrases: "red widget" and
    // "red". Word stats over kept phrases: red: freq 2, deg 2+1=3 →
    // 1.5e6; widget: freq 1, deg 2 → 2e6.
    val docs = Seq((1L, "red widget the red")).toDF("doc_id", "text")
    val r = TextAnalysis.rakeKeywords(docs).collect()
      .map(x => x.getAs[String]("phrase") ->
        (x.getAs[Long]("len"), x.getAs[Long]("occurrences"),
          x.getAs[Long]("score_micro"))).toMap
    assert(r("red widget") === (2L, 1L, 1500000L + 2000000L))
    assert(r("red") === (1L, 1L, 1500000L))
  }

  test("mahalanobisOutliers ranks the planted discord first") {
    // 9 vectors near the origin with slight per-dim jitter (nonzero
    // variance), one far off in both dims → largest z² sum
    val vecs = (0 until 9).map(i =>
      (i.toLong, Array(0.001f * (i % 3), 0.001f * (i % 2)))) :+
      (99L, Array(0.4f, 0.4f))
    val r = Similarity.mahalanobisOutliers(vecs.toDF("vec_id", "embedding"))
      .collect()
    assert(r.head.getAs[Long]("vec_id") === 99L)
    assert(r.head.getAs[Long]("dims") === 2L)
    assert(r.head.getAs[Long]("score_ppm") > r(1).getAs[Long]("score_ppm"))
  }

  test("vocabularyRichness: hand-counted Chao1 and Good-Turing mass") {
    // source s: tokens = a a b c → types 3, N1 = 2 (b, c), N2 = 1 (a)
    // chao1 = 3 + 2·1/(2·2) = 3 ; gt = 2e6/4 = 500000
    val docs = Seq((1L, "a a b", "s"), (2L, "c", "s"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.vocabularyRichness(docs).collect().head
    assert(r.getAs[Long]("types") === 3L)
    assert(r.getAs[Long]("tokens") === 4L)
    assert(r.getAs[Long]("singletons") === 2L)
    assert(r.getAs[Long]("doubletons") === 1L)
    assert(r.getAs[Long]("chao1_est") === 3L)
    assert(r.getAs[Long]("gt_unseen_ppm") === 500000L)
  }

  test("temperatureMix: Σalloc is exactly the budget; lower " +
      "temperature-exponent flattens the mix toward tail languages") {
    import graft.ops.Curation
    // en: 9+9+6+9 = 33 tokens across 4 docs; es: 11 tokens
    val m2 = Curation.temperatureMix(docs, quarters = 2,
      budgetTokens = 1001L).collect()
      .map(r => r.getAs[String]("label") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("weight"),
          r.getAs[Long]("alloc"))).toMap
    assert(m2("en")._1 === 33L && m2("es")._1 === 11L)
    assert(m2("en")._2 === 5L && m2("es")._2 === 3L) // floor(√n)
    // Hamilton split of 1001 over weights (5, 3): exact, sums to budget
    assert(m2.values.map(_._3).sum === 1001L)
    assert(m2("en")._3 === 626L && m2("es")._3 === 375L)
    // proportional (q=4) gives en a larger share than √-temperature
    val m4 = Curation.temperatureMix(docs, quarters = 4,
      budgetTokens = 1001L).collect()
      .map(r => r.getAs[String]("label") -> r.getAs[Long]("alloc")).toMap
    assert(m4.values.sum === 1001L)
    assert(m4("en") > m2("en")._3 && m4("es") < m2("es")._3)
  }

  test("G.711 decode: CCITT reference values (µ-law and A-law table " +
      "anchors), container accept for formats 6/7, energies exact; " +
      "genuinely compressed codecs still refuse") {
    import Multimodal.Blob
    // µ-law anchors from the CCITT table: 0xFF → +0, 0x7F → -0,
    // 0x80 → +32124 (full scale), 0x00 → -32124
    assert(Multimodal.ulawDecode(0xff) === 0)
    assert(Multimodal.ulawDecode(0x7f) === 0)
    assert(Multimodal.ulawDecode(0x80) === 32124)
    assert(Multimodal.ulawDecode(0x00) === -32124)
    // A-law anchors: 0xD5 → +8 (smallest positive), 0x55 → -8,
    // 0xAA → +32256 (full scale), 0x2A → -32256
    assert(Multimodal.alawDecode(0xd5) === 8)
    assert(Multimodal.alawDecode(0x55) === -8)
    assert(Multimodal.alawDecode(0xaa) === 32256)
    assert(Multimodal.alawDecode(0x2a) === -32256)
    // container: format codes 6/7 parse with bits=8; the energies
    // expand each companded byte before squaring
    import spark.implicits._
    val codes = Array.tabulate[Byte](32)(i => ((i * 11) % 256).toByte)
    val mu = Multimodal.g711WavBytes(8000, 1, codes, 7)
    val mMu = Multimodal.parseWavMeta(Blob(1L, mu)).get
    assert((mMu.sample_rate, mMu.channels, mMu.bits_per_sample,
      mMu.n_samples) === ((8000, 1, 8, 32L)))
    val feMu = Multimodal.wavFrameEnergies(
      Seq(Blob(1L, mu)).toDS(), 16).collect().sortBy(_.frame)
    val expectMu = codes.grouped(16).map(_.map { b =>
      val s = Multimodal.ulawDecode(b & 0xff).toLong; s * s
    }.sum).toSeq
    assert(feMu.map(_.energy).toSeq === expectMu)
    val al = Multimodal.g711WavBytes(8000, 2, codes, 6)
    val mAl = Multimodal.parseWavMeta(Blob(2L, al)).get
    assert((mAl.channels, mAl.bits_per_sample, mAl.n_samples)
      === ((2, 8, 16L))) // 32 interleaved / 2 channels
    val feAl = Multimodal.wavFrameEnergies(
      Seq(Blob(2L, al)).toDS(), 16).collect().sortBy(_.frame)
    val expectAl = codes.grouped(16).map(_.map { b =>
      val s = Multimodal.alawDecode(b & 0xff).toLong; s * s
    }.sum).toSeq
    assert(feAl.map(_.energy).toSeq === expectAl)
    // G.711 must be 8-bit: a 16-bit format-7 header refuses; a
    // genuinely compressed code (2 = ADPCM) refuses at any width
    val bad = mu.clone(); bad(34) = 16 // bitsPerSample field
    assert(Multimodal.parseWavMeta(Blob(3L, bad)).isEmpty)
    val adpcm = mu.clone(); adpcm(20) = 2
    assert(Multimodal.parseWavMeta(Blob(4L, adpcm)).isEmpty)
  }
}
