package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, from exact to
  * fuzzy. Every variant is built to scale: shingling/hashing is
  * per-row (map-only, codegen'd), candidate generation goes through
  * an equi-join key (shingle, band, or bucket) rather than a cross
  * join, and verification happens only on candidate pairs.
  */
object DocDedup {

  /** Exact dedup by content hash: one hash-aggregate, keep the lowest
    * id per group. At 100 TB this is the classic first pass — the
    * groupBy shuffles only (hash, id) pairs, not documents.
    */
  def exact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("keep_id")

  /** Word n-gram shingle set (distinct), empty when the doc is shorter
    * than n words.
    */
  def shingles(textCol: Column, n: Int): Column = {
    val words = split(textCol, " ")
    when(size(words) >= n,
      array_distinct(transform(
        sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact n-gram Jaccard near-dup pairs ≥ threshold, blocked by a
    * cheap key (`lang` here): explode shingles → self-equi-join on
    * (shingle, block) → per-pair intersection count → |A∩B|/|A∪B|.
    * The join key is the shingle, so only docs sharing an n-gram ever
    * meet — no cross join. Division is exact int/int in double, so the
    * threshold compare is engine-stable.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      blockCol: String = "lang", textCol: String = "text",
      idCol: String = "doc_id", maxShingleDocFreq: Long = 0L): DataFrame =
    ngramJaccardPairs(docs, n, blockCol, textCol, idCol, maxShingleDocFreq)
      .withColumn("jac", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= threshold)
      .select("a_id", "b_id", "inter", "jac")
      .orderBy("a_id", "b_id")

  /** Near-dup threshold sensitivity sweep: how many pairs, touched
    * docs, and removable duplicates (the larger id of each pair) a
    * dedup run would act on at each Jaccard threshold of `gridPpm` —
    * the one-page answer to "how aggressive should tonight's dedup
    * be" that [[ngramJaccard]] callers otherwise re-run per
    * threshold. ONE candidate+verify pass at the lowest grid point
    * (with the q21 df-cut guard in-plan) feeds every grid row;
    * threshold membership is the integer cross-multiplication
    * `inter·10⁶ ≥ t·union`, so the table is oracle-exact.
    *
    * `n_removable` counts distinct larger-ids — an upper bound on
    * docs a min-id-representative dedup removes (the exact figure
    * needs [[clusters]]' connected components; at the planning stage
    * the bound is the number that matters).
    */
  def dedupThresholdSweep(docs: DataFrame, n: Int = 3,
      gridPpm: Seq[Long] = Seq(500000L, 600000L, 700000L, 800000L, 900000L),
      blockCol: String = "lang", maxShingleDocFreq: Long = 100L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = gridPpm.min
    val p = ngramJaccardPairs(docs, n, blockCol, textCol, idCol,
        maxShingleDocFreq)
      .withColumn("union_", col("na") + col("nb") - col("inter"))
      .where(col("inter") * 1000000L >= lit(base) * col("union_"))
      .select("a_id", "b_id", "inter", "union_")
      .localCheckpoint() // pair set is dedup-report-sized; 3 readers
    val grid = gridPpm.toDF("t_ppm")
    val at = p.crossJoin(grid)
      .where(col("inter") * 1000000L >= col("t_ppm") * col("union_"))
    val byPairs = at.groupBy("t_ppm").agg(count(lit(1)).as("n_pairs"),
      countDistinct(col("b_id")).as("n_removable"))
    val byDocs = at
      .select(col("t_ppm"), explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy("t_ppm").agg(countDistinct(col("id")).as("n_docs"))
    grid.join(byPairs, Seq("t_ppm"), "left")
      .join(byDocs, Seq("t_ppm"), "left")
      .select(col("t_ppm"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_removable"), lit(0L)).as("n_removable"))
      .orderBy("t_ppm")
  }

  /** IDF-weighted set similarity: like [[ngramJaccard]] but each
    * shingle votes with weight `10⁶ div df` (rare shingles dominate,
    * boilerplate shingles are nearly free) — the weighted-Jaccard
    * variant that catches "same rare content wrapped in different
    * boilerplate" pairs plain Jaccard dilutes away. All-integer:
    * `jacw = Σ_{A∩B} w · 10⁶ div (W_A + W_B − Σ_{A∩B} w)`.
    *
    * Scale shape: df is the same map-side-combinable count the df-cut
    * guard already takes; weights join back to the exploded shingles
    * (key = shingle, no new shuffle shape); the pair join carries the
    * guard. Weighted totals per doc are one more combinable fold.
    */
  def weightedJaccard(docs: DataFrame, n: Int = 3,
      thresholdPpm: Long = 300000L, blockCol: String = "lang",
      textCol: String = "text", idCol: String = "doc_id",
      maxShingleDocFreq: Long = 100L): DataFrame = {
    val base = Par.spread(docs).select(col(idCol).as("doc_id"),
        col(blockCol).as("block"),
        call_function("shingle_hashes", split(col(textCol), " "), lit(n))
          .as("hs"))
      .localCheckpoint()
    val shAll = base.select(col("doc_id"), col("block"),
      explode(col("hs")).as("s"))
    val df = shAll.groupBy("s").agg(count(lit(1)).as("df"))
    val sh = shAll
      .join(df.where(col("df") <= maxShingleDocFreq), Seq("s"))
      .withColumn("w", expr("1000000 div df"))
      .localCheckpoint() // pair join (both sides) + per-doc totals
    val wt = sh.groupBy("doc_id").agg(sum(col("w")).as("wt"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.w")).as("inter_w"), count(lit(1)).as("inter"))
    pairs
      .join(wt.select(col("doc_id").as("a_id"), col("wt").as("wa")), "a_id")
      .join(wt.select(col("doc_id").as("b_id"), col("wt").as("wb")), "b_id")
      .withColumn("jacw_ppm",
        expr("inter_w * 1000000 div (wa + wb - inter_w)"))
      .where(col("jacw_ppm") >= thresholdPpm)
      .select("a_id", "b_id", "inter", "inter_w", "jacw_ppm")
      .orderBy("a_id", "b_id")
  }

  /** [[ngramJaccard]]'s candidate chain up to (pair, inter, na, nb) —
    * shared with [[dedupThresholdSweep]] so the two can't drift.
    *
    * Shingles are joined as xxhash64 longs, not strings — the shuffle
    * carries 8 bytes per shingle instead of ~20 chars (collision odds
    * at 64 bits are negligible against any realistic corpus).
    * `shingle_hashes` is the native codegen'd kernel (one map-side
    * pass per doc); sizes come from the array length — no counting
    * shuffle. The tokenized base materializes once (localCheckpoint):
    * the self-join consumes both branches and sizes rejoin at the end.
    *
    * df-cut (0 = off — the default stays EXACT so library callers
    * never lose recall silently; the registered q21/q37 opt in with
    * an explicit cutoff): drop shingles shared by more than
    * `maxShingleDocFreq` docs BEFORE the self-join. A stopword-run
    * shingle in f docs contributes f² join rows — the classic skew
    * blow-up at corpus scale. The hot list comes from a map-side-
    * combinable groupBy (no skew concentration: partial counts
    * merge). No broadcast hint: with a high cutoff the hot list is
    * tiny and AQE broadcasts it at runtime; with a low cutoff it can
    * be huge and a forced broadcast would OOM the driver — the exact
    * failure this guard exists to prevent. Cut shingles leave `inter`
    * (and thus jac, still over FULL set sizes) a lower bound for any
    * pair that shared one — recall turns approximate, and a surviving
    * pair's jac undercounts its hot shared shingles. On this corpus
    * q21/q37's cutoff of 100 cuts nothing (measured max shingle df at
    * sf0.01 is 7; true pairs share df ≤ 6), so those queries stay
    * exact with the guard in-plan.
    */
  private def ngramJaccardPairs(docs: DataFrame, n: Int, blockCol: String,
      textCol: String, idCol: String, maxShingleDocFreq: Long): DataFrame = {
    val base = Par.spread(docs).select(col(idCol).as("doc_id"), col(blockCol).as("block"),
        call_function("shingle_hashes", split(col(textCol), " "), lit(n)).as("hs"))
      .localCheckpoint()
    val shAll = base.select(col("doc_id"), col("block"), explode(col("hs")).as("s"))
    val sh =
      if (maxShingleDocFreq <= 0) shAll
      else {
        val hot = shAll.groupBy("s").agg(count(lit(1)).as("df"))
          .where(col("df") > maxShingleDocFreq).select("s")
        shAll.join(hot, Seq("s"), "left_anti")
      }
    val sizes = base.select(col("doc_id"), size(col("hs")).as("n_sh"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.block") === col("b.block") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("inter"))
    // no broadcast hint: sizes is one row per document (unbounded at
    // corpus scale) — AQE picks broadcast when it actually fits
    pairs
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n_sh", "na"), "a_id")
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n_sh", "nb"), "b_id")
  }

  /** PPJoin-style prefix-filtered set-similarity self-join — the
    * candidate generator that replaces [[ngramJaccard]]'s full shingle
    * self-join at corpus scale. Tokens are the same distinct 3-gram
    * shingle hashes; each document's token list is sorted by a GLOBAL
    * order (document frequency ascending, hash tie-break — rarest
    * first), and only the first `|s| − ⌈t·|s|⌉ + 1` tokens (the
    * prefix) enter the self-join. The prefix-filtering lemma
    * (Chaudhuri et al. SSJoin / Bayardo et al. WWW'07 / Xiao et al.
    * PPJoin): with the size-compatibility cut `t·|a| ≤ |b| ≤ |a|/t`,
    * any pair with Jaccard ≥ t MUST share a prefix token under ANY
    * global total order — so candidate generation is LOSSLESS and the
    * result equals the exact-Jaccard pair set, while the join touches
    * only the rare end of each token list. A stopword-run shingle in
    * f docs lands at the TAIL of every list (df descending = last)
    * and never joins — the f² blow-up [[ngramJaccard]] needs its
    * df-cut guard for disappears by construction, with zero recall
    * loss.
    *
    * Scale shape: df counts are one map-side-combinable groupBy; the
    * per-doc sort is over that doc's tokens only (array sort inside a
    * row, no global sort); the self-join carries prefix tokens only
    * (≤ half the tokens at t=0.5); verification re-joins full token
    * sets for the (rare) candidates. The global order makes hot
    * tokens structurally un-joinable instead of merely guarded.
    */
  def prefixFilterJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct shingle hashes per doc, one map-side kernel pass
    // (materialized once: df-count, prefix join and both verify
    // branches all read it)
    val base = Par.spread(docs).select(col(idCol).as("doc_id"),
        call_function("shingle_hashes", split(col(textCol), " "), lit(n)).as("hs"))
      .where(size(col("hs")) > 0)
      .localCheckpoint()
    val toks = base.select(col("doc_id"), explode(col("hs")).as("s"))
    val dfreq = toks.groupBy("s").agg(count(lit(1)).as("df"))
    val sizes = base.select(col("doc_id"), size(col("hs")).as("nt"))
    // rank tokens inside each doc by the global (df, hash) order; the
    // window partition is the doc — bounded work per row, never global
    val rn = row_number().over(
      Window.partitionBy("doc_id").orderBy(col("df"), col("s")))
    // prefix length |s| − ⌈t·|s|⌉ + 1; ε guards the ceil against the
    // product landing a hair HIGH in binary (a short prefix could drop
    // a true pair — longer is always safe, shorter never is)
    val prefixLen = col("nt") - ceil(col("nt") * threshold - lit(1e-9)) + 1
    // materialize the prefix table: BOTH sides of the candidate
    // self-join (and nothing else) read it — without the checkpoint
    // the df-count aggregate + per-doc ranking window execute twice
    val pref = toks.join(dfreq, "s").join(sizes, "doc_id")
      .withColumn("rn", rn)
      .where(col("rn") <= prefixLen)
      .select("doc_id", "s", "nt")
      .localCheckpoint()
    // candidates: share a prefix token + size-compatible (ε-slack on
    // the conservative side — extra candidates die in the exact
    // verify, missing ones are unrecoverable)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          col("a.nt") >= col("b.nt") * threshold - lit(1e-9) &&
          col("b.nt") >= col("a.nt") * threshold - lit(1e-9))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.nt").as("na"), col("b.nt").as("nb"))
      .dropDuplicates("a_id", "b_id")
    // exact verify over full token sets — candidates only. The sets
    // are intersected IN-ROW over the materialized per-doc hash
    // arrays (hs is distinct by the kernel's contract) instead of
    // re-exploding every candidate through two token equi-joins: the
    // exploded form pushed |cands|·|doc| intermediate rows (14M at
    // sf0.1, 91 CPU-s measured) through the verify stage for the same
    // intersection counts (guide §1.2 step 2). inter > 0 keeps the
    // empty-intersection drop the join form had built in.
    cand
      .join(base.select(col("doc_id").as("a_id"), col("hs").as("ha")), "a_id")
      .join(base.select(col("doc_id").as("b_id"), col("hs").as("hb")), "b_id")
      // hs is sorted-distinct by the kernel's contract, so the count
      // is a two-pointer merge — no per-row hash set, no intersection
      // array (was size(array_intersect(...)): same value, ~the whole
      // verify stage's CPU)
      .withColumn("inter",
        call_function("sorted_intersect_count", col("ha"), col("hb")))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("inter") > 0 && col("jac") >= threshold)
      .select("a_id", "b_id", "inter", "jac")
      .orderBy("a_id", "b_id")
  }

  /** Portable band hash: fold the band's signature slice through the
    * glibc-style LCG step, seeded by the band index — exact integer
    * arithmetic (sig values are 31-bit, `acc·1103515245 + v < 2^62`),
    * so the DuckDB oracle recomputes identical band keys (q22).
    */
  private def bandHash(sig: Column, band: Int, rows: Int): Column =
    aggregate(slice(sig, band * rows + 1, rows), lit(band.toLong),
      (acc, v) => (acc * 1103515245L + v) % 2147483648L)

  /** All band keys of a signature as an array of (band, bh) structs —
    * the ONE definition of the banding layout, shared by the batch
    * LSH paths here and the streaming alarm
    * ([[graft.streaming.StreamingPipeline.nearDupAlarmStream]]); a
    * drifted copy would silently empty the stream-static band join.
    */
  private[graft] def bandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"), bandHash(sig, b, rows).as("bh"))): _*)

  /** MinHash + LSH banding: signature split into `bands` bands; docs
    * agreeing on any full band become candidates (equi-join on the
    * band hash — the scale path where exact Jaccard's shingle join
    * gets too hot); candidates are then verified with exact Jaccard
    * over their shingle sets. Approximate recall, exact precision.
    */
  def minhashLsh(docs: DataFrame, n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val rows = numHashes / bands
    // Signature + shingle set in ONE map-side pass per document via the
    // native minhash_state kernel (graft.functions.MinHashState) — no
    // explode, no groupBy: the k min-hashes and the collect_set shuffle
    // the previous version paid are now a per-row loop inside
    // whole-stage codegen. Shingles carry on as xxhash64 longs; the
    // verification set is the hashed set (64-bit collision odds are
    // negligible). Docs shorter than n words have an empty shingle set
    // and are dropped, exactly as the explode path dropped them.
    // materialized once: banding and the two shingle-rejoin branches all read it
    val mh = call_function("minhash_state",
      split(col(textCol), " "), lit(n), lit(numHashes))
    val withSig = Par.spread(docs)
      .select(col(idCol).as("doc_id"), mh.as("mh"))
      .select(col("doc_id"), col("mh.sh").as("sh"), col("mh.sig").as("sig"))
      .where(size(col("sh")) > 0)
      .localCheckpoint()
    // band join carries only (doc_id, band, bandhash) — the shingle
    // arrays rejoin after pair dedup, so the hot shuffle stays narrow
    val banded = withSig.select(col("doc_id"),
        explode(bandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val candIds = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // size-guarded broadcast: the candidate-pair set is unbounded in
    // principle (a blind broadcast could OOM the driver at corpus
    // scale), but it is materialized anyway for the two rejoin
    // branches — so count it and broadcast only when it actually fits;
    // otherwise the shingle side shuffles, which is the correct plan
    // for a huge candidate set.
    val candMat = candIds.localCheckpoint()
    val candSide = if (candMat.count() <= 500000) broadcast(candMat) else candMat
    val shOnly = withSig.select(col("doc_id"), col("sh"))
    val cand = candSide
      .join(shOnly.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sh", "sha"), "a_id")
      .join(shOnly.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sh", "shb"), "b_id")
    cand
      // sh is sorted-distinct (kernel contract): two-pointer count
      .withColumn("inter",
        call_function("sorted_intersect_count", col("sha"), col("shb")))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .where(col("jac") >= threshold)
      .select("a_id", "b_id", "jac")
      .orderBy("a_id", "b_id")
  }

  /** 64-bit SimHash over distinct word tokens: per-bit signed vote of
    * token hashes, computed per row by the native codegen'd
    * [[graft.functions.SimHash64]] kernel — pure map, NO shuffle at
    * all (the previous version exploded tokens and aggregated 64 vote
    * columns through a groupBy; VecExprSpec pins bit-equality).
    */
  def simhash(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    simhashCols(docs, textCol, idCol).orderBy("doc_id")

  private def simhashCols(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Par.spread(docs)
      // null-text docs were absent from the old explode+groupBy output
      // (explode of null emits no rows) — keep that contract
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        call_function("simhash64", split(col(textCol), " ")).as("simhash"))

  /** SimHash near-dup pairs: 4×16-bit band join (any equal quarter →
    * candidate), verified by Hamming distance ≤ maxHamming.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // materialized once: the band self-join consumes both sides.
    // Unsorted form — a global sort behind the checkpoint barrier
    // would be pure waste here.
    val sh = simhashCols(docs, textCol, idCol).localCheckpoint()
    // 4 bands of 16 bits, built at the Scala level (shift amounts are
    // plain ints)
    val bandStructs = (0 until 4).map(b => struct(
      lit(b).as("band"),
      shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bh")))
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // cheap per-row hamming filter BEFORE the pair-dedup shuffle:
      // only true near-dups (rare) reach dropDuplicates
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("a_id", "b_id")
      .orderBy("a_id", "b_id")
  }

  /** Incremental (nightly-ingest) dedup: which docs of `fresh` are
    * exact or near duplicates of the historical `corpus`, without ever
    * re-pairing the corpus with itself. Exact matches meet through a
    * content-hash equi-join; near-dup candidates meet through MinHash
    * band keys (new-side bands join corpus-side bands — cost scales
    * with band collisions between the two sets, not corpus²) and are
    * verified with exact Jaccard over the hashed shingle sets.
    *
    * At scale the corpus side is a precomputed signature table — text
    * never re-reads; locally it's derived here from the raw corpus.
    *
    * Returns one row per fresh doc: `(doc_id, dup_of, match_kind)`
    * where `match_kind` ∈ exact | near | null (survivor), `dup_of` is
    * the lowest matching corpus id.
    */
  /** Map-only signature pass: `(doc_id, text_hash, sh, sig)` — the
    * exact columns [[incrementalFromSignatures]] consumes. Persist
    * this once per corpus snapshot (plain parquet; long arrays
    * round-trip) and nightly dedup never re-reads or re-hashes the
    * historical text — only the fresh batch pays the signature pass.
    */
  def signatures(docs: DataFrame, n: Int = 3, numHashes: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val mh = call_function("minhash_state",
      split(col(textCol), " "), lit(n), lit(numHashes))
    Par.spread(docs).select(col(idCol).as("doc_id"),
        md5(col(textCol)).as("text_hash"), mh.as("mh"))
      .select(col("doc_id"), col("text_hash"),
        col("mh.sh").as("sh"), col("mh.sig").as("sig"))
  }

  def incremental(corpus: DataFrame, fresh: DataFrame, n: Int = 3,
      numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    incrementalFromSignatures(
      signatures(corpus, n, numHashes, textCol, idCol), fresh,
      n, numHashes, bands, threshold, textCol, idCol)

  /** [[incremental]] with the corpus side already signed — the
    * serving shape: `corpusSigs` is a persisted [[signatures]] table
    * (columns `doc_id, text_hash, sh, sig`), so corpus text is never
    * touched; the fresh batch signs inline. Identical output to
    * [[incremental]] (PipelineOpsSpec pins parity through a parquet
    * round-trip).
    *
    * The snapshot MUST have been built with the same `n` and
    * `numHashes` as this call — mismatched parameters put the two
    * sides in different shingle/permutation spaces and near-dup
    * results go silently wrong. `numHashes` is checked against the
    * stored signature width (one tiny first-row job); `n` is not
    * recoverable from the data, so it rides on the caller's
    * configuration discipline.
    */
  /** One-row startup probe shared by every serving path that consumes
    * a persisted [[signatures]] snapshot (batch incremental and the
    * streaming alarm): a snapshot persisted with a different
    * `numHashes` would band over the wrong permutations and the join
    * would silently miss near-dups.
    */
  private[graft] def requireSignatureWidth(corpusSigs: DataFrame,
      numHashes: Int, context: String): Unit =
    corpusSigs.select(size(col("sig")).as("k")).limit(1).collect()
      .headOption.foreach { r =>
        require(r.getInt(0) == numHashes,
          s"corpus signature table carries ${r.getInt(0)}-hash signatures; " +
            s"$context expects numHashes=$numHashes — rebuild the " +
            "snapshot or match the parameters")
      }

  def incrementalFromSignatures(corpusSigs: DataFrame, fresh: DataFrame,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val rows = numHashes / bands
    requireSignatureWidth(corpusSigs, numHashes, "this serving call")
    def prep(df: DataFrame): DataFrame =
      signatures(df, n, numHashes, textCol, idCol).localCheckpoint()
    // docs shorter than n words carry the empty-set sentinel signature;
    // banding them would cross-join every short fresh doc with every
    // short corpus doc. They are dropped from the NEAR side only — the
    // exact content-hash join above still catches short-doc exact dups.
    def bandable(df: DataFrame): DataFrame = df.where(size(col("sh")) > 0)
    def banded(df: DataFrame): DataFrame = df.select(col("doc_id"), col("sh"),
        explode(bandKeys(col("sig"), bands, rows)).as("bk"))
      .select(col("doc_id"), col("sh"), col("bk.band").as("band"), col("bk.bh").as("bh"))

    // corpus side is pre-signed; materialize once — the exact join and
    // the band join both read it
    val c = corpusSigs.select(col("doc_id"), col("text_hash"), col("sh"), col("sig"))
      .localCheckpoint()
    val f = prep(fresh)
    // exact: content-hash equi-join, lowest corpus id wins
    val exact = f.select(col("doc_id"), col("text_hash"))
      .join(c.select(col("doc_id").as("c_id"), col("text_hash")), "text_hash")
      .groupBy("doc_id").agg(min(col("c_id")).as("dup_of"))
      .withColumn("match_kind", lit("exact"))
      .select("doc_id", "dup_of", "match_kind")
    // near: band join fresh × corpus only, verified by exact Jaccard
    val candidates = banded(bandable(f)).as("a").join(banded(bandable(c)).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("c_id"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .dropDuplicates("doc_id", "c_id")
      // sh is sorted-distinct (kernel contract): two-pointer count
      .withColumn("inter",
        call_function("sorted_intersect_count", col("sha"), col("shb")))
      .withColumn("jac", col("inter").cast("double") /
        (size(col("sha")) + size(col("shb")) - col("inter")))
      .where(col("jac") >= threshold)
    val near = candidates.groupBy("doc_id").agg(min(col("c_id")).as("dup_of"))
      .join(exact.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("match_kind", lit("near"))
      .select("doc_id", "dup_of", "match_kind")
    val matched = exact.union(near)
    val survivors = f.select(col("doc_id"))
      .join(matched.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("dup_of", lit(null).cast("long"))
      .withColumn("match_kind", lit(null).cast("string"))
    matched.union(survivors).orderBy("doc_id")
  }

  /** Connected components over near-dup pairs — the dedup *decision*
    * step: every doc in a component keeps exactly one representative
    * (the min id). Min-label propagation with pointer jumping: each
    * round first flows labels along edges, then short-circuits through
    * the label graph (label := label-of-label), so convergence is
    * O(log diameter) rounds instead of O(diameter) — on a 100 TB
    * corpus a single pathological chain would otherwise serialize the
    * whole job. Labels materialize per round (localCheckpoint), so no
    * lineage blow-up; the seed folds the first edge propagation into
    * initialization.
    */
  def clusters(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    // seed = min(node, min neighbor): the first propagation round for free
    var labels = edges.groupBy(col("dst").as("node"))
      .agg(least(min(col("src")), col("dst")).as("label"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val prop = edges
        .join(labels.withColumnRenamed("node", "src").withColumnRenamed("label", "slabel"), "src")
        .groupBy(col("dst").as("node")).agg(min(col("slabel")).as("nlabel"))
      // carry the pre-round label as `old` through both steps: the
      // convergence check is then a plain scan of the checkpointed
      // round output instead of a third join against the old labels
      val pushed = labels.join(prop, Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jump: adopt the label's own label when smaller (labels
      // are always node ids, so the lookup side is labels itself)
      val updated = pushed.as("u")
        .join(labels.select(col("node").as("label"), col("label").as("plabel")),
          Seq("label"), "left")
        .select(col("node"), col("old"),
          least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
        .localCheckpoint()
      changed = updated.where(col("label") < col("old")).count()
      labels = updated.select("node", "label")
      rounds += 1
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Exact embedding-cosine near-dup pairs ≥ threshold (micro-cosine
    * units), blocked on an equality key (`label` here). Candidates
    * meet through the block equi-join; cosine math is the
    * deterministic fold.
    *
    * Scale note (measured, sf0.01): the q24 threshold's qualifying
    * pairs ALL sit at cos ∈ [0.35, 0.48] — low-similarity territory
    * where per-hyperplane SRP collision probability is ≈ 0.62, so no
    * LSH blocking preserves this pair set (0.62^26 ≈ 2·10⁻⁶ that even
    * one plane keeps all 26 pairs) and, information-theoretically, no
    * subquadratic exact method exists at such thresholds. This
    * operator is therefore the EXACT contract with O(block²) TOTAL
    * cost; for the bounded near-dup (cos ≥ ~0.9) regime use
    * [[embeddingCosineBanded]] (q55), whose SRP banding is
    * oracle-verified end to end.
    *
    * What IS bounded here is per-task width: a skewed block key (one
    * label holding most of the corpus) must not serialize the whole
    * block's O(block²) pairs into one join task. The candidate join
    * runs on the salted grid — each vector gets a deterministic
    * bucket g = hash(id) mod `salt`; the left side replicates across
    * grid column j, the right across grid row i, and the equi-join on
    * (block, gₐ=i, j=g_b) lands every pair in EXACTLY one of salt²
    * cells, so per-task pair width is (|block|/salt)² regardless of
    * skew and the grid parallelism scales with `salt`. The grid
    * carries only (id, block, bucket) — vectors rejoin by id AFTER
    * candidate generation (the same narrow-shuffle shape as
    * [[embeddingCosineBanded]]), so the salt× replication never
    * touches the embedding payload. Output is pair-for-pair identical
    * to the naive block join (same q24 oracle).
    */
  /** Grid size for [[embeddingCosine]]'s salted candidate join, from
    * the widest block: aim each grid cell at ≤ ~2048² candidate pairs
    * (a few seconds of dot products per task), so a skewed block
    * fans out across more cells while a corpus of small blocks keeps
    * salt = 1 and pays zero replication. Capped at 64 — beyond that
    * the salt× row replication costs more than the extra parallelism
    * buys.
    */
  private[graft] def gridSalt(maxBlock: Long,
      targetCellWidth: Long = 2048L): Int =
    math.min(64L, math.max(1L,
      (maxBlock + targetCellWidth - 1) / targetCellWidth)).toInt

  def embeddingCosine(embeddings: DataFrame, thresholdMicro: Long = 950000L,
      blockCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding", salt: Int = 0): DataFrame = {
    // norm once per vector; candidates then pay one dot product each
    val e = Par.spread(embeddings.select(
      col(idCol).as("vid"), col(blockCol).as("block"), col(vecCol).as("vec"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("norm")))
      .localCheckpoint()
    // salt ≤ 0 → auto-tune from the WIDEST block (one tiny agg job —
    // a single max row), so per-task pair width stays bounded on a
    // skewed key without over-replicating a corpus of small blocks
    val saltN =
      if (salt >= 1) salt
      else gridSalt(e.groupBy(col("block")).count()
        .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0))
    val grid = array((0 until saltN).map(lit): _*)
    val keyed = e.select(col("vid"), col("block"),
      pmod(Similarity.mix31Col(col("vid")), lit(saltN)).as("g"))
    val left = keyed.withColumn("j", explode(grid))
    val right = keyed.withColumn("i", explode(grid))
    val cand = left.as("a").join(right.as("b"),
        col("a.block") === col("b.block") &&
          col("a.g") === col("b.i") && col("a.j") === col("b.g") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("a_id"), col("b.vid").as("b_id"))
    cand
      .join(e.select(col("vid").as("a_id"), col("vec").as("va"),
        col("norm").as("na")), "a_id")
      .join(e.select(col("vid").as("b_id"), col("vec").as("vb"),
        col("norm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        floor(Similarity.dot(col("va"), col("vb")) /
          (col("na") * col("nb")) * 1e6).cast("long").as("cos_e6"))
      .where(col("cos_e6") >= thresholdMicro)
      .orderBy("a_id", "b_id")
  }

  /** Embedding-dedup threshold sensitivity sweep — [[dedupThresholdSweep]]'s
    * cosine twin: how many pairs, touched vectors, and removable
    * duplicates (larger id of each pair) a semantic dedup would act on
    * at each micro-cosine threshold of `gridMicro`. ONE candidate +
    * verify pass of [[embeddingCosine]] at the lowest grid point feeds
    * every row; membership is the integer compare `cos_e6 ≥ t`, so the
    * table is oracle-exact. The answer to "how aggressive should the
    * SemDeDup pass be" without re-running the pair join per threshold.
    */
  def cosineThresholdSweep(embeddings: DataFrame,
      gridMicro: Seq[Long] = Seq(300000L, 400000L, 500000L, 700000L, 900000L),
      blockCol: String = "label", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val p = embeddingCosine(embeddings, gridMicro.min, blockCol, idCol, vecCol)
      .select("a_id", "b_id", "cos_e6")
      .localCheckpoint() // sweep-report-sized; 3 readers below
    val grid = gridMicro.toDF("t_micro")
    val at = p.crossJoin(grid).where(col("cos_e6") >= col("t_micro"))
    val byPairs = at.groupBy("t_micro").agg(count(lit(1)).as("n_pairs"),
      countDistinct(col("b_id")).as("n_removable"))
    val byVecs = at
      .select(col("t_micro"), explode(array(col("a_id"), col("b_id"))).as("id"))
      .groupBy("t_micro").agg(countDistinct(col("id")).as("n_vecs"))
    grid.join(byPairs, Seq("t_micro"), "left")
      .join(byVecs, Seq("t_micro"), "left")
      .select(col("t_micro"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        coalesce(col("n_removable"), lit(0L)).as("n_removable"))
      .orderBy("t_micro")
  }

  /** Bounded-block embedding near-dup pairs — the 100 TB path.
    * SRP band signatures generate candidates through an equi-join on
    * `(band, bandHash)` instead of an unbounded data-dependent block:
    * one [[Similarity.srpBucket]] kernel call yields all
    * `bands·planesPerBand` sign bits; band b is bit range
    * [b·ppb, (b+1)·ppb), so the corpus splits into 2^ppb buckets per
    * band and per-band join width is bounded by bucket size, tunable
    * via ppb. Candidates (a pair must agree on ALL bits of SOME band —
    * recall probabilistic, rising with `bands`) are then verified with
    * the exact deterministic cosine, so precision is exact.
    *
    * Every step — LCG plane weights, strict-fold projections, banding,
    * cosine verify — is engine-portable integer/IEEE arithmetic, so
    * the DuckDB oracle (q55) restates the FULL algorithm relationally:
    * the output is hash-verified with no empirical-recall assumption,
    * unlike corpus-coupled recall claims (q22/q36).
    */
  def embeddingCosineBanded(embeddings: DataFrame, thresholdMicro: Long = 950000L,
      planesPerBand: Int = 6, bands: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val planes = planesPerBand * bands
    require(planes <= 63, "bands*planesPerBand must fit a long's sign bits")
    // signature + norm once per vector (map-only); the band self-join
    // carries only (vid, band, bh) and vectors rejoin after pair dedup
    // — same narrow-shuffle shape as minhashLsh
    val e = Par.spread(embeddings.select(
      col(idCol).as("vid"), col(vecCol).cast("array<double>").as("vec"),
      Similarity.srpBucket(col(vecCol), planes).as("sig"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("norm")))
      .localCheckpoint()
    val mask = (1L << planesPerBand) - 1L
    val bandStructs = (0 until bands).map(b => struct(
      lit(b).as("band"),
      shiftrightunsigned(col("sig"), b * planesPerBand).bitwiseAND(lit(mask)).as("bh")))
    val banded = e.select(col("vid"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vid"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("a_id"), col("b.vid").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    cand
      .join(e.select(col("vid").as("a_id"), col("vec").as("va"), col("norm").as("na")), "a_id")
      .join(e.select(col("vid").as("b_id"), col("vec").as("vb"), col("norm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        floor(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("cos_e6"))
      .where(col("cos_e6") >= thresholdMicro)
      .orderBy("a_id", "b_id")
  }

  /** SemDeDup-shaped semantic dedup: assign every embedding to its
    * nearest anchor cell (a coarse quantizer), then inside each cell
    * drop any vector with a lower-id neighbor at cosine ≥ threshold —
    * the keep-one-per-semantic-neighborhood decision view
    * (`dup_of` = the kept representative, NULL = kept itself).
    *
    * Anchors here are the first `k` vectors by id — a deterministic
    * quantizer the oracle restates relationally (assignment argmax,
    * tie to the lower cell, exactly [[Ivf.cellOf]]'s contract), so the
    * WHOLE algorithm is hash-verified, recall contract included. At
    * deployment the anchor table swaps for [[Ivf.trainCentroids]]
    * output with the identical
    * plan shape: cell count bounds block width at corpus/k, the cell
    * id is the one shuffle key, and the pair stage never sees two
    * cells' vectors in one task.
    */
  def semanticDedup(embeddings: DataFrame, k: Int = 8,
      thresholdMicro: Long = 350000L, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val anchors = Ivf.trainCentroids(embeddings, k, iterations = 0, idCol, vecCol)
    val e = Par.spread(embeddings.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("vec"),
        sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("norm"),
        Ivf.cellOf(col(vecCol), anchors).as("cell")))
      .localCheckpoint()
    val dupOf = e.as("a").join(e.as("b"),
        col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid"))
      .select(col("b.vid").as("vec_id"), col("a.vid").as("cand"),
        floor(Similarity.dot(col("a.vec"), col("b.vec")) /
          (col("a.norm") * col("b.norm")) * 1e6).cast("long").as("cos_e6"))
      .where(col("cos_e6") >= thresholdMicro)
      .groupBy("vec_id").agg(min(col("cand")).as("dup_of"))
    e.select(col("vid").as("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .orderBy("vec_id")
  }

  /** Cross-source similarity matrix: for every pair of corpus
    * sources, the MinHash ESTIMATE of their vocabulary Jaccard next
    * to the exact value — the "which crawls duplicate each other"
    * audit that decides dedup order and mixture weights. Signatures
    * use the q22 permutation chain (`sig_i = min over words of
    * mix31(mix31(h37(w)) + i)`), engine-portable integers, so the
    * ESTIMATE itself is oracle-exact, and the matrix doubles as a
    * standing accuracy report for the MinHash machinery
    * (est_ppm vs jac_ppm per pair).
    *
    * Scale shape: the signature path is the 100 TB one — per-source
    * state is `numHashes` longs regardless of corpus size, built by
    * one combinable min-aggregate; the pair join touches S²·numHashes
    * signature rows (sources are dozens, not millions). The exact
    * column joins distinct VOCABULARIES (vocab ≪ corpus by Heaps'
    * law); drop it at petabyte scale and the estimate stands alone.
    */
  def sourceSimilarity(docs: DataFrame, numHashes: Int = 32,
      srcCol: String = "source", textCol: String = "text"): DataFrame = {
    val vocab = Par.spread(docs)
      .select(col(srcCol).as("src"),
        explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "").distinct()
      .localCheckpoint() // sig build + size + intersection reuse it
    val h37 = expr("aggregate(filter(split(w, ''), c -> c <> ''), 0L, " +
      "(a, c) -> (a * 37 + ascii(c)) % 2147483647)")
    val sigs = vocab.withColumn("y", Similarity.mix31Col(h37))
      .select(col("src"), col("y"),
        explode(sequence(lit(0), lit(numHashes - 1))).as("i"))
      .groupBy("src", "i")
      .agg(min(Similarity.mix31Col(col("y") + col("i"))).as("m"))
    val est = sigs.as("a").join(sigs.as("b"),
        col("a.i") === col("b.i") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(sum(when(col("a.m") === col("b.m"), 1L).otherwise(0L))
        .as("matches"))
      .withColumn("est_ppm", expr(s"(matches * 1000000) div $numHashes"))
    val sz = vocab.groupBy("src").agg(count(lit(1)).as("n"))
    val inter = vocab.as("a").join(vocab.as("b"),
        col("a.w") === col("b.w") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    est.join(inter, Seq("src_a", "src_b"), "left")
      .join(broadcast(sz.select(col("src").as("src_a"), col("n").as("na"))),
        Seq("src_a"))
      .join(broadcast(sz.select(col("src").as("src_b"), col("n").as("nb"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("matches"), col("est_ppm"),
        expr("(coalesce(inter, 0) * 1000000) div (na + nb - coalesce(inter, 0))")
          .as("jac_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** Near-dup span alignment: for every candidate pair sharing at
    * least `minShared` positioned word `n`-gram shingles, find the
    * LONGEST common contiguous run via the diagonal trick — matches
    * on the same diagonal (`posA − posB`) with consecutive `posA`
    * are one contiguous common span, so runs fall out of a
    * gaps-and-islands pass per (pair, diagonal), no quadratic
    * alignment DP. This is the dedup EXPLAINABILITY artifact: q21
    * says "these two are near-dups", this says WHERE (run start in
    * each doc, length in shingles).
    *
    * A df-cut (shingles in more than `maxDf` docs are dropped before
    * the join) carries q21's skew guard. Shingles join as strings
    * here so the oracle replays the chain verbatim; the 100 TB path
    * swaps the join key for the 8-byte `shingle_hashes` kernel
    * exactly as [[ngramJaccard]] does — same plan shape, smaller
    * shuffle rows.
    */
  def alignSpans(docs: DataFrame, n: Int = 3, minShared: Long = 5L,
      maxDf: Long = 100L, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val shingleExpr = (0 until n).map(j => s"ws[i + $j]").mkString(", ")
    val ps = Par.spread(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
      .where(size(col("ws")) >= n)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(ws) - $n),
           |  i -> struct(i AS pos, concat_ws(' ', $shingleExpr) AS sh))"""
          .stripMargin)).as("p"))
      .select(col("doc_id"), col("p.pos").as("pos"), col("p.sh").as("sh"))
      .localCheckpoint() // df-cut + both join branches share it
    val keep = ps.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("d"))
      .where(col("d") <= maxDf).select("sh")
    val psf = ps.join(keep, "sh")
    val m = psf.as("a").join(psf.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .localCheckpoint() // pair filter + island pass share it
    val pairs = m.groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_matches"))
      .where(col("n_matches") >= minShared)
    val d = m.join(pairs, Seq("a_id", "b_id"))
      .withColumn("diag", col("pa") - col("pb"))
    val wi = Window.partitionBy("a_id", "b_id", "diag").orderBy("pa")
    val runs = d.withColumn("isl", col("pa") - row_number().over(wi))
      .groupBy(col("a_id"), col("b_id"), col("diag"), col("isl"))
      .agg(count(lit(1)).as("run_len"), min(col("pa")).as("start_a"),
        min(col("pb")).as("start_b"))
    val wb = Window.partitionBy("a_id", "b_id")
      .orderBy(col("run_len").desc, col("start_a"), col("start_b"))
    runs.withColumn("rn", row_number().over(wb))
      .where(col("rn") === 1)
      .join(pairs, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), col("n_matches"),
        col("run_len"), col("start_a").cast("long").as("start_a"),
        col("start_b").cast("long").as("start_b"))
      .orderBy("a_id", "b_id")
  }

  /** `base_ppm^k` with a floor back to ppm after every multiply —
    * the stepwise-exact integer power both engines reproduce
    * digit-for-digit (one shot `pow()` would need floats). k ≥ 1.
    */
  private def powPpmStep(basePpm: Long, k: Int): Long =
    (1 until k).foldLeft(basePpm)((acc, _) => acc * basePpm / 1000000L)

  /** LSH banding parameter sweep — the tuning table a dedup pipeline
    * reads before committing to a (bands, rows) split of its MinHash
    * signatures: for every way to band a `numHashes`-long signature,
    * the THEORETICAL candidate probability `1 − (1 − t^r)^b` at each
    * design Jaccard level (stepwise-floored ppm integers, so the
    * S-curve table is oracle-exact), beside the EMPIRICAL cost and
    * yield of that banding on this corpus: distinct candidate pairs
    * generated, and how many survive exact-Jaccard verification at
    * the design threshold. More bands/fewer rows buys recall with
    * candidate volume; this emits both sides of that trade at once.
    *
    * Scale shape: signatures are computed ONCE (the map-only
    * `minhash_state` kernel) and checkpointed; each config re-bands
    * the cached (id, sig) rows — narrow band-key shuffles, never the
    * text. Exact verification runs once over the UNION of candidate
    * pairs across configs (a nested banding produces nested candidate
    * sets, so the union is just the widest config's set), then each
    * config counts its verified subset. The `rows = 1` config is the
    * real cost ceiling — "share ANY single hash" — which is exactly
    * why it belongs in the sweep output rather than in production.
    */
  def lshParameterSweep(docs: DataFrame, numHashes: Int = 16, n: Int = 3,
      thresholdPpm: Long = 500000L,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val gridPpm = Seq(300000L, 500000L, 700000L, 900000L)
    val cfgs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    val sigs = signatures(docs, n, numHashes, textCol, idCol)
      .where(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"), col("sig"))
      .localCheckpoint()
    // ONE pass for every config: each doc emits all of its band keys
    // across all configs (Σ b = 31 keys at the default grid) tagged
    // with the config id, so the five per-config band self-joins —
    // five shuffles of the same signature table — collapse into one
    // (nb, band, bh)-keyed self-join (guide §2.4: same-keyed work
    // shares one exchange). Candidate sets are report-sized; the
    // corpus never re-shuffles per config.
    val bd = sigs.select(col("doc_id"), explode(concat(cfgs.map {
        case (b, r) =>
          array((0 until b).map(band => struct(lit(b).as("nb"),
            bandHash(col("sig"), band, r).as("bh"),
            lit(band).as("band"))): _*)
      }: _*)).as("k"))
      .select(col("doc_id"), col("k.nb").as("nb"), col("k.band").as("band"),
        col("k.bh").as("bh"))
    val cand = bd.select(col("doc_id").as("a_id"), col("nb"), col("band"),
        col("bh"))
      .join(bd.select(col("doc_id").as("b_id"), col("nb"), col("band"),
        col("bh")), Seq("nb", "band", "bh"))
      .where(col("a_id") < col("b_id"))
      .select("nb", "a_id", "b_id").distinct()
      .localCheckpoint() // feeds the verify AND the per-config fold
    // verify once on the distinct pair set across configs (hashed
    // shingle sets; 64-bit collision odds negligible — q21/q22's
    // contract). Coarser bandings are subsets of the rows=1 set, so
    // the distinct dedups to the widest config's pairs.
    // sh is sorted-distinct (kernel contract): two-pointer count
    val inter = call_function("sorted_intersect_count", col("sha"), col("shb"))
    val verified = cand.select("a_id", "b_id").distinct()
      .join(sigs.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .where(inter * 1000000L >= lit(thresholdPpm) *
        (size(col("sha")).cast("long") + size(col("shb")).cast("long") - inter))
      .select("a_id", "b_id")
    // ONE counting job for all configs (was 2 actions per config):
    // verified is distinct per pair, so the left join never multiplies
    val counted = cand
      .join(verified.withColumn("v", lit(1)), Seq("a_id", "b_id"), "left")
      .groupBy("nb")
      .agg(count(lit(1)).as("cand_pairs"), count(col("v")).as("true_pairs"))
      .collect()
      .map(row => row.getAs[Int]("nb") ->
        (row.getAs[Long]("cand_pairs"), row.getAs[Long]("true_pairs")))
      .toMap
    cfgs.map { case (b, r) =>
      val pred = gridPpm.map { t =>
        1000000L - powPpmStep(1000000L - powPpmStep(t, r), b)
      }
      val (cp, tp) = counted.getOrElse(b, (0L, 0L))
      (b.toLong, r.toLong, pred.head, pred(1), pred(2), pred(3), cp, tp)
    }.toDF("n_bands", "n_rows", "p30_ppm", "p50_ppm", "p70_ppm", "p90_ppm",
      "cand_pairs", "true_pairs")
      .orderBy("n_bands")
  }
}
