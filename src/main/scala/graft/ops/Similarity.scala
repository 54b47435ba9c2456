package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * All float math is done in double with a strict left-fold
  * (`aggregate` over `zip_with`), so results are bit-deterministic and
  * reproducible across engines — the DuckDB oracle computes the same
  * fold. Scores are exported as `floor(cos * 1e6)` micro-units to
  * avoid engine-specific `round()` tie behavior entirely.
  */
object Similarity {

  /** Deterministic dot product: Σ a[i]*b[i], left to right, in double.
    * Evaluated by the native codegen'd [[graft.functions.DotProductFold]]
    * (a tight Java loop in whole-stage codegen) — bit-identical to the
    * `aggregate(zip_with(...))` fold it replaced (VecExprSpec pins it).
    */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a.cast("array<double>"), b.cast("array<double>"))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Micro-cosine: floor(cos*1e6) as a long — total-ordering safe. */
  def cosineMicro(a: Column, b: Column): Column =
    floor(cosine(a, b) * 1e6).cast("long")

  /** Exact brute-force top-k: every query against the whole corpus.
    * The query side is broadcast (it's small by definition); the
    * corpus side streams — no shuffle of the big side, and the
    * row_number window cuts to k within each query partition. This is
    * the baseline an ANN variant must beat; at 100 TB use [[DocDedup]]
    * LSH bucketing to prune candidates first.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms precomputed once per vector (not once per pair) — same
    // doubles as computing them inline, 3× less flops per pair
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("q_norm"))
    val c = Par.spread(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("c_norm")))
    rankTopK(c.crossJoin(broadcast(q)), k)
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the `k` most-cosine-similar vectors carrying a DIFFERENT
    * label — the negatives a contrastive loss learns most from.
    * Candidates come through the same SRP band equi-join as
    * [[DocDedup.embeddingCosineBanded]] (a pair qualifies when ANY
    * band agrees), so the join is bucket-bounded, never all-pairs;
    * exact cosine then ranks candidates per anchor (desc, id
    * tiebreak). Anchors whose buckets hold no cross-label vector are
    * absent — at contrastive scale those anchors fall back to
    * in-batch negatives anyway.
    *
    * Deterministic end to end (portable LCG planes + integer
    * micro-cosine), so the oracle restates the WHOLE algorithm —
    * banding included — relationally (q353), the q55 contract.
    *
    * Scale shape: signatures are one map-side kernel pass; the band
    * self-join carries (vid, label, band, bh) only; vectors rejoin by
    * id after pair dedup, so band replication never moves the
    * embedding payload; the rank is one per-anchor window over
    * candidates.
    */
  def hardNegatives(embeddings: DataFrame, k: Int = 1,
      planesPerBand: Int = 6, bands: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", labelCol: String = "label"): DataFrame = {
    val planes = planesPerBand * bands
    require(planes <= 63, "bands*planesPerBand must fit a long's sign bits")
    val e = Par.spread(embeddings.select(
      col(idCol).as("vid"), col(labelCol).as("lbl"),
      col(vecCol).cast("array<double>").as("vec"),
      srpBucket(col(vecCol), planes).as("sig"),
      sqrt(dot(col(vecCol), col(vecCol))).as("norm")))
      .localCheckpoint()
    val mask = (1L << planesPerBand) - 1L
    val bandStructs = (0 until bands).map(b => struct(
      lit(b).as("band"),
      shiftrightunsigned(col("sig"), b * planesPerBand)
        .bitwiseAND(lit(mask)).as("bh")))
    val banded = e.select(col("vid"), col("lbl"),
        explode(array(bandStructs: _*)).as("bk"))
      .select(col("vid"), col("lbl"),
        col("bk.band").as("band"), col("bk.bh").as("bh"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.lbl") =!= col("b.lbl"))
      .select(col("a.vid").as("anchor_id"), col("b.vid").as("neg_id"))
      .dropDuplicates("anchor_id", "neg_id")
    val scored = cand
      .join(e.select(col("vid").as("anchor_id"), col("vec").as("va"),
        col("norm").as("na")), "anchor_id")
      .join(e.select(col("vid").as("neg_id"), col("lbl").as("neg_label"),
        col("vec").as("vb"), col("norm").as("nb")), "neg_id")
      .select(col("anchor_id"), col("neg_id"), col("neg_label"),
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e6)
          .cast("long").as("cos_e6"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cos_e6").desc, col("neg_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("anchor_id", "rank", "neg_id", "neg_label", "cos_e6")
      .orderBy("anchor_id", "rank")
  }

  /** Shared ANN tail: micro-cosine score over precomputed norms, then
    * the rank-k cut per query — ONE definition of the score/tie-break
    * contract for every ANN surface (brute-force and LSH would drift
    * apart otherwise).
    */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame = {
    val scored = pairs.select(col("q_id"), col("vec_id"),
      floor(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")) * 1e6)
        .cast("long").as("cos_e6"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_e6").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos_e6")
      .orderBy("q_id", "rank")
  }

  /** The engine-portable non-linear 31-bit mixer as a Column program —
    * the Spark-HOF restatement of `VecKernels.mix31` (xorshift,
    * multiply mod 2^31, xorshift), shared by every differential fold
    * that mirrors a mixed kernel.
    */
  /** Exact integer floor square root: IEEE sqrt (correctly rounded,
    * bit-identical on every engine) plus an off-by-one guard, so
    * floor(√x) is mathematically exact for non-negative BIGINT x —
    * the building block for integer fractional powers
    * (floor(x^(q/4)) via nested calls) that keep weight tables
    * oracle-replayable. Evaluates as ONE codegen'd kernel call
    * ([[graft.functions.IntSqrt]], same arithmetic path): the
    * previous column form referenced its operand five times, so the
    * NESTED fractional-power calls inlined it ~25× and blew the
    * 64 KB codegen method limit (whole-stage codegen fell back to
    * interpreted on q363's weight projection).
    */
  private[graft] def isqrtCol(x: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.IntSqrt(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          x.cast("long"))))

  private[graft] def mix31Col(v: Column): Column = {
    // pmod, not %: VecKernels.mix31 masks with & 0x7FFFFFFF, which is
    // the NON-NEGATIVE residue mod 2^31 even for negative inputs —
    // Column % would go negative there and silently diverge
    val x0 = pmod(v, lit(2147483648L))
    val x1 = x0.bitwiseXOR(shiftrightunsigned(x0, 15))
    val x2 = (x1 * 1103515245L) % 2147483648L
    x2.bitwiseXOR(shiftrightunsigned(x2, 12))
  }

  /** Pseudo-random hyperplane weight for (plane, dim): deterministic
    * and ENGINE-PORTABLE — the non-linear `mix31` of `p·8192 + d` in
    * exact 64-bit integer arithmetic, then mod 20001, centered to
    * [−1, 1]. PRECONDITION d < 8192 — beyond the stride, weights alias
    * across planes; the native kernel ([[graft.functions.VecKernels
    * .srpBucket]]) enforces it with a `require`, and this Column twin
    * shares that contract (d here is a per-element index the plan
    * can't bound statically). Reproducible across runs and cluster
    * sizes with zero state to ship, and restatable in the DuckDB
    * oracle so SRP-bucketed queries are hash-verified end to end
    * (q26/q55) instead of rows-only.
    */
  private def planeWeight(p: Column, d: Column): Column =
    ((mix31Col(p.cast("long") * 8192L + d.cast("long")) % 20001L)
      .cast("double") - 10000.0) / 10000.0

  /** Sign-random-projection bucket id: `planes` sign bits packed into a
    * long. Vectors in the same bucket are near-duplicate candidates;
    * at scale the bucket id becomes the shuffle/partition key, so
    * candidate generation is a co-partitioned equi-join instead of a
    * cross join. Native codegen'd [[graft.functions.SrpBucket]];
    * [[srpBucketFold]] is the HOF reference semantics (VecExprSpec).
    */
  def srpBucket(vec: Column, planes: Int): Column =
    call_function("srp_bucket", vec.cast("array<double>"), lit(planes))

  /** Interpreted HOF fold with the same semantics as [[srpBucket]] —
    * kept as the executable spec the native expression is tested
    * against.
    */
  private[graft] def srpBucketFold(vec: Column, planes: Int): Column = {
    val bits = transform(sequence(lit(0), lit(planes - 1)), p => {
      val proj = aggregate(
        zip_with(vec.cast("array<double>"),
          sequence(lit(0), size(vec) - 1).cast("array<double>"),
          (x, d) => x * planeWeight(p, d.cast("int"))),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1L)).otherwise(lit(0L))
    })
    // pack bits: Σ bit_i * 2^i (shift amount must be a plain int, so
    // multiply by the power instead)
    aggregate(zip_with(bits, sequence(lit(0), lit(planes - 1)),
      (bit, i) => bit * pow(lit(2.0), i).cast("long")),
      lit(0L), (acc, v) => acc + v)
  }

  /** LSH-bucketed ANN: queries join the corpus only within their SRP
    * bucket, then exact cosine ranks the candidates. Approximate —
    * recall depends on `planes` (fewer planes = bigger buckets =
    * higher recall, more compute).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Par.spread(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"),
      srpBucket(col(vecCol), planes).as("bucket"),
      sqrt(dot(col(vecCol), col(vecCol))).as("c_norm")))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      srpBucket(col(vecCol), planes).as("bucket"),
      sqrt(dot(col(vecCol), col(vecCol))).as("q_norm"))
    rankTopK(c.join(broadcast(q), Seq("bucket")), k)
  }

  /** Multi-probe SRP LSH (Lv et al. 2007, "Multi-Probe LSH"): each
    * query searches its own SRP bucket PLUS the buckets reached by
    * flipping its `flips` lowest-|margin| sign bits — the planes where
    * the projection landed nearest zero are exactly the bits a true
    * neighbor most plausibly disagrees on. Recall approaches
    * more-tables LSH at the memory cost of ONE table: the corpus is
    * bucketed once; only the query side fans out (flips+1 probe rows
    * per query).
    *
    * Scale shape: identical to [[lshTopK]] — the corpus never
    * replicates, the probe set broadcasts, candidates come from a
    * bucket equi-join; the margin computation is a map-only HOF fold
    * with the same plane weights as the codegen'd kernel, so the
    * whole probe derivation restates relationally (q162's oracle).
    */
  def multiProbeLshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      planes: Int = 6, flips: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(flips < planes, s"flips $flips must stay below planes $planes")
    val c = Par.spread(corpus.select(col(idCol).as("vec_id"),
      col(vecCol).as("c_vec"),
      srpBucket(col(vecCol), planes).as("bucket"),
      sqrt(dot(col(vecCol), col(vecCol))).as("c_norm")))
    val projArr = transform(sequence(lit(0), lit(planes - 1)), p =>
      aggregate(zip_with(col("q_vec").cast("array<double>"),
        sequence(lit(0), size(col("q_vec")) - 1).cast("array<double>"),
        (x, d) => x * planeWeight(p, d.cast("int"))),
        lit(0.0), (acc, v) => acc + v))
    // planes ordered by |margin| asc (ties to the lower plane): the
    // flip candidates, most-uncertain first
    val flipOrder = transform(array_sort(zip_with(projArr,
        sequence(lit(0), lit(planes - 1)),
        (pr, i) => struct(abs(pr).as("m"), i.as("p")))),
      s => s.getField("p"))
    val probeBuckets = concat(array(col("base")),
      transform(slice(flipOrder, 1, flips),
        f => col("base").bitwiseXOR(
          pow(lit(2.0), f.cast("int")).cast("long"))))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
        srpBucket(col(vecCol), planes).as("base"),
        sqrt(dot(col(vecCol), col(vecCol))).as("q_norm"))
      .withColumn("bucket", explode(probeBuckets))
      .drop("base")
    rankTopK(c.join(broadcast(q), Seq("bucket")), k)
  }

  /** Per-label embedding centroids in exact micro-units: each element
    * floors to `long` micro-units FIRST, then sums — integer addition
    * commutes, so the result is independent of row order and partition
    * count (a raw double sum would drift between engines and between
    * runs on different partitionings). `mean_micro` is the floored
    * integer mean. This is the class-prototype computation behind
    * centroid-based dedup/clustering and label-quality audits.
    *
    * Shape: posexplode (dim fan-out, map-only) → ONE groupBy keyed by
    * (label, dim) — map-side combinable, key space |labels|×dim, so
    * the shuffle carries at most tasks×|labels|×dim combiner rows no
    * matter how many vectors stream through.
    */
  def labelCentroidsMicro(embeddings: DataFrame, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    Par.spread(embeddings)
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("idx", "x")))
      .select(col("label"), col("idx"),
        floor(col("x") * 1e6).cast("long").as("micro"))
      .groupBy("label", "idx")
      .agg(count(lit(1)).as("n"), sum(col("micro")).as("sum_micro"))
      .withColumn("mean_micro",
        floor(col("sum_micro").cast("double") / col("n")).cast("long"))
      .orderBy("label", "idx")

  /** Symmetric int8 scalar quantization of an embedding column —
    * the standard 4× memory/IO reduction before ANN indexing at
    * corpus scale. Per-vector scale = max|x|/127; elements quantize
    * by round-half-up (`floor(x/scale + 0.5)`, the one rounding both
    * Spark and DuckDB agree on), so the output is exact integer math
    * and oracle-checkable. Emits the quantized vector, the scale in
    * integer nano-units, and the quantized-value checksum.
    */
  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    embeddings
      .select(col(idCol).as("vec_id"), v.as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("q", when(col("scale") > 0,
          transform(col("v"), x => floor(x / col("scale") + 0.5).cast("int")))
        .otherwise(transform(col("v"), _ => lit(0))))
      .select(col("vec_id"),
        floor(col("scale") * 1e9).cast("long").as("scale_e9"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"),
        col("q"))
      .orderBy("vec_id")
  }

  /** Greedy k-center (farthest-point) coreset selection — pick `k`
    * maximally spread vectors: seed at the smallest id, then k−1
    * rounds of "take the point farthest from everything chosen so
    * far". The classic 2-approximation to the k-center objective and
    * the standard diversity-sampling pass for training-data curation
    * (coresets, dedup-cluster exemplars, eval-set seeding) — the
    * counterweight to similarity dedup, which removes the CLOSE pairs
    * while this keeps the SPREAD ones.
    *
    * Determinism contract: vectors quantize to a global milli grid
    * (`floor(x·quant)` per element) so distances are exact integer
    * squared-L2 in milli² units; ties on the max break to the smaller
    * id. Each selected row reports the distance that won its
    * selection — a non-increasing sequence whose last value is the
    * (k−1)-center covering radius of the corpus.
    *
    * Scale shape: each round is one map (update the running min-dist
    * against the single new center, broadcast as a literal) + one
    * argmax aggregate — k scans total, nothing ever shuffles
    * row-scale; the k×dim centers live on the driver (query-sized by
    * definition). localCheckpoint per round keeps lineage flat.
    */
  def kCenterSelect(embeddings: DataFrame, k: Int = 8, quant: Long = 1000L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), _ + _)
    val q = embeddings.select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * quant).cast("long")).as("q"))
      .localCheckpoint()
    val seed = q.orderBy("vec_id").limit(1).collect()(0)
    var picked = Vector((1, seed.getLong(0), 0L))
    var cur = q.withColumn("md",
        d2(col("q"), typedLit(seed.getSeq[Long](1))))
      .localCheckpoint()
    for (i <- 2 to k) {
      val top = cur.orderBy(col("md").desc, col("vec_id")).limit(1)
        .collect()(0)
      picked :+= ((i, top.getLong(0), top.getAs[Long]("md")))
      val cq = typedLit(top.getSeq[Long](1))
      cur = cur.withColumn("md", least(col("md"), d2(col("q"), cq)))
        .localCheckpoint()
    }
    val spark = embeddings.sparkSession
    import spark.implicits._
    picked.toDF("sel_order", "vec_id", "d2_sel").orderBy("sel_order")
  }

  /** Per-dimension Fisher selectivity of the embedding space against
    * the label column — the one-way eta² of [[Stats.varianceDecomposition]]
    * computed for EVERY dimension in one pass: which coordinates
    * actually separate the classes (linear-probe feature selection,
    * embedding-space debugging: a handful of high-eta² dims means the
    * labels live in a tiny subspace). Same integer contract: milli
    * grid, truncated integer means, SSB/SSW exact against those
    * means via the q−2ms+nm² identity (no second data pass), only
    * the final ppm ratio through a double floor.
    *
    * Scale shape: ONE combinable (dim, label) aggregate folds the
    * corpus to |dims|·|labels| rows; everything after is
    * report-sized arithmetic with the per-dim totals broadcast.
    */
  def fisherDims(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labCol: String = "label"): DataFrame = {
    val x = embeddings
      .where(col(labCol).isNotNull && col(vecCol).isNotNull)
      .select(col(labCol).cast("long").as("lab"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("idx", "v")))
      .select(col("lab"), col("idx").cast("long").as("idx"),
        expr("CAST(floor(v * 1000) AS BIGINT)").as("x"))
    val gl = x.groupBy("idx", "lab")
      .agg(count(lit(1)).as("n_l"), sum(col("x")).as("s_l"),
        sum(col("x") * col("x")).as("q_l"))
      .withColumn("m_l", expr("s_l div n_l"))
      .localCheckpoint() // per-dim totals and the SS folds share it
    val gi = gl.groupBy("idx")
      .agg(sum(col("n_l")).as("n"), sum(col("s_l")).as("s"),
        count(lit(1)).as("n_labels"))
      .withColumn("m", expr("s div n"))
    gl.join(broadcast(gi.select("idx", "n", "n_labels", "m")), "idx")
      .groupBy("idx")
      .agg(max(col("n")).as("n"), max(col("n_labels")).as("n_labels"),
        sum(col("n_l") * (col("m_l") - col("m")) *
          (col("m_l") - col("m"))).as("ssb"),
        sum(col("q_l") - lit(2L) * col("m_l") * col("s_l") +
          col("n_l") * col("m_l") * col("m_l")).as("ssw"))
      .select(col("idx"), col("n"), col("n_labels"), col("ssb"), col("ssw"),
        // nullif guard: a constant dimension has SSB = SSW = 0 and
        // 0/0 would NaN (ANSI cast error) — report NULL instead
        expr("CAST(floor(CAST(ssb AS DOUBLE) * 1000000 / " +
          "CAST(nullif(ssb + ssw, 0) AS DOUBLE)) AS BIGINT)")
          .as("eta2_ppm"))
      .orderBy(col("eta2_ppm").desc, col("idx"))
  }

  /** Nearest-centroid classification eval — fit the one-prototype-per-
    * label classifier (per-dim truncated integer means on the milli
    * grid) and score it on the corpus: the confusion matrix with a
    * correctness flag per cell, exact. The first eval any embedding
    * space gets ("are the labels even linearly clustered?") and the
    * honest baseline an ANN-powered classifier must beat. Distances
    * are integer squared-L2; argmin ties break to the smaller label.
    *
    * Scale shape: centroids are |labels|·dim — broadcast; classify is
    * a map over the corpus (one fold per centroid per row); the
    * confusion aggregate is combinable. Nothing vector-scale
    * shuffles.
    */
  def nccEval(embeddings: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", labCol: String = "label"): DataFrame = {
    val q = embeddings
      .where(col(labCol).isNotNull && col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"), col(labCol).cast("long").as("lab"),
        transform(col(vecCol).cast("array<double>"),
          v => floor(v * 1000).cast("long")).as("x"))
      .localCheckpoint() // centroid fit and the scoring pass share it
    val cents = q
      .select(col("lab"), posexplode(col("x")).as(Seq("idx", "xv")))
      .groupBy("lab", "idx")
      .agg(count(lit(1)).as("n"), sum(col("xv")).as("s"))
      .withColumn("m", expr("s div n"))
      .groupBy("lab")
      .agg(transform(sort_array(collect_list(struct(col("idx"), col("m")))),
        e => e.getField("m")).as("c"))
    val d2 = q.crossJoin(broadcast(cents.select(col("lab").as("clab"),
        col("c"))))
      .select(col("vec_id"), col("lab"),
        struct(aggregate(zip_with(col("x"), col("c"),
            (a, b) => (a - b) * (a - b)), lit(0L), _ + _).as("d"),
          col("clab")).as("cand"))
      .groupBy("vec_id", "lab")
      .agg(min(col("cand")).as("m"))
      .select(col("lab").as("true_lab"), col("m.clab").as("pred_lab"))
    d2.groupBy("true_lab", "pred_lab")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("correct", col("true_lab") === col("pred_lab"))
      .orderBy("true_lab", "pred_lab")
  }

  /** Product-quantization encoding — the memory-bound ANN serving
    * format: the vector splits into `m` contiguous subvectors, each
    * assigned to its nearest codeword (argmin L2, ties to the lower
    * code) in a per-subspace codebook, so a d-dim float vector
    * compresses to m bytes + a shared codebook. Emits one row per
    * (vector, subspace) with the code and the subspace quantization
    * error in micro units.
    *
    * The codebook here is deterministic — subvectors of the first
    * `k` vectors by id — so the oracle restates codebook, distance
    * fold, and argmin relationally (same contract style as the q79
    * anchor quantizer; swap in k-means codebooks at deployment with
    * the identical plan shape). Encoding is map-only against the
    * driver-held codebook: nothing shuffles at any corpus size.
    */
  def pqEncode(embeddings: DataFrame, m: Int = 8, k: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val first = embeddings.orderBy(idCol).limit(k)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(first.nonEmpty, "pqEncode needs a non-empty corpus")
    val dim = first.head.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val w = dim / m
    // codebooks(s)(c) = codeword c of subspace s (driver-tiny: m·k·w)
    val codebooks = (0 until m).map(s => first.map(_.slice(s * w, (s + 1) * w)))
    val subCols = (0 until m).map { s =>
      val sv = slice(col("v"), s * w + 1, w)
      val scored = codebooks(s).zipWithIndex.map { case (c, i) =>
        struct(
          aggregate(zip_with(sv, lit(c), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x).as("dist"),
          lit(i).as("code"))
      }
      // lexicographic struct min = (min dist, then min code)
      array_min(array(scored: _*)).as(s"best$s")
    }
    embeddings.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vec_id") +: subCols: _*)
      .select(col("vec_id"), posexplode(array((0 until m).map(s =>
        struct(col(s"best$s.code").cast("int").as("code"),
          floor(col(s"best$s.dist") * 1e6).cast("long").as("dist_e6"))): _*))
        .as(Seq("sub", "bc")))
      .select(col("vec_id"), col("sub").cast("int").as("sub"),
        col("bc.code").as("code"), col("bc.dist_e6").as("dist_e6"))
      .orderBy("vec_id", "sub")
  }

  /** Matryoshka (MRL) two-stage top-k: stage 1 ranks by cosine over
    * the vectors' FIRST `dTrunc` dims — the matryoshka property is
    * that a prefix of a trained embedding is itself a usable
    * embedding — keeping `kCand` candidates per query; stage 2
    * re-ranks only those candidates at full dimension. At serving
    * scale the win is bandwidth: the coarse pass reads `dTrunc/dim`
    * of the vector bytes (store the prefix as its own column and the
    * scan prunes to it), and full vectors are touched for `kCand`
    * rows per query instead of the corpus.
    *
    * Same floor-micro cosine + `(cos desc, id)` tie contract as every
    * ANN surface here, both stages — candidate generation AND re-rank
    * verify relationally.
    */
  def mrlTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      dTrunc: Int = 16, kCand: Int = 10, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("q_full"))
      .withColumn("q_vec", slice(col("q_full"), 1, dTrunc))
      .withColumn("q_norm", sqrt(dot(col("q_vec"), col("q_vec"))))
    val c = Par.spread(corpus.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("c_full")))
      .withColumn("c_vec", slice(col("c_full"), 1, dTrunc))
      .withColumn("c_norm", sqrt(dot(col("c_vec"), col("c_vec"))))
    val coarse = c.crossJoin(broadcast(q))
    val coarseScore = floor(dot(col("q_vec"), col("c_vec")) /
      (col("q_norm") * col("c_norm")) * 1e6).cast("long")
    val wc = Window.partitionBy("q_id")
      .orderBy(col("coarse_e6").desc, col("vec_id"))
    val cand = coarse.withColumn("coarse_e6", coarseScore)
      .withColumn("crank", row_number().over(wc))
      .where(col("crank") <= kCand)
    // full-dim re-rank over candidates only
    val fullScore = floor(dot(col("q_full"), col("c_full")) /
      (sqrt(dot(col("q_full"), col("q_full"))) *
        sqrt(dot(col("c_full"), col("c_full")))) * 1e6).cast("long")
    val wf = Window.partitionBy("q_id")
      .orderBy(col("cos_e6").desc, col("vec_id"))
    cand.withColumn("cos_e6", fullScore)
      .withColumn("rank", row_number().over(wf))
      .where(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos_e6")
      .orderBy("q_id", "rank")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes — the
    * memory-compressed serving scan for billion-vector ANN (Jégou et
    * al., "Product Quantization for Nearest Neighbor Search"). The
    * corpus is represented by its [[pqEncode]] codes (m bytes per
    * vector instead of dim floats); each query builds a small lookup
    * table (m·k floor-e6 squared-L2 distances from its subvectors to
    * every codeword) and a vector's approximate distance is the SUM
    * of m integer table lookups — no float math ever touches the
    * corpus side, so the 100 TB scan reads 8 bytes/vector and stays
    * map-side (codes ⋈ broadcast LUT). Integer-exact end to end: the
    * oracle recomputes codes, LUTs and ranks relationally.
    */
  def pqAdcTopK(embeddings: DataFrame, queries: DataFrame, k: Int = 3,
      m: Int = 8, kcode: Int = 16, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = pqEncode(embeddings, m, kcode, idCol, vecCol)
      .select(col("vec_id"), col("sub"), col("code"))
    // same deterministic codebook derivation as pqEncode (driver-tiny:
    // the first kcode vectors by id, m·k·w doubles)
    val first = embeddings.orderBy(idCol).limit(kcode)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(first.nonEmpty, "pqAdcTopK needs a non-empty corpus")
    val dim = first.head.length
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val w = dim / m
    val codebooks = (0 until m).map(s => first.map(_.slice(s * w, (s + 1) * w)))
    // per-query LUT: m·k rows, each the floor-e6 squared distance from
    // the query's subvector to one codeword — the same fold and the
    // same quantization as pqEncode's dist_e6, so both engines agree
    val lutStructs = for { s <- 0 until m; c <- 0 until kcode } yield {
      val sv = slice(col("qv"), s * w + 1, w)
      struct(lit(s).as("sub"), lit(c).as("code"),
        floor(aggregate(
          zip_with(sv, lit(codebooks(s)(c)), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x) * 1e6).cast("long").as("lut_e6"))
    }
    val lut = queries.select(col(idCol).as("q_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .select(col("q_id"), explode(array(lutStructs: _*)).as("l"))
      .select(col("q_id"), col("l.sub").cast("int").as("sub"),
        col("l.code").cast("int").as("code"), col("l.lut_e6").as("lut_e6"))
    // ADC distance = Σ_sub lut[sub][code(vec, sub)] — integer sum of m
    // lookups; the LUT (queries × m × k rows) broadcasts, the code
    // table never shuffles
    val adist = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum("lut_e6").as("adist_e6"))
    val rnw = Window.partitionBy("q_id").orderBy(col("adist_e6"), col("vec_id"))
    adist.withColumn("rank", row_number().over(rnw))
      .where(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "adist_e6")
      .orderBy("q_id", "rank")
  }

  /** IVF-PQ: the composed billion-vector ANN architecture (FAISS's
    * IVFPQ) — a coarse inverted-file quantizer prunes the corpus to
    * `nprobe` cells, then the compressed ADC scan of [[pqAdcTopK]]
    * ranks only the surviving cells' codes. The coarse quantizer here
    * is the deterministic anchor-cell table
    * ([[Ivf.trainCentroids]] at 0 iterations = the first `cells`
    * corpus vectors, the same restatable choice q79's SemDeDup uses);
    * a production build swaps in trained centroids
    * ([[Ivf.trainCentroids]] with iterations) without touching the
    * shape.
    *
    * Scale shape: the corpus never holds floats at scan time — codes
    * (m bytes/vector) + one cell int; the probe set and the
    * query LUTs broadcast (queries × m × kcode ints); the scan reads
    * ~nprobe/cells of the code table (cell is the storage partition
    * key in a persisted index, so file pruning applies) and
    * aggregates m-lookup integer sums. The cell assignment and code
    * assignment join once per index build, not per query.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      cells: Int = 8, nprobe: Int = 2, m: Int = 8, kcode: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val anchors = Ivf.trainCentroids(corpus, cells, iterations = 0, idCol, vecCol)
    // corpus index side: PQ codes ⋈ coarse cell (one build-time join —
    // a persisted index stores this partitioned by cell)
    val codes = pqEncode(corpus, m, kcode, idCol, vecCol)
      .select(col("vec_id"), col("sub"), col("code"))
    val cellAsg = Par.spread(corpus.select(col(idCol).as("vec_id"),
      Ivf.cellOf(col(vecCol), anchors).as("cell")))
    val coded = codes.join(cellAsg, Seq("vec_id"))
    // query side: nprobe best anchor cells (dot desc, cell asc) ...
    val probeSort = transform(
      array_sort(array(anchors.zipWithIndex.map { case (c, i) =>
        struct((-dot(col("qv"), lit(c))).as("negS"), lit(i).as("cell"))
      }: _*)), s => s.getField("cell"))
    val q = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val probes = q.select(col("q_id"),
      explode(slice(probeSort, 1, nprobe)).as("cell"))
    // ... and the ADC lookup table (same codebook derivation as
    // pqEncode: the first kcode vectors' subvectors)
    val first = corpus.orderBy(idCol).limit(kcode)
      .select(col(vecCol).cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val dim = first.head.length
    val w = dim / m
    val codebooks = (0 until m).map(s => first.map(_.slice(s * w, (s + 1) * w)))
    val lutStructs = for (s <- 0 until m; c <- 0 until kcode) yield {
      val sv = slice(col("qv"), s * w + 1, w)
      struct(lit(s).as("sub"), lit(c).as("code"),
        floor(aggregate(
          zip_with(sv, lit(codebooks(s)(c)), (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x) * 1e6).cast("long").as("lut_e6"))
    }
    val lut = q.select(col("q_id"), explode(array(lutStructs: _*)).as("l"))
      .select(col("q_id"), col("l.sub").cast("int").as("sub"),
        col("l.code").cast("int").as("code"), col("l.lut_e6").as("lut_e6"))
    // probed candidates only: cell join prunes, then m integer lookups
    val adist = coded.join(broadcast(probes), Seq("cell"))
      .join(broadcast(lut), Seq("q_id", "sub", "code"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("lut_e6")).as("adist_e6"))
    val rnw2 = Window.partitionBy("q_id").orderBy(col("adist_e6"), col("vec_id"))
    adist.withColumn("rank", row_number().over(rnw2))
      .where(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "adist_e6")
      .orderBy("q_id", "rank")
  }

  /** Reciprocal-rank fusion (Cormack et al.) — THE standard hybrid
    * retrieval combiner: each input ranking contributes
    * `1/(k + rank)` per document, summed across rankings; documents
    * high in ANY list surface without score calibration between
    * lists (BM25 scores and cosine distances never share a scale —
    * ranks do). Weights are integer nano-units (`10⁹ div (k+rank)`,
    * floored), so the fusion is oracle-exact.
    *
    * Inputs carry `(id, rnk)` — rank them upstream with the two-pass
    * [[Par.globalRowNumber]] over a TOTAL order (score desc, id) and
    * cap each list (top-N candidates), which is also the scale
    * contract: fusion cost is Σ|lists|, never corpus-sized. One
    * combinable groupBy(id) finishes.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Long = 60L,
      topN: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val u = rankings.map(_.select(col("id"), col("rnk")))
      .reduce(_ unionByName _)
    u.groupBy("id")
      .agg(count(lit(1)).as("n_lists"),
        sum(expr(s"1000000000 div (${k}L + rnk)")).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topN)
  }

  /** Matryoshka truncation distortion report: over a deterministic
    * pair sample, compare full-dimension micro-cosine against the
    * cosine of each dimension PREFIX (8/16/32/...) and report the
    * mean absolute error per prefix — the measurement behind "serve
    * the 16-dim prefix, re-rank with the full vector" (q131's
    * two-stage shape): it tells you which prefix is safe to index.
    * Same left-fold cosine contract as [[bruteForceTopK]], exact
    * micro arithmetic; pair sample is `id % sampleMod == 0` both
    * sides, `a < b`.
    */
  def mrlDistortion(emb: DataFrame, prefixes: Seq[Int] = Seq(8, 16, 32),
      sampleMod: Int = 20, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val s = emb.where(pmod(col(idCol), lit(sampleMod)) === 0)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    val pairs = Par.spread(s.select(col("id").as("a_id"),
        col("vec").as("va")))
      .join(broadcast(s.select(col("id").as("b_id"), col("vec").as("vb"))),
        col("a_id") < col("b_id"))
      .withColumn("cos_full", cosineMicro(col("va"), col("vb")))
    val perPrefix = prefixes.map { d =>
      pairs.select(lit(d.toLong).as("dim"),
        abs(cosineMicro(slice(col("va"), 1, d), slice(col("vb"), 1, d))
          - col("cos_full")).as("err"))
    }.reduce(_.unionByName(_))
    perPrefix.groupBy("dim")
      .agg(count(lit(1)).as("n_pairs"), sum(col("err")).as("err_sum"))
      .select(col("dim"), col("n_pairs"),
        expr("err_sum div n_pairs").as("mean_abs_err_e6"))
      .orderBy("dim")
  }

  /** Standing ANN recall report: run the SRP-LSH top-k
    * ([[lshTopK]]) and the exact brute-force top-k
    * ([[bruteForceTopK]]) over the SAME queries with the SAME
    * score/tie contract, and report per query how many of the true
    * top-k the ANN path recovered — the recall@k dashboard every ANN
    * deployment keeps next to its index (an ANN without a measured
    * recall is a rumor). Exact-ppm recall; queries missing from the
    * ANN output entirely (empty probe bucket) surface as recall 0,
    * not absent rows.
    *
    * Scale: both paths broadcast the query side (corpus never
    * shuffles); production swaps the brute-force leg for a SAMPLED
    * query set — which is what `queries` already is.
    */
  def annRecallReport(corpus: DataFrame, queries: DataFrame, k: Int = 3,
      planes: Int = 6): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, k)
      .select(col("q_id"), col("vec_id"))
    val ann = lshTopK(corpus, queries, k, planes)
      .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
    exact.join(ann, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_common"))
      .select(col("q_id"), col("n_common"),
        expr(s"n_common * 1000000 div ${k}L").as("recall_ppm"))
      .orderBy("q_id")
  }

  /** k-NN label-noise audit (Confident-Learning-shaped): for a
    * deterministic sample of labeled vectors, find the `k` nearest
    * corpus neighbors (same micro-cosine + tie contract as
    * [[bruteForceTopK]], self excluded BEFORE ranking) and flag
    * points whose neighbor-majority label disagrees with their own —
    * the standing mislabeled-example report a labeled training set
    * runs before fitting anything to it.
    *
    * Majority ties break to the smallest label (deterministic).
    * Scale: the audited sample is broadcast against the corpus (the
    * corpus never shuffles, exactly q25's by-design baseline path);
    * sampling is `id % sampleMod` so reruns audit the same points.
    * At 100 TB the same report runs with the ANN paths
    * ([[lshTopK]] / [[Ivf.topK]]) as the neighbor source; brute
    * force here keeps the oracle exact.
    */
  /** Mutual-kNN pair mining: within a deterministic sample, keep the
    * pairs where EACH side ranks the other inside its own top-k —
    * the reciprocal-neighbor filter (the heart of bitext mining and
    * high-precision near-dup candidate generation: one-directional
    * kNN keeps hubs that are "near everything"; mutuality kills
    * them). Same micro-cosine + tie contract as [[bruteForceTopK]],
    * self excluded before ranking; both directional ranks are
    * reported. At 100 TB the same mutuality test runs per LSH/IVF
    * bucket over ANN lists; the sampled brute-force form keeps the
    * oracle exact.
    */
  def mutualKnn(emb: DataFrame, k: Int = 5, sampleMod: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val s = emb.where(pmod(col(idCol), lit(sampleMod)) === 0)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    val pairs = Par.spread(s.select(col("id").as("q_id"),
        col("vec").as("q_vec"), col("nrm").as("q_norm")))
      .crossJoin(broadcast(s.select(col("id").as("vec_id"),
        col("vec").as("c_vec"), col("nrm").as("c_norm"))))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        floor(dot(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm")) * 1e6).cast("long").as("cos_e6"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_e6").desc, col("vec_id"))
    val ranked = pairs.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
    val ab = ranked.select(col("q_id").as("a_id"), col("vec_id").as("b_id"),
      col("cos_e6"), col("rank").as("rank_ab"))
    val ba = ranked.select(col("q_id").as("b_id"), col("vec_id").as("a_id"),
      col("rank").as("rank_ba"))
    ab.join(ba, Seq("a_id", "b_id"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("cos_e6"),
        col("rank_ab"), col("rank_ba"))
      .orderBy("a_id", "b_id")
  }

  /** Per-dimension embedding whitening (mean-center + unit variance —
    * the SimCSE-style post-processing that fixes anisotropic
    * embedding spaces before cosine retrieval), integer-exact in the
    * q66 micro-unit contract: elements floor to micro ints, the
    * per-dim mean is the truncated micro average, deviations are exact
    * ints, and the scale is `floor(sqrt(Σdev²/n))` (one double sqrt —
    * correctly rounded IEEE, so engine-portable like the cosine
    * fold). Output long-format `(vec_id, idx, z_ppm)` with
    * `z_ppm = dev·10⁶ div sd`. Two combinable aggregates over
    * (dim)-keyed rows; the d-sized moment table broadcasts back.
    */
  def whitenEmbeddings(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("idx", "x")))
      .select(col("vec_id"), col("idx").cast("int").as("idx"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)")
          .as("micro"))
    val mean = e.groupBy("idx")
      .agg(count(lit(1)).as("n"), sum(col("micro")).as("sm"))
      .select(col("idx"), col("n"),
        expr("sm div n").as("mean_micro"))
    val dev = e.join(broadcast(mean), "idx")
      .select(col("vec_id"), col("idx"),
        (col("micro") - col("mean_micro")).as("dev"))
      .localCheckpoint() // moment pass and z output share it
    val sd = dev.groupBy("idx")
      .agg(count(lit(1)).as("n"), sum(col("dev") * col("dev")).as("ss"))
      .select(col("idx"),
        floor(sqrt(col("ss") / col("n"))).cast("long").as("sd_micro"))
    // `div` truncates toward zero, and so does DuckDB's integer `//`
    // (verified: -5 // 2 = -2) — negative deviations stay in parity
    dev.join(broadcast(sd), "idx")
      .where(col("sd_micro") > 0)
      .select(col("vec_id"), col("idx"),
        expr("dev * 1000000 div sd_micro").as("z_ppm"))
      .orderBy("vec_id", "idx")
  }

  def knnLabelAudit(emb: DataFrame, k: Int = 5, sampleMod: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = emb.where(pmod(col(idCol), lit(sampleMod)) === 0)
      .select(col(idCol).as("q_id"), col(labelCol).as("q_label"),
        col(vecCol).as("q_vec"),
        sqrt(dot(col(vecCol), col(vecCol))).as("q_norm"))
    val c = Par.spread(emb.select(col(idCol).as("vec_id"),
      col(labelCol).as("n_label"), col(vecCol).as("c_vec"),
      sqrt(dot(col(vecCol), col(vecCol))).as("c_norm")))
    val scored = c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("q_label"), col("n_label"),
        floor(dot(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm")) * 1e6).cast("long").as("cos_e6"),
        col("vec_id"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_e6").desc, col("vec_id"))
    val votes = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .groupBy("q_id", "q_label", "n_label")
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy("q_id")
      .orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("rn", row_number().over(wv))
      .where(col("rn") === 1)
      .select(col("q_id").as("vec_id"), col("q_label").as("own_label"),
        col("n_label").as("maj_label"), col("votes"),
        (col("n_label") =!= col("q_label")).as("suspect"))
      .orderBy("vec_id")
  }

  /** Embedding drift monitor: per-label centroid shift between two
    * corpus slices (reference vs new batch) — the re-index/retrain
    * tripwire an embedding pipeline checks before trusting yesterday's
    * ANN index or classifier prototypes on today's vectors. Both
    * slices run [[labelCentroidsMicro]]'s exact integer-centroid
    * contract, so the L2² shift (micro² units), the worst-moved
    * dimension (ties to the smallest index), and the signed shift on
    * it are all oracle-exact. Labels present in only one slice drop
    * out (no centroid to compare).
    *
    * Shape: two combinable (label, dim) aggregates over disjoint
    * row slices of ONE scan pattern, then a |labels|·dim-row join —
    * corpus size only touches the map side.
    */
  def centroidDrift(ref: DataFrame, fresh: DataFrame,
      thresholdMicro2: Long = 100000000L, labelCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    def side(df: DataFrame, nAs: String, mAs: String) =
      labelCentroidsMicro(df, labelCol, vecCol)
        .select(col("label"), col("idx"), col("n").as(nAs),
          col("mean_micro").as(mAs))
    side(ref, "n_ref", "m_ref")
      .join(side(fresh, "n_new", "m_new"), Seq("label", "idx"))
      .withColumn("d", col("m_new") - col("m_ref"))
      .groupBy("label")
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_new")).as("n_new"),
        sum(col("d") * col("d")).as("l2sq_micro2"),
        // argmax |d| with ties to the smallest dim: struct max orders
        // by |d| first, then by -idx (so the LARGER -idx = smaller
        // idx wins among ties)
        max(struct(abs(col("d")).as("ad"), (-col("idx")).as("ni"),
          col("idx").as("idx"), col("d").as("d"))).as("top"))
      .select(col("label"), col("n_ref"), col("n_new"),
        col("l2sq_micro2"), col("top.idx").as("top_dim"),
        col("top.d").as("top_shift_micro"),
        (col("l2sq_micro2") >= thresholdMicro2).as("drifted"))
      .orderBy("label")
  }

  /** Leading principal direction of the embedding covariance by
    * integer power iteration — the one-vector PCA a pipeline runs to
    * find the dominant axis of variation (is it semantic, or a length
    * artifact?) before committing to whitening or dimension cuts.
    * The covariance matrix never materializes as floats: with
    * milli-quantized coordinates, `A[i][j] = n·Σxᵢxⱼ − Σxᵢ·Σxⱼ`
    * (n² times the covariance — [[Stats.gramCovariance]]'s `cov_num`,
    * diagonal included) is exact long arithmetic, and
    * each iteration is an integer matvec `u = A·v` renormalized to
    * L∞ = 1000 (`v′ = u·1000 div max|u|`, trunc-toward-zero on both
    * engines). Fixed `iters` rounds from the all-ones vector keep the
    * whole trajectory deterministic and relationally restatable; the
    * sign convention is inherited from v₀, never arbitrary.
    *
    * Shape: one map-side Gram pass ([[Stats.gramCovariance]]:
    * per-partition d×d accumulation, O(n·d²) work, kilobytes
    * shuffled) folds the corpus away; every iteration after is a
    * d²-row join, driver-free and independent of corpus size.
    */
  def powerComponent(embeddings: DataFrame, dim: Int = 64,
      quant: Long = 1000L, iters: Int = 2,
      vecCol: String = "embedding"): DataFrame = {
    val aFull = scaledCovariance(embeddings, dim, quant, vecCol)
    iterateComponent(aFull, embeddings.sparkSession, dim, iters)
      .select(col("j").as("dim_i"), col("w").as("w_milli"))
      .orderBy("dim_i")
  }

  /** The milli-scaled exact covariance matrix of [[powerComponent]]
    * as (i, j, a) rows — full symmetric, entries in [-1000, 1000].
    */
  private def scaledCovariance(embeddings: DataFrame, dim: Int,
      quant: Long, vecCol: String): DataFrame = {
    val upper = Stats.gramCovariance(embeddings, dim, quant, vecCol)
      .select(col("i"), col("j"), col("cov_num").as("a"))
    // mirror the strict upper triangle to get the full symmetric A,
    // then self-scale entries to milli of the matrix max — |A| ≤ 10³
    // caps every later matvec at d·10⁶, so `u·1000` can never leave
    // long range no matter how large n (and so A's raw magnitude)
    // grows; direction is scale-invariant, and the floor is the same
    // trunc both engines replay
    val aMirror = upper.union(
      upper.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("a")))
    aMirror
      .crossJoin(broadcast(aMirror.agg(max(abs(col("a"))).as("ma"))))
      .select(col("i"), col("j"), expr("a * 1000 div ma").as("a"))
      .localCheckpoint() // read once per iteration
  }

  /** `iters` rounds of matvec + L∞-milli renorm from the all-ones
    * vector; returns the final (j, w) component. */
  private def iterateComponent(aFull: DataFrame,
      spark: org.apache.spark.sql.SparkSession, d: Int,
      iters: Int): DataFrame = {
    var v = spark.range(1, d + 1)
      .select(col("id").cast("int").as("j"), lit(1000L).as("w"))
    for (_ <- 1 to iters) {
      val u = aFull.join(v, "j")
        .groupBy(col("i"))
        .agg(sum(col("a") * col("w")).as("u"))
      v = u.crossJoin(broadcast(u.agg(max(abs(col("u"))).as("m"))))
        .select(col("i").as("j"), expr("u * 1000 div m").as("w"))
    }
    v
  }

  /** How dominant is the leading axis: the exact-integer Rayleigh
    * quotient of [[powerComponent]]'s final vector against the same
    * milli-scaled covariance, beside the matrix trace — one row with
    * `lambda_milli = (vᵀAv)·1000 div (vᵀv)` (the top-eigenvalue
    * estimate in scaled-A units), the trace (total variance, same
    * units), the explained share in ppm, and the heaviest component
    * dimension. The go/no-go for "is one direction eating the
    * geometry" (a length artifact or degenerate encoder) before ANN
    * bucketing trusts these vectors.
    *
    * Integer ranges: |v| ≤ 10³, |Av| ≤ d·10⁶, so vᵀAv ≤ d²·10⁹ and
    * `num·10⁶` stays in long for d ≤ 64; everything else is smaller.
    * Shape: one Gram pass (corpus folds away map-side), then
    * d²-row joins — report-sized.
    */
  def powerExplained(embeddings: DataFrame, dim: Int = 64,
      quant: Long = 1000L, iters: Int = 2,
      vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    val aFull = scaledCovariance(embeddings, dim, quant, vecCol)
    val v = iterateComponent(aFull, spark, dim, iters)
      .localCheckpoint() // three readers: matvec, vᵀv, top-dim pick
    val u = aFull.join(v, "j").groupBy(col("i"))
      .agg(sum(col("a") * col("w")).as("u"))
    val num = u.join(v.select(col("j").as("i"), col("w")), "i")
      .agg(sum(col("u") * col("w")).as("num"))
    val den = v.agg(sum(col("w") * col("w")).as("den"))
    val trace = aFull.where(col("i") === col("j"))
      .agg(sum(col("a")).as("trace_scaled"))
    val top = v
      .select(max(struct(abs(col("w")).as("aw"), (-col("j")).as("nj"),
        col("j").as("j"))).as("t"))
      .select(col("t.j").as("top_dim"))
    num.crossJoin(den).crossJoin(trace).crossJoin(top)
      .select(expr("num * 1000 div den").as("lambda_milli"),
        col("trace_scaled"),
        expr("num * 1000000 div (den * trace_scaled)").as("explained_ppm"),
        col("top_dim"))
  }

  /** Diagonal-Mahalanobis embedding outliers: per-vector anomaly score
    * Σ_d (x_d − μ_d)²/σ_d² in exact ppm integers — the embedding-space
    * complement to q213's value-space grid density (a vector can be
    * in-range on every metric yet sit nowhere near the data cloud).
    * Per-dim cross-multiplied form (micro units xm = ⌊x·10⁶⌋):
    * z²_d·10⁶ = (n·xm − S_d)²·10⁶ div (n·Q_d − S_d²) — no float
    * moment is ever computed; a zero-variance dim contributes 0.
    *
    * Scale shape: posexplode is map-only dim fan-out; the per-dim
    * (n, S, Q) aggregate is combinable and folds a 100 TB scan to
    * `dim` rows, broadcast back onto the stream; the score is one
    * combinable per-vector sum and the output a bounded top-k.
    */
  def mahalanobisOutliers(embeddings: DataFrame, k: Int = 20,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val xm = embeddings
      .where(col(vecCol).isNotNull)
      .select(col(idCol).as("vec_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("idx", "x")))
      .select(col("vec_id"), col("idx"),
        floor(col("x") * 1e6).cast("long").as("xm"))
      .localCheckpoint() // stats pass + score pass share it
    val stats = xm.groupBy("idx").agg(
      count(lit(1)).as("n"), sum("xm").as("s"),
      sum(expr("cast(xm as decimal(19,0)) * xm")).as("q"))
    xm.join(broadcast(stats), "idx")
      .withColumn("dev", expr("cast(n as decimal(12,0)) * xm - s"))
      .withColumn("z2_ppm", expr(
        """coalesce(dev * dev * 1000000
           div nullif(cast(n as decimal(12,0)) * q - cast(s as decimal(20,0)) * s, 0), 0)"""))
      .groupBy("vec_id")
      .agg(sum(col("z2_ppm")).as("score_ppm"), count(lit(1)).as("dims"))
      .orderBy(col("score_ppm").desc, col("vec_id"))
      .limit(k)
  }
}
