package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector / fingerprint hot paths.
  *
  * Spark's higher-order array functions (`transform`, `aggregate`,
  * `zip_with`, `array_min`) are interpreted `CodegenFallback`
  * expressions — fine for one call, 5-10× too slow when dedup and ANN
  * ops evaluate them millions of times per partition (the previous
  * workaround was explode + flat codegen'd aggregates, which trades
  * interpretation for a shuffle). These expressions keep the same
  * bit-exact semantics as the HOF folds they replace (differential
  * specs pin that) but evaluate as a tight Java loop inside
  * whole-stage codegen — no shuffle, no virtual dispatch per element.
  *
  * Registered under SQL names via [[GraftExtensions]]
  * (`spark.sql.extensions`, injected by `Tables.configure`), so they
  * are also available to the criteria dialect surface.
  *
  * Hash parity: only `shingle_hashes` still routes through Spark's
  * own `XxHash64Function` (seed 42) — its query's oracle (q21) works
  * on shingle STRINGS, so the hash never needs restating. Every other
  * hash kernel (`simhash64`, `minhash_state`, `srp_bucket`,
  * `winnow_fp`) uses ENGINE-PORTABLE integer arithmetic — polynomial
  * folds mod 2^31-1 (and the 62-bit dual fold for minhash shingles)
  * whitened by the non-linear [[VecKernels.mix31]] — so a relational
  * oracle (DuckDB) restates the full algorithm exactly and the
  * queries are hash-verified end to end instead of rows-only.
  */
object VecKernels {

  /** Non-linear 31-bit mixer (xorshift–multiply–xorshift finalizer).
    * Plain LCG steps compose to AFFINE maps — `lcg(y+i)` is linear in `i`,
    * which correlates "independent" derived values (a minhash
    * permutation family collapses to ~2 effective permutations, an
    * arithmetic fact, not bad luck). The xor-shift steps break
    * linearity with full avalanche (~15/31 bits flip for adjacent
    * inputs; differentially verified in the specs) while staying
    * exactly restatable in any engine with 64-bit integers, xor, and
    * floor division:
    * `x0 = v % 2^31; x1 = xor(x0, x0 // 2^15);
    *  x2 = (x1 * 1103515245) % 2^31; out = xor(x2, x2 // 2^12)`.
    */
  @inline private def mix31(v: Long): Long = {
    var x = v & 0x7FFFFFFFL
    x ^= (x >> 15)
    x = (x * 1103515245L) & 0x7FFFFFFFL
    x ^ (x >> 12)
  }

  /** Exact integer sqrt mirroring the column program's arithmetic
    * path (`s = (long) floor(sqrt((double) x))`, then ±1
    * corrections; negative x lands on −1 like the old Cast(NaN)
    * lane), with one improvement: the +1 probe is clamped at
    * floor(√Long.MaxValue), so the top of the long range — where the
    * column form's `(s+1)²` overflowed (an ANSI throw) — now returns
    * the exact root instead.
    */
  def isqrt(x: Long): Long = {
    if (x < 0) return -1
    var s = math.floor(math.sqrt(x.toDouble)).toLong
    if (s > 3037000499L) s = 3037000499L
    if (s < 3037000499L && (s + 1) * (s + 1) <= x) s += 1
    if (s * s > x) s - 1 else s
  }

  /** Base-31 polynomial hash of a token's code points, mod 2^31-1 —
    * the same fold as [[graft.ops.TextAnalysis.rollingHash]] (q38),
    * whose DuckDB restatement (`list_reduce` over `unicode(c)`) is
    * already proven bit-exact on this corpus.
    */
  private def polyHash31(w: UTF8String): Long = {
    val s = w.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31L + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    h
  }

  /** Strict left-fold dot product: Σ a(i)*b(i) in double, index order.
    * Same nulls as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`: null when
    * lengths differ or any element is null.
    */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** 64-bit SimHash over the distinct tokens of `words`: per-bit signed
    * vote per token; bit set when the vote is ≥ 0. Token bit-votes are
    * engine-portable: `h = polyHash31(token)`, `y = mix31(h)`, and bit
    * `b` votes +1 iff `mix31(y + b) ≥ 2^30` — all exact 64-bit integer
    * arithmetic, so the DuckDB oracle recomputes the identical
    * signature relationally (q23); the non-linear mixer keeps the 64
    * bit votes independent (see [[mix31]]). Map-only, no shuffle.
    */
  def simhash64(words: ArrayData): Long = {
    val n = words.numElements()
    val seen = new java.util.HashSet[UTF8String]()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        if (seen.add(w)) {
          val y = mix31(polyHash31(w))
          var b = 0
          while (b < 64) {
            votes(b) += (if (mix31(y + b) >= 1073741824L) 1 else -1)
            b += 1
          }
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Distinct word n-gram shingles of `words` (slice + single-space
    * join, like `concat_ws(" ", slice(words, i+1, n))` over
    * `split(text, " ")`), in first-appearance order.
    */
  private def shingleSet(words: ArrayData, n: Int): java.util.LinkedHashSet[UTF8String] = {
    val out = new java.util.LinkedHashSet[UTF8String]()
    val len = words.numElements()
    if (len < n) return out
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= len - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        // concat_ws skips nulls, matching the fold path
        parts(j) = if (words.isNullAt(i + j)) null else words.getUTF8String(i + j)
        j += 1
      }
      out.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    out
  }

  /** Sorted distinct `xxhash64(shingle)` values — the equi-join keys of
    * n-gram Jaccard, computed map-only per row.
    */
  def shingleHashes(words: ArrayData, n: Int): ArrayData = {
    val sh = shingleSet(words, n)
    val hs = new java.util.TreeSet[java.lang.Long]()
    val it = sh.iterator()
    while (it.hasNext) {
      hs.add(XxHash64Function.hash(it.next(), StringType, 42L))
    }
    val arr = new Array[Long](hs.size)
    var i = 0
    val hit = hs.iterator()
    while (hit.hasNext) { arr(i) = hit.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Intersection COUNT of two ascending-sorted distinct long arrays
    * ([[shingleHashes]]' output contract) by two-pointer merge: no
    * per-row hash-set build, no result-array allocation — the form
    * `size(array_intersect(ha, hb))` pays for when only the count is
    * needed. Exact same value by the sorted-distinct precondition.
    */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** 62-bit ENGINE-PORTABLE shingle hash: two independent base-31/37
    * polynomial folds over the code points, combined as
    * `h31 · 2^31 + h37`. Every step is exact 64-bit integer
    * arithmetic (`(a·base + cp) mod 2^31-1` per char), so DuckDB
    * recomputes identical values with two `list_reduce` folds; the
    * 62-bit space keeps within-pair collision odds negligible at
    * corpus scale (a pair's union is ~tens of shingles against 2^62).
    */
  private def polyHash62(s: UTF8String): Long = {
    val str = s.toString
    var h31 = 0L
    var h37 = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h31 = (h31 * 31L + cp) % 2147483647L
      h37 = (h37 * 37L + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    h31 * 2147483648L + h37
  }

  /** MinHash signature + shingle-hash set in one pass:
    * `sig(i) = min over shingles s of mix31(mix31(h62(s) mod 2^31) + i)`
    * (k values; the non-linear [[mix31]] keeps the k permutations
    * independent) and `sh` = sorted distinct `polyHash62(s)` — exactly
    * the k min-aggregates + collect_set the LSH pipeline previously
    * computed through an explode + groupBy shuffle, now in
    * ENGINE-PORTABLE integer arithmetic so the DuckDB oracle (q22)
    * recomputes signatures, banding and candidates relationally.
    * Empty shingle set ⇒ empty `sh` (callers filter, mirroring "doc
    * absent after explode").
    */
  def minhashState(words: ArrayData, n: Int, k: Int): InternalRow = {
    val sh = shingleSet(words, n)
    val sig = Array.fill(k)(Long.MaxValue)
    val hs = new java.util.TreeSet[java.lang.Long]()
    val it = sh.iterator()
    while (it.hasNext) {
      val s = it.next()
      val h62 = polyHash62(s)
      hs.add(h62)
      val y = mix31(h62 % 2147483648L)
      var i = 0
      while (i < k) {
        val hi = mix31(y + i)
        if (hi < sig(i)) sig(i) = hi
        i += 1
      }
    }
    val shArr = new Array[Long](hs.size)
    var i = 0
    val hit = hs.iterator()
    while (hit.hasNext) { shArr(i) = hit.next(); i += 1 }
    new GenericInternalRow(Array[Any](new GenericArrayData(sig), new GenericArrayData(shArr)))
  }

  /** Nearest centroid by dot-product affinity: argmax over `cents` of
    * the strict-fold dot product, first maximum wins (= lowest cell id
    * on ties, matching `array_max` over `struct(score, -cell)`).
    * Centroids whose dot product would be null (length mismatch / null
    * element) are skipped.
    */
  def nearestCell(vec: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = 0.0
    var bestI = 0
    var any = false
    var i = 0
    while (i < cents.length) {
      val c = cents(i)
      val n = vec.numElements()
      if (n == c.length) {
        var s = 0.0
        var bad = false
        var d = 0
        while (d < n && !bad) {
          if (vec.isNullAt(d)) bad = true
          else { s += vec.getDouble(d) * c(d); d += 1 }
        }
        // NaN ranks greatest in Spark orderings (array_max parity):
        // the first NaN wins and nothing displaces it
        if (!bad && (!any || s > best || (s.isNaN && !best.isNaN))) {
          best = s; bestI = i; any = true
        }
      }
      i += 1
    }
    bestI
  }

  /** Winnowing fingerprints (the MOSS scheme) with ENGINE-PORTABLE
    * k-gram hashes: every character k-gram hashes through the base-31
    * polynomial fold (q38 parity), then each window of `w` consecutive
    * k-grams keeps its minimum hash; distinct minima in
    * first-appearance order. Fewer than `w` k-grams → the single
    * global minimum (the HOF fold's `otherwise` branch). Map-only,
    * and relationally restatable, so the containment-search query
    * (q56) is hash-verified end to end.
    */
  def winnowFingerprints(text: UTF8String, k: Int, w: Int): ArrayData = {
    // code POINTS, not UTF-16 units — gram counts and hash inputs must
    // match the oracle's len/substr/unicode and the HOF fold's
    // length/substr/ascii, which are all code-point based (surrogate
    // halves would silently diverge on non-BMP text)
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    val grams = math.max(n - (k - 1), 1)
    val hs = new Array[Long](grams)
    var i = 0
    while (i < grams) {
      val end = math.min(i + k, n)
      var h = 0L
      var j = i
      while (j < end) { h = (h * 31L + cps(j)) % 2147483647L; j += 1 }
      hs(i) = h
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (grams >= w) {
      var j = 0
      while (j <= grams - w) {
        var m = Long.MaxValue
        var t = j
        while (t < j + w) { if (hs(t) < m) m = hs(t); t += 1 }
        out.add(m)
        j += 1
      }
    } else {
      var m = Long.MaxValue
      var t = 0
      while (t < grams) { if (hs(t) < m) m = hs(t); t += 1 }
      out.add(m)
    }
    val arr = new Array[Long](out.size)
    var x = 0
    val it = out.iterator()
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    new GenericArrayData(arr)
  }

  /** Sign-random-projection bucket: `planes` sign bits of pseudo-random
    * hyperplane projections packed into a long. Plane weights are
    * engine-portable exact integer arithmetic:
    * `w(p,d) = (mix31(p·8192 + d) mod 20001 − 10000) / 10000` (dims up
    * to 8192; the non-linear [[mix31]] decorrelates adjacent dims),
    * projections accumulate as a strict left fold in double — so the
    * DuckDB oracle computes bit-identical buckets relationally
    * (q26/q55) via the same `list_sum` fold it uses for cosine parity.
    */
  def srpBucket(vec: ArrayData, planes: Int): Long = {
    val dim = vec.numElements()
    // stride guard: w(p,d) keys off p*8192+d, so dim > 8192 would reuse
    // weights across planes (correlated planes silently degrade SRP)
    require(dim <= 8192,
      s"srp_bucket: dim $dim > 8192 would alias plane weights (stride 8192)")
    var out = 0L
    var p = 0
    while (p < planes) {
      val base = p.toLong * 8192L
      var s = 0.0
      var anyNull = false
      var d = 0
      while (d < dim && !anyNull) {
        if (vec.isNullAt(d)) anyNull = true
        else {
          val r = mix31(base + d) % 20001L
          s += vec.getDouble(d) * ((r.toDouble - 10000.0) / 10000.0)
        }
        d += 1
      }
      // null projection → CASE WHEN null → else-branch 0 bit, as before
      if (!anyNull && s >= 0) out |= (1L << p)
      p += 1
    }
    out
  }
}

/** Exact integer square root, bit-parity with the column program it
  * replaces (`Similarity.isqrtCol`: floor(sqrt(double)) then two ±1
  * corrections — negative input yields −1 via the NaN→0 cast path,
  * overflow wraps like long multiply does). The column form
  * referenced its input FIVE times per level, so nesting it (the
  * n^(q/4) temperature powers, SGNS's freq^0.75) inlined the operand
  * ~25×, blowing Janino's 64 KB method limit and dropping the stage
  * out of whole-stage codegen (observed on q363). One kernel call
  * per row restores codegen and evaluates the operand once.
  */
case class IntSqrt(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "isqrt"

  override def nullSafeEval(x: Any): Any =
    VecKernels.isqrt(x.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.isqrt($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Σ a(i)*b(i) in double, strict index order — null on length mismatch
  * or null element (zip_with/aggregate parity). Fully inlined into
  * whole-stage codegen: the loop runs over the columnar `ArrayData`
  * with no per-element virtual calls.
  */
case class DotProductFold(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** SimHash64 over an array of tokens (see [[VecKernels.simhash64]]). */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(words: Any): Any =
    VecKernels.simhash64(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted distinct xxhash64 shingle hashes of a word array. */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(words: Any, n: Any): Any =
    VecKernels.shingleHashes(words.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, n) => s"graft.functions.VecKernels.shingleHashes($w, $n)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection count of two sorted-distinct long arrays (see
  * [[VecKernels.sortedIntersectCount]]; both inputs must hold
  * ascending distinct longs, as shingle_hashes emits).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.sortedIntersectCount(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecKernels.sortedIntersectCount($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** struct(sig: array<long>, sh: array<long>) — MinHash signature and
  * shingle-hash set in one map-side pass (see [[VecKernels.minhashState]]).
  */
case class MinHashState(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "minhash_state"

  override def nullSafeEval(words: Any, n: Any, k: Any): Any =
    VecKernels.minhashState(words.asInstanceOf[ArrayData],
      n.asInstanceOf[Int], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (w, n, k) => s"graft.functions.VecKernels.minhashState($w, $n, $k)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Winnowing fingerprint set of a text column (see
  * [[VecKernels.winnowFingerprints]]).
  */
case class WinnowFp(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fp"

  override def nullSafeEval(text: Any, k: Any, w: Any): Any =
    VecKernels.winnowFingerprints(text.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) =>
      s"graft.functions.VecKernels.winnowFingerprints($t, $k, $w)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** SRP bucket id of a double vector (see [[VecKernels.srpBucket]]). */
case class SrpBucket(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_bucket"

  override def nullSafeEval(vec: Any, planes: Any): Any =
    VecKernels.srpBucket(vec.asInstanceOf[ArrayData], planes.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, p) => s"graft.functions.VecKernels.srpBucket($v, $p)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** argmax cell id of a vector against a foldable array<array<double>>
  * centroid literal (see [[VecKernels.nearestCell]]). The centroid
  * matrix is materialized once per task via a codegen reference
  * object, not re-decoded per row.
  */
case class NearestCell(left: Expression, right: Expression) extends BinaryExpression {
  require(right.foldable, "nearest_cell: centroids must be a literal")

  @transient private lazy val cents: Array[Array[Double]] = {
    val ad = right.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"

  override def nullSafeEval(vec: Any, centsIgnored: Any): Any =
    VecKernels.nearestCell(vec.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, (v, _) =>
      s"${ev.value} = graft.functions.VecKernels.nearestCell($v, $ref);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `spark.sql.extensions` entry point: injects the native functions
  * and the Presto dialect ([[Functions.dialect]]) into every session
  * built through `Tables.configure`, making them resolvable by name
  * from both the Column API (`call_function`) and raw SQL/criteria
  * text. This is the only place functions are registered.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    (GraftExtensions.functions ++ Functions.dialect).foreach(ext.injectFunction)
    // ladder step (c): the top-k window → bounded-heap aggregate
    // rewrite (graft.plans.WindowTopKRewrite) joins the operator-
    // optimization batch
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    // reduce_agg's placeholder->aggregate rewrite joins the resolution
    // fixed point (see org.apache.spark.sql.graft.ReduceAgg)
    ext.injectResolutionRule(_ => org.apache.spark.sql.graft.ResolveReduceAgg)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProductFold].getName, "vec_dot"),
      (es: Seq[Expression]) => DotProductFold(es(0), es(1))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (es: Seq[Expression]) => SimHash64(es.head)),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (es: Seq[Expression]) => ShingleHashes(es(0), es(1))),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(
        classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      (es: Seq[Expression]) => SortedIntersectCount(es(0), es(1))),
    (FunctionIdentifier("minhash_state"),
      new ExpressionInfo(classOf[MinHashState].getName, "minhash_state"),
      (es: Seq[Expression]) => MinHashState(es(0), es(1), es(2))),
    (FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
      (es: Seq[Expression]) => WinnowFp(es(0), es(1), es(2))),
    (FunctionIdentifier("srp_bucket"),
      new ExpressionInfo(classOf[SrpBucket].getName, "srp_bucket"),
      (es: Seq[Expression]) => SrpBucket(es(0), es(1))),
    (FunctionIdentifier("nearest_cell"),
      new ExpressionInfo(classOf[NearestCell].getName, "nearest_cell"),
      (es: Seq[Expression]) => NearestCell(es(0), es(1))),
    // canonical_url(url[, tracking_regex]) — the crawl stack's
    // canonicalizer as ONE codegen'd kernel call per row (see
    // functions/UrlExpressions.scala)
    (FunctionIdentifier("canonical_url"),
      new ExpressionInfo(classOf[CanonicalizeUrl].getName, "canonical_url"),
      (es: Seq[Expression]) => CanonicalizeUrl(es(0),
        if (es.length > 1) es(1)
        else Literal(graft.ops.Curation.DefaultTrackingParamRegex))),
    (FunctionIdentifier("topk_rows"),
      new ExpressionInfo(classOf[TopKRows].getName, "topk_rows"),
      (es: Seq[Expression]) =>
        TopKRows(es(0), es(1).eval().asInstanceOf[Number].intValue)),
    // Spark's runtime-filter Bloom pair, surfaced by name so curation
    // ops can build an explicit membership prefilter (the same sketch
    // InjectRuntimeFilter plants automatically for join pruning).
    // Both sides hash the RAW value through XxHash64 here, so callers
    // never coordinate hashing: bloom_agg(v, items, bits) aggregates
    // to the serialized filter; bloom_might_contain(bf, v) probes it.
    // The probe's filter side must be foldable (a collected literal —
    // driver-bounded by contract wherever the engine uses it).
    (FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[aggregate.BloomFilterAggregate].getName, "bloom_agg"),
      (es: Seq[Expression]) => new aggregate.BloomFilterAggregate(
        new XxHash64(Seq(es(0))), es(1), es(2)).toAggregateExpression()),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName, "bloom_might_contain"),
      (es: Seq[Expression]) =>
        BloomFilterMightContain(es(0), new XxHash64(Seq(es(1))))))
}
