package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Driver-held Bloom filter for pre-shuffle fact pruning: when the
  * dim side of a join is too big to broadcast as rows but its KEY SET
  * compresses into a few KB of bits, ship the bits instead — the fact
  * side drops non-joining rows before the shuffle, which at 100 TB is
  * the difference between shuffling the table and shuffling the
  * answer. False positives only cost the exact join a few extra rows;
  * false negatives are impossible, so the join result is exactly the
  * plain join's (the oracle needs no bloom restatement at all).
  *
  * This is the manual twin of Spark's AQE runtime bloom filter
  * (spark.sql.optimizer.runtimeFilter.bloomFilter.*) for plans the
  * optimizer won't rewrite — a persisted key set, a cross-job filter,
  * or a dim produced outside the current query.
  *
  * Probes are the engine-portable mix31 (two independent probes via a
  * salt offset), so a persisted bitmap means the same thing to every
  * engine that can do integer arithmetic.
  */
object Bloom {

  /** Second-probe salt: any odd constant; fixed so persisted bitmaps
    * stay valid across versions.
    */
  private[graft] val Salt = 1000003L

  private[graft] def pos(key: Column, salt: Long, mBits: Int): Column =
    pmod(Similarity.mix31Col(pmod(key + salt, lit(2147483648L))), lit(mBits.toLong))

  /** Driver-side twin of [[pos]] — same xorshift/multiply mix31, same
    * residues — so a driver that holds a literal key can compute the
    * probe bits WITHOUT a Spark job (used by the per-file bloom index
    * to prune the file manifest before any scan). Bit parity with the
    * Column path is pinned by BloomSkippingSpec's differential test.
    */
  private[graft] def posLong(key: Long, salt: Long, mBits: Int): Long = {
    var x = java.lang.Math.floorMod(key + salt, 2147483648L)
    x ^= (x >>> 15)
    x = (x * 1103515245L) & 0x7FFFFFFFL
    x ^= (x >>> 12)
    java.lang.Math.floorMod(x, mBits.toLong)
  }

  /** Build the bitmap: each key sets two probe bits; words aggregate
    * distributed (bit_or partial-aggregates map-side), only the final
    * <= mBits/64 longs ever reach the driver.
    */
  def build(keys: DataFrame, keyCol: String, mBits: Int = 1 << 17): Array[Long] = {
    require(Integer.bitCount(mBits) == 1, s"mBits must be a power of two, got $mBits")
    val words = new Array[Long](mBits / 64)
    keys.where(col(keyCol).isNotNull)
      .select(explode(array(pos(col(keyCol), 0L, mBits),
        pos(col(keyCol), Salt, mBits))).as("p"))
      .select(expr("p div 64").as("w"),
        call_function("shiftleft", lit(1L), pmod(col("p"), lit(64L)).cast("int")).as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
      .collect()
      .foreach(r => words(r.getAs[Long]("w").toInt) = r.getAs[Long]("bits"))
    words
  }

  /** Membership probe as a Column over the driver-held bitmap (a
    * literal array — Catalyst constant-folds the structure, executors
    * never talk back to the driver). True for every inserted key;
    * false positives at ~(2 probes, mBits) Bloom rates.
    */
  def mightContain(words: Array[Long], key: Column): Column = {
    val mBits = words.length * 64
    // ONE literal instance shared by both probes: the bitmap column is
    // embedded in the plan, and building it twice would double the
    // task-binary payload (2 MB bitmaps ship as 4 MB) for zero gain
    val arr = typedLit(words.toSeq)
    def hit(salt: Long): Column = {
      val p = pos(key, salt, mBits)
      // p >> 6 = p div 64 (p is non-negative by construction)
      val w = element_at(arr, shiftright(p, 6).cast("int") + 1)
      w.bitwiseAND(call_function("shiftleft", lit(1L),
        pmod(p, lit(64L)).cast("int"))) =!= 0L
    }
    key.isNotNull && hit(0L) && hit(Salt)
  }
}
