package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Entity-resolution joins: fuzzy string matching without a cartesian
  * product. Candidate pairs come from a cheap blocking key both sides
  * of a true match share; candidates are then verified by exact edit
  * distance. The blocking key is the scale contract — pair count is
  * bounded by the largest block squared, never by the corpus squared —
  * and its recall is a declared policy (matches that disagree on the
  * block key are out of contract; a high-recall variant would block on
  * the deletion neighborhood, SymSpell-style, at k× the candidate
  * cost).
  *
  * Shapes the reference's alert-dedup quirk generalizes to: matching
  * near-identical entity names (hosts, users, rule names) across
  * feeds that spell them slightly differently.
  */
object Entity {

  /** Default block: the name's last whitespace token — for
    * "modifier head-noun" style names the head noun survives edits to
    * the rest of the string.
    */
  def lastTokenBlock(name: Column): Column =
    element_at(split(name, " "), -1)

  /** Self-resolution over one name column: distinct names (the entity
    * dictionary — usually orders of magnitude smaller than the
    * mention table), blocked, then pairs `name_a < name_b` within
    * each block verified by `levenshtein <= maxDist`. The length
    * pre-cut (`| |a|-|b| | <= maxDist` is necessary for edit distance
    * <= maxDist) drops most candidates before the O(n·m) verify.
    *
    * ONE shuffle on the block key; the distinct() before it is the
    * move that makes this viable at mention scale — resolve the
    * dictionary, then broadcast the resolution back onto mentions.
    */
  def fuzzySelfJoin(df: DataFrame, nameCol: String, maxDist: Int = 2,
      block: Column => Column = lastTokenBlock): DataFrame = {
    val names = df.select(col(nameCol).as("name"))
      .where(col("name").isNotNull).distinct()
      .withColumn("block", block(col("name")))
    val a = names.select(col("block"), col("name").as("name_a"))
    val b = names.select(col("block"), col("name").as("name_b"))
    a.join(b, Seq("block"))
      .where(col("name_a") < col("name_b") &&
        abs(length(col("name_a")) - length(col("name_b"))) <= maxDist)
      // threshold form early-exits the DP once a row of the distance
      // matrix exceeds maxDist (returns -1) — the verify is O(n·k)
      // per candidate instead of O(n·m); within-threshold distances
      // are identical to the unbounded form, so the oracle is unchanged
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .where(col("dist") >= 0)
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")
  }

  /** Sorted-neighborhood dedup (Hernández–Stolfo): sort the corpus by
    * a normalized key, compare each record only with its `window`
    * successors in that order, verify candidates by edit distance on
    * a normalized prefix. The classic ER alternative to hash blocking
    * — catches near-dups whose block keys disagree but whose sort
    * keys collate adjacently. Declared recall contract: records that
    * diverge in the first `keyLen` normalized chars can sort far
    * apart and are out of contract (multi-pass with rotated keys is
    * the standard recall amplifier).
    *
    * Scale shape: the global order comes from the two-pass
    * range-partitioned prefix-offset scan ([[Par.globalRowNumber]] —
    * no single-partition window), and the neighbor step is an
    * equi-join on `rank div window` (each left row probes its own and
    * the next bucket), so pair count is exactly n·window — linear,
    * never quadratic. The levenshtein verify is threshold-bounded
    * (O(len·maxDist) per pair, early-exit).
    */
  def sortedNeighborhood(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 3, keyLen: Int = 16,
      prefixLen: Int = 40, maxDist: Int = 10): DataFrame = {
    val t = docs.select(col(idCol).as("id"),
        lower(regexp_replace(col(textCol), "[^a-zA-Z0-9]", "")).as("norm"))
      .where(col("norm").isNotNull && length(col("norm")) > 0)
      .select(col("id"), substring(col("norm"), 1, keyLen).as("sortkey"),
        substring(col("norm"), 1, prefixLen).as("probe"))
    val ranked = Par.globalRowNumber(t, Seq("sortkey", "id"))
    val left = ranked.select(col("id").as("a_id"),
        col("probe").as("a_probe"), col("rownum").as("ra"))
      .withColumn("bkt", explode(array(
        expr(s"ra div $window"), expr(s"ra div $window + 1"))))
    val right = ranked.select(col("id").as("b_id"),
        col("probe").as("b_probe"), col("rownum").as("rb"))
      .withColumn("bkt", expr(s"rb div $window"))
    left.join(right, Seq("bkt"))
      .where(col("rb") > col("ra") && col("rb") <= col("ra") + window)
      .withColumn("dist", levenshtein(col("a_probe"), col("b_probe"), maxDist))
      .where(col("dist") >= 0)
      .select(col("a_id"), col("b_id"), col("dist"))
      .orderBy("a_id", "b_id")
  }
}
