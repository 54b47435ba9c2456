package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The co-purchase graph the Graph queries share (PageRank,
  * triangles, clustering coefficient, label propagation, k-core,
  * k-truss, link prediction, PPR, the DeepWalk corpus): parts are
  * nodes, an edge joins two parts that share a lineitem order.
  *
  * Each builder returns the plain derivation from the fact table; the
  * [[Graph]] operator that consumes it materializes its edge input
  * (localCheckpoint) once per call, so every call derives the graph
  * itself and no call reads another call's data.
  *
  * Semantics: every consumer ([[Graph]] ops) dedupes its input edge
  * set internally, so handing it the distinct canonical set is
  * result-identical to each query's inline derivation — the oracles
  * (all of which restate `DISTINCT` edges) are unchanged.
  */
object CoPurchase {

  /** Canonical undirected co-purchase edges (src < dst, distinct)
    * over the whole part catalog.
    */
  def undirected(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst"))
      .distinct()
  }

  /** Both-orientations view (src <> dst, distinct): the canonical set
    * plus its flip.
    */
  def directed(s: SparkSession, dir: String): DataFrame = {
    val und = undirected(s, dir)
    und.union(und.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Degree-order ORIENTED edges ([[Graph.orientEdges]] output,
    * `(src, dst, dd)`), which the triangle and clustering-coefficient
    * queries consume.
    */
  def oriented(s: SparkSession, dir: String): DataFrame =
    Graph.orientEdges(undirected(s, dir))

  /** Deterministic DeepWalk corpus over the co-purchase graph
    * ([[Graph.deterministicWalks]] at the registered defaults), which
    * q359 (walk dump), q360 (skip-gram pairs) and q363 (SGNS shards)
    * consume: the hash-derived steps make it bit-stable.
    */
  def walks(s: SparkSession, dir: String): DataFrame =
    Graph.deterministicWalks(undirected(s, dir))

  /** Canonical undirected edges over the small-parts subgraph
    * (p_size <= 5) — the q239/q244/q245 slice.
    */
  def undirectedSmall(s: SparkSession, dir: String): DataFrame = {
    val pk = graft.Tables(s, dir, "part").where(col("p_size") <= 5)
      .select(col("p_partkey").as("l_partkey"))
    val li = graft.Tables(s, dir, "lineitem")
      .join(broadcast(pk), "l_partkey")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst"))
      .distinct()
  }

  /** Both-orientations view of the small-parts subgraph. */
  def directedSmall(s: SparkSession, dir: String): DataFrame = {
    val und = undirectedSmall(s, dir)
    und.union(und.select(col("dst").as("src"), col("src").as("dst")))
  }
}
