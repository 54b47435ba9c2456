package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbor search — the
  * coarse-quantizer scale path alongside [[Similarity.lshTopK]]:
  * k-means cells partition the corpus; a query probes only its
  * `nprobe` nearest cells, so search cost drops from O(N) to
  * O(N · nprobe / k) while the cell id doubles as the shuffle /
  * storage-partition key at scale.
  *
  * Deterministic by construction (reproducible across runs and
  * cluster layouts): seeds are the first k vectors by id, Lloyd
  * iterations average in fixed column order, ties break by cell id.
  * Distances use the shared deterministic dot-product fold.
  */
object Ivf {

  /** Train the coarse quantizer: deterministic seeds + a few Lloyd
    * iterations. Centroids are driver-held (k × dim doubles — tiny)
    * and broadcast into the assignment expressions.
    */
  def trainCentroids(corpus: DataFrame, k: Int, iterations: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Array[Array[Double]] = {
    val seeds = corpus.orderBy(idCol).limit(k)
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    var centroids = seeds
    for (_ <- 1 to iterations) {
      val assigned = corpus.select(col(vecCol).cast("array<double>").as("v"),
        cellOf(col(vecCol), centroids).as("cell"))
      // per-cell mean in fixed dimension order: posexplode + avg is a
      // plain hash aggregate, deterministic because avg of the same
      // multiset is order-exact enough for assignment stability here
      val dims = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cell", "d").agg(avg("x").as("m"))
        .collect()
      val updated = centroids.zipWithIndex.map { case (c, i) =>
        val dimVals = dims.filter(_.getInt(0) == i)
        if (dimVals.isEmpty) c
        else dimVals.sortBy(_.getInt(1)).map(_.getDouble(2))
      }
      centroids = updated
    }
    centroids
  }

  /** Nearest-centroid cell id as a Column (argmax of dot affinity
    * against each centroid, ties to the lower cell id). Native
    * codegen'd [[graft.functions.NearestCell]] — one loop over
    * cells × dims per row; [[cellOfFold]] keeps the HOF reference
    * semantics for the differential spec.
    */
  def cellOf(vec: Column, centroids: Array[Array[Double]]): Column =
    call_function("nearest_cell", vec.cast("array<double>"),
      typedLit(centroids.map(_.toSeq).toSeq))

  /** Interpreted argmax with identical semantics to [[cellOf]]. */
  private[graft] def cellOfFold(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(Similarity.dot(vec, lit(c)).as("s"), lit(i).as("cell"))
    }
    // array_max on struct(s, cell) picks highest score; for equal
    // scores the HIGHER cell wins lexicographically, so negate the
    // cell for low-id tie-break, then un-negate
    val best = array_max(array(scored.map(s =>
      struct(s.getField("s").as("s"), (-s.getField("cell")).as("negCell"))): _*))
    (-best.getField("negCell")).cast("int")
  }

  /** ANN top-k: assign corpus and queries to cells, probe each query's
    * `nprobe` best cells, exact cosine rank within the candidates.
    * Trains the quantizer inline, per call.
    */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int, cells: Int = 16,
      nprobe: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centroids = trainCentroids(corpus, cells, iterations = 2, idCol, vecCol)
    // corpus side of the probe join: vector + norm + cell, computed
    // map-only against driver-held centroids
    val c = Par.spread(corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("c_vec"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("c_norm"),
      cellOf(col(vecCol), centroids).as("cell")))
    // queries fan out to their `nprobe` best cells, the corpus side
    // joins on the cell key, exact cosine ranks within candidates
    val probeCells = explode(slice(sortArrayDesc(col(vecCol), centroids), 1, nprobe))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"),
      sqrt(Similarity.dot(col(vecCol), col(vecCol))).as("q_norm"),
      probeCells.as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .select(col("q_id"), col("vec_id"),
        floor(Similarity.dot(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm")) * 1e6).cast("long").as("cos_e6"))
    val w = Window.partitionBy("q_id").orderBy(col("cos_e6").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "rank", "vec_id", "cos_e6")
      .orderBy("q_id", "rank")
  }

  /** Cell ids sorted by descending affinity to `vec`. */
  private def sortArrayDesc(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct((-Similarity.dot(vec, lit(c))).as("negS"), lit(i).as("cell"))
    }
    transform(array_sort(array(scored: _*)), s => s.getField("cell"))
  }
}
