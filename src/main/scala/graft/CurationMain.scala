package graft

import org.apache.spark.sql.functions._

import graft.ops.{Curation, DocDedup, TextAnalysis}

/** CLI entry point for the corpus-curation pipeline — the
  * training-data twin of [[AlertaMain]]: one end-to-end pass over a
  * documents lake producing packed, deduplicated, quality-filtered
  * training shards plus a per-stage audit line.
  *
  * Stages (each an operator the oracle gate verifies in isolation;
  * their composition is q74's contract):
  *   1. quality gate — [[TextAnalysis.qualityScore]] keep decision
  *   2. exact dedup — min-id representative per content hash
  *   3. deterministic sample — [[Curation.stratifiedSample]] at
  *      `ratePpk` per thousand (pure hash of doc_id, reproducible)
  *   4. packing — [[Curation.packSequences]] into `budget`-token bins
  *   5. write — parquet shards partitioned by (shard, bin mod 64) so
  *      a bin's docs land together without a small-file explosion
  *
  * Usage: CurationMain <documentsParquet> <outDir> [ratePpk] [budget]
  */
object CurationMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: CurationMain <documentsParquet> <outDir> [ratePpk] [budgetTokens]")
    val Array(docsPath, outDir) = args.take(2)
    val ratePpk = if (args.length > 2) args(2).toInt else 500
    val budget = if (args.length > 3) args(3).toLong else 512L
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(docsPath)
    val total = docs.count()
    val keepIds = TextAnalysis.qualityScore(docs).where(col("keep"))
      .select("doc_id")
    val qual = docs.join(keepIds, Seq("doc_id"))
    val reps = DocDedup.exact(qual).select(col("keep_id").as("doc_id"))
    val ded = qual.join(reps, Seq("doc_id"))
    val sampleIds = Curation.stratifiedSample(ded, Map.empty, ratePpk)
      .select("doc_id")
    val packed = Curation.packSequences(ded.join(sampleIds, Seq("doc_id")),
        budgetTokens = budget)
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
    // bounded write fan-out: bin ids grow with the corpus, the modulo
    // keeps the partition count fixed while bin locality survives
    val sharded = packed.withColumn("bin_bucket", pmod(col("bin"), lit(64L)))
    sharded.write.mode("overwrite").partitionBy("shard", "bin_bucket")
      .parquet(outDir)

    val kept = sharded.count()
    println(s"""{"docs_in":$total,"docs_out":$kept,"rate_ppk":$ratePpk,"budget_tokens":$budget,"out":"$outDir"}""")
    spark.stop()
  }
}
