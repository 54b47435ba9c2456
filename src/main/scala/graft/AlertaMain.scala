package graft

import org.apache.spark.sql.SparkSession

import graft.engine.Runner
import graft.functions.Dates
import graft.model.AlertSpecs
import graft.store.{AlertStore, InflightStore}

/** CLI entry point — one engine run, the reference's cron-invoked
  * `main` (alerta.py:481-515; cadence startup.sh:24-26 moves to the
  * scheduler invoking this).
  *
  * Usage:
  *   AlertaMain <eventsParquet> <specsGlob> <storeDir> [nowIso]
  *   AlertaMain -c config.yml   (S7 config-file form; keys:
  *     events_path, alerts_file_mask, store_dir, optional now)
  */
object AlertaMain {
  def main(args: Array[String]): Unit = {
    val (eventsPath, specsMask, storeDir, nowOpt) = args.toList match {
      case "-c" :: cfgPath :: Nil =>
        val cfg = AlertSpecs.load(cfgPath)
        def req(k: String): String = {
          val v = graft.model.AlertDoc.str(cfg, k)
          require(v.nonEmpty, s"config missing '$k'"); v
        }
        (req("events_path"), req("alerts_file_mask"), req("store_dir"),
          Some(graft.model.AlertDoc.str(cfg, "now")).filter(_.nonEmpty))
      case e :: s :: d :: rest if !e.startsWith("-") && rest.length <= 1 =>
        (e, s, d, rest.headOption)
      case _ =>
        sys.error("usage: AlertaMain <eventsParquet> <specsGlob> <storeDir> [nowIso] | -c config.yml")
    }
    val now = nowOpt.map(Dates.toUTC(_)).getOrElse(Dates.utcnow())
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, eventsPath, specsMask, storeDir, now)
    finally spark.stop()
  }

  private def run(spark: SparkSession, eventsPath: String, specsMask: String,
      storeDir: String, now: java.time.Instant): Unit = {
    val lakeNorm = Tables.normalizeTs(spark.read.parquet(eventsPath))
    val specs = AlertSpecs.loadAll(specsMask)
    val runner = new Runner(spark, new AlertStore(storeDir), new InflightStore(storeDir))
    val stats = runner.runOnce(lakeNorm, specs, now)
    println(s"""{"alerts_saved":${stats.alertsSaved},"sequences_completed":${stats.sequencesCompleted},"specs":${specs.size},"inflight":${runner.inflight.count},"evaluations":${stats.evaluations},"evaluations_skipped":${stats.evaluationsSkipped}}""")
  }
}
