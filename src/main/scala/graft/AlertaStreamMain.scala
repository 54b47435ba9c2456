package graft

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.io.JsonStringEncoder

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.model.{AlertDoc, AlertSpecs}
import graft.streaming.{StreamingAlerts, StreamingAlertsTws}

/** Streaming CLI entry point — the north-star mode: the same YAML
  * specs the batch Runner consumes, evaluated continuously over a
  * growing events directory with Structured Streaming.
  *
  * Usage:
  *   AlertaStreamMain <eventsDir> <specsGlob> <outDir> [availableNow|continuous]
  *
  * One streaming query per spec, each appending alert rows to
  * `<outDir>/<alert_name>` with its own checkpoint under
  * `<outDir>/_checkpoints`: threshold and deadman specs run
  * [[StreamingAlerts]]; sequence specs run the N-slot transformWithState
  * chain [[StreamingAlertsTws.sequenceStreamTwsN]] (keyed by slot 0's
  * `aggregation_key`, needs an `event_id` column), whose queries start
  * on the RocksDB state store while the others keep the session's
  * default. A spec whose query cannot be built or started is logged
  * and skipped, as is an unknown `alert_type`; the rest still run.
  * With `availableNow` (the default) each query drains the data
  * currently in the directory and stops — drive-testable and
  * restartable (checkpoints make re-runs incremental); `continuous`
  * keeps micro-batches running. A query that fails while running
  * prints `{"stream":…,"failed":…}`; the others are still awaited, and
  * `main` then rethrows the first failure. The session is stopped
  * either way.
  *
  * The schema comes from a static read of the same directory —
  * production would pin an explicit schema/catalog table instead of
  * inference.
  */
object AlertaStreamMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: AlertaStreamMain <eventsDir> <specsGlob> <outDir> [availableNow|continuous]")
    val Array(eventsDir, specsMask, outDir) = args.take(3)
    val availableNow = args.lift(3) match {
      case None | Some("availableNow") => true
      case Some("continuous") => false
      case Some(other) => sys.error(
        s"unknown mode '$other' — expected availableNow or continuous")
    }
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, eventsDir, specsMask, outDir, availableNow)
    finally spark.stop()
  }

  private def run(spark: SparkSession, eventsDir: String, specsMask: String,
      outDir: String, availableNow: Boolean): Unit = {
    val schema = spark.read.parquet(eventsDir).schema
    val events = Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(eventsDir))
    val specs = AlertSpecs.loadAll(specsMask)

    // duplicate alert_names (or several specs defaulting to "unnamed")
    // must not share a sink/checkpoint — suffix repeats with an index
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val queries = specs.flatMap { spec =>
      val base = AlertDoc.str(spec, "alert_name", "unnamed")
      val dup = seen.updateWith(base)(c => Some(c.getOrElse(0) + 1)).get
      val name = if (dup == 1) base else base + "-" + dup
      def start(df: DataFrame) = {
        val w = df.writeStream
          .format("parquet")
          .option("path", s"$outDir/$name")
          .option("checkpointLocation", s"$outDir/_checkpoints/$name")
          .outputMode("append")
        (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
      }
      try AlertDoc.str(spec, "alert_type") match {
        case "threshold" =>
          Some(name -> start(StreamingAlerts.thresholdStream(events, spec)))
        case "deadman" =>
          Some(name -> start(StreamingAlerts.deadmanStream(events, spec).toDF()))
        case "sequence" =>
          val df = StreamingAlertsTws.sequenceStreamTwsN(events, spec).toDF()
          Some(name -> StreamingAlertsTws.withRocksDb(spark)(start(df)))
        case other =>
          System.err.println(s"[stream] unknown alert_type '$other' for $name — skipped")
          None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[stream] $name not started — skipped: $e")
          None
      }
    }

    // every query is awaited, so none is left running when one fails
    val failures = queries.flatMap { case (name, q) =>
      try {
        q.awaitTermination()
        println(s"""{"stream":"$name","done":true}""")
        None
      } catch { case NonFatal(e) =>
        val msg = new String(JsonStringEncoder.getInstance
          .quoteAsString(String.valueOf(e.getMessage)))
        println(s"""{"stream":"$name","failed":"$msg"}""")
        Some(e)
      }
    }
    failures.headOption.foreach(throw _)
  }
}
