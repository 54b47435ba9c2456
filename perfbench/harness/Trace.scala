package perfbench

import java.util.Locale
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span store of one benchmark run. Spans form the tree
  * workload -> operation (tick, increment, pass, query) -> Spark job,
  * micro-batch, application or store call; every span carries the
  * run id and its parent. Nothing is written until [[write]] at the
  * end of the run, so tracing adds no I/O to the timed region.
  */
object Trace {
  final class Span(val id: Long, val parent: Long, val kind: String,
      val name: String, val startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  }

  val runId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** The span new Spark jobs and micro-batches hang under. */
  @volatile var current: Long = 0L
  /** Streaming query starts seen by [[StreamTrace]], traced or not. */
  val queryStarts = new AtomicInteger(0)

  def nowMs: Double = System.nanoTime() / 1e6

  def open(kind: String, name: String, parent: Long,
      startMs: Double = nowMs): Span = synchronized {
    val s = new Span(ids.incrementAndGet(), parent, kind, name, startMs)
    spans += s
    s
  }

  def close(s: Span, endMs: Double = nowMs): Span = { s.endMs = endMs; s }

  /** Wall time of `body` as a closed span under `parent`. */
  def timed[T](kind: String, name: String, parent: Long)(body: Span => T): T = {
    val s = open(kind, name, parent)
    try body(s) finally close(s)
  }

  def write(path: java.nio.file.Path): Unit = synchronized {
    val lines = spans.map { s =>
      val base = Seq("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)
      Json.obj(base ++ s.attrs.toSeq)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Minimal JSON rendering; numbers are written locale-independently. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, "%.6f", Double.box(d))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Spark listener attached from outside through `spark.extraListeners`
  * on traced operations: one span per job (with its stages' task
  * metrics folded in) and one per application (session) lifetime.
  */
class TraceListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Trace.Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Trace.Span]()
  @volatile private var app: Trace.Span = _
  // listener-bus timestamps are epoch ms; spans use the monotonic clock
  private def mono(epochMs: Long): Double =
    Trace.nowMs - (System.currentTimeMillis() - epochMs)

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = {
    app = Trace.open("app", e.appName, Trace.current, mono(e.time))
    app.attrs("ready_ms") = Trace.nowMs
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    if (app != null) Trace.close(app, mono(e.time))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val stages = e.stageInfos
    val s = Trace.open("job", stages.lastOption.map(_.name).getOrElse(""),
      Trace.current, mono(e.time))
    s.attrs("callsites") = stages.map(_.name).distinct
    s.attrs("execution") = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    Seq("stages", "tasks", "executor_run_ms", "executor_cpu_ns",
      "shuffle_write_b", "shuffle_read_b", "input_b", "spill_b")
      .foreach(k => s.attrs(k) = 0L)
    jobs.put(e.jobId, s)
    stages.foreach(st => stageJob.put(st.stageId, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { s =>
      s.attrs("ok") = e.jobResult == JobSucceeded
      Trace.close(s, mono(e.time))
    }

  private def add(s: Trace.Span, k: String, v: Long): Unit = s.synchronized {
    s.attrs(k) = s.attrs(k).asInstanceOf[Long] + v
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { s =>
      add(s, "tasks", 1L)
      Option(e.taskMetrics).foreach { m =>
        add(s, "executor_run_ms", m.executorRunTime)
        add(s, "executor_cpu_ns", m.executorCpuTime)
        add(s, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add(s, "shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add(s, "input_b", m.inputMetrics.bytesRead)
        add(s, "spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

/** Streaming listener attached through
  * `spark.sql.streaming.streamingQueryListeners`. It always counts
  * query starts (the ops memo guard); when tracing it also records one
  * span per micro-batch with the `StreamingQueryProgress` phases.
  */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    Trace.queryStarts.incrementAndGet()
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (StreamTrace.enabled) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val startEpochMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val startMs = Trace.nowMs - (System.currentTimeMillis() - startEpochMs)
      val s = Trace.open("batch", p.name, Trace.current, startMs)
      s.attrs("query") = p.id.toString
      s.attrs("batch") = p.batchId
      s.attrs("input_rows") = p.numInputRows
      d.foreach { case (k, v) => s.attrs(k + "_ms") = v }
      s.attrs("state_rows") = p.stateOperators.map(_.numRowsTotal).sum
      s.attrs("state_b") = p.stateOperators.map(_.memoryUsedBytes).sum
      s.attrs("state_commit_ms") = p.stateOperators.map(_.commitTimeMs).sum
      Trace.close(s, startMs + d.getOrElse("triggerExecution", 0L))
    }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}

object StreamTrace {
  @volatile var enabled = false
}
