package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{Duration, Instant}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{AlertaMain, AlertaStreamMain, SparkEntry, Tables}
import graft.store.{AlertStore, InflightStore}

/** Drives one benchmark run through the program's public entry points.
  *
  * Usage: BenchMain <workload> <sandbox> <seconds> <trace 0|1> <setups>
  *
  * The sandbox holds the generated inputs (`base/`, `specs/`,
  * `history.jsonl`, `run.json`). Set-up is repeated `setups` times,
  * each time in a fresh session; the last copy feeds the timed
  * operations.
  * Operations repeat until `seconds` have passed:
  *   - cron:   one `AlertaMain.main` call per 15-minute tick;
  *   - stream: one `AlertaStreamMain.main` drain per one-day slice;
  *   - ops:    one pass over [[BenchMain.OpsQueries]] in a new session
  *             over a fresh hard-linked copy of the tables.
  * With tracing on, every operation runs with the listeners recording
  * spans. Results go to `<sandbox>/result.json`, spans to `spans.jsonl`.
  */
object BenchMain {
  // q308_scc_pivot is left out: at 13 s cold it would take half the
  // pass, and the runs must fit the benchmark's time budget
  val OpsQueries: Seq[String] = Seq("q211_kcore", "q53_stream_threshold",
    "q87_stream_sessionize", "q327_stream_beaconing", "q408_stream_crawler_traps")
  val DrainQueries: Set[String] = OpsQueries.filter(_.contains("_stream_")).toSet
  val Cpus = "4"
  val Tick: Duration = Duration.ofMinutes(15)

  final case class Op(i: Int, name: String, wallS: Double, ok: Boolean,
      error: String, span: Long, extra: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val jvmT0 = System.nanoTime()
    val Array(workload, sandboxArg, secondsArg, traceArg, setupsArg) = args
    val sandbox = Paths.get(sandboxArg).toAbsolutePath
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val desc = graft.functions.Json.parseMap(
      new String(Files.readAllBytes(sandbox.resolve("run.json")), "UTF-8"))
    System.setProperty("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamTrace].getName)
    val root = Trace.open("workload", workload, 0L)
    val setupTimes = (1 to setupsArg.toInt).map { k =>
      val t0 = System.nanoTime()
      setup(workload, sandbox, sandbox.resolve(s"setup-$k"), desc)
      (System.nanoTime() - t0) / 1e9
    }
    val input = sandbox.resolve(s"setup-${setupsArg.toInt}")

    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // an ops pass is long and runs once; cron and stream run one cold
    // operation and at least two warm ones
    val minOps = if (workload == "ops") 1 else 3
    val runOp: Int => Option[Op] = workload match {
      case "cron" => cronTick(sandbox, input, desc, root.id)
      case "stream" => streamIncrement(sandbox, input, desc, root.id)
      case "ops" => opsPass(sandbox, input, root.id)
      case other => sys.error(s"unknown workload '$other'")
    }
    StreamTrace.enabled = trace
    if (trace) System.setProperty("spark.extraListeners", classOf[TraceListener].getName)
    var i = 0
    var more = true
    while (more && (ops.size < minOps || elapsed < seconds)) {
      runOp(i) match {
        case Some(op) => ops += op
        case None => more = false
      }
      i += 1
    }
    System.clearProperty("spark.extraListeners")
    StreamTrace.enabled = false
    Trace.close(root)
    if (trace && workload == "cron") measureStores(sandbox, ops.toSeq)

    val result = Json.obj(Seq(
      "workload" -> workload,
      "setup_s" -> setupTimes,
      "measured_s" -> elapsed,
      "jvm_s" -> (System.nanoTime() - jvmT0) / 1e9,
      "peak_rss_kb" -> vmHwmKb(),
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "ops" -> ops.map { o =>
        Map[String, Any]("i" -> o.i, "name" -> o.name, "wall_s" -> o.wallS,
          "ok" -> o.ok, "error" -> o.error,
          "span" -> o.span) ++ o.extra
      }))
    Files.write(sandbox.resolve("result.json"), result.getBytes("UTF-8"))
    if (trace) Trace.write(sandbox.resolve("spans.jsonl"))
  }

  def session(): SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark side of set-up: what a deployment holds before the first run. */
  def setup(workload: String, sandbox: Path, dst: Path,
      desc: Map[String, Any]): Unit = {
    val spark = session()
    try {
      val base = sandbox.resolve("base").toString
      lazy val events = Tables.normalizeTs(spark.read.parquet(s"$base/events.parquet"))
      workload match {
        case "cron" =>
          // the reference lake: string year/month/day/hour partitions,
          // holding the 24 hours from the hour before tick 0
          val from = Instant.parse(desc("tick0").toString)
            .truncatedTo(java.time.temporal.ChronoUnit.HOURS).minus(Duration.ofHours(1))
          val day = events.where(col("ts") >= lit(from.toString).cast("timestamp") &&
            col("ts") < lit(from.plus(Duration.ofDays(1)).toString).cast("timestamp"))
          graft.criteria.Criteria.withPartitionColumns(day, col("ts"))
            .repartition(col("year"), col("month"), col("day"), col("hour"))
            .write.partitionBy("year", "month", "day", "hour")
            .parquet(dst.resolve("lake").toString)
          Files.createDirectories(dst.resolve("store"))
          Files.copy(sandbox.resolve("history.jsonl"),
            dst.resolve("store").resolve("alerts.jsonl"))
        case "stream" =>
          // one time-ordered parquet file per day, moved in per increment
          val day = floor((unix_micros(col("ts")) -
            lit(Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L)) /
            lit(86400L * 1000000L)).cast("int")
          events.withColumn("__day", day).repartition(col("__day"))
            .sortWithinPartitions("ts")
            .write.partitionBy("__day").parquet(dst.resolve("slices").toString)
        case "ops" =>
          Seq("events", "lineitem").foreach { t =>
            spark.read.parquet(s"$base/$t.parquet").repartition(1)
              .write.parquet(dst.resolve("sf").resolve(s"$t.parquet").toString)
          }
        case other => sys.error(s"unknown workload '$other'")
      }
    } finally spark.stop()
  }

  /** Runs `body` with stdout captured; returns its output. */
  private def captured(body: => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val ps = new PrintStream(buf, true, "UTF-8")
    try Console.withOut(ps)(body) finally ps.flush()
    buf.toString("UTF-8")
  }

  /** An entry point that threw leaves its session open; the next call
    * must not inherit it.
    */
  private def attemptMain(span: Trace.Span)(body: => Unit): (Boolean, String) = {
    val r = attempt(span)(body)
    if (!r._1) SparkSession.getDefaultSession.foreach(_.stop())
    r
  }

  private def attempt(span: Trace.Span)(body: => Unit): (Boolean, String) =
    try { body; (true, null) }
    catch { case e: Throwable =>
      System.err.println(s"[bench] ${span.name} failed: $e")
      (false, e.toString)
    }

  def cronTick(sandbox: Path, input: Path, desc: Map[String, Any],
      root: Long): Int => Option[Op] = {
    val store = sandbox.resolve("store")
    Files.createDirectories(store)
    Files.copy(input.resolve("store").resolve("alerts.jsonl"),
      store.resolve("alerts.jsonl"), StandardCopyOption.REPLACE_EXISTING)
    val tick0 = Instant.parse(desc("tick0").toString)
    val specs = sandbox.resolve("specs").toString + "/*.yml"
    val lake = input.resolve("lake").toString
    i => {
      val now = tick0.plus(Tick.multipliedBy(i.toLong))
      val span = Trace.open("tick", s"tick-$i", root)
      Trace.current = span.id
      var out = ""
      val (ok, err) = attemptMain(span) {
        out = captured(AlertaMain.main(Array(lake, specs, store.toString, now.toString)))
      }
      Trace.close(span)
      val snap = sandbox.resolve("snap").resolve(s"tick-$i")
      Files.createDirectories(snap)
      Seq("alerts.jsonl", "inflight.jsonl").map(store.resolve).filter(Files.exists(_))
        .foreach(f => Files.copy(f, snap.resolve(f.getFileName)))
      val line = out.linesIterator.filter(_.startsWith("{")).toSeq.lastOption.getOrElse("")
      Some(Op(i, span.name, wall(span), ok, err, span.id,
        Map("now" -> now.toString, "stdout" -> line, "snapshot" -> snap.toString)))
    }
  }

  def streamIncrement(sandbox: Path, input: Path, desc: Map[String, Any],
      root: Long): Int => Option[Op] = {
    val in = sandbox.resolve("stream").resolve("in")
    val out = sandbox.resolve("stream").resolve("out")
    Files.createDirectories(in)
    val day0 = desc("day0").toString.toDouble.toInt
    val specs = sandbox.resolve("specs").toString + "/*.yml"
    i => {
      val slice = input.resolve("slices").resolve(s"__day=${day0 + i}")
      if (!Files.isDirectory(slice)) None
      else {
        val files = Files.list(slice).iterator.asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
        files.zipWithIndex.foreach { case (f, j) =>
          Files.move(f, in.resolve(f"day${day0 + i}%02d-$j.parquet"))
        }
        val span = Trace.open("increment", s"increment-$i", root)
        Trace.current = span.id
        val (ok, err) = attemptMain(span) {
          captured(AlertaStreamMain.main(Array(in.toString, specs, out.toString))): Unit
        }
        Trace.close(span)
        Some(Op(i, span.name, wall(span), ok, err, span.id,
          Map("day" -> (day0 + i))))
      }
    }
  }

  def opsPass(sandbox: Path, input: Path, root: Long): Int => Option[Op] = {
    val oracle = SparkEntry.oracleSql
    Files.write(sandbox.resolve("oracle_sql.json"),
      Json.obj(OpsQueries.map(q => q -> oracle(q))).getBytes("UTF-8"))
    opsPassAt(sandbox, input, root)
  }

  private def opsPassAt(sandbox: Path, input: Path, root: Long): Int => Option[Op] = i => {
    // a fresh directory per pass: per-directory artefacts the program
    // keeps for the JVM's lifetime cannot serve a later pass
    val sf = sandbox.resolve("ops").resolve(s"pass-$i")
    Files.walk(input.resolve("sf")).iterator.asScala.toSeq.foreach { src =>
      val dst = sf.resolve(input.resolve("sf").relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.createLink(dst, src)
    }
    val fns = SparkEntry.queries
    val spark = session()
    val span = Trace.open("pass", s"pass-$i", root)
    val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
    try OpsQueries.foreach { name =>
      val q = Trace.open("query", name, span.id)
      Trace.current = q.id
      val starts = Trace.queryStarts.get()
      var rows: Array[org.apache.spark.sql.Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      val (ok, err) = attempt(q) {
        val df = fns(name)(spark, sf.toString)
        rows = df.collect()
        schema = df.schema
      }
      Trace.close(q)
      // memo guard: a drain query must start a streaming query of its own
      val guard = !DrainQueries(name) || Trace.queryStarts.get() > starts
      val res = sandbox.resolve("ops").resolve("results").resolve(s"pass-$i").resolve(name)
      if (ok) spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(res.toString)
      queries += Map("name" -> name, "wall_s" -> wall(q), "ok" -> ok,
        "error" -> err, "guard" -> guard, "span" -> q.id, "result" -> res.toString)
    } finally {
      Trace.close(span)
      spark.stop()
    }
    val wallS = queries.map(_("wall_s").asInstanceOf[Double]).sum
    Some(Op(i, span.name, wallS, queries.forall(_("ok") == true), null,
      span.id, Map("queries" -> queries.toSeq)))
  }

  /** Times the store's public functions on each tick's store copy. */
  def measureStores(sandbox: Path, ops: Seq[Op]): Unit = {
    val spark = session()
    try ops.foreach { op =>
      val dir = op.extra("snapshot").toString
      var alerts: AlertStore = null
      var inflight: InflightStore = null
      Trace.timed("store", "open", op.span) { _ =>
        alerts = new AlertStore(dir); inflight = new InflightStore(dir)
      }
      Trace.timed("store", "alerted_ids", op.span)(_ => alerts.alertedEventIds(spark, "event_id"))
      Trace.timed("store", "inflight_ids", op.span)(_ => inflight.inflightEventIds(spark, "event_id"))
      val s = Trace.open("store", "size", op.span)
      s.attrs("alert_docs") = alerts.all().size
      s.attrs("inflight_docs") = inflight.count
      Seq("alerts" -> "alerts.jsonl", "inflight" -> "inflight.jsonl").foreach { case (k, f) =>
        val p = Paths.get(dir, f)
        s.attrs(k + "_b") = if (Files.exists(p)) Files.size(p) else 0L
      }
      Trace.close(s)
    } finally spark.stop()
  }

  private def wall(s: Trace.Span): Double = (s.endMs - s.startMs) / 1000.0

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
}
