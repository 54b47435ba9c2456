package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Temp directories a suite makes through [[tempDir]], deleted in
  * `afterAll`, so a test run leaves nothing behind in java.io.tmpdir.
  */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    made.add(dir.toFile)
    dir
  }

  private def delete(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  override def afterAll(): Unit =
    try super.afterAll() finally made.forEach(delete(_))
}

/** Shared local session for suites (one per suite via lazy val).
  *
  * Because every suite resolves the same `getOrCreate()` session, any
  * suite that mutates the session `FunctionRegistry` over a BUILTIN
  * name poisons every later suite (the r7 PlanSpec red: a date_format
  * shadow turned lake partition values into the literal "HH",
  * order-dependently). [[graft.functions.Functions.dialect]] refuses
  * builtin names when the session is built; the `afterAll` canary
  * below is the second line of defense — it fails LOUDLY in whichever
  * suite broke the invariant, instead of some unrelated suite failing
  * later.
  */
trait SparkSuite extends TempDirs { self: AnyFunSuite =>
  @volatile private var sparkStarted = false

  lazy val spark: SparkSession = {
    sparkStarted = true
    Tables.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
  }

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Jobs `body` starts on this thread, counted by a listener: a marker
    * job after `body` closes the count, since listener events arrive in
    * order. */
  def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("counted")
      body
      sc.setJobDescription("marker")
      spark.range(1).count()
      Iterator.continually(seen.poll(10, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "marker").count(_ == "counted")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  /** The query executions `body` runs in `s`, in order, seen by a
    * QueryExecutionListener: a marker query after `body` closes the
    * list, since listener events arrive in order. */
  def executionsOf(s: SparkSession)(body: => Unit)
      : Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def isMarker(qe: QueryExecution) =
      qe.analyzed.output.map(_.name) == Seq("executions_of_marker")
    s.listenerManager.register(listener)
    try {
      body
      s.range(1).toDF("executions_of_marker").collect()
      Iterator.continually(seen.poll(10, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(qe => qe != null && !isMarker(qe)).toSeq
    } finally s.listenerManager.unregister(listener)
  }

  /** What `body` logs under the named loggers, with its result. */
  def logged[A](loggers: String*)(body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("captured", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val targets = loggers.map(LogManager.getLogger(_).asInstanceOf[CoreLogger])
    targets.foreach(_.addAppender(appender))
    try (body, seen.toArray(Array.empty[String]).toSeq)
    finally { targets.foreach(_.removeAppender(appender)); appender.stop() }
  }

  override def afterAll(): Unit = {
    if (sparkStarted) {
      val r = spark.sql(
        """SELECT date_format(timestamp'2024-01-02 03:04:05', 'HH') AS hh,
          |       from_unixtime(0) AS fu,
          |       size(split('a.b', '.')) AS ns""".stripMargin).head()
      assert(r.getString(0) == "03",
        s"builtin-integrity canary: date_format(ts,'HH') returned " +
          s"'${r.getString(0)}' — this suite (or one it ran after) " +
          "shadowed the Spark builtin date_format in the shared session")
      assert(r.get(1).isInstanceOf[String],
        "builtin-integrity canary: from_unixtime no longer returns " +
          "STRING — the Spark builtin was shadowed in the shared session")
      assert(r.getInt(2) == 4,
        s"builtin-integrity canary: split('a.b','.') returned " +
          s"${r.getInt(2)} parts, not regex semantics — the Spark " +
          "builtin split was shadowed in the shared session")
    }
    super.afterAll()
  }
}
