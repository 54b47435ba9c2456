package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

/** Drain honesty and session scope: a query that is alone in its
  * stream drains on every run, a family shares one drain per session,
  * and a drain that fails leaves nothing to reuse.
  */
class StreamFamiliesSpec extends AnyFunSuite with SparkSuite {

  /** Counts streaming queries started in the sessions it is added to
    * (QueryStartedEvent reaches listeners on the starting thread).
    */
  class Starts extends StreamingQueryListener {
    val n = new AtomicInteger
    def onQueryStarted(e: QueryStartedEvent): Unit = n.incrementAndGet(): Unit
    def onQueryProgress(e: QueryProgressEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def session(starts: Starts): SparkSession = {
    val s = spark.newSession()
    s.streams.addListener(starts)
    s
  }

  def rows(s: SparkSession, q: String): Seq[String] =
    SparkEntry.queries(q)(s, sf()).collect().toSeq.map(_.toString).sorted

  test("every run of a single-query drain starts its own streaming query") {
    for (q <- Seq("q53_stream_threshold", "q403_crawl_loop_equiv")) {
      val starts = new Starts
      val s = session(starts)
      val first = rows(s, q)
      val second = rows(s, q)
      assert(starts.n.get === 2, q)
      assert(first.nonEmpty, q)
      assert(second === first, q)
    }
  }

  test("crawl family members share one drain per session, never across " +
      "sessions") {
    for ((q1, q2) <- Seq(
        ("q104_stream_stream_join", "q394_stream_robots_gate"),
        ("q350_stream_sequence", "q352_stream_sequence3"))) {
      val starts = new Starts
      val a = session(starts)
      val a1 = rows(a, q1)
      val a2 = rows(a, q2)
      assert(starts.n.get === 1, q1)
      val b = session(starts)
      val b1 = rows(b, q1)
      val b2 = rows(b, q2)
      assert(starts.n.get === 2, q1)
      assert(a1.nonEmpty && a2.nonEmpty, q1)
      assert(b1 === a1, q1)
      assert(b2 === a2, q2)
    }
  }

  test("with the family sinks dropped before each call, every call of a " +
      "member drains") {
    val starts = new Starts
    val s = session(starts)
    val runs = (1 to 3).map { _ =>
      StreamFamilies.sinks(sf()).foreach(s.catalog.dropTempView)
      rows(s, "q104_stream_stream_join")
    }
    assert(starts.n.get === 3)
    assert(runs.head.nonEmpty && runs.forall(_ == runs.head))
  }

  test("a family member whose drain fails leaves no view, and the next " +
      "run re-drains") {
    val starts = new Starts
    val s = session(starts)
    val dir = sf()
    // `fail` is baked into the plan, and branches are rebuilt on every
    // call, so the second call drains a healthy plan
    def member(name: String, fail: Boolean) = {
      val ev = QueriesAlert.tableStream(s, dir, "events")
        .where(col("event_id").isNotNull)
      StreamFamilies.slice(s, dir, "failfam", OutputMode.Append(), Seq(
        "ids" -> ev.select(when(lit(fail), raise_error(lit("boom")))
          .otherwise(col("event_id")).cast("long").as("id")),
        "types" -> ev.select(col("event_type"))), name)
    }
    intercept[Exception](member("ids", fail = true))
    assert(starts.n.get === 1)
    assert(!s.catalog.listTables().collect().exists(_.name.startsWith("failfam")))
    val want = Tables(s, dir, "events").where(col("event_id").isNotNull)
      .count()
    assert(member("ids", fail = false).count() === want)
    assert(member("types", fail = false).count() === want)
    assert(starts.n.get === 2)
  }

  test("a drain's checkpoint forks no readlink and writes no Spark " +
      "checksum sidecar") {
    val s = spark.newSession()
    val root = java.nio.file.Paths.get(QueriesAlert.drainCheckpointRoot)
    // the checkpoint is deleted when the drain returns, so a poller
    // records what exists while it runs
    val seen = ConcurrentHashMap.newKeySet[String]()
    @volatile var polling = true
    val poller = new Thread(() => while (polling) {
      try Files.walk(root).iterator().asScala
        .foreach(p => seen.add(root.relativize(p).toString))
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
      Thread.sleep(5)
    })
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    poller.start()
    val out = try rows(s, "q53_stream_threshold") finally {
      polling = false
      poller.join()
      rec.stop()
    }
    val jfr = Files.createTempFile("drain", ".jfr")
    val commands = try {
      rec.dump(jfr)
      jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(jfr) }
    val state = seen.asScala.filter(_.contains("/state/"))
    assert(out.nonEmpty && state.exists(_.endsWith(".delta")))
    val readlinks = commands.filter(_.startsWith("readlink"))
    // Hadoop's own local-FS checksums are hidden (`.1.delta.crc`)
    val sidecars = state.filter { p =>
      val name = p.split('/').last
      !name.startsWith(".") && name.endsWith(".delta.crc")
    }
    assert((readlinks.size, sidecars.size) === ((0, 0)),
      (readlinks.take(2), sidecars.take(2)))
  }

  test("a drain's stateful operators run on one shuffle partition, and " +
      "the session keeps its own setting") {
    val parts = new ConcurrentLinkedQueue[Long]()
    val done = new CountDownLatch(1)
    val s = spark.newSession()
    s.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => parts.add(o.numShufflePartitions))
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    })
    val sp = s.conf.get("spark.sql.shuffle.partitions")
    assert(rows(s, "q53_stream_threshold").nonEmpty)
    // listener events arrive in order: progress before termination
    assert(done.await(30, TimeUnit.SECONDS))
    assert(!parts.isEmpty && parts.asScala.forall(_ == 1L), parts)
    assert(s.conf.get("spark.sql.shuffle.partitions") === sp)
  }
}
