package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[QueriesAlert.drainToMemory]]: every call of a streaming
  * query starts a streaming query of its own over the whole replay,
  * in a fresh checkpoint, and a drain that fails leaves nothing to
  * reuse.
  */
class DrainSpec extends AnyFunSuite with SparkSuite {

  /** Records the streaming queries started in the sessions it is added
    * to (QueryStartedEvent reaches listeners on the starting thread)
    * and the input rows each one processed.
    */
  class Starts extends StreamingQueryListener {
    val runs = new ConcurrentLinkedQueue[UUID]()
    val input = new ConcurrentHashMap[UUID, java.lang.Long]()
    val ended = new Semaphore(0)
    def n: Int = runs.size
    def onQueryStarted(e: QueryStartedEvent): Unit = runs.add(e.runId): Unit
    def onQueryProgress(e: QueryProgressEvent): Unit =
      input.merge(e.progress.runId, e.progress.numInputRows, (a, b) => a + b): Unit
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.release()

    /** Input rows of each started query, in start order, once all have
      * terminated (listener events arrive in order: progress before
      * termination).
      */
    def inputRows(): Seq[Long] = {
      assert(ended.tryAcquire(n, 30, TimeUnit.SECONDS))
      runs.asScala.toSeq.map(r => Option(input.get(r)).fold(0L)(_.longValue))
    }
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
      assert(starts.n === 2, q)
      assert(first.nonEmpty, q)
      assert(second === first, q)
    }
  }

  test("each call of q104, q394, q350 and q352 starts one streaming query " +
      "of its own over the whole replay") {
    val starts = new Starts
    val s = session(starts)
    val calls = Seq("q104_stream_stream_join", "q394_stream_robots_gate",
      "q350_stream_sequence", "q352_stream_sequence3")
    assert(calls.forall(rows(s, _).nonEmpty))
    assert(starts.n === calls.size)
    val input = starts.inputRows()
    assert(input.forall(_ > 0), calls.zip(input))
  }

  test("q384, q358 and q361 drain their own stream on every call") {
    val starts = new Starts
    val s = session(starts)
    val calls = Seq("q384_crawl_batch_stream_equiv",
      "q358_stream_sequence_middm", "q361_seq_batch_stream_equiv")
    val runs = (1 to 2).map(_ => calls.map(rows(s, _)))
    assert(starts.n === 2 * calls.size)
    val input = starts.inputRows()
    assert(input.forall(_ > 0), input)
    assert(runs(1) === runs(0))
  }

  test("q120 upserts into a fresh checkpoint and table on every call") {
    val starts = new Starts
    val s = session(starts)
    val first = rows(s, "q120_stream_upsert")
    val second = rows(s, "q120_stream_upsert")
    assert(starts.n === 2)
    val input = starts.inputRows()
    assert(input.forall(_ > 0), input)
    assert(first.nonEmpty && second === first)
  }

  test("a drain that fails leaves no view, and the next drain into the " +
      "same sink runs") {
    val starts = new Starts
    val s = session(starts)
    val dir = sf()
    // `fail` is baked into the plan, so the second drain runs a healthy one
    def drain(fail: Boolean) = QueriesAlert.drainToMemory(s,
      QueriesAlert.tableStream(s, dir, "events")
        .where(col("event_id").isNotNull)
        .select(when(lit(fail), raise_error(lit("boom")))
          .otherwise(col("event_id")).cast("long").as("id")),
      "failing_sink", OutputMode.Append())
    intercept[Exception](drain(fail = true))
    assert(starts.n === 1)
    assert(!s.catalog.tableExists("failing_sink"))
    val want = Tables(s, dir, "events").where(col("event_id").isNotNull)
      .count()
    assert(drain(fail = false).count() === want)
    assert(starts.n === 2)
  }

  test("a drain's checkpoint forks no readlink and writes no Spark " +
      "checksum sidecar") {
    val s = spark.newSession()
    val root = Scratch.root.toPath
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
