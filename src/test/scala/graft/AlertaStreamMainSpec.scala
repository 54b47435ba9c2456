package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `AlertaStreamMain.main` end to end: parquet events and YAML specs
  * on disk, AvailableNow drains, alert rows read back from the sinks.
  *
  * `main` stops the session it runs in, so this suite does not share
  * [[SparkSuite]]'s session: it opens one to write inputs and read
  * sinks, lets `main` take it over, and stops what is left at the end
  * so later suites start a fresh one.
  */
class AlertaStreamMainSpec extends AnyFunSuite with TempDirs {

  private def session(): SparkSession =
    Tables.configure(SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    super.afterAll()
  }

  private def at(hour: Int, minute: Int) =
    Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")

  /** One parquet file of (ts, user_id, event_type, event_id) rows,
    * moved into `dir` whole so a drain never sees it half written.
    */
  private def addEvents(dir: Path, file: String,
      rows: (Timestamp, Long, String, Long)*): Unit = {
    val s = session()
    import s.implicits._
    val staging = tempDir("stream-main-staging")
    rows.toDF("ts", "user_id", "event_type", "event_id").coalesce(1)
      .write.mode("overwrite").parquet(staging.toString)
    val part = Files.list(staging).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(dir)
    Files.move(part, dir.resolve(file))
  }

  private def writeSpec(dir: Path, file: String, yaml: String): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(file), yaml.stripMargin.getBytes("UTF-8"))
  }

  private def run(root: Path): Unit =
    AlertaStreamMain.main(Array(root.resolve("in").toString,
      root.resolve("specs").toString + "/*.yml", root.resolve("out").toString))

  /** Sorted (value, summary) rows of one sink, or None when the spec
    * never started a query.
    */
  private def sink(root: Path, name: String): Option[Seq[(String, String)]] = {
    val dir = root.resolve("out").resolve(name)
    if (!Files.isDirectory(dir)) None
    else Some(session().read.parquet(dir.toString).collect()
      .map(r => (r.getAs[String]("value"), r.getAs[String]("summary"))).toSeq.sorted)
  }

  private val sequenceSpec =
    """alert_name: buy_then_error
      |alert_type: sequence
      |lifespan: 1 hour
      |summary: "{{slots.0.metadata.value}} bought then failed"
      |slots:
      |  - alert_type: threshold
      |    criteria: event_type='purchase'
      |    aggregation_key: user_id
      |  - alert_type: threshold
      |    criteria: event_type='error'
      |"""

  private val thresholdSpec =
    """alert_name: spikes
      |alert_type: threshold
      |criteria: event_type='purchase'
      |aggregation_key: user_id
      |threshold: 2
      |"""

  private val deadmanSpec =
    """alert_name: heartbeat
      |alert_type: deadman
      |criteria: event_type='heartbeat'
      |aggregation_key: user_id
      |lifespan: 30 minutes
      |"""

  test("threshold, deadman and 2-slot sequence sinks; a re-run appends only new alerts") {
    val root = tempDir("stream-main")
    val (in, specs) = (root.resolve("in"), root.resolve("specs"))
    writeSpec(specs, "a_sequence.yml", sequenceSpec)
    writeSpec(specs, "b_threshold.yml", thresholdSpec)
    writeSpec(specs, "c_deadman.yml", deadmanSpec)
    // user 1 buys three times and then fails; user 5 beats once and
    // goes silent; user 6 is still beating at 11:45. The 12:00 view
    // puts the final watermark (10-minute delay) at 11:50.
    addEvents(in, "day1-0.parquet",
      (at(10, 1), 1, "purchase", 1), (at(10, 2), 1, "purchase", 2),
      (at(10, 3), 1, "purchase", 3), (at(10, 5), 1, "error", 4),
      (at(10, 0), 5, "heartbeat", 5), (at(10, 0), 6, "heartbeat", 6),
      (at(11, 45), 6, "heartbeat", 7), (at(12, 0), 9, "view", 8))
    run(root)
    assert(sink(root, "spikes") === Some(Seq(("1", "spikes: 1 x3"))))
    assert(sink(root, "heartbeat") ===
      Some(Seq(("5", "heartbeat: expected events from 5 are missing"))))
    assert(sink(root, "buy_then_error") === Some(Seq(("1", "1 bought then failed"))))

    // a second file: user 2 repeats user 1's pattern, user 6 falls
    // silent past its deadline (12:15) once the watermark reaches 12:50
    addEvents(in, "day1-1.parquet",
      (at(12, 1), 2, "purchase", 11), (at(12, 2), 2, "purchase", 12),
      (at(12, 3), 2, "error", 13), (at(13, 0), 9, "view", 14))
    run(root)
    // the checkpoints make the re-run incremental: the first run's
    // alerts are not written again
    assert(sink(root, "spikes") ===
      Some(Seq(("1", "spikes: 1 x3"), ("2", "spikes: 2 x2"))))
    assert(sink(root, "heartbeat") === Some(Seq(
      ("5", "heartbeat: expected events from 5 are missing"),
      ("6", "heartbeat: expected events from 6 are missing"))))
    assert(sink(root, "buy_then_error") === Some(Seq(
      ("1", "1 bought then failed"), ("2", "2 bought then failed"))))
  }

  test("a spec whose stream cannot be built is skipped; queries started " +
      "after a sequence keep the session's default state store") {
    val root = tempDir("stream-main")
    val specs = root.resolve("specs")
    val badSlots = Seq(
      "a_one_slot" -> """  - alert_type: threshold
        |    criteria: event_type='purchase'
        |    aggregation_key: user_id""",
      "a_deadman_first" -> """  - alert_type: deadman
        |    criteria: event_type='purchase'
        |    aggregation_key: user_id
        |  - alert_type: threshold
        |    criteria: event_type='error'""",
      "a_no_key" -> """  - alert_type: threshold
        |    criteria: event_type='purchase'
        |    aggregation_key: no_such_column
        |  - alert_type: threshold
        |    criteria: event_type='error'""")
    badSlots.foreach { case (name, slots) =>
      writeSpec(specs, s"$name.yml",
        s"""alert_name: $name
          |alert_type: sequence
          |slots:
          |$slots
          |""")
    }
    writeSpec(specs, "b_sequence.yml", sequenceSpec)
    writeSpec(specs, "c_threshold.yml", thresholdSpec)
    writeSpec(specs, "d_deadman.yml", deadmanSpec)
    addEvents(root.resolve("in"), "day1-0.parquet",
      (at(10, 1), 1, "purchase", 1), (at(10, 2), 1, "purchase", 2),
      (at(10, 5), 1, "error", 3), (at(10, 0), 5, "heartbeat", 4),
      (at(12, 0), 9, "view", 5))
    run(root)
    badSlots.foreach { case (name, _) => assert(sink(root, name) === None, name) }
    assert(sink(root, "buy_then_error") === Some(Seq(("1", "1 bought then failed"))))
    assert(sink(root, "spikes") === Some(Seq(("1", "spikes: 1 x2"))))
    assert(sink(root, "heartbeat").map(_.map(_._1)) === Some(Seq("5")))
    // each query records the state store it ran on in its offset log
    def provider(name: String): String = {
      val log = new String(Files.readAllBytes(root.resolve("out")
        .resolve("_checkpoints").resolve(name).resolve("offsets").resolve("0")), "UTF-8")
      """"spark\.sql\.streaming\.stateStore\.providerClass":"([^"]+)"""".r
        .findFirstMatchIn(log).map(_.group(1)).getOrElse(log)
    }
    assert(provider("buy_then_error").endsWith("RocksDBStateStoreProvider"))
    assert(provider("spikes").endsWith("HDFSBackedStateStoreProvider"))
    assert(provider("heartbeat").endsWith("HDFSBackedStateStoreProvider"))
  }

  test("a query that fails while running: the other sinks are written, " +
      "no query is left active, and main rethrows") {
    val root = tempDir("stream-main")
    val specs = root.resolve("specs")
    // ANSI casts throw on 'purchase' once the first batch runs
    writeSpec(specs, "a_broken.yml",
      """alert_name: broken
        |alert_type: threshold
        |criteria: CAST(event_type AS INT) > 0
        |aggregation_key: user_id
        |""")
    writeSpec(specs, "b_threshold.yml", thresholdSpec)
    writeSpec(specs, "c_deadman.yml", deadmanSpec)
    addEvents(root.resolve("in"), "day1-0.parquet",
      (at(10, 1), 1, "purchase", 1), (at(10, 2), 1, "purchase", 2),
      (at(10, 0), 5, "heartbeat", 3), (at(12, 0), 9, "view", 4))
    val streams = session().streams
    val out = new java.io.ByteArrayOutputStream
    intercept[Exception](Console.withOut(out)(run(root)))
    assert(streams.active.isEmpty)
    assert(out.toString.linesIterator
      .exists(_.startsWith("""{"stream":"broken","failed":"""")), out)
    assert(sink(root, "spikes") === Some(Seq(("1", "spikes: 1 x2"))))
    assert(sink(root, "heartbeat").map(_.map(_._1)) === Some(Seq("5")))
  }
}
