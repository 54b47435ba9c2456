package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Test-data table loader. The driver generates one parquet file per
  * table under `/root/testdata/sf*` (see repo:TESTDATA.md); at
  * production scale the same names would resolve to partitioned
  * catalog tables — only this object changes.
  *
  * The driver's generator has emitted two parquet timestamp shapes
  * across rounds, and both must read as a plain microsecond
  * `TimestampType`:
  *   - INT64 TIMESTAMP(NANOS): Spark 4 only reads it with
  *     `spark.sql.legacy.parquet.nanosAsLong=true` (a nanosecond
  *     Long), normalized back in [[normalizeTs]] — integer `div 1000`
  *     truncates toward zero exactly like DuckDB's ns→µs coercion.
  *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
  *     TIMESTAMP_NTZ by default, which poisons every `unix_micros`/
  *     window call site; `spark.sql.parquet.inferTimestampNTZ.enabled=
  *     false` restores the session-UTC TimestampType read (identical
  *     instants — the session timezone is pinned to UTC below).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    normalizeTs(readCachedSchema(spark, s"$sfDir/$name.parquet"))

  /** Parquet read with the file schema inferred ONCE per path and
    * reused: a pathless `spark.read.parquet` runs a footer-merge JOB
    * per call, and the suite constructs the same ten tables thousands
    * of times — 48 s of pure schema-inference stages in one bench run
    * (measured via event log). This caches METADATA only (the
    * StructType a catalog table would carry for free); every query
    * still scans the parquet data itself on every execution. The
    * cached schema is exactly `spark.read.parquet(path).schema` under
    * this engine's fixed session confs (nanosAsLong etc. —
    * [[configure]] pins them for every entry point), so the read is
    * byte-identical to the uncached one.
    *
    * WRITE-ONCE INVARIANT (ADVICE r14): the cache is per-path and
    * never invalidated, so it may only be used for paths whose
    * schema cannot change within a JVM — the driver-generated
    * testdata tables. Paths the program writes ([[Scratch]]
    * directories, lake/merge dirs) must keep raw `spark.read.parquet`.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  def readCachedSchema(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  /** ns→µs coercion for nanosAsLong-read timestamp columns; shared by
    * every path-based loader so the rule lives in exactly one place.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema.find(f => f.name == tsCol && f.dataType == LongType) match {
      case Some(_) =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case None => df
    }

  /** The session of every graft entry point: `master` (by default
    * `local[N]`, N = `SPARK_GRAFT_CPUS` or 4), N shuffle partitions, no
    * UI, and the [[configure]] settings. A `local-cluster` master runs
    * executors in separate JVMs, which need the app classes from the
    * driver's classpath.
    */
  private[graft] def session(master: Option[String] = None): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val m = master.getOrElse(s"local[$cpus]")
    val b = configure(SparkSession.builder().master(m)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
    (if (m.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath",
        sys.props.getOrElse("java.class.path", ""))
     else b).getOrCreate()
  }

  /** Session settings every graft entry point needs. The extensions
    * class injects the native vector/fingerprint expressions
    * (graft.functions.GraftExtensions) into the function registry at
    * session build time.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // lake partition values stay strings ("month=05"), matching the
      // reference's Athena DDL and Criteria.partitionWindow's
      // zero-padded equality predicates
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // prefer shuffled-hash over sort-merge when the per-partition
      // build side fits (guide §9 / §3.1): skips both sort passes;
      // plan-level only, result-identical. The AQE threshold lets a
      // planned SMJ rewrite to SHJ at runtime when every post-shuffle
      // partition is under the advisory size — scale-adaptive, not a
      // local[32] constant (64m matches AQE's advisory partition size).
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64m")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
