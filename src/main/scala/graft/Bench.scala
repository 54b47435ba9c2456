package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen warmup so the first measured query isn't charged for
    // JIT + whole-stage-codegen compiler startup
    spark.range(1000000).selectExpr("sum(id)").collect()
    // bench self-diagnosis (r13/r14 verdicts): record the box's 1-min
    // loadavg around each query plus the query's start offset into the
    // run, so a contended-box outlier (q190 13.5 s at the driver vs
    // 1.5 s quiet, identical code) is diagnosable from bench_out.json
    // alone. Additions-only: the timed region and the contract's JSON
    // fields are untouched.
    def loadavg(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // JSON numbers: a decimal point whatever the JVM default locale
    def num(x: Double, digits: Int): String =
      s"%.${digits}f".formatLocal(java.util.Locale.ROOT, x)
    val benchT0 = System.nanoTime()
    val meta = scala.collection.mutable.LinkedHashMap[String,
      (Double, Double, Double)]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // best-of-3 per query: single-shot timings on a shared box swing
    // wildly with co-tenant load (observed 5× on identical plans); the
    // min is the honest capability number and both BENCH and BASELINE
    // come from this same harness
    // optional arg: comma-separated query-name filter (iteration aid;
    // the driver passes no args and benches everything)
    val only = args.headOption.map(_.split(",").toSet)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val startOff = (System.nanoTime() - benchT0) / 1e9
      val laBefore = loadavg()
      val times = (1 to 3).map { rep =>
        // label the repeat's jobs (guide §1.5) so event-log/UI stage
        // attribution is per-query; no effect on the timed work
        spark.sparkContext.setJobDescription(s"$name rep$rep")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      spark.sparkContext.setJobDescription(null)
      meta(name) = (startOff, laBefore, loadavg())
      name -> times.min
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // failure latencies are not throughput — a failing query reports in
    // `failed` (and keeps its timing in `queries` for diagnosis) but
    // never flatters the headline total
    val total = results.collect { case (k, v) if !failed(k) => v }.sum
    // per-query [start_offset_sec, loadavg_before, loadavg_after] —
    // diagnostic additions; the driver reads only the fields above
    val metaJson = meta.map { case (k, (off, l0, l1)) =>
      s""""$k":[${num(off, 1)},${num(l0, 2)},${num(l1, 2)}]"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","meta":$metaJson}"""
    // the driver keeps only the LAST ~2000 chars of stdout (observed
    // in BENCH_r05/r06: the ~15 KB full line is decapitated and
    // `parsed` comes back null) — persist the full JSON to the
    // committed bench_out.json, print it for humans, then print a
    // COMPACT summary (top-20 slowest queries, 3-decimal) as the
    // FINAL stdout line so the driver's parser sees one complete JSON
    // object inside its tail window. Filtered iteration runs must NOT
    // clobber the committed full-suite snapshot — they land in
    // bench_out.partial.json instead.
    val outFile =
      if (only.isEmpty) "bench_out.json" else "bench_out.partial.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $outFile write failed: ${e.getMessage}")
    }
    println(line)
    val top = results.filter { case (k, _) => !failed(k) }
      .sortBy(-_._2).take(20)
      .map { case (k, v) => s""""$k":${num(v, 3)}""" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${results.size},"failed":$failedJson,""" +
      s""""load_start":${num(meta.headOption.map(_._2._2).getOrElse(-1.0), 2)},""" +
      s""""load_end":${num(loadavg(), 2)},""" +
      s""""queries":$top,"queries_note":"top-20 slowest; full per-query in bench_out.json"}""")
    spark.stop()
  }
}
