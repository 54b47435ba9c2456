package graft

import org.scalatest.funsuite.AnyFunSuite

class JsonBlocksV2Spec extends AnyFunSuite with SparkSuite {

  private def writeFile(dir: java.io.File, name: String, body: String): Unit = {
    val f = new java.io.File(dir, name)
    java.nio.file.Files.writeString(f.toPath, body)
    ()
  }

  test("V2 connector: one row per object, braces in strings survive, provenance per file") {
    val dir = tempDir("jb_v2_").toFile
    // file a: two objects back to back, one spanning lines, with a
    // brace INSIDE a string value (the classic tokenizer trap)
    writeFile(dir, "a.json",
      """{"id":1,"msg":"open { not a block"}{
        |  "id": 2,
        |  "nested": {"k": "v"}
        |}""".stripMargin)
    writeFile(dir, "b.json", """{"id":3}""")
    writeFile(dir, "_SUCCESS", "ignored")

    val df = spark.read.format("graft.sources.JsonBlocksSource")
      .load(dir.getAbsolutePath)
    val rows = df.collect()
    assert(rows.length === 3)
    // files are the parallelism unit — one partition per data file,
    // metadata files skipped
    assert(df.rdd.getNumPartitions === 2)
    val byFile = rows.groupBy(_.getAs[String]("src_file")
      .split("/").last)
    assert(byFile("a.json").length === 2)
    assert(byFile("b.json").length === 1)
    // blocks parse back to the objects, including the trap string
    import spark.implicits._
    val parsed = spark.read.json(
      df.select("block").collect().map(_.getString(0)).toSeq.toDS())
    assert(parsed.count() === 3)
    assert(parsed.where("msg = 'open { not a block'").count() === 1)
    assert(parsed.where("nested.k = 'v'").count() === 1)
  }

  test("V2 connector write → read round-trips the block set") {
    import spark.implicits._
    val dir = tempDir("jb_v2_w_").toFile
    val blocks = (1 to 7).map(i => s"""{"id":$i,"v":"x{$i"}""")
    blocks.toDF("block")
      // the write schema is the table schema; src_file is ignored
      .withColumn("src_file", org.apache.spark.sql.functions.lit(""))
      .repartition(2) // multiple writer tasks, multiple drop files
      .write.format("graft.sources.JsonBlocksSource")
      .mode("append").save(dir.getAbsolutePath)
    val back = spark.read.format("graft.sources.JsonBlocksSource")
      .load(dir.getAbsolutePath)
    assert(back.count() === 7)
    assert(back.select("block").as[String].collect().sorted ===
      blocks.sorted.toArray)
    // two writer partitions → two delivery files
    assert(back.select("src_file").distinct().count() === 2)
  }

  test("V2 connector write binds the block column BY NAME, not position") {
    import spark.implicits._
    val dir = tempDir("jb_v2_n_").toFile
    // provenance-style string column FIRST: positional binding would
    // write the wrong column as the delivery file
    Seq(("ignored.json", """{"id":9}"""))
      .toDF("src_file", "block")
      .write.format("graft.sources.JsonBlocksSource")
      .mode("append").save(dir.getAbsolutePath)
    val back = spark.read.format("graft.sources.JsonBlocksSource")
      .load(dir.getAbsolutePath)
    assert(back.select("block").as[String].collect().toSeq ===
      Seq("""{"id":9}"""))
  }

  test("V2 connector write fails loudly on an ambiguous schema") {
    import spark.implicits._
    val dir = tempDir("jb_v2_a_").toFile
    val e = intercept[Exception] {
      Seq(("a", "b")).toDF("x", "y")
        .write.format("graft.sources.JsonBlocksSource")
        .mode("append").save(dir.getAbsolutePath)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("block")))
  }

  test("V2 connector rejects overwrite (no TRUNCATE capability) up front") {
    import spark.implicits._
    val dir = tempDir("jb_v2_o_").toFile
    intercept[Exception] {
      Seq("""{"id":1}""").toDF("block")
        .write.format("graft.sources.JsonBlocksSource")
        .mode("overwrite").save(dir.getAbsolutePath)
    }
    ()
  }
}
