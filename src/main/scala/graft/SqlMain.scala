package graft

/** Ad-hoc SQL entry point — the `presto-cli`-shaped surface of the
  * library: every testdata table registered as a view, the Presto
  * function registry loaded, and the criteria-dialect rewrites
  * (`date_diff`/`date_add`/`json_extract_scalar`) applied to the
  * input, so a query written for the reference's Athena dialect runs
  * as-is.
  *
  * Usage: runMain graft.SqlMain <sfDir> <sql | @file.sql> [maxRows]
  */
object SqlMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SqlMain <sfDir> <sql|@file> [maxRows]")
    val (sfDir, q) = (args(0), args(1))
    val maxRows = args.lift(2).map(_.toInt).getOrElse(100)
    val sql =
      if (q.startsWith("@")) {
        val src = scala.io.Source.fromFile(q.drop(1))
        try src.mkString finally src.close()
      } else q
    val spark = Tables.session()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach { t =>
      Tables(spark, sfDir, t).createOrReplaceTempView(t)
    }
    spark.sql(graft.criteria.Criteria.rewrite(sql))
      .show(maxRows, truncate = false)
  }
}
