package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.criteria.Criteria
import graft.functions.Functions
import graft.sources.Lake

/** Regression-proof for the r7 builtin-shadow class: the Presto
  * dialect shims used to `createOrReplaceTempFunction` over builtin
  * NAMES (`date_format`, `split`, …), and on Spark 4 the DataFrame
  * DSL resolves through the session registry — so after any dialect
  * query ran, `Criteria.withPartitionColumns`' `date_format(ts,'HH')`
  * returned the literal "HH" and every later lake write in the shared
  * session landed in partitions `hour='HH'` (q51/q108/q109 red,
  * PlanSpec pruning red). The contract now: [[Functions.dialect]]
  * NEVER claims a builtin name (divergent shims are named
  * `presto_<name>`, [[Criteria.rewrite]] maps the tokens), and this
  * spec asserts that in a session holding the dialect from its build
  * the engine's own paths still behave (reference layout
  * alerta.py:136-146).
  */
class BuiltinShadowSpec extends AnyFunSuite with SparkSuite {

  test("after Functions.register, Spark builtins keep their semantics " +
      "and a lake roundtrip still writes real hour partitions") {

    // ① builtin canaries THROUGH the registry (both SQL and DSL hit it)
    val r = spark.sql(
      """SELECT date_format(timestamp'2024-01-02 03:04:05', 'HH') AS hh,
        |       from_unixtime(0) AS fu,
        |       size(split('a.b', '.')) AS ns,
        |       contains('clickstream', 'str') AS c,
        |       map_concat(map('a', 1), map('b', 2)) AS mc""".stripMargin)
      .head()
    assert(r.getString(0) === "03") // NOT the literal "HH"
    assert(r.get(1).isInstanceOf[String]) // Spark from_unixtime → STRING
    assert(r.getInt(2) === 4) // regex split, not literal
    assert(r.getBoolean(3)) // string contains, not ArrayContains

    // ② the Presto twins live under presto_* and Criteria.rewrite
    //    routes criteria text to them
    assert(Criteria.rewrite("split(x, '.')[1] = 'a'")
      === "presto_element_at(presto_split(x, '.'), 1) = 'a'")
    assert(Criteria.rewrite("date_format(ts, '%H') = '03'")
      === "presto_date_format(ts, '%H') = '03'")
    // call position only: a column NAMED split is not a call
    assert(Criteria.rewrite("split = 1") === "split = 1")
    val p = spark.sql(Criteria.rewrite(
      """SELECT split('a.b.c', '.') AS sp,
        |       date_format(timestamp'2024-01-02 03:04:05', '%H:%i') AS hm,
        |       element_at(array(1, 2), 9) AS oob""".stripMargin)).head()
    assert(p.getSeq[String](0) === Seq("a", "b", "c")) // literal split
    assert(p.getString(1) === "03:04") // MySQL tokens
    assert(p.isNullAt(2)) // Presto-lax NULL, no ANSI throw

    // ③ the poisoned path end-to-end: the dialect is in the session, then a
    //    lake write + partition-window scan — the exact r7 blast shape
    import spark.implicits._
    val events = Seq(
      ("e1", java.sql.Timestamp.valueOf("2024-01-02 03:10:00")),
      ("e2", java.sql.Timestamp.valueOf("2024-01-02 04:20:00")),
      ("e3", java.sql.Timestamp.valueOf("2024-01-02 04:40:00")))
      .toDF("event_id", "ts")
    val dir = tempDir("builtin_shadow_lake").toString
    val lake = Lake.write(events, dir)
    val parts = lake.select("year", "month", "day", "hour").distinct()
      .collect().map(x => (x.getString(0), x.getString(1),
        x.getString(2), x.getString(3))).toSet
    assert(parts === Set(("2024", "01", "02", "03"),
      ("2024", "01", "02", "04"))) // real zero-padded values, not 'HH'
    val now = java.time.Instant.parse("2024-01-02T04:30:00Z")
    assert(lake.where(Criteria.partitionWindow(now)).count() === 3)
  }

  test("register refuses a future shim that would claim a builtin name") {
    // the guard itself: registering over a builtin must throw loudly,
    // not silently poison the session (pin via the private-path proxy:
    // prefixedNames entries must all BE builtins, else the prefix is
    // pointless; and their presto_ twins must not be)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val reg = spark.sessionState.functionRegistry
    for (n <- Seq("split", "date_format", "from_unixtime", "contains",
        "element_at", "array_agg", "map_concat")) {
      assert(FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)),
        s"$n is no longer a Spark builtin — drop it from prefixedNames")
      assert(reg.functionExists(FunctionIdentifier(s"presto_$n")),
        s"presto_$n missing from the registered dialect surface")
    }
  }
}
