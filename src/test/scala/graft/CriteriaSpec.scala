package graft

import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.criteria.Criteria

class CriteriaSpec extends AnyFunSuite with SparkSuite {

  test("json_extract_scalar rewrites to get_json_object, case-insensitive") {
    assert(Criteria.rewrite("JSON_EXTRACT_SCALAR(details,'$.a') = 'b'") ===
      "get_json_object(details,'$.a') = 'b'")
    // no rewrite inside longer identifiers
    assert(Criteria.rewrite("not_json_extract_scalar_fn(x)") ===
      "not_json_extract_scalar_fn(x)")
  }

  test("rewrite never touches SQL string literals") {
    assert(Criteria.rewrite("summary LIKE '%json_extract_scalar%'") ===
      "summary LIKE '%json_extract_scalar%'")
    // escaped quote inside a literal doesn't end it early
    assert(Criteria.rewrite("a = 'it''s json_extract_scalar' AND json_extract_scalar(d,'$.x') = 1") ===
      "a = 'it''s json_extract_scalar' AND get_json_object(d,'$.x') = 1")
  }

  test("full corpus criteria parse and filter after rewrite") {
    // every Presto construct in the reference corpus (SURVEY.md §2.2)
    val presto = "event_type='purchase' AND " +
      "CAST(json_extract_scalar(props,'$.k') AS INTEGER) > 50 AND " +
      "position('pur' IN event_type) = 1"
    val df = Criteria(Tables(spark, sf(), "events"), presto)
    assert(df.count() > 0)
    assert(df.select("event_type").distinct().collect().map(_.getString(0)).toSeq === Seq("purchase"))
  }

  test("partition window covers current and previous hour") {
    val now = Instant.parse("2026-08-12T00:10:00Z") // crosses a day boundary
    val sql = Criteria.partitionWindow(now).toString
    assert(sql.contains("2026") && sql.contains("12") && sql.contains("11"))
    assert(sql.contains("00") && sql.contains("23"))
  }

  test("withPartitionColumns derives zero-padded parts") {
    import org.apache.spark.sql.functions.col
    val df = Criteria.withPartitionColumns(Tables(spark, sf(), "events"), col("ts"))
    val row = df.select("year", "month", "day", "hour").head()
    assert(row.getString(0) === "2024")
    assert(row.getString(1) === "01")
    assert(row.getString(2).length === 2)
    assert(row.getString(3).length === 2)
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("date_diff('unit', ...) rewrites to timestampdiff and evaluates") {
    val r = Criteria.rewrite("date_diff('hour', t1, t2) > 2")
    assert(r === "timestampdiff(hour, t1, t2) > 2")
    // unit match is case-insensitive; other literals stay untouched
    assert(Criteria.rewrite("DATE_DIFF('DAY', a, b) = 1 AND x = 'date_diff'")
      === "timestampdiff(DAY, a, b) = 1 AND x = 'date_diff'")
    val row = spark.sql(
      """SELECT TIMESTAMP '2024-01-01 00:00:00' AS t1,
        |       TIMESTAMP '2024-01-01 05:30:00' AS t2""".stripMargin)
      .where(Criteria.toColumn("date_diff('hour', t1, t2) > 2"))
    assert(row.count() === 1)   // Presto direction: t2 - t1 = 5 hours
  }

  test("Presto split_part / array_join / map_keys / map_values / " +
      "date_trunc evaluate through criteria unchanged") {
    // these four are native Spark functions whose names AND argument
    // orders already match Presto, so a wild criteria using them needs
    // no rewrite and no registry shim — pin that contract per function
    val row = spark.sql(
      """SELECT 'a-b-c' AS s, map('x', 1, 'y', 2) AS m,
        |       array('p', 'q') AS arr,
        |       TIMESTAMP '2024-03-15 13:45:12' AS ts""".stripMargin)
    // split_part(string, delim, index) — 1-based, Presto order
    assert(row.where(Criteria.toColumn("split_part(s, '-', 2) = 'b'"))
      .count() === 1)
    // array_join(array, delimiter) — Presto order (array first)
    assert(row.where(Criteria.toColumn("array_join(arr, '|') = 'p|q'"))
      .count() === 1)
    // map_keys / map_values enumerate in insertion order; the [1]
    // subscript is PRESTO 1-based (rewritten to element_at)
    assert(row.where(Criteria.toColumn(
      "contains(map_keys(m), 'y') AND map_values(m)[1] = 1")).count() === 1)
    // date_trunc('unit', ts) — Presto's string-unit form, unit first
    assert(row.where(Criteria.toColumn(
      "date_trunc('hour', ts) = TIMESTAMP '2024-03-15 13:00:00'"))
      .count() === 1)
    assert(row.where(Criteria.toColumn(
      "date_trunc('month', ts) = TIMESTAMP '2024-03-01 00:00:00'"))
      .count() === 1)
  }

  test("Presto subscripts are 1-based: [] rewrites to element_at; " +
      "ARRAY[..] becomes array(..)") {
    assert(Criteria.rewriteSubscripts("split(x, ',')[1] = 'a'")
      === "element_at(split(x, ','), 1) = 'a'")
    // nested + chained subscripts resolve innermost-first
    assert(Criteria.rewriteSubscripts("m[keys[1]][2]")
      === "element_at(element_at(m, element_at(keys, 1)), 2)")
    // ARRAY constructor, any case
    assert(Criteria.rewriteSubscripts("array['a','b'][2] = 'b'")
      === "element_at(array('a','b'), 2) = 'b'")
    // brackets inside string literals are data
    assert(Criteria.rewriteSubscripts("x = 'a[1]'") === "x = 'a[1]'")
    // END-TO-END: Presto's split(...)[1] is the FIRST token — the
    // 0-based Spark subscript would silently return 'b' here
    val row = spark.sql("SELECT 'a-b-c' AS s")
      .where(Criteria.toColumn("split(s, '-')[1] = 'a'"))
    assert(row.count() === 1)
    val neg = spark.sql("SELECT 'a-b-c' AS s")
      .where(Criteria.toColumn("split(s, '-')[-1] = 'c'")) // from-end
    assert(neg.count() === 1)
  }

  test("a stray bracket pair no longer halts the rewrite: later " +
      "subscripts still convert; double-quoted identifiers subscript") {
    // the unrecognizable base ('+') is skipped, the later rewritable
    // subscript STILL becomes element_at (the r6 fixpoint bailed out
    // and left it 0-based)
    assert(Criteria.rewriteSubscripts("+[9] AND split(x, ',')[1] = 'a'")
      === "+[9] AND element_at(split(x, ','), 1) = 'a'")
    // Presto double-quoted identifier as a subscript base (full
    // rewrite maps element_at → presto_element_at, the no-shadow name)
    assert(Criteria.rewrite("\"my col\"[1] = 'a'")
      === "presto_element_at(`my col`, 1) = 'a'")
    // double-quoted identifiers convert to backticks anywhere outside
    // string literals; literals keep their double quotes
    assert(Criteria.rewrite("\"a\"\"b\" = 'say \"hi\"'")
      === "`a\"b` = 'say \"hi\"'")
    // an apostrophe INSIDE a double-quoted identifier must not pair
    // with a later string literal (the r7-flagged mis-chunking): the
    // single left-to-right pass gives the span to whichever quote
    // opens first
    assert(Criteria.rewrite("\"it's col\" = 'x'") === "`it's col` = 'x'")
    assert(Criteria.rewrite("\"it's a\" = 'x' AND \"b'c\" = 'y'")
      === "`it's a` = 'x' AND `b'c` = 'y'")
    // END-TO-END: a double-quoted (Presto) identifier resolves as a
    // column, not a string literal
    val row = spark.sql("SELECT 'v' AS `my col`")
      .where(Criteria.toColumn("\"my col\" = 'v'"))
    assert(row.count() === 1)
    // Presto's bare VARCHAR cast → STRING; VARCHAR(n) survives
    assert(Criteria.rewrite("CAST(x AS VARCHAR) = 'varchar ok'")
      === "CAST(x AS STRING) = 'varchar ok'")
    assert(Criteria.rewrite("CAST(x AS VARCHAR(10)) = 'y'")
      === "CAST(x AS VARCHAR(10)) = 'y'")
  }

  test("Presto 6th tranche: mixed-case TRY_CAST, array_sort comparator " +
      "lambda, json_array_length, regexp_like — through criteria text") {
    val r = spark.sql(Criteria.rewrite(
      """SELECT Try_Cast('7' AS INTEGER) AS ok,
        |  TRY_CAST('x' AS INTEGER) AS bad,
        |  try_cast('8' AS INTEGER) AS lower_ok,
        |  array_join(array_sort(array('b', 'c', 'a'),
        |    (x, y) -> IF(x < y, 1, IF(x = y, 0, -1))), ',') AS des,
        |  json_array_length('[1,2,3]') AS jal,
        |  json_array_length('{"a":1}') AS jobj,
        |  json_array_length('not json') AS jbad,
        |  regexp_like('error-4xx', 'err.*xx$') AS rl
        |""".stripMargin)).head()
    assert(r.getInt(0) === 7)
    assert(r.isNullAt(1)) // TRY_CAST any casing → NULL, never ANSI throw
    assert(r.getInt(2) === 8)
    assert(r.getString(3) === "c,b,a") // comparator lambda honored
    assert(r.getInt(4) === 3)
    assert(r.isNullAt(5) && r.isNullAt(6)) // object / malformed → NULL
    assert(r.getBoolean(7))
    // these resolve to Spark BUILTINS — the dialect registers nothing
    // for identical-semantics names (no-shadow invariant), so the
    // rewrite must leave the tokens alone
    assert(Criteria.rewrite("json_array_length(x) > 1")
      === "json_array_length(x) > 1")
    assert(Criteria.rewrite("regexp_like(s, 'a+') AND array_sort(a)[1] = 2")
      === "regexp_like(s, 'a+') AND presto_element_at(array_sort(a), 1) = 2")
  }

  test("date_add('unit', n, ts) rewrites to timestampadd and evaluates") {
    assert(Criteria.rewrite("date_add('hour', 2, ts)")
      === "timestampadd(hour, 2, ts)")
    // negative amounts, literal preservation
    assert(Criteria.rewrite("date_add('minute', -90, ts) = 'date_add'")
      === "timestampadd(minute, -90, ts) = 'date_add'")
    val shifted = spark.sql("SELECT TIMESTAMP '2024-01-01 00:00:00' AS ts")
      .selectExpr(Criteria.rewrite("date_add('hour', 2, ts)") + " AS t")
      .head().getTimestamp(0)
    assert(shifted.toInstant ===
      java.time.Instant.parse("2024-01-01T02:00:00Z"))
  }

  test("qualified function references are never prefix-rewritten " +
      "(dotted prefix = resolves through a qualifier, not the registry)") {
    // bare call prefixes; the dotted twin stays verbatim
    assert(Criteria.rewrite("cat.split(x, ',') = split(x, ',')[1]")
      === "cat.split(x, ',') = presto_element_at(presto_split(x, ','), 1)")
    assert(Criteria.rewrite("db.schema.json_extract_scalar(j, '$.a') IS NULL")
      === "db.schema.json_extract_scalar(j, '$.a') IS NULL")
    assert(Criteria.rewrite("ns.TRY_CAST(x) = try_cast('1' AS INTEGER)")
      === "ns.TRY_CAST(x) = try_cast('1' AS INTEGER)")
  }

  test("seventh tranche: json_parse/json_format canonicalize, " +
      "at_timezone shifts fields, MAP(ARRAY, ARRAY) constructs") {
    val row = spark.sql("SELECT TIMESTAMP '2024-03-15 22:45:12' AS ts")
    // canonical compact text: whitespace dropped, field order kept
    assert(row.where(Criteria.toColumn(
      """json_format(json_parse(' { "b" : [1, 2],  "a" : "x" } '))
        | = '{"b":[1,2],"a":"x"}'""".stripMargin)).count() === 1)
    // malformed input is LOUD, the Presto contract
    val e = intercept[Exception] {
      row.select(Criteria.toColumn("json_parse('{oops') IS NULL")).collect()
    }
    assert(e.getMessage.contains("json_parse") ||
      Option(e.getCause).exists(_.getMessage.contains("json_parse")))
    // 22:45 UTC at +05:30 is 04:15 next day
    assert(row.where(Criteria.toColumn(
      "hour(at_timezone(ts, '+05:30')) = 4")).count() === 1)
    // region ids resolve with DST: 2024-03-15 is EDT (UTC−4)
    assert(row.where(Criteria.toColumn(
      "hour(at_timezone(ts, 'America/New_York')) = 18")).count() === 1)
    // MAP(keys_array, values_array) + zero-arg MAP()
    assert(row.where(Criteria.toColumn(
      "element_at(MAP(ARRAY['a','b'], ARRAY[1, 2]), 'b') = 2 AND " +
        "cardinality(MAP()) = 0")).count() === 1)
    // Presto's bare `map` token never claims Spark's variadic builtin
    // name session-wide: the builtin still takes k1, v1 pairs
    assert(spark.sql("SELECT map('x', 1)['x']").head().getInt(0) === 1)
  }

  test("eighth tranche: Presto regex defaults (group 0, NULL on miss, " +
      "2-arg replace deletes), array repeat, last_day_of_month") {
    val row = spark.sql(
      "SELECT 'click' AS s, TIMESTAMP '2024-02-10 09:00:00' AS ts")
    // 2-arg regexp_extract: WHOLE match (Spark's bare builtin would
    // silently give group 1 = 'c')
    assert(row.where(Criteria.toColumn(
      "regexp_extract(s, '([a-z])[a-z]+') = 'click'")).count() === 1)
    // explicit group passes through; no match is NULL, never ''
    assert(row.where(Criteria.toColumn(
      "regexp_extract(s, '([a-z])([a-z]+)$', 2) = 'lick' AND " +
        "regexp_extract(s, '[0-9]+') IS NULL")).count() === 1)
    // _all with group-0 default
    assert(row.where(Criteria.toColumn(
      "array_join(regexp_extract_all('a1b22c', '[0-9]+'), '-') = '1-22'"))
      .count() === 1)
    // 2-arg regexp_replace deletes every match (Spark requires arg 3)
    assert(row.where(Criteria.toColumn(
      "regexp_replace(s, '[aeiou]') = 'clck'")).count() === 1)
    // Presto repeat builds an ARRAY (Spark's repeat is string-repeat —
    // the builtin keeps its own semantics outside criteria)
    assert(row.where(Criteria.toColumn(
      "array_join(repeat(s, 2), '|') = 'click|click'")).count() === 1)
    assert(spark.sql("SELECT repeat('ab', 2)").head().getString(0) === "abab")
    // leap-year February month end
    assert(row.where(Criteria.toColumn(
      "last_day_of_month(ts) = DATE '2024-02-29'")).count() === 1)
  }

  test("ninth tranche: split_part NULL past the field count, format, " +
      "regexp_split, strrpos, from_base/to_base, IEEE predicates") {
    val row = spark.sql("SELECT 'purchase' AS s, 255L AS n")
    // 1-based literal-delimiter split; index past the fields is NULL
    // (Spark's bare builtin would return '')
    assert(row.where(Criteria.toColumn(
      "split_part('a.b.c', '.', 2) = 'b' AND " +
        "split_part('a.b.c', '.', 9) IS NULL")).count() === 1)
    // the Spark builtin keeps its own '' contract outside criteria
    assert(spark.sql("SELECT split_part('a.b.c', '.', 9)")
      .head().getString(0) === "")
    assert(row.where(Criteria.toColumn(
      "format('%s=%03d', s, 7) = 'purchase=007'")).count() === 1)
    // regex split (Presto's name for what Spark's split builtin does)
    assert(row.where(Criteria.toColumn(
      "array_join(regexp_split(s, '[aeiou]+'), '.') = 'p.rch.s.'"))
      .count() === 1)
    // last occurrence, 1-based; 0 when absent
    assert(row.where(Criteria.toColumn(
      "strrpos(s, 'e') = 8 AND strrpos(s, 'ur') = 2 AND " +
        "strrpos(s, 'z') = 0")).count() === 1)
    // radix round-trip; Presto renders lowercase digits
    assert(row.where(Criteria.toColumn(
      "to_base(n, 16) = 'ff' AND from_base('ff', 16) = 255 AND " +
        "from_base(to_base(0, 2), 2) = 0")).count() === 1)
    assert(row.where(Criteria.toColumn(
      "is_finite(1.5) AND NOT is_finite(1e308 * 10) AND " +
        "is_infinite(-1e308 * 10) AND is_nan(1e308*10 - 1e308*10) AND " +
        "NOT is_nan(0.0) AND is_finite(CAST(NULL AS DOUBLE)) IS NULL"))
      .count() === 1)
    // Presto is_nan(NULL) is NULL — Spark's IsNaN alone would give
    // false; the shim's explicit null gate is what this pins
    assert(row.where(Criteria.toColumn(
      "is_nan(CAST(NULL AS DOUBLE)) IS NULL AND " +
        "is_infinite(CAST(NULL AS DOUBLE)) IS NULL")).count() === 1)
  }

  test("seventh-tranche parity set needs no shim: map_filter / " +
      "map_zip_with / array_position / negative-start slice / " +
      "ISO date_trunc('week')") {
    val row = spark.sql("SELECT TIMESTAMP '2024-03-15 13:45:12' AS ts")
    assert(row.where(Criteria.toColumn(
      "cardinality(map_filter(MAP(ARRAY['a','b','c'], ARRAY[1, 2, 3]), " +
        "(k, v) -> v >= 2)) = 2")).count() === 1)
    assert(row.where(Criteria.toColumn(
      "element_at(map_zip_with(MAP(ARRAY['a'], ARRAY[10]), " +
        "MAP(ARRAY['a'], ARRAY[5]), (k, v1, v2) -> v1 + v2), 'a') = 15"))
      .count() === 1)
    // 1-based, 0 when absent — both engines
    assert(row.where(Criteria.toColumn(
      "array_position(ARRAY['x','y','z'], 'y') = 2 AND " +
        "array_position(ARRAY['x'], 'q') = 0")).count() === 1)
    // negative start counts from the end; length clips at the tail
    assert(row.where(Criteria.toColumn(
      "slice(ARRAY[10, 20, 30, 40], -3, 2) = ARRAY[20, 30] AND " +
        "slice(ARRAY[10, 20, 30, 40], -1, 2) = ARRAY[40]")).count() === 1)
    // 2024-03-15 is a Friday; ISO week truncation lands on Monday
    assert(row.where(Criteria.toColumn(
      "date_trunc('week', ts) = TIMESTAMP '2024-03-11 00:00:00'"))
      .count() === 1)
    // Presto's 4-arg reduce(array, init, inputFn, outputFn) IS
    // Spark's reduce builtin (the aggregate alias) — no shim; the
    // finish lambda applies after the fold on both engines
    assert(row.where(Criteria.toColumn(
      "reduce(ARRAY[1, 2, 3], 10, (s, x) -> s + x, s -> s * 2) = 32"))
      .count() === 1)
  }

  test("tenth tranche: width_bucket 4-arg + Presto array-bins form, " +
      "json_array_get with negative indexes, zip, and the parity set " +
      "(zip_with, 3-arg array_join, try)") {
    val row = spark.sql("SELECT 'purchase' AS s")
    // 4-arg equi-width form delegates to the builtin expression
    assert(row.where(Criteria.toColumn(
      "width_bucket(5.5, 0.0, 10.0, 5) = 3 AND " +
        "width_bucket(-1.0, 0.0, 10.0, 5) = 0 AND " +
        "width_bucket(11.0, 0.0, 10.0, 5) = 6")).count() === 1)
    // array-bins form: |{b in bins : b <= x}|, lower bound inclusive,
    // NULL in -> NULL out
    assert(row.where(Criteria.toColumn(
      "width_bucket(0.5, ARRAY[1.0, 2.0]) = 0 AND " +
        "width_bucket(1.0, ARRAY[1.0, 2.0]) = 1 AND " +
        "width_bucket(5.0, ARRAY[1.0, 2.0]) = 2 AND " +
        "width_bucket(CAST(NULL AS DOUBLE), ARRAY[1.0]) IS NULL"))
      .count() === 1)
    // json_array_get: Presto's broken-string quirk (scalar strings
    // unquoted), JSON text for nested values, negative from the end,
    // NULL out of range
    assert(row.where(Criteria.toColumn(
      """json_array_get('["a","b","c"]', 1) = 'b' AND
        |json_array_get('["a",[3,9],"c"]', 1) = '[3,9]' AND
        |json_array_get('["a","b"]', -1) = 'b' AND
        |json_array_get('["a"]', 5) IS NULL""".stripMargin))
      .count() === 1)
    // zip: element-wise rows, any arity up to Presto's 5
    val z = spark.sql(
      "SELECT zip(array(1, 2), array('a', 'b'), array(9, 8)) AS z")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(z.size === 2)
    assert(z(1).getInt(0) === 2 && z(1).getString(1) === "b" &&
      z(1).getInt(2) === 8)
    // parity set — no shim needed: zip_with, array_join's
    // null-replacement arg, and try around a failing ANSI cast
    assert(row.where(Criteria.toColumn(
      "array_join(zip_with(ARRAY['a','b'], ARRAY['1','2'], " +
        "(x, y) -> x || y), ',') = 'a1,b2'")).count() === 1)
    assert(row.where(Criteria.toColumn(
      "array_join(ARRAY['a', NULL, 'c'], ',', 'na') = 'a,na,c' AND " +
        "array_join(ARRAY['a', NULL, 'c'], ',') = 'a,c'")).count() === 1)
    assert(row.where(Criteria.toColumn(
      "try(CAST('nope' AS INTEGER)) IS NULL AND " +
        "try(CAST('7' AS INTEGER)) = 7")).count() === 1)
  }

  test("eleventh tranche: levenshtein_distance, to_hex/from_hex, " +
      "codepoint, truncate toward zero, infinity()/nan(), ngrams") {
    val row = spark.sql("SELECT 'purchase' AS s")
    assert(row.where(Criteria.toColumn(
      "levenshtein_distance('kitten', 'sitting') = 3 AND " +
        "levenshtein_distance(s, s) = 0")).count() === 1)
    // hex round-trip; Spark's hex and Presto's to_hex both uppercase
    assert(row.where(Criteria.toColumn(
      "to_hex(CAST('MZ' AS VARBINARY)) = '4D5A' AND " +
        "CAST(from_hex('4D5A') AS VARCHAR) = 'MZ'")).count() === 1)
    assert(row.where(Criteria.toColumn(
      "codepoint('A') = 65 AND codepoint('€') = 8364")).count() === 1)
    // toward zero on both signs; infinities pass through; NaN stays
    assert(row.where(Criteria.toColumn(
      "truncate(2.7) = 2.0 AND truncate(-2.7) = -2.0 AND " +
        "truncate(infinity()) = infinity() AND " +
        "is_nan(truncate(nan()))")).count() === 1)
    // ngrams: n-length windows; shorter-than-n input clamps to ONE
    // truncated gram (Presto's contract, pinned on the 5th-tranche
    // registration this suite shares)
    assert(row.where(Criteria.toColumn(
      "ngrams(ARRAY[1, 2, 3, 4], 2) = " +
        "ARRAY[ARRAY[1,2], ARRAY[2,3], ARRAY[3,4]] AND " +
        "ngrams(ARRAY[1, 2], 3) = ARRAY[ARRAY[1, 2]]")).count() === 1)
  }

  test("twelfth tranche: url_extract_* family — host without port, " +
      "NULL absent components, per-name parameter, numeric port") {
    val row = spark.sql(
      "SELECT 'https://u@Ex.com:8443/a/b?x=1&y=2#frag' AS u")
    assert(row.where(Criteria.toColumn(
      "url_extract_protocol(u) = 'https' AND " +
        "url_extract_host(u) = 'Ex.com' AND " +
        "url_extract_path(u) = '/a/b' AND " +
        "url_extract_query(u) = 'x=1&y=2' AND " +
        "url_extract_fragment(u) = 'frag' AND " +
        "url_extract_parameter(u, 'y') = '2' AND " +
        "url_extract_port(u) = 8443")).count() === 1)
    assert(row.where(Criteria.toColumn(
      "url_extract_query('https://ex.com/p') IS NULL AND " +
        "url_extract_fragment('https://ex.com/p') IS NULL AND " +
        "url_extract_port('https://ex.com/p') IS NULL AND " +
        "url_extract_parameter('https://ex.com/p?x=1', 'z') IS NULL"))
      .count() === 1)
  }

  test("thirteenth tranche: from_iso8601_date, cosine_similarity " +
      "(sparse maps), geometric_mean / histogram / multimap_agg " +
      "aggregates, and transform_keys/values parity") {
    val row = spark.sql("SELECT 1 AS one")
    // Trino find_first composes from registered names instead of a
    // shim (lambda parents must be HOFs — see the tranche comment)
    assert(row.where(Criteria.toColumn(
      "element_at(filter(ARRAY[3, 8, 12, 9], x -> x > 5), 1) = 8"))
      .count() === 1)
    assert(row.where(Criteria.toColumn(
      "from_iso8601_date('2024-03-15') = DATE '2024-03-15' AND " +
        "from_iso8601_date('nope') IS NULL")).count() === 1)
    // sparse cosine: ({a:1, b:2}, {a:3, c:4}) → 3/(√5·√25) = 0.26833
    assert(row.where(Criteria.toColumn(
      "abs(cosine_similarity(MAP(ARRAY['a','b'], ARRAY[1D, 2D]), " +
        "MAP(ARRAY['a','c'], ARRAY[3D, 4D])) - 0.2683281573) < 1e-9 AND " +
        "isnan(cosine_similarity(MAP(ARRAY['a'], ARRAY[0D]), " +
        "MAP(ARRAY['a'], ARRAY[1D])))")).count() === 1)
    // builtin-parity set (no shim, per the no-shadow invariant):
    // transform_keys / transform_values — Presto's two-arg lambda
    // forms are the Spark builtins verbatim
    assert(row.where(Criteria.toColumn(
      "element_at(transform_keys(MAP(ARRAY['a'], ARRAY[5]), " +
        "(k, v) -> upper(k)), 'A') = 5 AND " +
        "element_at(transform_values(MAP(ARRAY['a'], ARRAY[5]), " +
        "(k, v) -> v * 2), 'a') = 10")).count() === 1)
    // aggregates over a 6-row frame: geometric_mean of (2, 4, 8) = 4;
    // histogram and multimap_agg regroup per key deterministically
    val agg = spark.sql(Criteria.rewrite(
      """SELECT geometric_mean(x) AS gm, histogram(k) AS h,
        |  multimap_agg(k, x) AS mm
        |FROM VALUES ('a', 2D), ('a', 4D), ('a', 8D),
        |  ('b', 2D), ('b', 2D), ('c', 5D) AS t(k, x)""".stripMargin))
      .head()
    assert(math.abs(agg.getDouble(0) -
      math.pow(2 * 4 * 8 * 2 * 2 * 5, 1.0 / 6)) < 1e-9)
    assert(agg.getMap[String, Long](1).toMap ===
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    val mm = agg.getMap[String, scala.collection.Seq[Double]](2).toMap
      .map { case (k, v) => k -> v.toSeq }
    assert(mm === Map("a" -> Seq(2.0, 4.0, 8.0), "b" -> Seq(2.0, 2.0),
      "c" -> Seq(5.0)))
  }

  test("histogram / multimap_agg one-pass aggregates: shim-parity " +
      "entry order (keys ascending, values ascending nulls-first), " +
      "null-input skip vs null-key rejection, distributed merge") {
    // distributed: 200 rows over 8 partitions force partial buffers
    // to serialize, shuffle, and merge — the TypedImperativeAggregate
    // round-trip the old regroup shim never exercised
    spark.range(200).repartition(8)
      .selectExpr("CAST(id % 7 AS STRING) AS k", "id % 13 AS x",
        "CASE WHEN id % 11 = 0 THEN NULL ELSE id % 5 END AS v")
      .createOrReplaceTempView("mapagg_t")
    val r = spark.sql(Criteria.rewrite(
      """SELECT histogram(k) AS h, multimap_agg(k, v) AS mm,
        |  histogram(CASE WHEN x < 6 THEN k END) AS hn,
        |  map_keys(histogram(k)) AS hk,
        |  map_keys(multimap_agg(k, v)) AS mmk
        |FROM mapagg_t""".stripMargin)).head()
    // exact counts: id%7 over 0..199 → keys '0'..'6'
    val h = r.getMap[String, Long](0)
    assert(h.toMap === (0 until 7).map(i =>
      i.toString -> (if (i < 200 % 7) 29L else 28L)).toMap)
    // entry order is key-ASCENDING (the sorted-collect shim's order) —
    // asserted through map_keys (Row.getMap rehashes and drops order)
    assert(r.getSeq[String](3) === (0 until 7).map(_.toString))
    assert(r.getSeq[String](4) === (0 until 7).map(_.toString))
    // histogram SKIPS null inputs (the CASE erases x >= 6 rows)
    val hn = r.getMap[String, Long](2).toMap
    assert(hn.values.sum ===
      (0 until 200).count(i => i % 13 < 6).toLong)
    // multimap value arrays: ascending with nulls FIRST (struct-sort
    // parity); every key holds exactly its row count
    val mm = r.getMap[String, scala.collection.Seq[Any]](1)
    (0 until 7).foreach { i =>
      val expect = (0 until 200).filter(_ % 7 == i)
        .map(id => if (id % 11 == 0) null else java.lang.Long.valueOf(id % 5))
      val sorted = expect.sortWith {
        case (null, null) => false
        case (null, _) => true
        case (_, null) => false
        case (a, b) => a.longValue < b.longValue
      }
      assert(mm(i.toString).toSeq === sorted, s"key $i")
    }
    // empty input → empty map (MapFromEntries-over-empty parity)
    val empty = spark.sql(Criteria.rewrite(
      "SELECT histogram(k) AS h FROM mapagg_t WHERE k = 'nope'")).head()
    assert(empty.getMap[String, Long](0).isEmpty)
    // null map KEY rejects loudly (Presto: map key cannot be null)
    val err = intercept[Exception] {
      spark.sql(Criteria.rewrite(
        "SELECT multimap_agg(CASE WHEN k = '3' THEN NULL ELSE k END, x) " +
          "FROM mapagg_t")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("map key cannot be null")))
  }

  test("reduce_agg: Presto fold contracts — null inputs skipped, " +
      "struct state survives the distributed serialize/merge " +
      "round-trip, and contract violations fail TYPED at analysis") {
    // 8 partitions force partial-state serialization and combineFn
    // merges — the path a single-partition test never exercises
    spark.range(200).repartition(8)
      .selectExpr("id", "CASE WHEN id % 7 = 0 THEN NULL ELSE id END AS v")
      .createOrReplaceTempView("ra_t")
    val r = spark.sql(Criteria.rewrite(
      """SELECT
        |  reduce_agg(v, CAST(0 AS BIGINT),
        |    (s, x) -> s + x, (a, b) -> a + b) AS s,
        |  reduce_agg(v, CAST(-1 AS BIGINT),
        |    (s, x) -> CASE WHEN s >= x THEN s ELSE x END,
        |    (a, b) -> CASE WHEN a >= b THEN a ELSE b END) AS mx,
        |  reduce_agg(v, named_struct('s', CAST(0 AS BIGINT),
        |      'c', CAST(0 AS BIGINT)),
        |    (s, x) -> named_struct('s', s.s + x, 'c', s.c + 1),
        |    (a, b) -> named_struct('s', a.s + b.s, 'c', a.c + b.c)) AS sc
        |FROM ra_t""".stripMargin)).head()
    val expectSum = (0L until 200L).filter(_ % 7 != 0).sum
    val expectCnt = (0L until 200L).count(_ % 7 != 0).toLong
    assert(r.getLong(0) === expectSum) // nulls skipped, not summed
    assert(r.getLong(1) === 199L)
    val sc = r.getStruct(2)
    assert(sc.getLong(0) === expectSum)
    assert(sc.getLong(1) === expectCnt)
    // empty input → the initial state, untouched
    val empty = spark.sql(Criteria.rewrite(
      """SELECT reduce_agg(v, CAST(42 AS BIGINT),
        |  (s, x) -> s + x, (a, b) -> a + b) AS s
        |FROM ra_t WHERE id < 0""".stripMargin)).head()
    assert(empty.getLong(0) === 42L)
    // typed analysis failures: non-constant initial state; a lambda
    // capturing a column (undefined at merge time)
    import org.apache.spark.sql.AnalysisException
    val e1 = intercept[AnalysisException] {
      spark.sql(Criteria.rewrite(
        "SELECT reduce_agg(v, id, (s, x) -> s + x, (a, b) -> a + b) " +
          "FROM ra_t")).collect()
    }
    assert(e1.getMessage.contains("constant"))
    val e2 = intercept[AnalysisException] {
      spark.sql(Criteria.rewrite(
        "SELECT reduce_agg(v, CAST(0 AS BIGINT), (s, x) -> s + x + id, " +
          "(a, b) -> a + b) FROM ra_t")).collect()
    }
    assert(e2.getMessage.contains("lambda"))
  }

  test("histogram / multimap_agg float keys use SQL equality: -0.0 " +
      "and 0.0 land in ONE bucket (boxed JVM equality would split " +
      "them), top-level and nested, single-partition and merged") {
    // coalesce(1): the single-partition path never serializes the
    // buffer, so a missed normalization in update() shows up HERE
    // (the UnsafeProjection round-trip can mask it on shuffled paths)
    spark.range(8).coalesce(1)
      .selectExpr(
        "CASE WHEN id % 2 = 0 THEN -0.0D ELSE 0.0D END AS k",
        "CAST(id AS DOUBLE) AS x")
      .createOrReplaceTempView("negzero_t")
    val one = spark.sql(Criteria.rewrite(
      """SELECT histogram(k) AS h, multimap_agg(k, x) AS mm,
        |  histogram(named_struct('a', k)) AS hs,
        |  histogram(array(k)) AS ha
        |FROM negzero_t""".stripMargin)).head()
    assert(one.getMap[Double, Long](0).toMap === Map(0.0 -> 8L),
      "-0.0 and 0.0 split the histogram key")
    assert(one.getMap[Double, scala.collection.Seq[Double]](1)
      .toMap.view.mapValues(_.sorted.toSeq).toMap ===
      Map(0.0 -> (0 until 8).map(_.toDouble)),
      "-0.0 and 0.0 split the multimap key")
    assert(one.getMap[org.apache.spark.sql.Row, Long](2).size === 1,
      "-0.0 inside a struct key escaped normalization")
    assert(one.getMap[scala.collection.Seq[Double], Long](3).size === 1,
      "-0.0 inside an array key escaped normalization")
    // distributed: partial buffers serialize + merge across 8 tasks
    spark.range(64).repartition(8)
      .selectExpr("CASE WHEN id % 2 = 0 THEN -0.0D ELSE 0.0D END AS k")
      .createOrReplaceTempView("negzero_d")
    val h = spark.sql(Criteria.rewrite(
      "SELECT histogram(k) AS h FROM negzero_d")).head()
      .getMap[Double, Long](0).toMap
    assert(h === Map(0.0 -> 64L))
  }

  test("toColumn registers the dialect once per session, in that session") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    // the session build registers the dialect; toColumn itself is pure
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    assert(registry.functionExists(FunctionIdentifier("presto_element_at")))
    SparkSession.setActiveSession(fresh)
    try {
      // the rewritten subscript resolves to presto_element_at (NULL out
      // of range) in the session the column runs in
      val oob = Criteria.toColumn("element_at(array(1, 2), 5) IS NULL")
      assert(fresh.range(1).where(oob).count() === 1)
      // a later call must not register again: a replaced shim survives
      registry.createOrReplaceTempFunction("presto_element_at",
        _ => Literal(7), "built-in")
      Criteria.toColumn("strpos('abc', 'b') = 2")
      assert(fresh.range(1).selectExpr("presto_element_at(array(1), 1)")
        .head().getInt(0) === 7)
    } finally SparkSession.setActiveSession(spark)
  }
}

