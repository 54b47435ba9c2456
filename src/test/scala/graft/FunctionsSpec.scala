package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{EventPlugin, Plugins}
import graft.functions.Functions
import graft.model.AlertDoc
import graft.model.AlertDoc.Doc
import graft.sources.Ingest

class FunctionsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** Presto-dialect SQL: the builtin-colliding shim names (split,
    * date_format, element_at, …) register as presto_<name> under the
    * no-shadow invariant, and Criteria.rewrite maps the bare tokens —
    * so dialect tests run the exact path wild criteria take.
    */
  private def psql(q: String) = spark.sql(graft.criteria.Criteria.rewrite(q))

  test("json_extract_scalar registered as native Catalyst function") {
    val r = spark.sql(
      """SELECT json_extract_scalar('{"a":{"b":"x"}}', '$.a.b') AS v""").head()
    assert(r.getString(0) === "x")
    // unrewritten Presto criteria parses directly once registered
    val df = Seq(("""{"eventname":"ConsoleLogin"}""", "cloudtrail")).toDF("details", "source")
    assert(df.where("source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'ConsoleLogin'")
      .count() === 1)
  }

  test("strpos and json_extract registered with Presto argument order") {
    val r = spark.sql(
      """SELECT strpos('hello world', 'world') AS p,
        |  json_extract('{"a":{"b":1}}', '$.a') AS j""".stripMargin).head()
    assert(r.getInt(0) === 7)          // Presto: strpos(string, substring)
    assert(r.getString(1) === """{"b":1}""")
  }

  test("contains registered with Presto array semantics") {
    val r = psql(
      """SELECT contains(array('a','b'), 'b') AS c1,
        |  contains(array('a','b'), 'z') AS c2""".stripMargin).head()
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
  }

  test("element_at / cardinality / from_iso8601_timestamp: Presto semantics") {
    val r = psql(
      """SELECT element_at(array(10, 20), 2) AS a,
        |       element_at(array(10, 20), 5) AS oob,
        |       element_at(MAP(ARRAY['k'], ARRAY['v']), 'missing') AS nokey,
        |       cardinality(array(1, 2, 3)) AS n,
        |       cardinality(CAST(NULL AS ARRAY<INT>)) AS nnull,
        |       from_iso8601_timestamp('2024-01-01T02:16:06+02:00') AS t
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) === 20)
    assert(r.isNullAt(1)) // out of bounds → NULL, never an ANSI error
    assert(r.isNullAt(2))
    assert(r.getInt(3) === 3)
    assert(r.isNullAt(4)) // Presto null-in null-out, not legacy -1
    assert(r.getTimestamp(5).toInstant ===
      java.time.Instant.parse("2024-01-01T00:16:06Z"))
  }

  test("codepoint and Presto 4-arg reduce lambda parse through the registry") {
    val r = spark.sql(
      """SELECT codepoint('a') AS cp,
        |       reduce(transform(split('abc', ''), c -> codepoint(c)),
        |              0, (acc, x) -> acc + x, acc -> acc) AS folded,
        |       split_part('error', 'r', 1) AS pre_r,
        |       array_join(transform(slice(split('abc', ''), 1, 2),
        |                            c -> upper(c)), '.') AS first2
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) === 97)
    assert(r.getInt(1) === 97 + 98 + 99)
    assert(r.getString(2) === "e")
    assert(r.getString(3) === "A.B")
  }

  test("Presto URL/map/time surface: extractors, split_to_map, unixtime") {
    val r = psql(
      """SELECT url_extract_host('https://ex.com:8080/a/b?u=7&x=1') AS h,
        |       url_extract_path('https://ex.com/a/b?u=7') AS p,
        |       url_extract_parameter('https://ex.com/a?u=7&u=8&x=1', 'u') AS u,
        |       url_extract_parameter('https://ex.com/a?x=1', 'u') AS missing,
        |       url_extract_host('%%% not a url') AS bad,
        |       element_at(split_to_map('a=1,b=2', ',', '='), 'b') AS b,
        |       to_unixtime(timestamp'2024-01-05 13:00:00.123456') AS s,
        |       to_iso8601(timestamp'2024-01-05 13:00:00.1234') AS iso
        |""".stripMargin).head()
    assert(r.getString(0) === "ex.com")
    assert(r.getString(1) === "/a/b")
    assert(r.getString(2) === "7") // FIRST value wins, Presto contract
    assert(r.isNullAt(3) && r.isNullAt(4))
    assert(r.getString(5) === "2")
    assert(r.getDouble(6) === 1704459600.123456)
    assert(r.getString(7) === "2024-01-05T13:00:00.123")
  }

  test("Presto regexp_like / json_size parse through the registry") {
    val r = spark.sql(
      """SELECT regexp_like('error-4xx', 'err.*xx$') AS hit,
        |       regexp_like('ok', 'err') AS miss,
        |       json_size('{"a":{"x":1,"y":2},"b":[1,2,3],"c":7}', '$.a') AS obj,
        |       json_size('{"b":[1,2,3]}', '$.b') AS arr,
        |       json_size('{"c":7}', '$.c') AS scalar,
        |       json_size('{"c":7}', '$') AS root,
        |       json_size('{"c":7}', '$.missing') AS absent,
        |       json_size('not json', '$.a') AS bad,
        |       json_size('{"a":[{"k":1,"j":2}]}', '$.a[0]') AS idx
        |""".stripMargin).head()
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getInt(2) === 2)
    assert(r.getInt(3) === 3)
    assert(r.getInt(4) === 0)
    assert(r.getInt(5) === 1)
    assert(r.isNullAt(6) && r.isNullAt(7))
    assert(r.getInt(8) === 2)
  }

  test("json_size evaluates executor-side inside a criteria predicate") {
    // The r05 regression: the UDF closure captured non-serializable
    // Functions$ and threw on any executor-side eval. Pin the fix by
    // forcing a real distributed evaluation over a DataFrame filter —
    // the shape a wild criteria like `json_size(details, '$.tags') > 1`
    // takes (alerts/an_alert.yml:5's json-predicate style).
    import spark.implicits._
    val df = Seq(
      ("e1", """{"tags":["a","b"],"sev":3}"""),
      ("e2", """{"tags":["a"],"sev":1}"""),
      ("e3", """not json"""),
      ("e4", """{"tags":[],"sev":9}"""))
      .toDF("event_id", "details").repartition(4)
    df.createOrReplaceTempView("t_js_exec")
    val hits = spark.sql(
      """SELECT event_id FROM t_js_exec
        |WHERE json_size(details, '$.tags') > 1""".stripMargin)
      .collect().map(_.getString(0)).sorted
    assert(hits === Array("e1"))
    // malformed array index in the path → NULL, never a task failure
    val r = spark.sql(
      "SELECT json_size('{\"a\":[1,2]}', '$.a[x]') AS bad_idx").head()
    assert(r.isNullAt(0))
  }

  test("array_agg retains NULLs; map_agg tolerates duplicate keys") {
    import spark.implicits._
    Seq((1L, "a", Some(10L)), (1L, "a", Some(99L)), (1L, "b", None))
      .toDF("g", "k", "v").createOrReplaceTempView("t_agg_presto")
    val r = psql(
      """SELECT size(array_agg(v)) AS n_with_null,
        |       map_agg(k, v) AS m
        |FROM t_agg_presto GROUP BY g""".stripMargin).head()
    // Presto array_agg keeps the NULL element (CollectList would drop it)
    assert(r.getInt(0) === 3)
    // duplicate key 'a' must not throw under mapKeyDedupPolicy=EXCEPTION;
    // one deterministic value survives (first in sorted entry order)
    val m = r.getMap[String, Any](1)
    assert(m.keySet === Set("a", "b"))
    assert(m("a") === 10L)
  }

  test("Presto approx_distinct / approx_percentile / arbitrary " +
      "aggregate through the registry") {
    import spark.implicits._
    (1 to 100).map(i => (i % 5, i.toDouble))
      .toDF("g", "v").createOrReplaceTempView("t_approx")
    val r = spark.sql(
      """SELECT approx_distinct(g) AS nd,
        |       approx_percentile(v, 0.5) AS p50,
        |       arbitrary(g) AS anyg
        |FROM t_approx""".stripMargin).head()
    // HLL++ is exact at cardinality 5
    assert(r.getLong(0) === 5L)
    assert(r.getDouble(1) >= 40.0 && r.getDouble(1) <= 60.0)
    assert((0 to 4).contains(r.getInt(2)))
  }

  test("Presto array_agg / map_agg aggregate through the registry") {
    import spark.implicits._
    Seq((1L, "a", 10L), (1L, "b", 20L), (2L, "c", 30L))
      .toDF("g", "k", "v").createOrReplaceTempView("t_agg")
    val rows = psql(
      """SELECT g, sort_array(array_agg(v)) AS vs,
        |       element_at(map_agg(k, v), 'b') AS kb
        |FROM t_agg GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows(0).getSeq[Long](1) === Seq(10L, 20L))
    assert(rows(0).getLong(2) === 20L)
    assert(rows(1).getSeq[Long](1) === Seq(30L))
    assert(rows(1).isNullAt(2))
  }

  test("Presto TRY(expr): runtime errors become NULL; success passes " +
      "through; reduce/transform carry Presto's lambda arg order") {
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val r = psql(
        """SELECT TRY(1 / 0) AS div0,
          |       TRY(CAST('nope' AS INT)) AS badcast,
          |       TRY(CAST('7' AS INT)) AS ok,
          |       TRY(element_at(array(1, 2), 9) + 1) AS oob,
          |       reduce(array(1, 2, 3), 0, (s, x) -> s + x, s -> s * 10) AS red,
          |       element_at(transform(array(1, 2, 3), x -> x * x), 1) AS sq1
          |""".stripMargin).head()
      assert(r.isNullAt(0) && r.isNullAt(1))
      assert(r.getInt(2) === 7)
      assert(r.isNullAt(3)) // registered element_at is NULL-on-OOB; +1 keeps NULL
      assert(r.getInt(4) === 60) // ((0+1+2+3) finished by *10) — Presto arg order
      assert(r.getInt(5) === 1) // transform preserves order; element_at 1-based
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("Presto 4th-tranche registry: lambda matchers, starts_with, " +
      "levenshtein_distance, dow/doy/week, from_unixtime TIMESTAMP, " +
      "bitwise forms, to_hex(sha256(to_utf8()))") {
    val r = psql(
      """SELECT any_match(array(1, 5), x -> x > 4) AS am,
        |       all_match(array(1, 5), x -> x > 0) AS alm,
        |       none_match(array(1, 5), x -> x > 9) AS nm,
        |       starts_with('clickstream', 'click') AS sw,
        |       levenshtein_distance('kitten', 'sitting') AS lev,
        |       dow(TIMESTAMP '2024-01-01 00:00:00') AS mon,
        |       doy(TIMESTAMP '2024-02-01 00:00:00') AS d32,
        |       week(TIMESTAMP '2024-01-04 00:00:00') AS w1,
        |       from_unixtime(3600) AS t1,
        |       bitwise_and(12, 10) AS ba,
        |       bitwise_or(12, 10) AS bo,
        |       bitwise_xor(12, 10) AS bx,
        |       to_hex(sha256(to_utf8('abc'))) AS h,
        |       from_utf8(to_utf8('roundtrip')) AS rt,
        |       length(sha256(to_utf8('abc'))) AS hlen
        |""".stripMargin).head()
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2)
      && r.getBoolean(3))
    assert(r.getInt(4) === 3)
    assert(r.getInt(5) === 1) // 2024-01-01 is a Monday → ISO dow 1
    assert(r.getInt(6) === 32)
    assert(r.getInt(7) === 1)
    assert(r.getTimestamp(8).toInstant
      === java.time.Instant.parse("1970-01-01T01:00:00Z"))
    assert(r.getInt(9) === 8 && r.getInt(10) === 14 && r.getInt(11) === 6)
    // NIST SHA-256("abc") test vector, Presto's uppercase to_hex form
    assert(r.getString(12) ===
      "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD")
    assert(r.getString(13) === "roundtrip")
    assert(r.getInt(14) === 32) // sha256 is a real 32-byte VARBINARY
  }

  test("Presto day_of_week is ISO: Monday=1, Sunday=7") {
    // 2024-01-01 is a Monday; 2024-01-07 a Sunday
    val r = spark.sql(
      """SELECT day_of_week(date'2024-01-01') AS mon,
        |       day_of_week(date'2024-01-07') AS sun,
        |       day_of_year(date'2024-02-01') AS doy,
        |       week_of_year(date'2024-01-04') AS woy""".stripMargin).head()
    assert(r.getInt(0) === 1 && r.getInt(1) === 7)
    assert(r.getInt(2) === 32)
    assert(r.getInt(3) === 1)
  }

  test("Presto 5th-tranche registry: literal split, MySQL-token " +
      "date_format/date_parse, ngrams, map_concat last-wins, " +
      "normalize, hamming_distance, url_encode/url_decode") {
    val r = psql(
      """SELECT split('a.b.c', '.') AS sp,
        |       split('a,b,c,d', ',', 2) AS sp2,
        |       split('a,,b,,', ',') AS spe,
        |       date_format(TIMESTAMP '2024-03-05 07:09:02',
        |         '%Y-%m-%dT%H:%i:%s') AS df,
        |       date_format(TIMESTAMP '2024-03-05 07:09:02',
        |         '%e %b %Y %l %p') AS dfw,
        |       date_parse('2024-03-05 07:09:02',
        |         '%Y-%m-%d %H:%i:%s') AS dp,
        |       format_datetime(TIMESTAMP '2024-03-05 07:09:02',
        |         'yyyy-MM-dd HH:mm') AS fdt,
        |       parse_datetime('2024-03-05 07:09',
        |         'yyyy-MM-dd HH:mm') AS pdt,
        |       ngrams(array('a', 'b', 'c', 'd'), 2) AS ng,
        |       ngrams(array('a', 'b'), 3) AS ngshort,
        |       map_concat(MAP(ARRAY['a', 'b'], ARRAY[1, 2]),
        |         MAP(ARRAY['b', 'c'], ARRAY[9, 3])) AS mc,
        |       hamming_distance('karolin', 'kathrin') AS hd,
        |       url_encode('a b&c') AS ue,
        |       url_decode('a+b%26c') AS ud
        |""".stripMargin).head()
    // literal-delimiter split: '.' splits on dots, never regex-any
    assert(r.getSeq[String](0) === Seq("a", "b", "c"))
    assert(r.getSeq[String](1) === Seq("a", "b,c,d")) // limit keeps rest
    assert(r.getSeq[String](2) === Seq("a", "", "b", "", "")) // trailing kept
    assert(r.getString(3) === "2024-03-05T07:09:02") // literal T survives
    assert(r.getString(4) === "5 Mar 2024 7 AM")
    assert(r.getTimestamp(5).toLocalDateTime
      === java.time.LocalDateTime.of(2024, 3, 5, 7, 9, 2))
    assert(r.getString(6) === "2024-03-05 07:09")
    assert(r.getTimestamp(7).toLocalDateTime
      === java.time.LocalDateTime.of(2024, 3, 5, 7, 9, 0))
    assert(r.getSeq[Seq[String]](8)
      === Seq(Seq("a", "b"), Seq("b", "c"), Seq("c", "d")))
    assert(r.getSeq[Seq[String]](9) === Seq(Seq("a", "b"))) // short input
    assert(r.getMap[String, Int](10) === Map("a" -> 1, "b" -> 9, "c" -> 3))
    assert(r.getLong(11) === 3L)
    assert(r.getString(12) === "a+b%26c")
    assert(r.getString(13) === "a b&c")
  }

  test("Presto normalize composes combining marks (NFC)") {
    import spark.implicits._
    // decomposed e + U+0301 COMBINING ACUTE → composed U+00E9
    val decomposed = "e" + 0x0301.toChar
    val composed = String.valueOf(0x00e9.toChar)
    val r = Seq(Tuple1(decomposed)).toDF("s")
      .selectExpr("normalize(s) AS n", "length(normalize(s)) AS l")
      .head()
    assert(r.getString(0) === composed)
    assert(r.getInt(1) === 1)
  }

  test("registered split keeps Spark's char-split for '' and regex " +
      "reading for non-literal delimiters") {
    val r = psql(
      """SELECT split('ab', '') AS chars,
        |       split('axxb', concat('x', 'x')) AS nonlit""".stripMargin).head()
    assert(r.getSeq[String](0) === Seq("a", "b"))
    // concat('x','x') is foldable but not a parse-time literal — the
    // builder sees the unresolved call and falls back to regex
    // semantics; 'xx' has no metacharacters so both dialects agree
    assert(r.getSeq[String](1) === Seq("a", "b"))
  }

  test("mysqlFormatToJava quotes literal runs and honors %%") {
    assert(Functions.mysqlFormatToJava("%Y-%m-%dT%H:%i:%s")
      === "yyyy'-'MM'-'dd'T'HH':'mm':'ss")
    assert(Functions.mysqlFormatToJava("%H%%on %W") === "HH'%on 'EEEE")
    assert(Functions.mysqlFormatToJava("at %T sharp")
      === "'at 'HH:mm:ss' sharp'")
    // unknown token: percent dropped, letter kept literal (MySQL)
    assert(Functions.mysqlFormatToJava("%Q%d") === "'Q'dd")
  }

  test("to_utc UDF coerces epochs of any magnitude") {
    val r = spark.sql("SELECT to_utc('1704068166000') AS t").head()
    assert(r.getTimestamp(0).toInstant === java.time.Instant.parse("2024-01-01T00:16:06Z"))
  }

  test("IP validators (utils/helpers.py:44-74)") {
    assert(Functions.isIPv4("10.1.2.3"))
    assert(Functions.isIPv4("10.0.0.0/8"))
    assert(!Functions.isIPv4("10.1.2.256"))
    assert(!Functions.isIPv4("10.1.2"))
    assert(Functions.isIPv6("::1"))
    assert(Functions.isIPv6("2001:db8::/32"))
    assert(!Functions.isIPv6("example.com"))
    assert(Functions.isIp("10.1.2.3") && Functions.isIp("::1"))
    assert(!Functions.isIp("hostname"))
  }

  test("json block tokenizer splits concatenated objects (S13)") {
    val blob = """{"a":1}{"b":{"c":"}{"}}{"d":[1,2]}"""
    val blocks = Ingest.splitJsonBlocks(blob)
    assert(blocks === Seq("""{"a":1}""", """{"b":{"c":"}{"}}""", """{"d":[1,2]}"""))
    val df = Ingest.jsonBlocks(Seq(blob).toDS).collect()
    assert(df.length === 3)
  }

  test("json block tokenizer: malformed tails drop, inter-block noise ignored") {
    // a truncated trailing object never emits (no partial JSON downstream)
    assert(Ingest.splitJsonBlocks("""{"a":1}{"b":""") === Seq("""{"a":1}"""))
    // noise between blocks (newlines, commas, log prefixes) is skipped
    assert(Ingest.splitJsonBlocks("junk {\"a\":1}\n,,{\"b\":2} trailing")
      === Seq("""{"a":1}""", """{"b":2}"""))
    // braces inside strings (incl. escapes) don't fool the balance
    assert(Ingest.splitJsonBlocks("""{"s":"}{\"{"}""") === Seq("""{"s":"}{\"{"}"""))
  }

  test("isCloudtrailFile matches <digits>_cloudtrail_*.json.gz " +
      "case-insensitively (utils/helpers.py:39-41)") {
    val dir = tempDir("graft-ct")
    def write(name: String, gz: Boolean): Unit = {
      val f = new java.io.FileOutputStream(dir.resolve(name).toFile)
      val out =
        if (gz) new java.util.zip.GZIPOutputStream(f) else f
      try out.write("{\"a\":1}\n".getBytes("UTF-8")) finally out.close()
    }
    write("123_CloudTrail_x.json.gz", gz = true)
    write("123_cloudtrail_x.json", gz = false)
    write("foo.json.gz", gz = true)
    val got = spark.read.json(dir.toString)
      .select(org.apache.spark.sql.functions.input_file_name(),
        Ingest.isCloudtrailFile)
      .collect()
      .map(r => r.getString(0).split('/').last -> r.getBoolean(1)).toMap
    assert(got === Map("123_CloudTrail_x.json.gz" -> true,
      "123_cloudtrail_x.json" -> false, "foo.json.gz" -> false))
  }

  test("warcRecords: concatenated WARC records explode with headers " +
      "parsed case-insensitively, CRLF tolerated, payload trimmed") {
    val body =
      "WARC/1.0\r\nWARC-Type: request\r\n" +
        "WARC-Target-URI: https://ex.com/a\r\nContent-Length: 5\r\n\r\n" +
        "GET /\r\n\r\n" +
        "WARC/1.0\nwarc-type: response\n" +
        "WARC-TARGET-URI: https://ex.com/a\ncontent-length: 11\n\n" +
        "doc about a\n\n" +
        "WARC/1.0\nWARC-Type: metadata\nContent-Length: oops\n\nx\n\n"
    val df = Seq((7L, body)).toDF("doc_id", "body")
    val r = Ingest.warcRecords(df).orderBy("rec_idx").collect()
      .map(x => (x.getInt(1), x.getString(2), x.getString(3),
        if (x.isNullAt(4)) -1L else x.getLong(4), x.getString(5)))
    assert(r.toSeq === Seq(
      (0, "request", "https://ex.com/a", 5L, "GET /"),
      (1, "response", "https://ex.com/a", 11L, "doc about a"),
      // malformed length drops to NULL (try_cast), URI header absent
      (2, "metadata", null, -1L, "x")))
    // trailing spaces after a header value never reach the column:
    // 'WARC-Type: response  ' must route as 'response'
    val padded = "WARC/1.0\nWARC-Type: response  \n" +
      "WARC-Target-URI: https://ex.com/b \n\np\n\n"
    val pr = Ingest.warcRecords(Seq((8L, padded)).toDF("doc_id", "body"))
      .collect()
    assert(pr.length === 1 && pr(0).getString(2) === "response" &&
      pr(0).getString(3) === "https://ex.com/b")
  }

  test("dict helpers: sub_dict / dict_match / find_keys / enum_*") {
    val d: Doc = Map("a" -> 1, "b" -> Map("c" -> 2, "d" -> Seq(Map("e" -> 3))))
    assert(AlertDoc.subDict(d, Seq("a", "z")) === Map("a" -> 1, "z" -> null))
    assert(AlertDoc.dictMatch(Map("a" -> 1), d))
    assert(!AlertDoc.dictMatch(Map("a" -> 2), d))
    assert(AlertDoc.findKeys(d, "e").toSeq === Seq(3))
    assert(AlertDoc.enumValues(d).toSet === Set(1, 2, 3))
    assert(AlertDoc.enumKeys(d).toSet === Set("a", "b", "c", "d", "e"))
  }

  object TagPlugin extends EventPlugin {
    val name = "tagger"
    val registration = Seq("cloudtrail")
    override val priority = 10
    def message(event: Doc): Option[Doc] =
      Some(event + ("enriched" -> true))
  }
  object DropPlugin extends EventPlugin {
    val name = "dropper"
    val registration = Seq("*")
    override val priority = 90
    def message(event: Doc): Option[Doc] =
      if (AlertDoc.str(event, "severity") == "DEBUG") None else Some(event)
  }

  test("plugin chain: priority order, registration match, drop, provenance (P8)") {
    val events = Seq(
      """{"eventid":"1","category":"cloudtrail","severity":"INFO"}""",
      """{"eventid":"2","category":"other","severity":"INFO"}""",
      """{"eventid":"3","category":"cloudtrail","severity":"DEBUG"}""").toDS
    val out = Plugins.run(events, Seq(DropPlugin, TagPlugin))
      .collect().map(graft.functions.Json.parseMap)
    assert(out.length === 2) // DEBUG event dropped
    val e1 = out.find(_("eventid") == "1").get
    assert(e1("enriched") === true)
    assert(AlertDoc.seq(e1, "plugins") === Seq("tagger", "dropper")) // priority order
    val e2 = out.find(_("eventid") == "2").get
    assert(!e2.contains("enriched")) // registration mismatch
    assert(AlertDoc.seq(e2, "plugins") === Seq("dropper"))
  }

  test("ServiceLoader discovery registers classpath plugins (utils/plugins.py:32-61)") {
    val discovered = Plugins.discover()
    assert(discovered.exists(_.name == "loader_tag"))
    // discovered plugins run through the same chain machinery
    val out = Plugins.sendEventToPlugins(
      Map("eventid" -> "9"), discovered.filter(_.name == "loader_tag"))
    assert(out.exists(_("loaded") == true))
    assert(out.exists(e => AlertDoc.seq(e, "plugins") === Seq("loader_tag")))
  }

  test("a fresh session holds the whole dialect from its build") {
    import org.apache.spark.sql.AnalysisException
    val replaced = "replaced a previously registered function"
    val logger = spark.sessionState.functionRegistry.getClass.getName
    val (fresh, built) = logged(logger) {
      val s = spark.newSession()
      s.range(1).collect() // builds the session state, registry included
      s
    }
    // every dialect name resolves with no call before it; a call with
    // the wrong arity may fail, but never as an unknown routine
    val names = Functions.dialect.map(_._1.funcName)
    assert(names.size === 86 && names.distinct.size === 86)
    val unresolved = names.filter { n =>
      scala.util.Try(fresh.range(1).selectExpr(s"$n()")).failed.toOption
        .exists {
          case e: AnalysisException => e.getCondition == "UNRESOLVED_ROUTINE"
          case _ => false
        }
    }
    assert(unresolved.isEmpty, unresolved)
    assert(fresh.range(1).selectExpr("presto_element_at(array(1), 5)")
      .head().isNullAt(0))
    assert(!built.exists(_.contains(replaced)), built.take(3))
  }

  test("a dialect query's body registers the dialect once per session") {
    // the session build registers the dialect; running a dialect query's
    // body twice repeats its rows and registers nothing again
    val s = spark.newSession()
    val replaced = "replaced a previously registered function"
    val logger = s.sessionState.functionRegistry.getClass.getName
    val body = SparkEntry.queries("q50_presto_dialect")
    val ((first, second), messages) = logged(logger) {
      (body(s, sf()).collect().toSeq, body(s, sf()).collect().toSeq)
    }
    assert(first.nonEmpty && second === first)
    assert(!messages.exists(_.contains(replaced)), messages.take(3))
    // the probe sees a re-registration when one happens: a new builder
    // under a dialect name replaces the one the session build put there
    val (id, info, builder) = Functions.dialect.head
    val (_, again) = logged(logger)(s.sessionState.functionRegistry
      .registerFunction(id, info, es => builder(es)))
    assert(again.exists(_.contains(replaced)))
  }

}
