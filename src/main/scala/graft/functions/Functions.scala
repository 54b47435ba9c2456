package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry => SparkFunctionRegistry}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GetJsonObject, ScalaUDF, StringLocate, TryEval}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.ColumnBridge

/** Session-level function surface (SURVEY.md §4 custom work): the
  * Presto dialect, injected into every session by [[GraftExtensions]]
  * at session build, next to the native kernels.
  *
  * `json_extract_scalar` is a native Catalyst alias for
  * `GetJsonObject` — Presto-dialect criteria then parse *without* the
  * textual rewrite, staying fully codegen'd (no UDF in the hot path).
  * The textual rewrite in [[graft.criteria.Criteria]] remains the
  * default path because it also keeps EXPLAIN output and oracle SQL
  * legible; either mechanism alone satisfies the dialect contract.
  *
  * `to_utc` exposes the permissive timestamp ladder (T3) to SQL;
  * `is_ip`/`is_ipv4`/`is_ipv6` are the reference's lake-helper IP
  * validators (utils/helpers.py:44-74).
  *
  * ── The no-shadow invariant ─────────────────────────────────────────
  * On Spark 4 the Scala DataFrame DSL resolves function NAMES through
  * the session `FunctionRegistry` (`Column.fn`), so a function
  * registered over a builtin name hijacks ENGINE-INTERNAL code too:
  * the r7 regression had the Presto `date_format` shim (MySQL
  * %-tokens) turn `Criteria.withPartitionColumns`' `date_format(ts,
  * 'HH')` into the literal string "HH" and poison every lake write in
  * the session. Therefore [[dialect]] NEVER claims a builtin name:
  *   - a dialect shim whose semantics DIFFER from the Spark builtin of
  *     the same name is named `presto_<name>`
  *     ([[prefixedNames]]), and [[graft.criteria.Criteria.rewrite]]
  *     maps the bare token so criteria text stays verbatim Presto;
  *   - a shim whose semantics MATCH the builtin is not defined at
  *     all (the builtin already is the Presto behavior) — that set is
  *     `regexp_like`, `approx_percentile`, `cardinality`,
  *     `url_encode`, `url_decode`, `array_sort`, `json_array_length`,
  *     and (seventh tranche, parity pinned in CriteriaSpec)
  *     `map_filter`, `map_zip_with`, `array_position` (1-based, 0
  *     when absent), `slice` (negative start counts from the end on
  *     both engines), `date_trunc` (`'week'` truncates to the ISO
  *     Monday on both engines);
  *   - every name funnels through a guard that throws when the session
  *     is built if a future tranche tries to claim a builtin name, so
  *     the class can never ship silently again.
  */
object Functions {

  /** Dialect shims whose Presto semantics DIVERGE from the Spark
    * builtin of the same name. Named `presto_<name>`;
    * [[graft.criteria.Criteria.rewrite]] rewrites the bare tokens in
    * criteria text. Divergences, name by name:
    *   - `split`: literal delimiter (Spark: Java regex)
    *   - `date_format`/MySQL %-tokens (Spark: Java pattern)
    *   - `from_unixtime`: returns TIMESTAMP (Spark: STRING)
    *   - `contains`: array membership (Spark 3.5+: string search)
    *   - `element_at`: NULL on out-of-range (Spark ANSI: throws)
    *   - `array_agg`: retains NULL elements (Spark: drops them)
    *   - `map_concat`: duplicate keys last-win (Spark: throws under
    *     mapKeyDedupPolicy=EXCEPTION)
    *   - `map`: Presto's constructor is `MAP()` / `MAP(keys_array,
    *     values_array)`; Spark's builtin of the same name takes
    *     variadic k1, v1, k2, v2 pairs
    *   - `regexp_extract` / `regexp_extract_all`: Presto's 2-arg form
    *     returns the WHOLE match (group 0); Spark's 2-arg default is
    *     group 1 — the nastiest kind of silent divergence (a criteria
    *     whose pattern has groups silently extracts the wrong text)
    *   - `regexp_replace`: Presto's 2-arg form DELETES matches;
    *     Spark's builtin requires the replacement argument
    *   - `repeat`: Presto repeat(x, n) builds an ARRAY of n copies
    *     (Spark's array_repeat); Spark's builtin of the same name is
    *     string repetition
    *   - `split_part`: NULL when the index exceeds the field count
    *     (Spark's builtin returns '')
    *   - `width_bucket`: Presto's 2-arg (x, bins-array) form doesn't
    *     exist in Spark (the 4-arg form matches and the shim
    *     delegates it to the builtin expression)
    */
  private[graft] val prefixedNames: Set[String] = Set(
    "split", "date_format", "from_unixtime", "contains",
    "element_at", "array_agg", "map_concat", "map",
    "regexp_extract", "regexp_extract_all", "regexp_replace", "repeat",
    "split_part", "width_bucket")

  private def isBuiltin(name: String): Boolean =
    SparkFunctionRegistry.builtin.functionExists(FunctionIdentifier(name))

  /** Guard on every dialect name: it may never claim a Spark builtin
    * (the r7 `hour='HH'` lake-poisoning class). Loud at session build —
    * the very first session fails if a new tranche breaks the
    * invariant.
    */
  private def guarded(name: String): String = {
    require(!isBuiltin(name),
      s"dialect shim '$name' would shadow the Spark builtin of the " +
        "same name session-wide (DataFrame DSL resolves through the " +
        "registry on Spark 4) — add it to Functions.prefixedNames and " +
        "let Criteria.rewrite map the bare token instead")
    name
  }

  /** The dialect's 86 functions (68 expression shims, 18 Scala UDFs)
    * as extension descriptions; [[GraftExtensions]] injects them into
    * every session it builds, so no query depends on an earlier one
    * having registered anything.
    */
  private[graft] lazy val dialect: Seq[GraftExtensions.FunctionDescription] = {
    val out = Seq.newBuilder[GraftExtensions.FunctionDescription]

    /** A dialect shim under its no-shadow name: bare when the name is
      * free, `presto_<name>` when it is in [[prefixedNames]].
      */
    def shim(name: String)(builder: Seq[Expression] => Expression): Unit = {
      val target = guarded(if (prefixedNames(name)) s"presto_$name" else name)
      out += ((FunctionIdentifier(target),
        new ExpressionInfo(getClass.getName, target), builder))
    }

    /** A Scala UDF, built as Spark's own UDF registration builds it:
      * the named `udf(f)` applied to the call's arguments.
      */
    def scalaUdf(name: String, f: UserDefinedFunction): Unit =
      out += ((FunctionIdentifier(guarded(name)),
        new ExpressionInfo(classOf[ScalaUDF].getName, name),
        (exprs: Seq[Expression]) => ColumnBridge.scalaUdf(name, f, exprs)))

    shim("json_extract_scalar")(exprs => GetJsonObject(exprs.head, exprs(1)))

    // Presto json_extract returns JSON text; for scalar and object
    // extraction get_json_object matches (objects/arrays come back as
    // JSON text, scalars unquoted — the corpus only compares scalars)
    shim("json_extract")(exprs => GetJsonObject(exprs.head, exprs(1)))

    // Presto strpos(string, substring) — Spark's locate flips the
    // argument order, so a textual rewrite can't express this; a
    // native registration can.
    shim("strpos")(exprs => StringLocate(exprs(1), exprs.head,
      org.apache.spark.sql.catalyst.expressions.Literal(1)))

    // Presto contains(array, elem) — Catalyst ArrayContains. Spark
    // 3.5+ has a string-search builtin of the same name, so this one
    // registers as presto_contains (Criteria.rewrite maps the token).
    shim("contains")(exprs =>
      org.apache.spark.sql.catalyst.expressions.ArrayContains(
        exprs.head, exprs(1)))

    // Presto cardinality(array|map): Spark's builtin `cardinality`
    // already matches (null-in → null-out under the default non-legacy
    // conf), so the dialect registers NOTHING for it — no-shadow rule.

    // Presto element_at(array, index) / element_at(map, key): NULL
    // when the index is out of bounds — pinned non-failing regardless
    // of the session's ANSI mode (Spark's builtin under ANSI throws on
    // array OOB), hence presto_element_at.
    shim("element_at")(exprs =>
      org.apache.spark.sql.catalyst.expressions.ElementAt(
        exprs.head, exprs(1), failOnError = false))

    // Presto codepoint(varchar(1)) → Catalyst Ascii (first-char code
    // point — identical for the single-character inputs the Presto
    // signature admits)
    shim("codepoint")(exprs =>
      org.apache.spark.sql.catalyst.expressions.Ascii(exprs.head))

    // one ladder, two dialect names: to_utc (the reference's helper)
    // and Presto's from_iso8601_timestamp (offset-aware ISO input
    // lands as the UTC instant)
    val toUtcUdf = (s: String) =>
      if (s == null) null
      else java.sql.Timestamp.from(Dates.toUTC(s))
    scalaUdf("to_utc", udf(toUtcUdf))
    scalaUdf("from_iso8601_timestamp", udf(toUtcUdf))

    scalaUdf("is_ipv4", udf((s: String) => s != null && isIPv4(s)))
    scalaUdf("is_ipv6", udf((s: String) => s != null && isIPv6(s)))
    scalaUdf("is_ip", udf((s: String) => s != null && isIp(s)))

    // Presto split_to_map(s, entryDelim, kvDelim) = Catalyst
    // StringToMap with the same argument order
    shim("split_to_map")(exprs =>
      org.apache.spark.sql.catalyst.expressions.StringToMap(
        exprs.head, exprs(1), exprs(2)))

    // Presto to_unixtime(timestamp) → DOUBLE seconds (fractional µs
    // kept). Exact-integer µs divided by 1e6 in IEEE double — the
    // same two operands in any engine, so bit-identical output.
    shim("to_unixtime")(exprs =>
      org.apache.spark.sql.catalyst.expressions.Divide(
        org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.UnixMicros(exprs.head),
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.catalyst.expressions.Literal(1e6)))

    // Presto to_iso8601(timestamp) → "yyyy-MM-ddTHH:mm:ss.SSS" (the
    // no-zone form Presto renders for TIMESTAMP)
    shim("to_iso8601")(exprs =>
      org.apache.spark.sql.catalyst.expressions.DateFormatClass(
        exprs.head,
        org.apache.spark.sql.catalyst.expressions.Literal(
          "yyyy-MM-dd'T'HH:mm:ss.SSS")))

    // Presto URL extractors via the JDK parser (null on malformed —
    // Presto's contract). url_extract_parameter returns the FIRST
    // value of the named query parameter. (url_encode/url_decode are
    // NOT registered: Spark 3.4+'s builtins are the same
    // application/x-www-form-urlencoded UTF-8 coder.)
    def uri(s: String): Option[java.net.URI] =
      if (s == null) None else scala.util.Try(new java.net.URI(s)).toOption
    scalaUdf("url_extract_host", udf(
      (s: String) => uri(s).map(_.getHost).orNull))
    scalaUdf("url_extract_path", udf(
      (s: String) => uri(s).map(_.getRawPath).orNull))
    scalaUdf("url_extract_parameter", udf((s: String, p: String) =>
      uri(s).flatMap(u => Option(u.getRawQuery)).flatMap(q =>
        q.split("&").iterator.map(_.split("=", 2))
          .collectFirst { case Array(k, v) if k == p => v }).orNull))

    // Presto datetime breadth. day_of_week is ISO (1 = Monday);
    // Spark's DayOfWeek is 1 = Sunday, so shift: ((dow + 5) % 7) + 1.
    locally {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      shim("day_of_week")(exprs => Add(
        Pmod(Add(DayOfWeek(exprs.head), Literal(5)), Literal(7)),
        Literal(1)))
      shim("day_of_year")(exprs => DayOfYear(exprs.head))
      shim("week_of_year")(exprs => WeekOfYear(exprs.head))
      // NOTE: Presto date_add('unit', n, ts) is NOT registrable —
      // Spark's parser claims dateadd/date_add with unquoted-unit
      // syntax before registry lookup (same as date_diff), so it
      // lives in Criteria.rewrite.

      // Presto regexp_like(string, pattern): Spark's builtin
      // regexp_like is the identical RLike — nothing to register.

      // Presto array_agg / map_agg. Wrapped into AggregateExpression
      // here (the registry's resolver only auto-wraps a builder whose
      // RESULT is the AggregateFunction, which map_agg's isn't).
      //
      // Presto array_agg RETAINS NULL elements; Spark's builtin
      // array_agg (CollectList) drops them → presto_array_agg.
      // Collect struct(v) (never null even when v is) and unwrap with
      // a transform lambda so the NULLs survive.
      shim("array_agg") { exprs =>
        val lv = UnresolvedNamedLambdaVariable(Seq("s"))
        ArrayTransform(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .CollectList(CreateNamedStruct(Seq(Literal("v"), exprs.head)))
            .toAggregateExpression(),
          LambdaFunction(UnresolvedExtractValue(lv, Literal("v")), Seq(lv)))
      }
      // Presto map_agg keeps one value per duplicate key (arbitrary
      // pick); under Spark's default mapKeyDedupPolicy=EXCEPTION a
      // duplicate key would instead throw. Dedupe by key BEFORE
      // MapFromEntries: sort entries then keep each entry whose key
      // differs from its predecessor (first-win, deterministic) — no
      // session-conf change, no runtime throw.
      shim("map_agg") { exprs =>
        val collected = SortArray(
          org.apache.spark.sql.catalyst.expressions.aggregate
            .CollectList(CreateNamedStruct(
              Seq(Literal("k"), exprs.head, Literal("v"), exprs(1))))
            .toAggregateExpression(),
          Literal(true))
        val e = UnresolvedNamedLambdaVariable(Seq("e"))
        val i = UnresolvedNamedLambdaVariable(Seq("i"))
        def keyOf(x: Expression): Expression =
          UnresolvedExtractValue(x, Literal("k"))
        // entries are key-sorted so duplicates are adjacent: keep
        // index 0 and entries whose key differs from the previous
        // one (element_at is 1-based, so ordinal i = 0-based i-1)
        val dedup = ArrayFilter(collected,
          LambdaFunction(
            Or(EqualTo(i, Literal(0)),
               Not(EqualNullSafe(keyOf(e),
                 keyOf(ElementAt(collected, i, None, failOnError = false))))),
            Seq(e, i)))
        MapFromEntries(dedup)
      }

      // Presto approx aggregates. Same function surface, different
      // sketch internals (Presto qdigest/HLL vs Spark HLL++ /
      // percentile-approx) — estimates agree on small cardinalities
      // but are NOT cross-engine contract-stable, so these are
      // spec-pinned rather than oracle-gated: a criteria thresholding
      // an estimate gets Spark's estimate. `arbitrary` maps to First
      // ignoring nulls (Presto's "an arbitrary non-null value").
      // approx_percentile needs no shim — Spark's builtin of the same
      // name is the same surface.
      shim("approx_distinct")(exprs =>
        aggregate.HyperLogLogPlusPlus(exprs.head).toAggregateExpression())
      shim("arbitrary")(exprs =>
        aggregate.First(exprs.head, ignoreNulls = true)
          .toAggregateExpression())

      // Presto TRY(expr) — NULL instead of a runtime error (division
      // by zero, bad cast/parse, numeric overflow), around an
      // ARBITRARY expression. Catalyst TryEval is the exact node
      // Spark's own try_add/try_divide build on, so the semantics
      // (runtime-error → NULL, analysis errors still loud) match
      // Presto's TRY contract. Distinct from TRY_CAST, which the
      // textual rewrite already lowercases to Spark's try_cast.
      shim("try")(exprs => TryEval(exprs.head))

      // Presto lambda matchers — Spark spells them exists/forall;
      // the Catalyst nodes take the unresolved LambdaFunction the
      // parser hands any function call, so a plain registration works
      shim("any_match")(exprs => ArrayExists(exprs.head, exprs(1)))
      shim("all_match")(exprs => ArrayForAll(exprs.head, exprs(1)))
      // none_match(a, f) = all_match(a, x -> NOT f(x)) — the analyzer
      // requires a lambda's DIRECT parent to be the higher-order
      // function, so Not must go inside the lambda body, not above it
      shim("none_match")(exprs => exprs(1) match {
        case LambdaFunction(fn, args, hidden) =>
          ArrayForAll(exprs.head, LambdaFunction(Not(fn), args, hidden))
        case other => ArrayForAll(exprs.head, other)
      })

      // Presto string breadth: starts_with (Spark: startswith),
      // levenshtein_distance (Spark: levenshtein)
      shim("starts_with")(exprs => StartsWith(exprs.head, exprs(1)))
      shim("levenshtein_distance")(exprs =>
        Levenshtein(exprs.head, exprs(1)))

      // Presto datetime part shorthands (dow/doy ISO like day_of_week
      // above; week = ISO week-of-year)
      shim("dow")(exprs => Add(
        Pmod(Add(DayOfWeek(exprs.head), Literal(5)), Literal(7)),
        Literal(1)))
      shim("doy")(exprs => DayOfYear(exprs.head))
      shim("week")(exprs => WeekOfYear(exprs.head))

      // Presto from_unixtime returns a TIMESTAMP; Spark's builtin of
      // the same name formats a STRING → presto_from_unixtime
      shim("from_unixtime")(exprs => SecondsToTimestamp(exprs.head))

      // Presto bitwise function forms (operators in Spark)
      shim("bitwise_and")(exprs => BitwiseAnd(exprs.head, exprs(1)))
      shim("bitwise_or")(exprs => BitwiseOr(exprs.head, exprs(1)))
      shim("bitwise_xor")(exprs => BitwiseXor(exprs.head, exprs(1)))

      // Presto binary/hash idiom to_hex(sha256(to_utf8(s))):
      // to_utf8/from_utf8 are UTF-8 casts, sha256 returns VARBINARY
      // (Spark's sha2 yields lowercase hex — unhex restores the raw
      // digest so downstream to_hex/length see Presto's type), and
      // to_hex renders UPPERCASE hex exactly like Presto.
      shim("to_utf8")(exprs =>
        Cast(exprs.head, org.apache.spark.sql.types.BinaryType))
      shim("from_utf8")(exprs =>
        Cast(exprs.head, org.apache.spark.sql.types.StringType))
      shim("sha256")(exprs => Unhex(Sha2(exprs.head, Literal(256))))
      shim("to_hex")(exprs => Hex(exprs.head))
      shim("from_hex")(exprs => Unhex(exprs.head))

      // ── fifth tranche: the silent-divergence set ──────────────────
      // Presto split(s, delim[, limit]) splits on a LITERAL delimiter;
      // Spark's builtin of the same name treats it as a Java regex —
      // split(x, '.') silently explodes to characters instead of
      // splitting on dots → presto_split, regex-quoted literal
      // semantics when the delimiter is a foldable literal (the whole
      // criteria corpus); a non-literal delimiter keeps Spark's regex
      // reading, documented. Empty-delimiter '' keeps Spark's
      // char-split (the engine's own SQL uses it; Presto rejects ''
      // outright, so no Presto-dialect criteria can depend on it).
      // Trailing empty fields are KEPT on both engines (Spark limit
      // -1 = Presto).
      shim("split") { exprs =>
        val delim = exprs(1) match {
          case Literal(d: org.apache.spark.unsafe.types.UTF8String, _)
              if d != null && d.toString.nonEmpty =>
            Literal(java.util.regex.Pattern.quote(d.toString))
          case other => other
        }
        val limit = if (exprs.length > 2) exprs(2) else Literal(-1)
        StringSplit(exprs.head, delim, limit)
      }

      // Presto date_format/date_parse use MySQL %-tokens (%Y-%m-%d
      // %H:%i:%s); Spark's date_format of the same NAME wants Java
      // patterns — '%Y' through Spark renders literal "%Y" →
      // presto_date_format. Translate a literal format via
      // [[mysqlFormatToJava]] (literal runs single-quoted so stray
      // letters never become pattern tokens). Non-literal formats
      // fall back to Spark's pattern dialect, documented.
      def mysqlFmt(e: Expression): Expression = e match {
        case Literal(f: org.apache.spark.unsafe.types.UTF8String, _)
            if f != null =>
          Literal(Functions.mysqlFormatToJava(f.toString))
        case other => other
      }
      shim("date_format")(exprs =>
        DateFormatClass(exprs.head, mysqlFmt(exprs(1))))
      shim("date_parse")(exprs =>
        GetTimestamp(exprs.head, mysqlFmt(exprs(1)),
          org.apache.spark.sql.types.TimestampType))
      // Joda-pattern cousins: the corpus subset (y M d H m s E) reads
      // identically in Java's formatter, so the literal passes
      // through; divergent Joda tokens (Y = year-of-era vs Java's
      // week-year, x/w) are NOT translated — documented common-subset
      // contract, same stance as the approx aggregates above.
      shim("format_datetime")(exprs =>
        DateFormatClass(exprs.head, exprs(1)))
      shim("parse_datetime")(exprs =>
        GetTimestamp(exprs.head, exprs(1),
          org.apache.spark.sql.types.TimestampType))

      // Presto map_concat: duplicate keys take the value from the
      // LAST map argument; Spark's builtin of the same name under the
      // default mapKeyDedupPolicy=EXCEPTION throws instead →
      // presto_map_concat. Keep each entry of the concatenated entry
      // list only if no LATER entry carries the same key (O(n²) over
      // map sizes — criteria maps are tiny), then rebuild. No
      // session-conf change, no runtime throw.
      shim("map_concat") { exprs =>
        val entries = Concat(exprs.map(MapEntries))
        val e = UnresolvedNamedLambdaVariable(Seq("e"))
        val i = UnresolvedNamedLambdaVariable(Seq("i"))
        val x = UnresolvedNamedLambdaVariable(Seq("x"))
        def keyOf(v: Expression): Expression =
          UnresolvedExtractValue(v, Literal("key"))
        val keepLast = ArrayFilter(entries,
          LambdaFunction(
            Not(ArrayExists(
              Slice(entries, Add(i, Literal(2)),
                Size(entries, legacySizeOfNull = false)),
              LambdaFunction(EqualNullSafe(keyOf(x), keyOf(e)), Seq(x)))),
            Seq(e, i)))
        MapFromEntries(keepLast)
      }

      // Presto ngrams(array, n) → array of overlapping length-n
      // sub-arrays; shorter-than-n input yields the whole array as
      // its single (truncated) gram. Pure composition — sequence +
      // slice — so it stays codegen-friendly.
      shim("ngrams") { exprs =>
        val arr = exprs.head
        val i = UnresolvedNamedLambdaVariable(Seq("i"))
        val upper = Greatest(Seq(
          Add(Subtract(Size(arr, legacySizeOfNull = false), exprs(1)),
            Literal(1)),
          Literal(1)))
        ArrayTransform(
          Sequence(Literal(1), upper, None),
          LambdaFunction(Slice(arr, i, exprs(1)), Seq(i)))
      }

      // ── seventh tranche ───────────────────────────────────────────
      // Presto at_timezone(timestamp, zone): same instant, rendered
      // (and field-extracted) in `zone`. The criteria corpus stores
      // plain TIMESTAMPs as UTC instants (session tz UTC), so the
      // field-level equivalent is Catalyst FromUTCTimestamp — hour(
      // at_timezone(ts, '+05:30')) reads the zone-local hour exactly
      // as Presto does. Offset zones and region ids both accepted.
      shim("at_timezone")(exprs => FromUTCTimestamp(exprs.head, exprs(1)))

      // Presto MAP() / MAP(keys_array, values_array). Spark's `map`
      // builtin of the same name takes variadic k1, v1 pairs →
      // presto_map. Duplicate keys throw on both engines (Spark's
      // default mapKeyDedupPolicy=EXCEPTION = Presto's contract).
      shim("map") {
        case Seq()     => CreateMap(Nil)
        case Seq(k, v) => MapFromArrays(k, v)
        case other => throw new IllegalArgumentException(
          s"Presto map() takes zero args or (keys_array, values_array), " +
            s"got ${other.length} args")
      }

      // Presto JSON type surface. This engine represents the JSON
      // type as its canonical compact text (Presto's own wire form):
      // json_parse validates + canonicalizes (whitespace dropped,
      // field order preserved, malformed input LOUD — Presto throws
      // too), and json_format on that representation is the identity.
      // json_extract/json_extract_scalar already consume text, so the
      // three compose exactly like Presto's.
      shim("json_format")(exprs => exprs.head)

      // ── eighth tranche: the regex silent-divergence set ───────────
      // Presto's 2-arg regexp_extract[/_all] returns the WHOLE match;
      // Spark's 2-arg default is GROUP 1 — a criteria whose pattern
      // has groups silently extracts the wrong text. Pin group 0 as
      // the 2-arg default; an explicit 3rd arg passes through. Presto
      // also returns NULL on no match where Spark returns '' — the
      // NullIf wrap restores that (cost: a pattern that legitimately
      // MATCHES the empty string also maps to NULL; documented edge).
      shim("regexp_extract")(exprs => new NullIf(
        RegExpExtract(exprs.head, exprs(1),
          if (exprs.length > 2) exprs(2) else Literal(0)),
        Literal("")))
      shim("regexp_extract_all")(exprs => RegExpExtractAll(exprs.head,
        exprs(1), if (exprs.length > 2) exprs(2) else Literal(0)))
      // Presto's 2-arg regexp_replace DELETES matches (empty
      // replacement); Spark's builtin demands all three args.
      shim("regexp_replace")(exprs => RegExpReplace(exprs.head, exprs(1),
        if (exprs.length > 2) exprs(2) else Literal("")))
      // Presto repeat(x, n) → ARRAY of n copies (Spark: array_repeat;
      // Spark's `repeat` of the same name is string repetition)
      shim("repeat")(exprs => ArrayRepeat(exprs.head, exprs(1)))
      // Presto last_day_of_month(ts) — Spark spells it last_day; no
      // collision, plain registration
      shim("last_day_of_month")(exprs => LastDay(exprs.head))

      // ── ninth tranche: string/number breadth ──────────────────────
      import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType}
      // Presto split_part: 1-based, LITERAL delimiter, NULL when the
      // index exceeds the field count. Spark's builtin of the same
      // name returns '' out of range — another silent divergence →
      // presto_split_part. (Negative indexes: Presto throws, the shim
      // counts from the end — the ElementAt convention; documented.)
      shim("split_part")(exprs => ElementAt(
        StringSplitSQL(exprs.head, exprs(1)), exprs(2),
        failOnError = false))
      // Presto format('%s', ...) = Java String.format — Spark spells
      // it format_string; `format` itself is a free name
      shim("format")(exprs => FormatString(exprs: _*))
      // Presto regexp_split(s, re) — Spark's regex split under a name
      // Spark doesn't use
      shim("regexp_split")(exprs =>
        StringSplit(exprs.head, exprs(1), Literal(-1)))
      // Presto strrpos(s, sub): LAST occurrence, 1-based, 0 when
      // absent — locate on the reversed pair plus index arithmetic
      // (the whole composition stays codegen'd)
      shim("strrpos") { exprs =>
        val rp = StringLocate(Reverse(exprs(1)), Reverse(exprs.head),
          Literal(1))
        If(LessThanOrEqual(rp, Literal(0)), Literal(0),
          Add(Subtract(Subtract(Length(exprs.head), rp),
            Length(exprs(1))), Literal(2)))
      }
      // Presto from_base(s, radix) → BIGINT; to_base(x, radix) →
      // lowercase digits (Spark's conv renders uppercase — Lower
      // restores Presto's casing)
      shim("from_base")(exprs => Cast(
        Conv(exprs.head, exprs(1), Literal(10)), LongType))
      shim("to_base")(exprs => Lower(
        Conv(Cast(exprs.head, StringType), Literal(10), exprs(1))))
      // Presto IEEE predicates (Spark spells isnan without the
      // underscore and has no finite/infinite tests). For is_finite /
      // is_infinite, null in → null out rides the comparison's own
      // null propagation; Spark's IsNaN is null-INtolerant (NULL →
      // false), so is_nan needs an explicit null gate to match
      // Presto's is_nan(NULL) → NULL.
      shim("is_nan")(exprs => If(IsNull(exprs.head),
        Literal(null, BooleanType),
        IsNaN(Cast(exprs.head, DoubleType))))
      shim("is_finite") { exprs =>
        val x = Cast(exprs.head, DoubleType)
        And(Not(IsNaN(x)),
          LessThan(Abs(x), Literal(Double.PositiveInfinity)))
      }
      shim("is_infinite") { exprs =>
        val x = Cast(exprs.head, DoubleType)
        Or(EqualTo(x, Literal(Double.PositiveInfinity)),
          EqualTo(x, Literal(Double.NegativeInfinity)))
      }

      // ── tenth tranche ─────────────────────────────────────────────
      // Presto width_bucket: the 4-arg equi-width histogram form
      // matches the Spark builtin (delegate), but Presto ALSO has a
      // 2-arg (x, bins-array) form Spark lacks — the builder
      // dispatches on arity, which is why one registry name can carry
      // both. Array form: bins sorted ascending by contract; the
      // bucket is |{b ∈ bins : b ≤ x}| (lower bound inclusive, 0
      // underflow, |bins| overflow). NULL x or bins → NULL, matching
      // Presto (ArrayFilter alone would quietly yield 0).
      shim("width_bucket") { exprs =>
        if (exprs.length >= 4)
          WidthBucket(exprs(0), exprs(1), exprs(2), exprs(3))
        else {
          val x = Cast(exprs.head, DoubleType)
          val bv = UnresolvedNamedLambdaVariable(Seq("__wb_b"))
          val lam = LambdaFunction(LessThanOrEqual(bv, x), Seq(bv))
          If(Or(IsNull(exprs.head), IsNull(exprs(1))),
            Literal(null, LongType),
            Cast(Size(ArrayFilter(exprs(1), lam)), LongType))
        }
      }
      // Presto json_array_get(json, index): the element as JSON text
      // with Presto's documented broken-string quirk (scalar strings
      // come back UNquoted) — which is exactly get_json_object's
      // scalar behavior, so the subscript path composes it directly.
      // Negative indexes count from the end (json_array_length
      // arithmetic); out of range → NULL on both engines.
      shim("json_array_get") { exprs =>
        val j = exprs.head
        val i = Cast(exprs(1), IntegerType)
        val eff = If(LessThan(i, Literal(0)),
          Add(LengthOfJsonArray(j), i), i)
        GetJsonObject(j, Concat(Seq(Literal("$["),
          Cast(eff, StringType), Literal("]"))))
      }
      // Presto zip(a1, a2, ...) — element-wise rows, up to Presto's
      // documented 5-array arity (ArraysZip takes any N). Field
      // names differ (Spark numbers them, Presto uses field0...);
      // struct EQUALITY ignores names, which is what criteria compare.
      shim("zip")(exprs => new ArraysZip(exprs))

      // ── eleventh tranche ──────────────────────────────────────────
      // (levenshtein_distance / to_hex / from_hex / codepoint /
      // split_to_map / ngrams were already registered by earlier
      // tranches above — only the genuinely-new names land here.)
      // Presto truncate(x) — round toward zero, double in double out.
      // x - x % 1 truncates both signs exactly (Spark's % keeps the
      // dividend's sign); infinities short-circuit (inf % 1 is NaN).
      shim("truncate") { exprs =>
        val x = Cast(exprs.head, DoubleType)
        If(Or(EqualTo(x, Literal(Double.PositiveInfinity)),
            EqualTo(x, Literal(Double.NegativeInfinity))),
          x, Subtract(x, Remainder(x, Literal(1.0))))
      }
      // Presto IEEE constants
      shim("infinity")(_ => Literal(Double.PositiveInfinity))
      shim("nan")(_ => Literal(Double.NaN))
    }

    // ── twelfth tranche: complete the url_extract_* family the
    // earlier tranche started (host/path/parameter above) — same JDK
    // URI parser, same NULL-on-malformed contract (Presto's; Spark's
    // parse_url THROWS under ANSI, which is why these are UDFs).
    locally {
      def uri(s: String): Option[java.net.URI] =
        if (s == null) None
        else scala.util.Try(new java.net.URI(s)).toOption
      scalaUdf("url_extract_protocol", udf(
        (s: String) => uri(s).map(_.getScheme).orNull))
      scalaUdf("url_extract_query", udf(
        (s: String) => uri(s).flatMap(u => Option(u.getRawQuery)).orNull))
      scalaUdf("url_extract_fragment", udf(
        (s: String) => uri(s).flatMap(u => Option(u.getRawFragment)).orNull))
      scalaUdf("url_extract_port", udf(
        (s: String) => uri(s).map(_.getPort).filter(_ >= 0)
          .map(_.toLong).map(java.lang.Long.valueOf).orNull))
    }
    scalaUdf("json_parse", udf(
      (s: String) => JsonParseFn.parse(s)))

    // Presto normalize(s) — Unicode NFC via the JDK (identical
    // tables). Presto's 2-arg form takes the FORM as an unquoted SQL
    // keyword (normalize(s, NFKC)) which Spark's parser reads as a
    // column reference before any registry lookup, so only the
    // default-NFC 1-arg form is registrable — documented limit.
    scalaUdf("normalize", udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.NFC)))

    // Presto hamming_distance(s1, s2) — equal-length inputs by
    // contract (Presto throws otherwise; so do we, loudly).
    scalaUdf("hamming_distance", udf((a: String, b: String) =>
      if (a == null || b == null) null
      else {
        require(a.length == b.length,
          s"hamming_distance wants equal lengths, got ${a.length}/${b.length}")
        var i = 0; var d = 0L
        while (i < a.length) { if (a(i) != b(i)) d += 1; i += 1 }
        java.lang.Long.valueOf(d)
      }))

    // ── thirteenth tranche: the residual genuinely-new names ────────
    // (json_format/json_parse/from_iso8601_timestamp/map_agg and the
    // lambda matchers landed in earlier tranches; the builtin-parity
    // set — array_sort's comparator form, transform_keys,
    // transform_values, reduce — is pinned in CriteriaSpec instead of
    // registered, per the no-shadow invariant.)
    locally {
      import org.apache.spark.sql.catalyst.expressions._
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      import org.apache.spark.sql.types.{DoubleType, LongType}

      // (Trino's find_first is NOT registrable: the analyzer demands
      // a lambda argument's DIRECT parent be the higher-order
      // function, and find_first's natural form wraps the filter in
      // element_at. Criteria text composes it as
      // element_at(filter(a, f), 1) — both names already resolve.)

      // Presto geometric_mean(x) = exp(avg(ln(x))) exactly — Presto
      // computes it as the mean of logs too, so doubles round-trip.
      shim("geometric_mean")(exprs => Exp(
        aggregate.Average(Log(Cast(exprs.head, DoubleType)))
          .toAggregateExpression()))

      // Presto histogram(x): map value → occurrence count, nulls
      // ignored. Round 12: a one-pass TypedImperativeAggregate
      // (functions/MapAggregates.scala) replaced the thirteenth
      // tranche's collect-then-regroup shim — same output byte for
      // byte (key-ascending entries, FunctionsSpec parity rows), but
      // O(n) per group with map-side partial aggregation instead of
      // O(n·distinct) over a collected array, and no 64 KB-codegen
      // regroup projection.
      shim("histogram")(exprs =>
        HistogramAgg(exprs.head).toAggregateExpression())

      // Presto multimap_agg(k, v): map key → ARRAY of every value
      // seen under it (map_agg keeps one). Same one-pass aggregate;
      // value arrays ascending with nulls first (the order the old
      // shim's sorted struct collect produced), null keys rejected
      // loudly like Presto.
      shim("multimap_agg")(exprs =>
        MultimapAgg(exprs.head, exprs(1)).toAggregateExpression())

      // Presto reduce_agg(value, initialState, inputFn, combineFn):
      // the arbitrary-fold aggregate — the ledger's last bucket-(c)
      // exclusion, now a TypedImperativeAggregate whose lambdas bind
      // through the standard HigherOrderFunction resolution (see
      // org.apache.spark.sql.graft.ReduceAgg for the Presto contracts: constant
      // initial state, capture-free lambdas, null inputs skipped).
      // resolves to a PLACEHOLDER HigherOrderFunction: function
      // resolution wraps any AggregateFunction in AggregateExpression
      // BEFORE its lambda-parent check, so an aggregate taking
      // lambdas can't come straight from the registry — the injected
      // ResolveReduceAgg rule rewrites the bound placeholder into the
      // real typed aggregate (see ReduceAgg's scaladoc).
      shim("reduce_agg")(exprs =>
        org.apache.spark.sql.graft.ReduceAggPlaceholder(
          exprs(0), exprs(1), exprs(2), exprs(3)))
    }

    // Presto from_iso8601_date: ISO calendar date → DATE. Strict ISO
    // local-date parse; malformed input → NULL (the url_extract_*
    // laxness contract — Presto throws, this engine's criteria
    // surface prefers null-and-filter).
    scalaUdf("from_iso8601_date", udf((s: String) =>
      if (s == null) null
      else scala.util.Try(java.sql.Date.valueOf(
        java.time.LocalDate.parse(s))).getOrElse(null)))

    // Presto cosine_similarity(map<varchar,double>, map<varchar,
    // double>): sparse-vector cosine over shared keys — the dialect
    // twin of the dense embedding kernels in ops.Similarity. Zero
    // norm → NaN (IEEE division), null map → NULL, like Presto.
    scalaUdf("cosine_similarity", udf(
      (a: Map[String, Double], b: Map[String, Double]) =>
        if (a == null || b == null) null
        else {
          val dot = a.iterator.map { case (k, v) =>
            v * b.getOrElse(k, 0.0) }.sum
          val na = math.sqrt(a.valuesIterator.map(v => v * v).sum)
          val nb = math.sqrt(b.valuesIterator.map(v => v * v).sum)
          java.lang.Double.valueOf(dot / (na * nb))
        }))

    // Presto json_size(json, path): children count of the element at
    // path — object → #keys, array → #elements, scalar → 0, missing/
    // malformed → NULL. No Catalyst twin (json_array_length is
    // array-only), so a driver-grade UDF; criteria predicates on
    // json_size are not hot-path kernels. The walk lives in the
    // top-level [[JsonSizeFn]] so the registered closure stays free of
    // `Functions$` (which is not Serializable — capturing it made the
    // UDF throw Task-not-serializable on any executor-side eval).
    scalaUdf("json_size", udf(
      (json: String, path: String) => JsonSizeFn.size(json, path)))

    out.result()
  }

  /** MySQL %-token datetime format (Presto's date_format/date_parse
    * dialect) → Java DateTimeFormatter pattern. Literal runs are
    * single-quoted so stray letters in the format never turn into
    * pattern tokens ('T' in `%Y-%m-%dT%H` stays the literal T); `%%`
    * is a literal percent; an unknown `%x` drops the percent and
    * keeps x literal (MySQL's own behavior). Week-based MySQL tokens
    * (%U/%u/%v/%V/%X/%x) have no exact Java twin — Spark rejects
    * week-based pattern letters ('w'/'W' field) since 3.0 — and fall
    * through as literals: loud in output rather than a runtime
    * unsupported-pattern error.
    */
  private[graft] def mysqlFormatToJava(fmt: String): String = {
    val tok = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'M' -> "MMMM", 'b' -> "MMM",
      'm' -> "MM", 'c' -> "M", 'd' -> "dd", 'e' -> "d",
      'j' -> "DDD", 'H' -> "HH", 'k' -> "H", 'h' -> "hh",
      'I' -> "hh", 'l' -> "h", 'i' -> "mm", 's' -> "ss",
      'S' -> "ss", 'f' -> "SSSSSS", 'p' -> "a", 'W' -> "EEEE",
      'a' -> "EEE", 'T' -> "HH:mm:ss", 'r' -> "hh:mm:ss a")
    val out = new StringBuilder
    val lit = new StringBuilder
    def flush(): Unit = if (lit.nonEmpty) {
      out.append('\'').append(lit.toString.replace("'", "''")).append('\'')
      lit.clear()
    }
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        val t = fmt.charAt(i + 1)
        if (t == '%') { lit.append('%'); i += 2 }
        else tok.get(t) match {
          case Some(j) => flush(); out.append(j); i += 2
          case None    => lit.append(t); i += 2
        }
      } else { lit.append(ch); i += 1 }
    }
    flush()
    out.toString
  }

  /** IPv4 dotted-quad (optionally with /cidr). */
  def isIPv4(s: String): Boolean = {
    val base = s.split("/", 2)
    val cidrOk = base.length == 1 ||
      scala.util.Try(base(1).toInt).toOption.exists(c => c >= 0 && c <= 32)
    val parts = base(0).split("\\.", -1)
    cidrOk && parts.length == 4 && parts.forall(p =>
      p.nonEmpty && p.length <= 3 && p.forall(_.isDigit) && p.toInt <= 255)
  }

  /** IPv6 (optionally with /cidr), via the JDK parser with a literal
    * guard so hostnames never resolve.
    */
  def isIPv6(s: String): Boolean = {
    val base = s.split("/", 2)
    val cidrOk = base.length == 1 ||
      scala.util.Try(base(1).toInt).toOption.exists(c => c >= 0 && c <= 128)
    cidrOk && base(0).contains(":") &&
      scala.util.Try(java.net.InetAddress.getByName(base(0))).toOption
        .exists(_.isInstanceOf[java.net.Inet6Address])
  }

  /** The reference's `is_ip` guard: must look like an address (has '.'
    * or ':') and parse as v4 or v6, CIDR allowed (utils/helpers.py:44-58).
    */
  def isIp(s: String): Boolean =
    (s.contains(".") || s.contains(":")) && (isIPv4(s) || isIPv6(s))
}

/** Executor-side implementation of Presto `json_parse`: validate and
  * canonicalize JSON text — whitespace dropped, field order preserved,
  * scalars/arrays/objects all admitted (Jackson readTree + compact
  * re-serialize, Presto's own canonical wire form). Malformed input
  * throws, exactly like Presto's json_parse; NULL in → NULL out.
  * Top-level and Serializable for the same reason as [[JsonSizeFn]].
  */
private[graft] object JsonParseFn extends Serializable {
  def parse(json: String): String =
    if (json == null) null
    else {
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"json_parse: malformed JSON input: ${e.getMessage}")
        }
      if (node == null || node.isMissingNode)
        throw new IllegalArgumentException(
          "json_parse: malformed JSON input: empty")
      node.toString
    }
}

/** Executor-side implementation of Presto `json_size`.
  *
  * Top-level and Serializable so the UDF closure in
  * [[Functions.dialect]] captures only this module (never the
  * non-serializable `Functions$`). Malformed inputs — bad JSON, a
  * path not starting with `$`, or a non-numeric array index like
  * `$.a[x]` — all return NULL per the Presto contract; nothing here
  * throws.
  */
private[graft] object JsonSizeFn extends Serializable {

  def size(json: String, path: String): Integer = {
    if (json == null || path == null || !path.startsWith("$")) null
    else {
      val parsed = scala.util.Try(
        new com.fasterxml.jackson.databind.ObjectMapper().readTree(json))
        .toOption
      val segs = path.stripPrefix("$").split("\\.").toList
        .filter(_.nonEmpty)
      parsed.flatMap(walk(_, segs)).map { n =>
        if (n.isContainerNode) java.lang.Integer.valueOf(n.size())
        else java.lang.Integer.valueOf(0)
      }.orNull
    }
  }

  private def walk(node: com.fasterxml.jackson.databind.JsonNode,
      segs: List[String]): Option[com.fasterxml.jackson.databind.JsonNode] =
    segs match {
      case Nil => Option(node)
      case s :: rest =>
        val i = s.indexOf('[')
        val field = if (i < 0) s else s.substring(0, i)
        // Malformed index segments (non-numeric) resolve to None →
        // NULL result, consistent with the malformed-JSON handling.
        val idxs: Option[Seq[Int]] =
          if (i < 0) Some(Seq.empty)
          else scala.util.Try(
            s.substring(i).split("\\[").filter(_.nonEmpty)
              .map(_.stripSuffix("]").toInt).toSeq).toOption
        val afterField =
          if (field.isEmpty) Option(node)
          else Option(node.get(field))
        idxs.flatMap(_.foldLeft(afterField) {
          case (n, idx) => n.flatMap(x => Option(x.get(idx)))
        }) match {
          case Some(n) => walk(n, rest)
          case None    => None
        }
    }
}
