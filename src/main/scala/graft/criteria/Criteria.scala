package graft.criteria

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The alert `criteria` dialect shim.
  *
  * Alert authors write criteria as Presto/Athena SQL boolean predicate
  * text (reference: alerta.py:135 injects it verbatim into the WHERE
  * clause). Spark SQL parses almost all of it natively; the only
  * Presto-ism in the shipped alert corpus is `json_extract_scalar`,
  * which Spark spells `get_json_object` (same JSONPath semantics for
  * scalar extraction, NULL on miss). We rewrite token-wise rather than
  * registering an alias so the criteria text stays valid for
  * `EXPLAIN`/debug output and for the DuckDB oracle rewrite in tests.
  */
object Criteria {

  /** Presto → Spark SQL dialect rewrite for alert criteria text.
    * Reference construct inventory: SURVEY.md §2.2. Rewrites apply
    * only OUTSIDE single-quoted SQL string literals — a criteria
    * comparing against text that happens to contain a function name
    * must not have its literal rewritten.
    *
    * ONE tokenizer, then passes over the token stream: the text is
    * lexed ONCE into literals / quoted identifiers / identifiers /
    * numbers / symbols, and every rewrite — the date_diff/date_add
    * unit lowering, 1-based subscripts, dialect renames, presto_*
    * prefixing — is a splice on that stream. Literal- and
    * identifier-awareness therefore live in exactly one place (the
    * lexer), killing the bug class where six stacked textual passes
    * each re-decided where strings start (the "it's col" mis-chunk,
    * the \b-after-dot prefix mangle — each found one at a time
    * through r8).
    */
  def rewrite(presto: String): String =
    render(renamePass(subscriptPass(dateFnPass(
      lex(presto, dquote = true)))))

  // ── the token stream ──────────────────────────────────────────────

  /** One criteria token. `text` is always the exact output rendering;
    * concatenating the stream reproduces the (rewritten) text, so
    * every pass is a pure splice on the vector.
    */
  private sealed trait Tok { def text: String }
  private object Tok {
    /** Single-quoted SQL string literal, quotes and '' escapes
      * intact — no pass ever looks inside. */
    final case class Lit(text: String) extends Tok
    /** Identifier in backtick rendering — a Presto double-quoted
      * identifier the lexer already converted ("a b" → `a b`, ""
      * unescaped, embedded backticks doubled), or one that arrived
      * backtick-quoted. */
    final case class QIdent(text: String) extends Tok
    final case class Ident(text: String) extends Tok
    final case class Num(text: String) extends Tok
    final case class Ws(text: String) extends Tok
    /** One non-token character (operators, punctuation, brackets). */
    final case class Sym(text: String) extends Tok
    /** Opaque span no pass may touch — an unterminated quote;
      * malformed input stays verbatim instead of being reshaped. */
    final case class Raw(text: String) extends Tok
  }

  /** Lex criteria text. `dquote = true` converts Presto double-quoted
    * identifiers to Spark backtick identifiers while lexing (outside
    * single-quoted literals a double-quoted token is ALWAYS an
    * identifier in Presto — its string literals are single-quoted —
    * while Spark would silently read a string); `dquote = false`
    * leaves '"' as an ordinary symbol (the standalone
    * [[rewriteSubscripts]] contract, which predates quoting).
    */
  private def lex(s: String, dquote: Boolean): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') {
        var j = i + 1; var closed = false
        while (j < s.length && !closed) {
          if (s.charAt(j) == '\'') {
            if (j + 1 < s.length && s.charAt(j + 1) == '\'') j += 2
            else { closed = true; j += 1 }
          } else j += 1
        }
        out += (if (closed) Tok.Lit(s.substring(i, j))
                else Tok.Raw(s.substring(i, j)))
        i = j
      } else if (c == '"' && dquote) {
        var j = i + 1; val ident = new StringBuilder; var closed = false
        while (j < s.length && !closed) {
          if (s.charAt(j) == '"') {
            if (j + 1 < s.length && s.charAt(j + 1) == '"') {
              ident.append('"'); j += 2
            } else { closed = true; j += 1 }
          } else { ident.append(s.charAt(j)); j += 1 }
        }
        out += (if (closed)
          Tok.QIdent("`" + ident.toString.replace("`", "``") + "`")
        else Tok.Raw(s.substring(i, j)))
        i = j
      } else if (c == '`') {
        var j = i + 1
        while (j < s.length && s.charAt(j) != '`') j += 1
        if (j < s.length) { out += Tok.QIdent(s.substring(i, j + 1)); i = j + 1 }
        else { out += Tok.Raw(s.substring(i)); i = s.length }
      } else if (c.isLetter || c == '_') {
        var j = i + 1
        while (j < s.length &&
            (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j += 1
        out += Tok.Ident(s.substring(i, j)); i = j
      } else if (c.isDigit) {
        var j = i + 1
        while (j < s.length && s.charAt(j).isDigit) j += 1
        out += Tok.Num(s.substring(i, j)); i = j
      } else if (c.isWhitespace) {
        var j = i + 1
        while (j < s.length && s.charAt(j).isWhitespace) j += 1
        out += Tok.Ws(s.substring(i, j)); i = j
      } else { out += Tok.Sym(c.toString); i += 1 }
    }
    out.result()
  }

  private def render(toks: Vector[Tok]): String =
    toks.iterator.map(_.text).mkString

  /** Presto date_diff('unit', t1, t2) → Spark timestampdiff(unit, …)
    * and date_add('unit', n, ts) → timestampadd(unit, …): Spark's
    * parser claims the unit as an unquoted keyword before any
    * registry lookup, so the unit LITERAL must be lowered to a bare
    * token at rewrite time (same t2−t1 direction). Qualified
    * references (`x.date_diff(...)`) stay verbatim, like every other
    * rename.
    */
  private def dateFnPass(toks: Vector[Tok]): Vector[Tok] = {
    import Tok._
    val units = Set("year", "quarter", "month", "week", "day", "hour",
      "minute", "second", "millisecond", "microsecond")
    def isWs(t: Tok) = t.isInstanceOf[Ws]
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) {
      val rewrote = toks(i) match {
        case Ident(name) if name.equalsIgnoreCase("date_diff") ||
            name.equalsIgnoreCase("date_add") =>
          var p = i - 1
          while (p >= 0 && isWs(toks(p))) p -= 1
          val qualified = p >= 0 && toks(p) == Sym(".")
          var k = i + 1
          while (k < toks.length && isWs(toks(k))) k += 1
          val shapeOk = !qualified && k < toks.length &&
            toks(k) == Sym("(")
          if (!shapeOk) false
          else {
            var u = k + 1
            while (u < toks.length && isWs(toks(u))) u += 1
            toks.lift(u) match {
              case Some(Lit(q)) if q.length >= 2 &&
                  units.contains(q.substring(1, q.length - 1).toLowerCase) =>
                var cm = u + 1
                while (cm < toks.length && isWs(toks(cm))) cm += 1
                if (cm < toks.length && toks(cm) == Sym(",")) {
                  out += Ident(if (toks(i).text.equalsIgnoreCase("date_diff"))
                    "timestampdiff" else "timestampadd")
                  toks.slice(i + 1, u).foreach(out += _) // '(' + spacing
                  out += Ident(q.substring(1, q.length - 1))
                  i = u + 1
                  true
                } else false
              case _ => false
            }
          }
        case _ => false
      }
      if (!rewrote) { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Dialect renames over identifier tokens — the no-shadow mapping.
    * The shims that would shadow a Spark builtin are registered as
    * `presto_<name>` ([[graft.functions.Functions.prefixedNames]] is
    * the single source of truth — a new prefixed shim can never drift
    * out of sync with this pass); criteria text keeps the bare Presto
    * spelling and this pass maps it, in FUNCTION-CALL POSITION only
    * (a column that happens to be named `split` stays untouched).
    * Qualified references (`cat.split(...)`) resolve through their
    * qualifier, never the session registry, so they stay verbatim.
    * `json_extract_scalar` → `get_json_object` and `TRY_CAST` →
    * `try_cast` rename in any position; Presto's bare unparameterized
    * `VARCHAR` (CAST(x AS VARCHAR)) becomes `STRING` — Spark requires
    * a length on VARCHAR — while `VARCHAR(n)`, valid in both, stays;
    * `VARBINARY` becomes `BINARY` (Spark's only binary spelling).
    */
  private def renamePass(toks: Vector[Tok]): Vector[Tok] = {
    import Tok._
    def prevNonWs(i: Int): Option[Tok] = {
      var k = i - 1
      while (k >= 0 && toks(k).isInstanceOf[Ws]) k -= 1
      if (k >= 0) Some(toks(k)) else None
    }
    def nextNonWs(i: Int): Option[Tok] = {
      var k = i + 1
      while (k < toks.length && toks(k).isInstanceOf[Ws]) k += 1
      if (k < toks.length) Some(toks(k)) else None
    }
    toks.zipWithIndex.map {
      case (t @ Ident(name), i) =>
        val lower = name.toLowerCase
        if (prevNonWs(i).contains(Sym("."))) t
        else {
          val called = nextNonWs(i).contains(Sym("("))
          if (lower == "json_extract_scalar") Ident("get_json_object")
          else if (lower == "try_cast") Ident("try_cast")
          else if (called &&
              graft.functions.Functions.prefixedNames(lower))
            Ident("presto_" + name)
          else if (lower == "varchar" && !called) Ident("STRING")
          // Presto's binary type is VARBINARY; Spark only parses
          // BINARY (no parameterized form exists on either engine)
          else if (lower == "varbinary") Ident("BINARY")
          else t
        }
      case (t, _) => t
    }
  }

  /** Presto double-quoted identifiers → Spark backtick-quoted
    * (`"a b"` → `` `a b` ``). Presto string literals are always
    * single-quoted, so outside single-quoted literals a double-quoted
    * token is ALWAYS an identifier — while Spark (with ANSI
    * double-quoted-identifiers off) would read it as a string literal
    * and silently compare against the wrong thing. `""` inside is
    * Presto's escape for one quote; a literal backtick inside the
    * identifier becomes Spark's doubled-backtick escape.
    */
  private[graft] def rewriteQuotedIdents(s: String): String =
    // the lexer IS the one left-to-right pass over both quote kinds:
    // whichever quote opens first owns its span (pre-extracting
    // single-quoted spans first mis-chunked a double-quoted
    // identifier containing an apostrophe — "it's col")
    render(lex(s, dquote = true))

  /** Presto `expr[i]` subscripts are 1-BASED on arrays; Spark's `[]`
    * is 0-based — a wild criteria using `split(x, ',')[1]` would
    * silently read the WRONG element. Rewrite every subscript to
    * `element_at(expr, i)`, which carries Presto's semantics in Spark
    * for both arrays (1-based, negative-from-end) and maps (key
    * lookup). `ARRAY[...]` constructors become Spark's `array(...)`.
    * (Divergence kept: Presto errors on an out-of-range array index,
    * element_at returns NULL — lax, never wrong-element.)
    *
    * Innermost-first, literal-aware, fixpoint loop: each pass rewrites
    * one bracket pair whose content holds no further brackets, so
    * `a[b[1]]` and chained `m[1][2]` both resolve. A bracket pair
    * whose base is unrecognizable (a stray bracket, a non-subscript
    * construct) is SKIPPED — the scan resumes after it so every later
    * rewritable subscript in the same criteria still converts, instead
    * of being silently left as a 0-based Spark subscript. Backtick-
    * quoted bases (from [[rewriteQuotedIdents]]) are valid subscript
    * bases.
    */
  private[graft] def rewriteSubscripts(s: String): String =
    render(subscriptPass(lex(s, dquote = false)))

  private def subscriptPass(toks0: Vector[Tok]): Vector[Tok] = {
    import Tok._
    var toks = toks0
    var floor = 0
    var done = false
    while (!done) {
      // innermost pair at-or-after `floor` = the last '[' before the
      // first ']' (token kinds make literal-awareness automatic);
      // its content is bracket-free by construction
      var open = -1; var close = -1; var i = floor
      while (i < toks.length && close < 0) {
        toks(i) match {
          case Sym("[")              => open = i
          case Sym("]") if open >= 0 => close = i
          case _                     => ()
        }
        i += 1
      }
      if (close < 0) done = true
      else {
        var j = open - 1
        while (j >= 0 && toks(j).isInstanceOf[Ws]) j -= 1
        def chainStart(from: Int): Int = {
          // dotted identifier chain, maximal run backward
          var m = from
          while (m >= 0 && (toks(m) match {
            case _: Ident | _: Num | Sym(".") => true
            case _                            => false
          })) m -= 1
          m + 1
        }
        val baseStart: Int =
          if (j < 0) -1
          else toks(j) match {
            case Sym(")") =>
              // balance parens backward, then take the (possibly
              // qualified) function name in front
              var depth = 0; var k = j; var stop = -1
              while (k >= 0 && stop < 0) {
                toks(k) match {
                  case Sym(")") => depth += 1
                  case Sym("(") =>
                    depth -= 1; if (depth == 0) stop = k
                  case _ => ()
                }
                k -= 1
              }
              if (stop < 0) -1 else chainStart(stop - 1)
            case _: QIdent        => j
            case _: Ident | _: Num => chainStart(j)
            case _                => -1
          }
        if (baseStart < 0)
          // stray bracket — not a subscript. Skip past this pair and
          // keep rewriting the rest of the stream.
          floor = close + 1
        else {
          val base = toks.slice(baseStart, j + 1)
          val inner = toks.slice(open + 1, close)
          val isArrayCtor = base.lengthIs == 1 && (base.head match {
            case Ident(n) => n.equalsIgnoreCase("array")
            case _        => false
          })
          val replaced: Vector[Tok] =
            if (isArrayCtor)
              (Vector(Ident("array"), Sym("(")) ++ inner) :+ Sym(")")
            else
              ((Vector(Ident("element_at"), Sym("(")) ++ base :+
                Sym(",") :+ Ws(" ")) ++ inner) :+ Sym(")")
          toks = toks.take(baseStart) ++ replaced ++ toks.drop(close + 1)
          floor = 0
        }
      }
    }
    toks
  }

  /** Parse rewritten criteria into a Column predicate. Catalyst then
    * pushes whatever it can into the scan (envelope-column equality
    * predicates reach the parquet reader; JSON extraction evaluates
    * post-scan, exactly as Presto does).
    *
    * Blank criteria (the shell default when an author omits it) means
    * "everything" — the same contract the streaming paths document —
    * instead of an expr("") ParseException that would silently skip
    * the spec in batch.
    *
    * A pure function of the text: [[rewrite]] maps divergent dialect
    * tokens to `presto_<name>` functions, which every session built
    * through `Tables.configure` already holds
    * ([[graft.functions.Functions.dialect]], injected by
    * `GraftExtensions`).
    */
  def toColumn(presto: String): Column =
    if (presto.trim.isEmpty) lit(true) else expr(rewrite(presto))

  def apply(df: DataFrame, presto: String): DataFrame = df.where(toColumn(presto))

  // --- partition window ---------------------------------------------------

  private val yearF  = DateTimeFormatter.ofPattern("yyyy").withZone(ZoneOffset.UTC)
  private val monthF = DateTimeFormatter.ofPattern("MM").withZone(ZoneOffset.UTC)
  private val dayF   = DateTimeFormatter.ofPattern("dd").withZone(ZoneOffset.UTC)
  private val hourF  = DateTimeFormatter.ofPattern("HH").withZone(ZoneOffset.UTC)

  /** The reference scans the current + previous hour partitions via
    * zero-padded string equality predicates on `year/month/day/hour`
    * (alerta.py:136-146, utils/dates.py:13-35). Filters on parquet
    * partition columns prune automatically in Spark — at 100 TB this
    * is the difference between scanning 2 hours and 3 years of data.
    */
  def partitionWindow(now: Instant): Column = {
    def hourPredicate(t: Instant): Column =
      col("year") === yearF.format(t) &&
        col("month") === monthF.format(t) &&
        col("day") === dayF.format(t) &&
        col("hour") === hourF.format(t)
    hourPredicate(now) || hourPredicate(now.minusSeconds(3600))
  }

  /** Same two-hour lookback expressed directly against an event-time
    * column — for sources that are not hour-partitioned (e.g. the
    * local `events.parquet`, which has a raw `ts`). Semantically the
    * partition predicates truncate to hour boundaries, so the window
    * is [hourStart(now)-1h, now..end-of-hour]; we reproduce that by
    * comparing on the hour-truncated timestamp.
    */
  def timeWindow(tsCol: Column, now: Instant): Column = {
    val nowTs = lit(DateTimeFormatter.ISO_INSTANT.format(now)).cast("timestamp")
    date_trunc("hour", tsCol) === date_trunc("hour", nowTs) ||
      date_trunc("hour", tsCol) === date_trunc("hour", nowTs - expr("INTERVAL 1 HOUR"))
  }

  /** Derive the reference's zero-padded string partition columns from a
    * timestamp — used when materializing an events lake laid out
    * `year=/month=/day=/hour=` for parity with the reference's Athena
    * table (alerta.py:136-146).
    *
    * Registry-immune by construction: the `DateFormatClass` nodes are
    * built directly rather than resolved by NAME, so even a session
    * whose `FunctionRegistry` carries a foreign `date_format` (on
    * Spark 4 the DataFrame DSL resolves through the registry — the r7
    * `hour='HH'` lake-poisoning class) still writes the reference
    * layout. Defense in depth on top of the no-shadow invariant in
    * [[graft.functions.Functions.dialect]].
    */
  def withPartitionColumns(df: DataFrame, tsCol: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    def fmt(pattern: String): Column = ColumnBridge.column(
      DateFormatClass(ColumnBridge.expression(tsCol), Literal(pattern)))
    df.withColumn("year", fmt("yyyy"))
      .withColumn("month", fmt("MM"))
      .withColumn("day", fmt("dd"))
      .withColumn("hour", fmt("HH"))
  }
}
