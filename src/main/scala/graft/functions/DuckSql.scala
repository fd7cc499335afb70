package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The DuckDB-dialect SQL front door (r12 verdict #5) — the other half of
  * the engine-switch story, one layer above the [[DuckDialect]] function
  * aliases: run a DuckDB-flavored oracle text on Spark.
  *
  *  1. TYPE-TOKEN rewrites, applied OUTSIDE string literals only:
  *     `DOUBLE[]` → `ARRAY<DOUBLE>` (DuckDB list-type syntax),
  *     `AS VARCHAR` → `AS STRING` (bare VARCHAR cast), the
  *     `//` integer-division operator → ` DIV `, the bare aggregate
  *     `FILTER (cond)` → `FILTER (WHERE cond)` (DuckDB makes WHERE
  *     optional; the rewrite fires only after a closing paren, so the
  *     higher-order `filter(arr, fn)` function is never touched),
  *     DuckDB's inside-the-call `f(expr IGNORE NULLS)` → standard
  *     `f(expr) IGNORE NULLS`, the 1-based inclusive list slice
  *     `xs[lo:hi]` → `slice(xs, lo, greatest(hi-lo+1, 0))` and 1-based
  *     indexing `xs[i]` →
  *     `try_element_at(xs, if(CAST(i AS INT) = 0, NULL, CAST(i AS INT)))`
  *     (identifier OR call/paren receivers, string subscripts = map keys;
  *     not `nullif`: Spark 4's `With` → common-expression Project → a
  *     constraint set that grows 2^k for k subscripts),
  *     `HUGEINT` → `DECIMAL(38,0)` (exact 128-bit-safe arithmetic — every
  *     kernel-replay intermediate stays under 2^96 < 10^38, `xor` aliased,
  *     `//`→DIV accepts decimals), and bare decimal literals `1.0` →
  *     `CAST(1.0 AS DOUBLE)` (DuckDB's arithmetic lands DOUBLE where Spark
  *     would keep DECIMAL(2,1)), and the ordered aggregates
  *     `first/last(x ORDER BY k…)` → `min_by/max_by(x, struct(k…))`
  *     (lexicographic struct comparison ≡ the in-call ORDER BY; DESC keys
  *     stay untouched → loud parse error). Pure spelling, no
  *     semantics: each converted query is equality-checked against both
  *     DuckDB and the DataFrame implementation in SqlParitySpec.
  *  1b. ZIPPED GENERATORS ([[rewriteZips]], a pre-pass): DuckDB aligns
  *     multiple SELECT-list generators element-wise; a run of consecutive
  *     `unnest(E) AS a, generate_subscripts(E, 1) AS b` items folds into
  *     ONE `inline(arrays_zip(…)) AS (a, b)` generator (NULL-padded to the
  *     longest input on both engines).
  *  2. `WITH RECURSIVE` expansion: Spark 4's native recursion accepts only
  *     UNION ALL members, but the SQL-standard closure idiom (and every
  *     recursive oracle here) uses UNION — on a cyclic edge relation
  *     UNION ALL never terminates, so "just rewrite it" is not an option.
  *     The façade parses the CTE list and evaluates each recursive member
  *     by SEMI-NAIVE fixed-point iteration (exactly the standard's
  *     working-table semantics, which is also DuckDB's): the anchor seeds
  *     the accumulator, each round re-binds the CTE name to the LAST
  *     round's new rows, evaluates the step, keeps `distinct − seen`, and
  *     stops on an empty frontier. Each frontier is localCheckpoint-
  *     materialized so the loop's plan depth stays Θ(1) per round.
  *
  * Dialect trade-off (deliberate, like the `regexp_extract_all` group-0
  * default): the [[DuckDialect]] shadows give `chr` Unicode-codepoint
  * semantics (Spark's builtin is ASCII-mod-256) and make the 4th
  * `regexp_replace` argument a DuckDB FLAGS string (only `'g'` accepted —
  * Spark's builtin 4th argument is a start POSITION, which a dialect
  * session gives up; a non-'g' value fails loudly rather than silently
  * changing semantics).
  *
  * This is a PORTABILITY surface: it makes a reference user's SQL run
  * unchanged. The engine's own operators ([[graft.operators.DedupCluster
  * .connectedComponents]] with pointer jumping, the banded/blocked
  * kernels) remain the scale path for closure workloads — the façade's
  * row-at-a-time closure is the standard's semantics, not a 100 TB plan.
  */
object DuckSql {

  /** Hard stop for non-converging recursion (a closure's round count is
    * bounded by the graph diameter; anything near this is a bug or a
    * genuinely divergent query). */
  val MaxIterations = 200

  def sql(spark: SparkSession, text: String): DataFrame = {
    val z = rewriteZips(text)
    // RECURSIVE needs the fixpoint loop; an AS MATERIALIZED hint is an
    // EXPLICIT evaluation barrier the author asked for — honor it with a
    // lazy localCheckpoint per hinted CTE (DuckDB materializes; Spark's
    // CTE inlining would otherwise re-expand a multiply-referenced stage
    // into every referent, and a chained hinted pipeline — the unrolled
    // BPE oracles — grows the inlined tree exponentially with depth).
    // Queries with neither hint stay a single spark.sql statement: full
    // cross-CTE Catalyst optimization, no barrier.
    if (RecursivePrefix.findFirstIn(z).isDefined || hasMaterialized(z))
      expandCtes(spark, z)
    else spark.sql(rewriteTokens(z))
  }

  private val RecursivePrefix = "(?is)^\\s*WITH\\s+RECURSIVE\\b".r
  private val WithPrefix = "(?is)^\\s*WITH\\s+(RECURSIVE\\s+)?".r

  /** Whether an `AS MATERIALIZED (` hint occurs outside string literals. */
  private def hasMaterialized(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (s(i) == '\'') i = skipString(s, i)
      else if (matchesWord(s, i, "MATERIALIZED") &&
          nextNonWs(s, i + 12) == Some('(')) return true
      else i += 1
    }
    false
  }

  /** Token rewrites outside single-quoted literals ('' escapes handled). */
  private[graft] def rewriteTokens(s: String): String = {
    val out = new StringBuilder(s.length + 16)
    var i = 0
    while (i < s.length) {
      if (s(i) == '\'') {
        val end = skipString(s, i)
        out.append(s.substring(i, end))
        i = end
      } else if (s.startsWith("//", i)) {
        out.append(" DIV "); i += 2
      } else if (matchesWord(s, i, "DOUBLE") && nextNonWs(s, i + 6) == Some('[') &&
          nextNonWsAfterIs(s, i + 6, '[', ']')) {
        out.append("ARRAY<DOUBLE>")
        i = indexAfter(s, i + 6, ']')
      } else if (matchesWord(s, i, "VARCHAR")) {
        out.append("STRING"); i += 7
      } else if (matchesWord(s, i, "FILTER") &&
          lastNonWs(out) == Some(')') && nextNonWs(s, i + 6) == Some('(') &&
          !matchesWord(s, skipWs(s, skipWs(s, i + 6) + 1), "WHERE")) {
        // aggregate FILTER with DuckDB's optional WHERE omitted; the
        // `) FILTER (` shape can't be the higher-order filter() function
        val open = skipWs(s, i + 6)
        out.append(s.substring(i, open + 1)).append("WHERE ")
        i = open + 1
      } else if (s(i) == '[' && sliceExprs(s, i).isDefined &&
          lastReceiver(out).isDefined) {
        // DuckDB 1-based inclusive list slice `xs[lo:hi]` → Spark
        // `slice(xs, lo, greatest((hi)-(lo)+1, 0))` (both clamp to the
        // available length; the greatest() makes a runtime hi < lo-1 an
        // EMPTY list like DuckDB, where Spark's slice errors on a negative
        // length — ADVICE r13). Receiver: identifier or a call/paren
        // group; non-negative bound expressions (a from-the-end negative
        // bound has no direct slice() analogue and stays untouched →
        // loud parse error).
        val (lo, hi, after) = sliceExprs(s, i).get
        val (recv, at) = lastReceiver(out).get
        out.setLength(at)
        val loR = rewriteTokens(lo)
        val hiR = rewriteTokens(hi)
        out.append(s"slice($recv, $loR, greatest(($hiR) - ($loR) + 1, 0))")
        i = after
      } else if (s(i) == '[' && (lastReceiver(out).isDefined ||
            lastNonWs(out) == Some('\'')) &&
          bracketEnd(s, i).exists(e => !s.substring(i + 1, e - 1).contains(':'))) {
        // DuckDB 1-based list indexing `xs[i]` (NULL out of range, and
        // NULL at the computed-to-0 index) → `try_element_at(xs,
        // if(CAST(i AS INT) = 0, NULL, CAST(i AS INT)))` — Spark's bare
        // `xs[i]` is 0-based and would be a silent off-by-one; the inner
        // expression is recursively rewritten (it may itself carry `//` or
        // nested indexing). The receiver may be an identifier OR a call/paren
        // group (`split(s, ' ')[1]`, chained `xs[i][j]` — ADVICE r13); a
        // string-literal receiver throws loudly rather than falling
        // through to Spark's 0-based parse. A non-literal slice
        // (`xs[a:b]`, the ':' guard) stays untouched — a loud parse error
        // beats a silent semantic change.
        val end = bracketEnd(s, i).get
        if (lastReceiver(out).isEmpty)
          throw new IllegalArgumentException(
            "DuckSql: cannot rewrite 1-based subscript on a string-literal " +
              s"receiver near ...${s.substring(i, math.min(s.length, i + 30))}")
        val (recv, at) = lastReceiver(out).get
        out.setLength(at)
        val inner = s.substring(i + 1, end - 1)
        val lit = inner.trim
        // a string-literal subscript is MAP-KEY access — no index cast
        // (CAST('key' AS INT) is NULL under non-ANSI casts — ADVICE r13)
        if (lit.length >= 2 && lit.head == '\'' && skipString(lit, 0) == lit.length)
          out.append(s"try_element_at($recv, $lit)")
        else {
          // the CAST matters: series subscripts arrive as BIGINT and
          // Spark's element_at index parameter is INT-typed; the if()
          // makes a computed 0 subscript NULL like DuckDB (Spark throws).
          // Not nullif: Spark 4 lifts each nullif into a common-expression
          // alias, and Project's constraint set doubles per alias (2^k)
          val idx = s"CAST(${rewriteTokens(inner)} AS INT)"
          out.append(s"try_element_at($recv, if($idx = 0, NULL, $idx))")
        }
        i = end
      } else if (matchesWord(s, i, "HUGEINT")) {
        // DuckDB's 128-bit integer → DECIMAL(38,0): every kernel-replay
        // oracle keeps intermediates under 2^96 < 10^38 (a 32-bit limb
        // times a 64-bit constant), Spark's decimal arithmetic is exact
        // BigDecimal, `%` agrees on non-negatives, and IntegralDivide
        // (`//` → DIV) accepts decimals and returns BIGINT — all quotient
        // shifts in the corpus land below 2^34
        out.append("DECIMAL(38,0)"); i += 7
      } else if (s(i).isDigit && (i == 0 ||
          (!isIdent(s(i - 1)) && s(i - 1) != '.')) && floatLitEnd(s, i) > 0) {
        // bare decimal literal `1.0` → CAST(1.0 AS DOUBLE): Spark types it
        // DECIMAL(2,1) and keeps division decimal-typed where DuckDB's
        // arithmetic lands DOUBLE — values agree, row types differ
        // (VERDICT r13 #8). Scientific notation already parses DOUBLE on
        // both engines and is left untouched.
        val end = floatLitEnd(s, i)
        out.append(s"CAST(${s.substring(i, end)} AS DOUBLE)")
        i = end
      } else if (matchesWord(s, i, "UNNEST") && nextNonWs(s, i + 6) == Some('(')) {
        // DuckDB's SELECT-list unnest ≡ Spark's explode generator (one
        // generator per SELECT list — same constraint in both engines'
        // planners for the texts this facade carries)
        out.append("explode"); i += 6
      } else if ((matchesWord(s, i, "FIRST") || matchesWord(s, i, "LAST")) && {
        val w = if (matchesWord(s, i, "FIRST")) 5 else 4
        nextNonWs(s, i + w) == Some('(') &&
          aggOrderSplit(s, skipWs(s, i + w)).exists { case (_, o, _) =>
            val u = o.toUpperCase
            !u.contains("DESC") && !u.contains("NULLS")
          }
      }) {
        // DuckDB's ordered aggregate `first(x ORDER BY k...)` picks x at
        // the minimal ordering key (ties broken by arrival — the oracles
        // order on a unique key); Spark has no in-call ORDER BY, but
        // `min_by(x, struct(...))` computes exactly the minimal-key row
        // (struct comparison is lexicographic). `last` → max_by. NULL
        // order keys diverge between the raw spellings (ADVICE r14):
        // DuckDB's in-call ORDER BY defaults ASC NULLS LAST while Spark's
        // struct comparison sorts nulls FIRST — so each key k becomes the
        // pair `(k) IS NULL, k`: the boolean flag reproduces NULLS LAST
        // exactly (false < true), and the bare k is then only compared
        // between two non-null values (or two nulls — equal, tie by
        // arrival, same as DuckDB's equal-key arrival order). A DESC or
        // explicit NULLS key has no struct-order analogue — untouched,
        // loud parse error.
        val isFirst = matchesWord(s, i, "FIRST")
        val w = if (isFirst) 5 else 4
        val open = skipWs(s, i + w)
        val (args, order, after) = aggOrderSplit(s, open).get
        val fn = if (isFirst) "min_by" else "max_by"
        val keyed = splitTopCommas(order)
          .map(rewriteTokens)
          .flatMap(k => Seq(s"($k) IS NULL", k))
          .mkString(", ")
        out.append(s"$fn(${rewriteTokens(args)}, struct($keyed))")
        i = after
      } else if (matchesWord(s, i, "STRING_AGG") && nextNonWs(s, i + 10) == Some('(') &&
          aggOrderSplit(s, skipWs(s, i + 10)).isDefined) {
        // DuckDB's in-call ordered aggregate `string_agg(x, sep ORDER BY
        // k)` → the standard listagg spelling Spark 4 implements:
        // `listagg(x, sep) WITHIN GROUP (ORDER BY k)`
        val open = skipWs(s, i + 10)
        val (args, order, after) = aggOrderSplit(s, open).get
        out.append(s"listagg(${rewriteTokens(args)}) WITHIN GROUP (ORDER BY ${rewriteTokens(order)})")
        i = after
      } else if (matchesWord(s, i, "MATERIALIZED") &&
          lastWordIs(out, "AS") && nextNonWs(s, i + 12) == Some('(')) {
        // DuckDB's `cte AS MATERIALIZED (...)`: at the TOP level [[sql]]
        // routes the query through [[expandCtes]], which honors the hint
        // with a lazy localCheckpoint BEFORE bodies reach this rewriter —
        // this branch only fires on a WITH nested inside a CTE body or
        // subquery, where the hint has no Spark spelling and is dropped
        i += 12
        while (i < s.length && s(i).isWhitespace) i += 1
      } else if (matchesWord(s, i, "IGNORE") && {
        val n = skipWs(s, i + 6)
        matchesWord(s, n, "NULLS") && nextNonWs(s, n + 5) == Some(')')
      }) {
        // f(expr IGNORE NULLS) — DuckDB allows the modifier inside the
        // call; the standard (and Spark) puts it after: f(expr) IGNORE NULLS
        val close = skipWs(s, skipWs(s, i + 6) + 5)
        out.append(") IGNORE NULLS")
        i = close + 1
      } else {
        out.append(s(i)); i += 1
      }
    }
    out.toString
  }

  // ── positionally-zipped multi-generator SELECT lists ────────────────────

  /** DuckDB zips multiple SELECT-list generators element-wise (NULL-padded
    * to the longest), e.g. `SELECT generate_subscripts(v, 1) AS idx,
    * unnest(v) AS x` — Spark allows ONE generator per SELECT list, so a
    * maximal run of ≥2 CONSECUTIVE generator items folds into a single
    * `inline(arrays_zip(e1, …, eN)) AS (a1, …, aN)` (arrays_zip NULL-pads
    * to the longest, matching DuckDB). `unnest(E)` contributes E;
    * `generate_subscripts(E, 1)` contributes the whole call — the
    * [[DuckDialect]] alias already returns the 1-based index array.
    * Consecutiveness keeps the output column ORDER verbatim;
    * non-adjacent zips stay untouched → loud analysis error, never a
    * silently reordered row. Runs BEFORE [[rewriteTokens]] (which handles
    * the single-generator `unnest` → `explode` case). */
  private[graft] def rewriteZips(s: String): String = {
    var i = 0
    while (i < s.length) {
      if (s(i) == '\'') i = skipString(s, i)
      else if (matchesWord(s, i, "SELECT")) {
        var start = skipWs(s, i + 6)
        if (matchesWord(s, start, "DISTINCT")) start = skipWs(s, start + 8)
        else if (matchesWord(s, start, "ALL")) start = skipWs(s, start + 3)
        val (items, stop) = splitSelectList(s, start)
        val folded = foldZips(items.map(rewriteZips))
        return s.substring(0, start) + folded.mkString(", ") + " " +
          rewriteZips(s.substring(stop))
      } else i += 1
    }
    s
  }

  /** Split a SELECT list into top-level items; returns (items, index of
    * the terminator — FROM/set-op/clause keyword, a closing paren of the
    * enclosing scope, or end of text). */
  private def splitSelectList(s: String, start: Int): (Seq[String], Int) = {
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    val enders = Seq("FROM", "UNION", "ORDER", "GROUP", "HAVING", "WINDOW",
      "LIMIT", "INTERSECT", "EXCEPT", "QUALIFY")
    var itemStart = start
    var depth = 0
    var i = start
    while (i < s.length) {
      s(i) match {
        case '\'' => i = skipString(s, i) - 1
        case '(' | '[' => depth += 1
        case ')' | ']' if depth == 0 =>
          items += s.substring(itemStart, i).trim
          return (items.toSeq, i)
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 =>
          items += s.substring(itemStart, i).trim
          itemStart = i + 1
        case _ if depth == 0 && enders.exists(matchesWord(s, i, _)) =>
          items += s.substring(itemStart, i).trim
          return (items.toSeq, i)
        case _ =>
      }
      i += 1
    }
    items += s.substring(itemStart).trim
    (items.toSeq, s.length)
  }

  /** A SELECT item that IS a generator call with an alias: returns
    * (zip-input expression, alias). */
  private def genOf(item: String): Option[(String, String)] = {
    val t = item.trim
    def parse(fn: String): Option[(String, String)] = {
      if (!matchesWord(t, 0, fn)) return None
      val open = skipWs(t, fn.length)
      if (open >= t.length || t(open) != '(') return None
      val end =
        try matchParen(t, open)
        catch { case _: IllegalArgumentException => return None }
      val alias = "(?is)^AS\\s+([A-Za-z_][A-Za-z0-9_]*)$".r
        .findFirstMatchIn(t.substring(end).trim)
        .map(_.group(1)).getOrElse(return None)
      if (fn == "unnest") Some((t.substring(open + 1, end - 1).trim, alias))
      else Some((t.substring(0, end), alias))
    }
    parse("unnest").orElse(parse("generate_subscripts"))
  }

  /** Fold each maximal run of ≥2 consecutive generator items into one
    * inline(arrays_zip(…)) generator. */
  private def foldZips(items: Seq[String]): Seq[String] = {
    val gens = items.map(genOf)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < items.length) {
      var j = i
      while (j < items.length && gens(j).isDefined) j += 1
      if (j - i >= 2) {
        val run = gens.slice(i, j).map(_.get)
        out += s"inline(arrays_zip(${run.map(_._1).mkString(", ")})) " +
          s"AS (${run.map(_._2).mkString(", ")})"
        i = j
      } else {
        out += items(i)
        i += 1
      }
    }
    out.toSeq
  }

  private def lastNonWs(sb: StringBuilder): Option[Char] = {
    var i = sb.length - 1
    while (i >= 0 && sb.charAt(i).isWhitespace) i -= 1
    if (i >= 0) Some(sb.charAt(i)) else None
  }

  /** Whether the builder's last complete word equals `w` (case-insensitive). */
  private def lastWordIs(sb: StringBuilder, w: String): Boolean = {
    var e = sb.length
    while (e > 0 && sb.charAt(e - 1).isWhitespace) e -= 1
    var b = e
    while (b > 0 && isIdent(sb.charAt(b - 1))) b -= 1
    e - b == w.length && sb.substring(b, e).equalsIgnoreCase(w)
  }

  /** The subscriptable expression the builder currently ends with, as
    * (text, startIndex): a (possibly dot-qualified) identifier, or a
    * call/paren group `split(s, ' ')` / `(expr)` — including a chained
    * `try_element_at(...)` emitted by an earlier subscript rewrite
    * (ADVICE r13: expression receivers must not fall through to Spark's
    * 0-based parser). */
  private def lastReceiver(sb: StringBuilder): Option[(String, Int)] =
    lastIdent(sb).map(id => (id, sb.length - id.length))
      .orElse(lastParenGroup(sb))

  /** When the builder (modulo trailing ws) ends with a ')': the enclosing
    * paren group plus any function-name prefix, scanning backwards over
    * string literals ('' escapes included). */
  private def lastParenGroup(sb: StringBuilder): Option[(String, Int)] = {
    var e = sb.length
    while (e > 0 && sb.charAt(e - 1).isWhitespace) e -= 1
    if (e == 0 || sb.charAt(e - 1) != ')') return None
    var depth = 0
    var j = e - 1
    while (j >= 0) {
      sb.charAt(j) match {
        case '\'' =>
          // skip backwards to the literal's opening quote, '' = escape
          j -= 1
          var open = false
          while (j >= 0 && !open) {
            if (sb.charAt(j) == '\'') {
              if (j > 0 && sb.charAt(j - 1) == '\'') j -= 2 else open = true
            } else j -= 1
          }
        case ')' => depth += 1
        case '(' =>
          depth -= 1
          if (depth == 0) {
            var b = j
            while (b > 0 && (isIdent(sb.charAt(b - 1)) ||
                (sb.charAt(b - 1) == '.' && b - 1 > 0 && isIdent(sb.charAt(b - 2)))))
              b -= 1
            return Some((sb.substring(b, e), b))
          }
        case _ =>
      }
      j -= 1
    }
    None
  }

  /** Index AFTER a bare `digits.digits` literal starting at `i0`, or -1
    * when the token is not one (no dot, or scientific/identifier tail). */
  private def floatLitEnd(s: String, i0: Int): Int = {
    var i = i0
    while (i < s.length && s(i).isDigit) i += 1
    if (i >= s.length || s(i) != '.') return -1
    i += 1
    val fracStart = i
    while (i < s.length && s(i).isDigit) i += 1
    if (i == fracStart) return -1
    if (i < s.length && (isIdent(s(i)) || s(i) == '.')) -1 else i
  }

  /** The (possibly dot-qualified) identifier the builder currently ends
    * with (no trailing ws): `ws`, `t.ws` — but not a numeric literal. */
  private def lastIdent(sb: StringBuilder): Option[String] = {
    var i = sb.length
    while (i > 0 && (isIdent(sb.charAt(i - 1)) ||
        (sb.charAt(i - 1) == '.' && i - 1 > 0 && isIdent(sb.charAt(i - 2))))) i -= 1
    if (i < sb.length && !(i > 0 && sb.charAt(i - 1) == '\'')) {
      val id = sb.substring(i)
      val segs = id.split('.')
      if (segs.exists(s => s.isEmpty || s.head.isDigit)) None else Some(id)
    } else None
  }

  /** For an aggregate call whose '(' is at `i0`: split the argument text
    * at a top-level ` ORDER BY ` — returns (args, orderKeys, index after
    * the ')'); None when the call carries no in-call ORDER BY. */
  private def aggOrderSplit(s: String, i0: Int): Option[(String, String, Int)] = {
    val end = matchParen(s, i0)
    val inner = s.substring(i0 + 1, end - 1)
    var depth = 0
    var i = 0
    while (i < inner.length) {
      inner(i) match {
        case '\'' => i = skipString(inner, i) - 1
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case _ if depth == 0 && matchesWord(inner, i, "ORDER") &&
            matchesWord(inner, skipWs(inner, i + 5), "BY") =>
          val keys = inner.substring(skipWs(inner, i + 5) + 2).trim
          return Some((inner.substring(0, i).trim, keys, end))
        case _ =>
      }
      i += 1
    }
    None
  }

  /** Split on commas at paren/bracket depth 0 (string literals skipped) —
    * the ORDER BY key list of an in-call ordered aggregate. */
  private def splitTopCommas(s: String): Seq[String] = {
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var depth = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '\'' => i = skipString(s, i) - 1
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 =>
          items += s.substring(start, i).trim
          start = i + 1
        case _ =>
      }
      i += 1
    }
    items += s.substring(start).trim
    items.toSeq
  }

  /** Index AFTER the ']' matching the '[' at `i0`, tracking nesting and
    * skipping string literals; None when unbalanced. */
  private def bracketEnd(s: String, i0: Int): Option[Int] = {
    var depth = 0
    var i = i0
    while (i < s.length) {
      s(i) match {
        case '\'' => i = skipString(s, i) - 1
        case '[' => depth += 1
        case ']' =>
          depth -= 1
          if (depth == 0) return Some(i + 1)
        case _ =>
      }
      i += 1
    }
    None
  }

  /** `[lo:hi]` slice starting at the '[' with EXPRESSION bounds split at
    * the top-level ':' — returns (lo, hi, index after ']'); None when the
    * brackets don't contain a top-level ':' or the upper bound is a
    * from-the-end negative. */
  private def sliceExprs(s: String, i0: Int): Option[(String, String, Int)] = {
    val end = bracketEnd(s, i0).getOrElse(return None)
    val inner = s.substring(i0 + 1, end - 1)
    var depth = 0
    var colon = -1
    var i = 0
    while (i < inner.length && colon < 0) {
      inner(i) match {
        case '\'' => i = skipString(inner, i) - 1
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ':' if depth == 0 => colon = i
        case _ =>
      }
      i += 1
    }
    if (colon < 0) return None
    val lo = inner.substring(0, colon).trim
    val hi = inner.substring(colon + 1).trim
    // a from-the-end negative bound (either end — ADVICE r13) has no
    // slice() analogue: stay untouched → loud parse error, never a silent
    // absolute/relative mix
    if (lo.isEmpty || hi.isEmpty || lo.startsWith("-") || hi.startsWith("-")) None
    else Some((lo, hi, end))
  }

  /** i points at the opening quote; returns index AFTER the closing quote,
    * treating '' as an escaped quote (the SQL standard). */
  private def skipString(s: String, i0: Int): Int = {
    var i = i0 + 1
    while (i < s.length) {
      if (s(i) == '\'') {
        if (i + 1 < s.length && s(i + 1) == '\'') i += 2
        else return i + 1
      } else i += 1
    }
    s.length
  }

  private def matchesWord(s: String, i: Int, w: String): Boolean =
    s.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !isIdent(s(i - 1))) &&
      (i + w.length >= s.length || !isIdent(s(i + w.length)))

  private def isIdent(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  private def nextNonWs(s: String, from: Int): Option[Char] = {
    var i = from
    while (i < s.length && s(i).isWhitespace) i += 1
    if (i < s.length) Some(s(i)) else None
  }

  /** After skipping whitespace from `from`, expect `open` then (whitespace)
    * then `close`. */
  private def nextNonWsAfterIs(s: String, from: Int, open: Char, close: Char): Boolean = {
    var i = from
    while (i < s.length && s(i).isWhitespace) i += 1
    if (i >= s.length || s(i) != open) return false
    i += 1
    while (i < s.length && s(i).isWhitespace) i += 1
    i < s.length && s(i) == close
  }

  private def indexAfter(s: String, from: Int, c: Char): Int = {
    var i = from
    while (s(i) != c) i += 1
    i + 1
  }

  // ── WITH RECURSIVE expansion ───────────────────────────────────────────

  private case class Cte(name: String, cols: Seq[String], body: String,
      materialized: Boolean)

  /** Evaluate a WITH query CTE-by-CTE: recursive members by semi-naive
    * fixpoint, `AS MATERIALIZED` members via a lazy localCheckpoint (the
    * hint IS a materialization request — see [[sql]]), the rest as plain
    * temp views (analysis inlines them, cross-CTE pushdown intact). The
    * input is zip-rewritten but NOT token-rewritten — MATERIALIZED must
    * still be visible here; each body and the final SELECT are token-
    * rewritten individually before evaluation. */
  private def expandCtes(spark: SparkSession, text: String): DataFrame = {
    val m = WithPrefix.findFirstMatchIn(text)
      .getOrElse(return spark.sql(rewriteTokens(text)))
    var i = m.end
    val ctes = scala.collection.mutable.ArrayBuffer.empty[Cte]
    var done = false
    while (!done) {
      i = skipWs(text, i)
      val (name, i1) = parseIdent(text, i)
      i = skipWs(text, i1)
      val (cols, i2) =
        if (i < text.length && text(i) == '(') parseIdentList(text, i)
        else (Nil, i)
      i = skipWs(text, i2)
      require(text.regionMatches(true, i, "AS", 0, 2) &&
        (i + 2 >= text.length || !isIdent(text(i + 2))),
        s"expected AS after CTE name $name")
      i = skipWs(text, i + 2)
      val mat = text.regionMatches(true, i, "MATERIALIZED", 0, 12) &&
        (i + 12 >= text.length || !isIdent(text(i + 12)))
      if (mat) i = skipWs(text, i + 12)
      require(i < text.length && text(i) == '(', s"expected ( after $name AS")
      val end = matchParen(text, i)
      ctes += Cte(name, cols, rewriteTokens(text.substring(i + 1, end - 1)), mat)
      i = skipWs(text, end)
      if (i < text.length && text(i) == ',') i += 1 else done = true
    }
    val finalSql = rewriteTokens(text.substring(i))
    val created = scala.collection.mutable.ArrayBuffer.empty[String]
    // a recursive member re-evaluates its step SQL every fixpoint round,
    // and temp views INLINE their plans — so any non-recursive CTE the
    // recursion reads (e.g. a signature-kernel stage) would recompute per
    // round, with its codegen re-broadcast each time (measured 50 MiB
    // task binaries × rounds on the minhash-closure oracles). Materialize
    // the non-recursive CTEs once (lazy localCheckpoint — pays on first
    // reference) whenever any member is recursive or hinted MATERIALIZED;
    // pure view registration (cross-CTE pushdown intact) otherwise.
    val anyRecursive = ctes.exists(c => referencesName(c.body, c.name))
    try {
      ctes.foreach { cte =>
        val df =
          if (referencesName(cte.body, cte.name)) fixpoint(spark, cte)
          else {
            val plain = withCols(spark.sql(cte.body), cte.cols)
            if (anyRecursive || cte.materialized) plain.localCheckpoint(false)
            else plain
          }
        df.createOrReplaceTempView(cte.name)
        created += cte.name
      }
      // analysis inlines the view plans, so the returned frame survives the
      // temp-view cleanup below
      spark.sql(finalSql)
    } finally created.foreach(spark.catalog.dropTempView(_))
  }

  private def withCols(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df else df.toDF(cols: _*)

  /** Standard semi-naive evaluation of one recursive member.
    *
    * Every frontier is FROZEN — localCheckpoint-materialized, then wrapped
    * in an independent `createDataFrame` plan per role (working-table view,
    * accumulator element, except() reference). The per-role wrap matters:
    * re-using one plan object across the accumulated unions duplicates its
    * attribute ids through the tree and trips Union's constraint
    * propagation (`key not found: id#N`). */
  private def fixpoint(spark: SparkSession, cte: Cte): DataFrame = {
    val (anchorSql, stepSql, distinctUnion) = splitUnion(cte.body, cte.name)
    def freeze(df: DataFrame): DataFrame = df.localCheckpoint(true)
    def fresh(frozen: DataFrame): DataFrame =
      spark.createDataFrame(frozen.rdd, frozen.schema)
    var frontier = freeze {
      val a = withCols(spark.sql(anchorSql), cte.cols)
      if (distinctUnion) a.distinct() else a
    }
    var acc = fresh(frontier)
    var iter = 0
    while (!frontier.isEmpty && iter < MaxIterations) {
      fresh(frontier).createOrReplaceTempView(cte.name) // the working table
      var next = withCols(spark.sql(stepSql), cte.cols)
      if (distinctUnion) next = next.distinct().except(acc)
      frontier = freeze(next)
      if (!frontier.isEmpty) acc = acc.union(fresh(frontier))
      iter += 1
    }
    require(iter < MaxIterations,
      s"recursive CTE ${cte.name} did not converge in $MaxIterations rounds")
    acc
  }

  /** Split a recursive body at its top-level UNION [ALL]; returns (anchor,
    * step, distinct?). */
  private def splitUnion(body: String, name: String): (String, String, Boolean) = {
    var i = 0
    var depth = 0
    while (i < body.length) {
      body(i) match {
        case '\'' => i = skipString(body, i) - 1
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ if depth == 0 && matchesWord(body, i, "UNION") =>
          val after = skipWs(body, i + 5)
          val isAll = matchesWord(body, after, "ALL")
          val stepStart = if (isAll) after + 3 else i + 5
          return (body.substring(0, i), body.substring(stepStart), !isAll)
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException(
      s"recursive CTE $name has no top-level UNION")
  }

  private def referencesName(body: String, name: String): Boolean = {
    // strip string literals, then look for the name in a TABLE position —
    // a bare word match false-positives on column aliases that reuse the
    // CTE's name (`SELECT count(*) AS c12 ... FROM bg` inside CTE c12 is
    // NOT recursion). Table positions: FROM <name> / JOIN <name>, plus
    // comma-join items inside a FROM list (`FROM other, cte` — ADVICE
    // r13: a self-reference via comma join must classify as recursive,
    // not fail unresolved or silently read a same-named base table).
    val sb = new StringBuilder
    var i = 0
    while (i < body.length) {
      if (body(i) == '\'') i = skipString(body, i)
      else { sb.append(body(i)); i += 1 }
    }
    val stripped = sb.toString
    (s"(?is)\\b(from|join)\\s+${java.util.regex.Pattern.quote(name)}" +
      "(?![A-Za-z0-9_])").r.findFirstIn(stripped).isDefined ||
      commaFromRef(stripped, name)
  }

  /** Whether `name` appears as a comma-join item of some FROM list: track
    * the paren depth of each open FROM clause (a stack — subqueries nest)
    * and test the word after each depth-matching comma. */
  private def commaFromRef(s: String, name: String): Boolean = {
    val fromDepth = scala.collection.mutable.Stack.empty[Int]
    var depth = 0
    var i = 0
    def listEnder(i: Int): Boolean =
      Seq("WHERE", "GROUP", "ORDER", "HAVING", "WINDOW", "LIMIT", "UNION",
        "INTERSECT", "EXCEPT", "QUALIFY").exists(matchesWord(s, i, _))
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          while (fromDepth.nonEmpty && depth < fromDepth.top) fromDepth.pop()
        case ',' if fromDepth.nonEmpty && depth == fromDepth.top =>
          if (matchesWord(s, skipWs(s, i + 1), name)) return true
        case _ if matchesWord(s, i, "FROM") => fromDepth.push(depth)
        case _ if fromDepth.nonEmpty && depth == fromDepth.top && listEnder(i) =>
          fromDepth.pop()
        case _ =>
      }
      i += 1
    }
    false
  }

  private def skipWs(s: String, from: Int): Int = {
    var i = from
    while (i < s.length && s(i).isWhitespace) i += 1
    i
  }

  private def parseIdent(s: String, from: Int): (String, Int) = {
    var i = from
    while (i < s.length && isIdent(s(i))) i += 1
    require(i > from, s"expected identifier at ...${s.substring(from, math.min(s.length, from + 30))}")
    (s.substring(from, i), i)
  }

  /** Parse `(a, b, c)` starting at the '('. */
  private def parseIdentList(s: String, from: Int): (Seq[String], Int) = {
    var i = from + 1
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var done = false
    while (!done) {
      i = skipWs(s, i)
      val (id, i1) = parseIdent(s, i)
      out += id
      i = skipWs(s, i1)
      if (s(i) == ',') i += 1
      else { require(s(i) == ')', "expected , or ) in column list"); i += 1; done = true }
    }
    (out.toSeq, i)
  }

  /** i at '('; returns index AFTER the matching ')'. */
  private def matchParen(s: String, i0: Int): Int = {
    var depth = 0
    var i = i0
    while (i < s.length) {
      s(i) match {
        case '\'' => i = skipString(s, i) - 1
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0) return i + 1
        case _ =>
      }
      i += 1
    }
    throw new IllegalArgumentException("unbalanced parentheses in CTE body")
  }
}
