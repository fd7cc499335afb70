package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared JVM tokenizer — the exact replica of the engine's declarative
  * `split(lower(trim(text)), "\\s+")` column spelling (Spark `trim` strips
  * ASCII SPACE only; Spark `split` keeps trailing empty strings — Java's
  * `String.trim`/default `split` do neither). One definition under every
  * typed text kernel AND the [[ShingleGenExpr]] SQL generator.
  */
object Tok {
  /** Spark's `lower` (UTF8String.toLowerCase) bytewise-lowercases pure-ASCII
    * strings and falls back to DEFAULT-LOCALE String.toLowerCase the moment
    * any non-ASCII byte appears. Replicating both branches (instead of
    * Locale.ROOT everywhere) keeps the typed kernels bit-identical to the
    * declarative `toks` under ANY default JVM locale — e.g. Turkish, where
    * ROOT('I')='i' but the default-locale slow path gives 'ı' for a string
    * that also carries a non-ASCII char. TextQualitySpec pins parity on
    * 'I'/'İ' mixes. */
  private def sparkLower(s: String): String = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) > 127) return s.toLowerCase() // Spark's slow path
      i += 1
    }
    val arr = new Array[Char](s.length)
    var j = 0
    while (j < s.length) {
      val c = s.charAt(j)
      arr(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      j += 1
    }
    new String(arr)
  }

  def tokenize(text: String): Array[String] = {
    // null-safe: nothing at load enforces a non-null text column, and a
    // null doc must degrade to an empty token list (no-match verdict in
    // the streaming screens) rather than NPE-kill a streaming query
    if (text == null) return Array.empty[String]
    val lower = sparkLower(text)
    var b = 0
    var e = lower.length
    while (b < e && lower.charAt(b) == ' ') b += 1
    while (e > b && lower.charAt(e - 1) == ' ') e -= 1
    splitWs(lower.substring(b, e))
  }

  /** Java's `\s` class: exactly [ \t\n\x0B\f\r] (ASCII-only — the pattern
    * is compiled without UNICODE_CHARACTER_CLASS everywhere the engine
    * spells it). */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Hand-rolled `s.split("\\s+", -1)` (r15 optimization round): the
    * String.split facade re-compiles the pattern and runs the regex engine
    * per call — 29% of the whole tokenize cost on the real corpus.
    * Semantics are bit-identical to the regex form: a
    * leading separator yields a leading "" (\s+ matches have width ≥ 1, so
    * the no-leading-empty rule for zero-width matches never applies),
    * limit −1 keeps the trailing "", and "" → [""]. MediaIOSpec pins
    * parity against the regex spelling property-style (ADVICE r15: no
    * TokSpec exists — the tokenizer parity properties live there). */
  private[graft] def splitWs(s: String): Array[String] = {
    val n = s.length
    if (n == 0) return Array("")
    var parts = 1
    var i = 0
    var inRun = false
    while (i < n) { // count separator runs so the output allocates exactly
      if (isWs(s.charAt(i))) { if (!inRun) { parts += 1; inRun = true } }
      else inRun = false
      i += 1
    }
    val out = new Array[String](parts)
    var k = 0
    var start = 0
    i = 0
    while (i < n) {
      if (isWs(s.charAt(i))) {
        out(k) = s.substring(start, i); k += 1
        i += 1
        while (i < n && isWs(s.charAt(i))) i += 1
        start = i
      } else i += 1
    }
    out(k) = s.substring(start, n)
    out
  }

  /** Space-joined width-n shingles of a token array — the one shingle
    * assembly under both the typed kernels and the SQL generator. */
  def shingles(ts: Array[String], n: Int): Iterator[String] =
    if (ts.length < n) Iterator.empty
    else (0 to ts.length - n).iterator.map { i =>
      val sb = new java.lang.StringBuilder(ts(i))
      var j = 1
      while (j < n) { sb.append(' ').append(ts(i + j)); j += 1 }
      sb.toString
    }
}

/** `shingle_gen(text[, n])` — a native Catalyst `Generator` (UDTF surface):
  * one row per word n-gram shingle of the tokenized text, usable anywhere
  * `explode` is (SELECT clause, LATERAL VIEW). This is the row-expanding
  * extension point the engine's typed `flatMap` kernels use internally,
  * exposed to SQL so "switch engines, keep your SQL" covers shingling too.
  * Per-row work is one tokenizer pass; the GenerateExec operator handles
  * the fan-out exactly as it does for `explode`.
  */
case class ShingleGenExpr(child: Expression, n: Int)
  extends Expression with Generator with CodegenFallback {

  require(n > 0, s"shingle_gen needs n > 0, got $n")

  override def children: Seq[Expression] = Seq(child)
  override def elementSchema: StructType =
    StructType(Seq(StructField("sh", StringType, nullable = false)))
  override def prettyName: String = "shingle_gen"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"shingle_gen needs a STRING input, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Iterator.empty
    else
      Tok.shingles(Tok.tokenize(t.toString), n)
        .map(sh => InternalRow(UTF8String.fromString(sh)))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ShingleGenExpr =
    copy(child = c.head)
}

object ShingleGenExpr {
  /** SQL builder: `shingle_gen(text[, n])`, n a literal integer (default 3). */
  def build(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(c) => ShingleGenExpr(c, 3)
    case Seq(c, Literal(n: Int, IntegerType)) => ShingleGenExpr(c, n)
    case _ =>
      throw new IllegalArgumentException(
        "shingle_gen(text[, n]) needs a string column and an optional literal integer n")
  }
}
