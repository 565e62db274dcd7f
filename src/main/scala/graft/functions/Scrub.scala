package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Regex PII/toxicity scrubbing "compiled into Catalyst expressions"
  * (north rule). Two equivalent implementations:
  *
  *  1. [[Scrub.scrubCol]] — a chain of built-in `RegExpReplace` nodes.
  *     Fully codegen'd, and each pattern is SQL-portable (the DuckDB
  *     oracle applies the same chain), so this is the oracle-portable
  *     reference the fused path is tested against.
  *  2. [[ScrubText]] — one fused custom Expression that pre-compiles all
  *     patterns once per task and applies them in a single pass, skipping
  *     untouched strings without reallocation. Same output byte-for-byte
  *     (property-tested). The pipeline's kept writer always uses it.
  *
  * Semantics descend from the reference's typo *correction*
  * (`/root/reference/src/function_typo.py:6-47`): replace a flagged span
  * with a canonical form, deterministically, so scrubbed text is
  * byte-identical per url across runs and cluster sizes.
  *
  * Patterns are written in the common Java-regex ∩ RE2 subset (no
  * backreferences, no lookaround) so the DuckDB oracle and any RE2-based
  * auditor agree with the JVM engine.
  */
object Scrub {

  /** Prescan trigger class: the cheap byte-level precondition without
    * which a pattern cannot possibly match. Every pattern DECLARES its
    * trigger — deriving it from a hardcoded position switch silently
    * mis-gated any appended pattern onto the digit trigger (a digit-free
    * pattern would then never run: unscrubbed PII with no error).
    */
  sealed trait Trigger
  case object NeedsAt extends Trigger     // pattern requires an '@'
  case object NeedsDigit extends Trigger  // pattern requires a [0-9]
  case object NeedsTox extends Trigger    // pattern requires a lexicon word substring

  /** (pattern, replacement, prescan trigger), applied in order. Order is
    * part of the contract — changing it changes scrubbed bytes.
    */
  val PatternSpecs: Seq[(String, String, Trigger)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>", NeedsAt),
    ("\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>", NeedsDigit),
    ("\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b", "<PHONE>", NeedsDigit),
    ("\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>", NeedsDigit),
    ("(?i)\\b(?:" + TextFns.ToxicityLexicon.mkString("|") + ")\\b", "<TOX>", NeedsTox)
  )

  /** (pattern, replacement) view — the oracle-SQL interpolation and the
    * golden-fixture replay use this shape.
    */
  val Patterns: Seq[(String, String)] = PatternSpecs.map(p => (p._1, p._2))

  /** Built-in-expression scrub chain (codegen path, oracle-portable). */
  def scrubCol(c: Column): Column =
    Patterns.foldLeft(c) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** Fused single-expression scrub. */
  def scrubFused(c: Column): Column = GraftExpr.column(ScrubText(GraftExpr.expr(c)))
}

/** One-pass scrubber: compiles every pattern once per task (lazy vals are
  * per-deserialized-instance, i.e. per executor task closure, not per row)
  * and short-circuits allocation when nothing matches.
  *
  * Trigger prescan: one cheap byte pass decides which pattern families
  * can possibly match — EMAIL needs an '@', SSN/PHONE/IP need a digit,
  * TOX needs a lexicon word as a (case-insensitive) substring. The
  * overwhelming majority of web documents carry none, so the common path
  * runs ZERO regexes and never even materialises a String (the regex
  * chain previously cost as much CPU as the entire fused feature kernel).
  * The scan is CONSERVATIVE (byte-level, substring, no boundary checks):
  * a trigger hit only means "run the real pattern", so the output is
  * byte-identical to the plain chain — property-tested in ScrubSpec.
  * Replacement tokens contain no '@', digits, or lexicon words, so a
  * replacement can never create a trigger the prescan missed.
  */
case class ScrubText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  @transient private lazy val compiled: Array[(java.util.regex.Pattern, String, Scrub.Trigger)] =
    Scrub.PatternSpecs.map { case (p, r, t) =>
      (java.util.regex.Pattern.compile(p), r, t)
    }.toArray

  // lexicon as ASCII bytes for the byte-level prescan
  @transient private lazy val toxBytes: Array[Array[Byte]] =
    TextFns.ToxicityLexicon.map(
      _.getBytes(java.nio.charset.StandardCharsets.US_ASCII)).toArray

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val b = u.getBytes
    var hasAt = false; var hasDigit = false; var hasTox = false
    var i = 0
    while (i < b.length && !(hasAt && hasDigit && hasTox)) {
      val c = b(i)
      if (c == '@') hasAt = true
      else if (c >= '0' && c <= '9') hasDigit = true
      else if (!hasTox) {
        val lc = (c | 0x20).toByte // ASCII lowercase; bytes ≥ 0x80 stay non-matching
        var w = 0
        while (w < toxBytes.length && !hasTox) {
          val word = toxBytes(w)
          if (lc == word(0) && i + word.length <= b.length) {
            var j = 1
            while (j < word.length && (b(i + j) | 0x20).toByte == word(j)) j += 1
            if (j == word.length) hasTox = true
          }
          w += 1
        }
      }
      i += 1
    }
    if (!hasAt && !hasDigit && !hasTox) return input

    var s = u.toString
    var changed = false
    i = 0
    while (i < compiled.length) {
      val (pat, rep, trigger) = compiled(i)
      val applicable = trigger match {
        case Scrub.NeedsAt => hasAt
        case Scrub.NeedsDigit => hasDigit
        case Scrub.NeedsTox => hasTox
      }
      if (applicable) {
        val m = pat.matcher(s)
        if (m.find()) { s = m.replaceAll(rep); changed = true }
      }
      i += 1
    }
    if (changed) UTF8String.fromString(s) else input
  }

  override protected def withNewChildInternal(newChild: Expression): ScrubText =
    copy(child = newChild)
}
