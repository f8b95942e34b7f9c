package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Every per-document annotation counter of the curation pipeline in ONE
  * native text traversal: `struct(en, es, de, n_tokens, punct, n_chars,
  * norm, lang_pred, quality)` — the three language-marker hit counts,
  * the whitespace token count, the non-letter/non-digit/non-space
  * code-point count, the code-point length, the whitespace-normalized
  * text, and the DERIVED language id + quality score.
  *
  * lang_pred and quality are derivable from the counters with cheap
  * Column arithmetic — they are materialized INSIDE the struct anyway
  * because of how Catalyst treats the curation pipeline's filter:
  * PushDownPredicates inlines an alias's defining expression into
  * pushed predicates unconditionally, and FilterExec does NOT
  * subexpression-eliminate, so a filter over derived quality/lang
  * columns evaluated the full traversal once per REFERENCE (measured:
  * 16 compute sites per input row in the generated filter code). With
  * the scores inside the struct, the pushed predicate is
  * `annotate_stats(text).quality >= q AND annotate_stats(text).lang_pred
  * <> 'unk'` — two compute sites in the filter, one in the project
  * above (spec-asserted ≤3 in the generated code). The in-expression
  * derivations replicate the Column forms' IEEE op sequence exactly
  * (same JVM, same ops, same order — AnnotateSpec pins bit-equality).
  *
  * The composable form this replaces (`TextFunctions.langId` +
  * `qualityScore` + `size(tokens)` + `fingerprintMd5`, the c1 annotate
  * stage) ran SIX regex scans, two regex splits, and one regex replace
  * over the same text bytes per row: three `regexp_count` marker passes
  * for langId, the en-marker pass AGAIN plus a punctuation-class pass
  * for quality, a `split` per token count, and the `\s+` normalize for
  * the fingerprint. At 100 TB the annotate stage is bytes-bound
  * (SURVEY §6: ~90% of c1's cost), so each redundant traversal is paid
  * at full-corpus scale. This expression makes exactly two compiled
  * passes — one over the lowered text (marker runs, token runs, the
  * normalized copy), one over the original (punctuation + length, which
  * the composable form also computed pre-lowering) — and inlines into
  * whole-stage codegen via a static call (the [[RunStatsExpr]] playbook).
  *
  * Semantics are PINNED to the regex forms they replace (AnnotateSpec
  * proves field-for-field equality on adversarial inputs; the t1/t2/c1
  * oracle gates re-verify end to end):
  *   - `en/es/de` = `regexp_count(lower(c), "\b(w1|…|wk)\b")`: a match
  *     is a MAXIMAL word-character run of the lowered text equal to a
  *     marker word. Java quirk replicated deliberately: `\b` judges
  *     word-ness by `_` | `Character.isLetterOrDigit` (UNICODE letters
  *     and Nd digits — verified empirically: `\bthe\b` does NOT match
  *     in "éthe"/"中the"/"١the"), even though bare `\w` is ASCII — so
  *     the run scanner uses the Unicode class, by code point.
  *   - `n_tokens` = `size(split(lower(trim(c)), "\s+"))`: Java split
  *     semantics with limit -1 — fields = interior/edge `\s`-runs + 1
  *     inside the 0x20-only trim window, so `""` has 1 token and a
  *     leading tab still yields a leading empty field.
  *   - `punct` = `regexp_count(c, "[^\s\p{L}\p{N}]")` over the ORIGINAL
  *     text: code points that are not ASCII whitespace, not Unicode
  *     letters (L*), not Unicode numbers (Nd/Nl/No).
  *   - `n_chars` = `length(c)` (code points).
  *   - `norm` = `regexp_replace(lower(trim(c)), "\s+", " ")` — md5(norm)
  *     IS `fingerprintMd5(c)`.
  * Lowering is `UTF8String.toLowerCase` itself — the exact function the
  * `lower()` expression runs — so locale/Unicode edge cases cannot
  * diverge by construction.
  */
case class AnnotateStatsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = AnnotateStats.outType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"annotate_stats requires string, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    AnnotateStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.AnnotateStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "annotate_stats"
}

object AnnotateStatsExpr {
  /** Column-API entry point: `annotateStats(text)` → the stats struct. */
  def annotateStats(text: Column): Column =
    GraftColumnBridge.column(AnnotateStatsExpr(GraftColumnBridge.expression(text)))
}

/** Static helper in its own object (no companion class) so the generated
  * Java code can call it through Scala's static forwarder. */
object AnnotateStats {
  val outType: StructType = StructType(Seq(
    StructField("en", IntegerType, nullable = false),
    StructField("es", IntegerType, nullable = false),
    StructField("de", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("punct", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("norm", StringType, nullable = false),
    StructField("lang_pred", StringType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))

  private val LangEn = UTF8String.fromString("en")
  private val LangEs = UTF8String.fromString("es")
  private val LangDe = UTF8String.fromString("de")
  private val LangUnk = UTF8String.fromString("unk")

  /** Marker word sets parsed from the AUTHORITATIVE regex patterns in
    * TextFunctions.langMarkers — one definition, no drift. */
  private val markerSets: Array[java.util.HashSet[String]] = {
    graft.functions.TextFunctions.langMarkers.map { case (_, pattern) =>
      val words = pattern.stripPrefix("""\b(""").stripSuffix(""")\b""")
      val set = new java.util.HashSet[String]()
      words.split('|').foreach(w => set.add(w))
      set
    }.toArray
  }
  private val maxMarkerLen: Int = {
    var mx = 0
    markerSets.foreach { s =>
      val it = s.iterator()
      while (it.hasNext) mx = math.max(mx, it.next().length)
    }
    mx
  }

  private def isJavaWs(ch: Char): Boolean =
    ch == ' ' || ch == '\t' || ch == '\n' || ch == 0x0B || ch == '\f' || ch == '\r'

  /** `\b`'s word class WITHOUT UNICODE_CHARACTER_CLASS (java.util.regex
    * `Pattern.Bound.check` + `hasBaseCharacter`): underscore, any
    * Unicode letter/digit — NOT the ASCII `\w` class a reader would
    * expect — or a NON-SPACING MARK whose backward mark-chain reaches a
    * letter/digit base (an underscore is NOT a valid base). `marksBase`
    * is that backward-walk state, maintained by the caller's linear
    * scan: true when the nearest non-mark code point before this one is
    * a letter or digit. */
  private def isBoundWordChar(cp: Int, marksBase: Boolean): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp) ||
      (Character.getType(cp) == Character.NON_SPACING_MARK && marksBase)

  def compute(text: UTF8String): InternalRow = {
    // the exact lowering lower() runs (ASCII fast path, else Java
    // toLowerCase) — byte-identical to the composable form's input
    val lowered = text.toLowerCase.toString

    // trim window: the 0x20-only trim `trim()` performs
    var s = 0
    var e = lowered.length
    while (s < e && lowered.charAt(s) == ' ') s += 1
    while (e > s && lowered.charAt(e - 1) == ' ') e -= 1

    // pass 1a over the trim window: token fields + the normalized copy.
    // split-with-limit=-1 fields = whitespace runs + 1 (edge runs
    // included — they produce empty fields, exactly like Java split).
    val norm = new java.lang.StringBuilder(e - s)
    var nTokens = 1
    var inWs = false
    var i = s
    while (i < e) {
      val ch = lowered.charAt(i)
      if (isJavaWs(ch)) {
        if (!inWs) { nTokens += 1; norm.append(' ') }
        inWs = true
      } else {
        inWs = false
        norm.append(ch)
      }
      i += 1
    }

    // pass 1b over the full lowered text: maximal word-character runs
    // (\b's UNICODE class incl. the marks-with-base rule, by code
    // point — see isBoundWordChar) vs the marker sets. Runs longer than
    // the longest marker can't match — skipped without materializing a
    // substring. `marksBase` tracks hasBaseCharacter's backward walk in
    // forward form: letters/digits arm it, marks preserve it, anything
    // else (including underscore) clears it.
    var en = 0; var es = 0; var de = 0
    var j = 0
    var marksBase = false
    val n = lowered.length
    while (j < n) {
      val cp = lowered.codePointAt(j)
      if (isBoundWordChar(cp, marksBase)) {
        val start = j
        var cur = cp
        while (j < n && isBoundWordChar(cur, marksBase)) {
          marksBase = if (Character.isLetterOrDigit(cur)) true
            else if (Character.getType(cur) == Character.NON_SPACING_MARK)
              marksBase
            else false
          j += Character.charCount(cur)
          if (j < n) cur = lowered.codePointAt(j)
        }
        if (j - start <= maxMarkerLen) {
          val run = lowered.substring(start, j)
          if (markerSets(0).contains(run)) en += 1
          if (markerSets(1).contains(run)) es += 1
          if (markerSets(2).contains(run)) de += 1
        }
      } else {
        marksBase = if (Character.isLetterOrDigit(cp)) true
          else if (Character.getType(cp) == Character.NON_SPACING_MARK)
            marksBase
          else false
        j += Character.charCount(cp)
      }
    }

    // pass 2 over the ORIGINAL text by code point: punctuation class
    // [^\s\p{L}\p{N}] (ASCII \s — Pattern without UNICODE_CHARACTER_CLASS)
    // and length() = code-point count
    val orig = text.toString
    var punct = 0
    var nChars = 0
    var k = 0
    val m = orig.length
    while (k < m) {
      val cp = orig.codePointAt(k)
      nChars += 1
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!ws && !Character.isLetter(cp)) {
        val ty = Character.getType(cp)
        if (ty != Character.DECIMAL_DIGIT_NUMBER &&
          ty != Character.LETTER_NUMBER && ty != Character.OTHER_NUMBER)
          punct += 1
      }
      k += Character.charCount(cp)
    }

    // derived scores, replicating the Column forms' exact IEEE sequence
    // (the regex langId / qualityScore oracles in AnnotateSpec, which pins
    // bit-equality): int→double casts are exact, the when-chains map to
    // if-chains over the same comparisons, the final sum associates left
    val langPred =
      if (en == 0 && es == 0 && de == 0) LangUnk
      else if (en >= es && en >= de) LangEn
      else if (es >= de) LangEs
      else LangDe
    val nTokD = nTokens.toDouble
    val lenSat = math.min(nTokD / 100.0, 1.0)
    val stopShare = if (nTokens > 0) en.toDouble / nTokD else 0.0
    val punctShare = if (nChars > 0) punct.toDouble / nChars.toDouble else 0.0
    val quality = lenSat * 0.5 + stopShare * 0.3 + (1.0 - punctShare) * 0.2
    new GenericInternalRow(Array[Any](en, es, de, nTokens, punct, nChars,
      UTF8String.fromString(norm.toString), langPred, quality))
  }
}
