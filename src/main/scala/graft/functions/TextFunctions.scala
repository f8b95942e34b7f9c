package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis building blocks for large-scale training-data pipelines.
  *
  * Everything here is pure `org.apache.spark.sql.functions` expression
  * composition — whole-stage-codegen'd, no UDFs, no driver round trips —
  * so each helper scales to 100 TB as a per-row map over the scan.
  *
  * Tokenization convention (shared with the DuckDB oracles):
  * lowercase, trim, split on runs of whitespace.
  */
object TextFunctions {

  /** Whitespace tokens, lowercased. */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** Contiguous word n-gram shingles (space-joined), empty array when the
    * text has fewer than n tokens. Served by the native
    * [[graft.plans.WordShinglesExpr]] — the HOF form (`transform` +
    * `slice` + `concat_ws` under a size guard) evaluates interpreted with
    * a slice allocation per shingle, and shingling sits on the scan path
    * of every near-dup signature and repetition score in the engine.
    * OperatorLawsSpec pins it row-identical to that HOF form. */
  def wordShingles(c: Column, n: Int): Column =
    graft.plans.WordShinglesExpr.shingles(tokens(c), n)

  /** Distinct shingle set (the unit of Jaccard/MinHash similarity). */
  def shingleSet(c: Column, n: Int): Column = array_distinct(wordShingles(c, n))

  /** "BPE-ish" token count: letter runs, digit runs, and single
    * non-space symbols each count as one token — a cheap, deterministic
    * proxy for subword tokenizer counts. regexp_count counts matches
    * without materializing the match array regexp_extract_all would
    * build — the per-row allocation is the hot-path cost at 100 TB. */
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit("""\p{L}+|\p{N}+|[^\s\p{L}\p{N}]""")).cast("int")

  /** Stopword-list hit patterns per language for the n-gram language-ID
    * heuristic. Word-boundary regexes keep this expressible in both Spark
    * and the DuckDB oracle. */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> """\b(the|a|of|and|to|in|is)\b""",
    "es" -> """\b(el|la|de|que|y|en|los)\b""",
    "de" -> """\b(der|die|und|das|ist|von)\b""")

  def langScore(c: Column, pattern: String): Column =
    regexp_count(lower(c), lit(pattern)).cast("int")

  /** One-pass annotation counters: struct(en, es, de, n_tokens, punct,
    * n_chars, norm) — see [[graft.plans.AnnotateStatsExpr]]. Consumers
    * deriving SEVERAL annotations from the same text should materialize
    * this struct once (Curation.annotateAndFilter does); single-field
    * consumers can rely on codegen subexpression elimination collapsing
    * repeated instances within one projection. */
  def annotateStats(c: Column): Column =
    graft.plans.AnnotateStatsExpr.annotateStats(c)

  /** [[langId]] read off a materialized [[annotateStats]] struct — the
    * score is computed INSIDE the expression (bit-identically to the
    * regex form; see AnnotateStatsExpr's scaladoc for why: pushed-down
    * filter predicates re-evaluate per reference, so the filter must
    * cost one struct-field access, not a re-derivation). */
  def langIdFrom(st: Column): Column =
    // NULL text: the regex when-chain's conditions all evaluate null and
    // fall through to otherwise('de') — a pinned accident the struct
    // read must reproduce; coalesce keeps it ONE struct reference
    coalesce(st.getField("lang_pred"), lit("de"))

  /** [[qualityScore]] read off a materialized [[annotateStats]] struct
    * (same rationale as [[langIdFrom]]). NULL text: least() skips the
    * null lenSat term and both when-conditions fall to otherwise, so
    * the regex form yields exactly 0.5 + 0.0 + 0.2 = 0.7. */
  def qualityFrom(st: Column): Column =
    coalesce(st.getField("quality"), lit(0.7))

  /** Heuristic language ID: argmax of stopword-marker hit counts with a
    * deterministic en > es > de tie-break; 'unk' when nothing matches.
    * Served by the fused [[annotateStats]] counters (one compiled text
    * pass instead of three regex scans); AnnotateSpec pins it equal to
    * the regex form. */
  def langId(c: Column): Column = langIdFrom(annotateStats(c))

  /** Document quality score in [0,1]: length saturation + stopword share
    * + symbol cleanliness. Deliberately NOT rounded: the raw double is
    * bit-identical across engines (same IEEE ops in the same order),
    * while decimal rounding at a .5 boundary is not. Served by the fused
    * [[annotateStats]] counters (the en-marker scan, the token split and
    * the punctuation-class scan collapse into the one-pass struct);
    * AnnotateSpec pins it bit-identical to the regex form. */
  def qualityScore(c: Column): Column = qualityFrom(annotateStats(c))

  /** Overlapping token windows (RAG-style chunking): a `chunkSize`-token
    * window starting every `stride` tokens, clamped at the end — every
    * token lands in at least one chunk when stride <= chunkSize, and the
    * final window may be short. Pure expression composition (sequence +
    * slice + concat_ws), so chunking is a narrow per-row map. */
  def tokenChunks(c: Column, chunkSize: Int, stride: Int): Column = {
    require(chunkSize > 0 && stride > 0)
    val toks = tokens(c)
    transform(sequence(lit(1), size(toks), lit(stride)),
      st => concat_ws(" ", slice(toks, st, lit(chunkSize))))
  }

  /** Deterministic PII-style redaction: emails then long digit runs are
    * replaced with typed placeholder tags. Regex subset chosen to behave
    * identically under Java regex and RE2 (the DuckDB oracle replays it). */
  def redact(c: Column): Column =
    regexp_replace(
      regexp_replace(c, """[\w.+-]+@[\w-]+\.[\w.]+""", "<email>"),
      """\d{3,}""", "<num>")

  /** Occurrence statistics as struct(mx, dup): the occurrence count of
    * the most frequent element, and the total count of elements whose
    * value occurs more than once. Served by the native
    * [[graft.plans.RunStatsExpr]] — one compiled O(n) hash pass per row,
    * inlined into whole-stage codegen. (History: first a sort+fold HOF
    * chain — O(n log n) with an interpreted lambda and a struct
    * allocation PER ELEMENT — which benched ~4× slower at sf0.1; the
    * naive distinct×filter form before that was ~8× slower again. The
    * counters never needed the sort's ORDER, only its grouping, so a
    * hash count is the right primitive.) */
  private def runStats(arr: Column): Column =
    graft.plans.RunStatsExpr.runStats(arr)

  /** Both repetition counters from ONE sort+fold pass: struct(mx, dup).
    * Use when deriving multiple fractions from the same array —
    * [[topFreqFrac]] + [[dupFrac]] each fold separately (two sorts);
    * materializing this struct in its own projection runs the fold once
    * (Catalyst leaves non-cheap multi-use aliases un-collapsed). */
  def repetitionCounts(arr: Column): Column = runStats(arr)

  /** Fraction of elements taken by the single most frequent element
    * (0.0 for an empty array). A high top fraction flags degenerate,
    * repetition-heavy text (Gopher-style "fraction of characters in the
    * most common n-gram" rules, word-level). */
  def topFreqFrac(arr: Column): Column =
    when(size(arr) > 0,
      runStats(arr).getField("mx").cast(DoubleType) / size(arr).cast(DoubleType))
      .otherwise(lit(0.0))

  /** Fraction of elements whose value occurs more than once (0.0 for an
    * empty array) — the word-level analogue of Gopher's duplicate-line
    * fraction. */
  def dupFrac(arr: Column): Column =
    when(size(arr) > 0,
      runStats(arr).getField("dup").cast(DoubleType) / size(arr).cast(DoubleType))
      .otherwise(lit(0.0))

  /** Whitespace-normalized text: the canonical form fingerprints hash. */
  def normalized(c: Column): Column =
    regexp_replace(lower(trim(c)), """\s+""", " ")

  /** Content fingerprint: md5 of the normalized text. Portable (DuckDB
    * md5 produces the identical hex), exact-dup detection at any scale. */
  def fingerprintMd5(c: Column): Column = md5(normalized(c))

  /** Rolling polynomial fingerprint over tokens, mod 2^40:
    * acc = (acc * 1000003 + low28(xxhash64(token))) mod 2^40.
    * Order-sensitive (unlike a token-set hash) and cheap to compute
    * streaming. The modulus keeps every intermediate < 2^61, so the
    * aggregation never trips ANSI-mode overflow (Spark 4 default).
    * Spark-specific hash family, so no SQL oracle. */
  def fingerprintRolling(c: Column): Column =
    aggregate(tokens(c), lit(0L),
      (acc, t) => pmod(
        acc * lit(1000003L) + xxhash64(t).bitwiseAND(lit(0xFFFFFFFL)),
        lit(1L << 40)))

  /** Portable variant of [[fingerprintRolling]]: the per-token hash is
    * the low 28 bits of md5 (first 7 hex chars) instead of xxhash64, so
    * any engine with md5 replays the fold exactly (the t5 DuckDB oracle
    * does, via list_reduce). Same polynomial, same modulus. */
  def fingerprintRollingPortable(c: Column): Column =
    aggregate(tokens(c), lit(0L),
      (acc, t) => pmod(
        acc * lit(1000003L) + conv(substring(md5(t), 1, 7), 16, 10).cast(LongType),
        lit(1L << 40)))
}
