package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, from exact to
  * near-duplicate, each designed shuffle-bounded (no driver collection,
  * no quadratic all-pairs stage) so the same code runs at 100 TB:
  *
  *  - [[dedupExact]]: one hash-aggregate shuffle on the dedup key.
  *  - [[minHashLshPairs]]: shingle explode -> 1 groupBy (signatures) ->
  *    band explode -> 1 self-join keyed on (band, bandHash). Candidate
  *    volume is controlled by the band/row trade-off, never |docs|^2.
  *  - [[simHashPairs]]: 64-bit SimHash, banded into 16-bit chunks; the
  *    pigeonhole principle guarantees any pair within Hamming distance 3
  *    shares at least one of the 4 chunks, so the join is equi-keyed.
  *  - [[jaccardPairs]]: exact n-gram Jaccard via shingle-posting-list
  *    self-join — the verification primitive the approximate methods
  *    funnel into (and the form a SQL oracle can replay).
  *
  * Generalizes the reference's only dedup operator — `.distinct()` after
  * each projection (reference `etl.py:42,58,91,169`).
  */
object Dedup {

  /** Exact dedup keeping, per duplicate group, the row with the smallest
    * tie-break value — deterministic, unlike `dropDuplicates` whose
    * survivor depends on partition scan order. */
  def dedupExact(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[dedupExact]] with a caller-chosen SURVIVOR POLICY: within each
    * duplicate group the first row under `survivorOrder` wins (e.g.
    * `Seq(desc("n_chars"), asc("doc_id"))` keeps the longest copy —
    * the usual policy when duplicates differ by truncation). The order
    * must end in a tiebreak unique within the group or the survivor is
    * partition-order-dependent. Same single key-partitioned window as
    * the min-id form. */
  def dedupExactBy(df: DataFrame, keys: Seq[String],
                   survivorOrder: Seq[Column]): DataFrame = {
    require(survivorOrder.nonEmpty, "survivorOrder must not be empty")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(survivorOrder: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** (id, shingle) posting list, distinct per document. */
  private def postings(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    Parallelism.ensure(df)
      .select(col(id), explode(shingleSet(col(text), n)).as("shingle"))

  /** Seeded hash family for MinHash signatures. Both shapes hash the
    * variable-length shingle STRING exactly once per posting (`base`) and
    * derive the `numHashes` seeded values from the fixed-width base —
    * hashing the string per seed would cost numHashes string traversals
    * per posting, the dominant CPU in the LSH pipeline. */
  sealed trait MinHashFamily {
    /** one hash of the shingle string, evaluated once per posting */
    def base(shingle: Column): Column
    /** seed-j hash derived from the base */
    def seeded(base: Column, seed: Int): Column
  }

  /** Scale-path default: xxhash64 of the shingle, re-hashed per seed.
    * Fastest, but the hash family is Spark-specific (no SQL oracle). */
  case object XxMinHash extends MinHashFamily {
    def base(shingle: Column): Column = xxhash64(shingle)
    def seeded(b: Column, seed: Int): Column = xxhash64(b, lit(seed))
  }

  /** Portable family via Kirsch–Mitzenmacher double hashing: one md5
    * digest yields two independent values h1 (60 bits) and h2 (56 bits),
    * and seed j's hash is (h1 + j*h2) mod 2^60 — pure integer arithmetic
    * any engine replays digit-for-digit (the d2 DuckDB oracle does).
    * All intermediates stay < 2^63 for j < 128, so ANSI mode never
    * overflows. One md5 per posting keeps the cost within ~2x of
    * [[XxMinHash]] (it is the string digest, not the seeds, that you pay
    * for). */
  case object Md5MinHash extends MinHashFamily {
    def base(shingle: Column): Column = {
      val m = md5(shingle)
      struct(
        conv(substring(m, 1, 15), 16, 10).cast(LongType).as("h1"),
        conv(substring(m, 16, 14), 16, 10).cast(LongType).as("h2"))
    }
    def seeded(b: Column, seed: Int): Column =
      pmod(b.getField("h1") + lit(seed.toLong) * b.getField("h2"), lit(1L << 60))
  }

  /** MinHash signatures: for each document, the element-wise minimum of
    * `numHashes` seeded hash values over its shingle set. One shuffle
    * (groupBy id); the per-seed mins are partial-aggregated map-side.
    *
    * Served by the native [[graft.plans.MinHashSigExpr]]: the whole
    * signature is computed per input ROW inside the scan's codegen stage,
    * and the groupBy merges one struct per document row (elementwise min,
    * count sum) instead of aggregating one posting row per SHINGLE — the
    * explode and the per-shingle agg-buffer machinery disappear, and the
    * md5 family skips the hex-string/`conv` round trip entirely. Both
    * forms are bit-identical (same XXH64/md5 bits; OperatorLawsSpec pins
    * native ≡ its test-side aggregate oracle across families, duplicate
    * ids, and null/short docs). */
  def minHashSignatures(df: DataFrame, id: String, text: String,
                        shingleN: Int = 3, numHashes: Int = 32,
                        family: MinHashFamily = XxMinHash): DataFrame = {
    require(family != Md5MinHash || numHashes <= 113,
      "Md5MinHash overflow headroom caps seeds at 113: h1 < 2^60 and " +
        "h2 < 2^56, so h1 + j*h2 stays under 2^63 only for j <= 112 — " +
        "above that the ANSI aggregate form (the bit-parity oracle in " +
        "OperatorLawsSpec) would raise ARITHMETIC_OVERFLOW while the " +
        "native path wraps, breaking the advertised bit parity")
    val sigCol = graft.plans.MinHashSigExpr.sig(
      tokens(col(text)), shingleN, numHashes, family == Md5MinHash)
    sigsFromBase(Parallelism.ensure(df).select(col(id), sigCol.as("__sig")),
      id, numHashes)
  }

  /** LSH candidate pairs (idA < idB) from banded MinHash signatures, with
    * exact Jaccard computed on the candidates and filtered at
    * `threshold`. bands*rowsPerBand must equal numHashes.
    *
    * The signatures are materialized per invocation via
    * `localCheckpoint` (optimization r20, guide §1.2): banding references
    * them twice (both sides of the candidate self-join), so the
    * unmaterialized plan re-scanned the corpus and re-derived them per
    * side. The shingle sets for the exact verify are NOT checkpointed:
    * they are re-derived from `df`, one scan per referenced side.
    * `localCheckpoint` is keyed on the RDD INSTANCE — unlike `persist`,
    * whose cache manager keys on the logical plan — so a repeated
    * invocation of the same query fn recomputes from the parquet inputs
    * every time (no cross-run result reuse; the blocks are released by
    * the ContextCleaner when the plan is dropped). */
  def minHashLshPairs(df: DataFrame, id: String, text: String,
                      shingleN: Int = 3, numHashes: Int = 32,
                      bands: Int = 8, threshold: Double = 0.7,
                      family: MinHashFamily = XxMinHash): DataFrame =
    minHashLshPairsFromSignatures(df,
      minHashSignatures(df, id, text, shingleN, numHashes, family)
        .localCheckpoint(eager = true),
      id, text, shingleN, numHashes, bands, threshold)

  /** Candidate+verify stages over PRE-COMPUTED signatures — the persist
    * escape hatch: `minHashSignatures(...).persist()` materializes the
    * heaviest stage once (numHashes longs/doc), and this entry point
    * reuses it for banding and both sides of the candidate join instead
    * of re-deriving it per plan subtree. The shingle sets for the exact
    * verify are re-derived from `df` (one scan per referenced side). */
  def minHashLshPairsFromSignatures(df: DataFrame, sigs: DataFrame,
                                    id: String, text: String,
                                    shingleN: Int = 3, numHashes: Int = 32,
                                    bands: Int = 8, threshold: Double = 0.7): DataFrame = {
    val sh = Parallelism.ensure(df)
      .select(col(id), shingleSet(col(text), shingleN).as("sh"))
    lshPairsVerify(sigs, sh, id, numHashes, bands, threshold)
  }

  /** One-scan base for the LSH pipelines (optimization r20, guide §1.2):
    * the per-row signature struct AND the shingle array computed in the
    * SAME projection over the input, so banding and the exact-Jaccard
    * verify both feed off one corpus scan + one tokenize/shingle pass —
    * the previous shape re-scanned and re-shingled the corpus per plan
    * reference (sig agg, verify side A, verify side B: three passes). */
  private def sigShingleBase(df: DataFrame, id: String, text: String,
                             shingleN: Int, numHashes: Int,
                             family: MinHashFamily): DataFrame = {
    require(family != Md5MinHash || numHashes <= 113,
      "Md5MinHash overflow headroom caps seeds at 113 (see minHashSignatures)")
    Parallelism.ensure(df).select(
      col(id),
      graft.plans.MinHashSigExpr.sig(
        tokens(col(text)), shingleN, numHashes, family == Md5MinHash).as("__sig"),
      shingleSet(col(text), shingleN).as("sh"))
  }

  /** Signature aggregation over an `(id, __sig)` frame — a
    * [[sigShingleBase]] or [[minHashSignatures]]' projection — reading
    * only the struct column (columnar cache serves just those batches). */
  private def sigsFromBase(base: DataFrame, id: String, numHashes: Int): DataFrame =
    base.select(col(id), col("__sig"))
      .groupBy(col(id))
      // null __sig = zero shingles. min/sum skip nulls, so null rows are
      // inert inside a group, and an ALL-null group aggregates to null —
      // dropped by the post-agg filter. Same rows as the aggregate form
      // (which drops them by producing no postings), but WITHOUT a
      // pre-agg `__sig IS NOT NULL` filter: predicate pushdown would
      // duplicate the expression below the Project AND below the
      // round-robin repartition, recomputing every signature on the
      // scan's raw partitioning (measured 4.4 s vs 1.1 s cold at sf0.01).
      .agg(
        array((0 until numHashes).map(j =>
          min(col("__sig").getField("signature").getItem(j))): _*)
          .as("signature"),
        sum(col("__sig").getField("n_shingles")).as("n_shingles"))
      .where(col("n_shingles").isNotNull)

  /** Banding + exact-Jaccard verify against caller-supplied `(id, sh)`
    * shingle sets. Candidate pairs via equi-self-join on
    * (band, band_hash); measured alternatives lose (a shuffle-hash
    * self-join adds two exchanges without achieving reuse, and
    * bucket-local pair explosion through nested array HOFs runs
    * interpreted — ~2x slower end-to-end). */
  private def lshPairsVerify(sigs: DataFrame, sh: DataFrame, id: String,
                             numHashes: Int, bands: Int,
                             threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val banded = sigs.select(
      col(id),
      posexplode(array((0 until bands).map(b =>
        xxhash64(slice(col("signature"), b * rows + 1, rows), lit(b))): _*))
        .as(Seq("band", "band_hash")))
    val a = banded.select(col(id).as("id_a"), col("band"), col("band_hash"))
    val b = banded.select(col(id).as("id_b"), col("band"), col("band_hash"))
    val candidates = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // Exact-Jaccard verification of the candidate set only. Per-doc
    // shingle ARRAYS + codegen'd array_intersect: two equi-joins and a
    // per-row intersection — no posting-list explode, no extra
    // aggregation shuffle (this stage dominated the bench before).
    candidates
      .join(sh.select(col(id).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(id).as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .withColumn("j_raw",
        col("common") / (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .where(col("j_raw") >= threshold) // threshold on raw, round for output
      .select(col("id_a"), col("id_b"), round(col("j_raw"), 5).as("jaccard"))
  }

  /** Benchmark decontamination: annotate every train document with the
    * number of distinct word n-grams it shares with a benchmark corpus
    * (the published n-gram-overlap filter used to scrub eval sets out of
    * LLM training data — exact-substring-by-shingle, not similarity).
    *
    * Scale shape: the benchmark side (eval suites — thousands of docs,
    * not billions) collapses to its DISTINCT shingle set and broadcasts;
    * the train side is one shingle explode + broadcast-hash semi-count +
    * one aggregation keyed by doc id — no train-side self-join anywhere,
    * so cost is linear in train shingle volume at any corpus size. Train
    * docs with zero overlap keep `contaminated_ngrams = 0` via the final
    * left join (the output always has one row per train doc). */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
                    id: String, text: String, shingleN: Int = 5): DataFrame = {
    val benchShingles = postings(benchmark, id, text, shingleN)
      .select("shingle").distinct()
    val hits = postings(train, id, text, shingleN)
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col(id)).agg(count(lit(1)).as("contaminated_ngrams"))
    Parallelism.ensure(train).select(col(id))
      .join(hits, Seq(id), "left")
      .select(col(id),
        coalesce(col("contaminated_ngrams"), lit(0L)).as("contaminated_ngrams"))
      .withColumn("contaminated", col("contaminated_ngrams") > 0)
  }

  /** Exact-substring boilerplate removal, span-granular (the "drop
    * repeated substrings" stage of Lee et al. 2022, arXiv:2107.06499,
    * at word-n-gram granularity): a span occurring in at least
    * `minDocFreq` DISTINCT documents is boilerplate, and every token
    * covered by an occurrence of a boilerplate span is removed from its
    * document. Returns (id, clean_text, n_removed).
    *
    * Scale shape: one positioned shingle explode, one distinct+count to
    * find hot spans (partial aggregation does the heavy lifting — span
    * df concentrates on few keys), one equi-join back to collect each
    * doc's covered start positions (bounded by doc length), and a narrow
    * per-row rebuild that keeps tokens no hot span covers. No self-join,
    * no pairwise work — linear in corpus token volume. */
  def removeBoilerplateSpans(df: DataFrame, id: String, text: String,
                             shingleN: Int = 5, minDocFreq: Int = 3): DataFrame = {
    val toks = Parallelism.ensure(df).select(col(id), tokens(col(text)).as("__toks"))
    val spans = df.select(col(id),
      posexplode(wordShingles(col(text), shingleN)).as(Seq("st", "s")))
    val hot = spans.select(col(id), col("s")).distinct()
      .groupBy("s").agg(count(lit(1)).as("span_df"))
      .where(col("span_df") >= minDocFreq)
      .select("s")
    val starts = spans.join(hot, "s")
      .groupBy(col(id)).agg(collect_list(col("st")).as("sts"))
    val noStarts = array().cast(ArrayType(IntegerType))
    def kept = filter(col("__toks"), (_, i) =>
      !exists(coalesce(col("sts"), noStarts),
        x => x <= i && i < x + lit(shingleN)))
    toks.join(starts, Seq(id), "left")
      .select(col(id),
        concat_ws(" ", kept).as("clean_text"),
        (size(col("__toks")) - size(kept)).cast(LongType).as("n_removed"))
  }

  /** Chunk-level exact dedup with document reassembly (the fixed-window
    * approximation of exact-substring dedup, Lee et al. 2022,
    * arXiv:2107.06499 §4.1 — non-overlapping `chunkTokens`-token windows
    * instead of suffix-array substrings): a chunk's FIRST occurrence in
    * corpus order (smallest (id, chunk_idx)) survives, every later exact
    * repetition anywhere in the corpus is dropped, and each document is
    * rebuilt from its surviving chunks in position order. Returns
    * (id, clean_text, n_chunks, n_kept); a document whose every chunk
    * appeared earlier elsewhere keeps its row with an empty clean_text.
    *
    * Scale shape: one chunk explode, ONE shuffle keyed on the chunk text
    * (first-occurrence window — partitioned by chunk, never global), one
    * groupBy(id) to reassemble. Both shuffle keys are high-cardinality
    * (chunks, then ids), no self-join, no pairwise stage — linear in
    * corpus token volume, same budget as a groupBy-dedup of the chunks. */
  def dedupChunks(df: DataFrame, id: String, text: String,
                  chunkTokens: Int = 16): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    val ch = Parallelism.ensure(df).select(col(id),
      posexplode(tokenChunks(col(text), chunkTokens, chunkTokens))
        .as(Seq("__ci", "__ct")))
    val w = Window.partitionBy("__ct").orderBy(col(id), col("__ci"))
    val first = row_number().over(w) === 1
    ch.withColumn("__keep", first)
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        // collect_list skips the nulled-out losers; array_sort orders the
        // survivors by their struct's leading chunk_idx field
        array_join(
          transform(
            array_sort(collect_list(
              when(col("__keep"), struct(col("__ci"), col("__ct"))))),
            _.getField("__ct")),
          " ").as("clean_text"))
      .select(col(id), col("clean_text"), col("n_chunks"), col("n_kept"))
  }

  /** Content-defined chunking (the FastCDC idea in token space): a cut
    * falls AFTER any token whose portable 28-bit md5 hash ≡ 0 mod
    * `divisor` (expected chunk length ≈ divisor tokens). Boundaries
    * depend only on LOCAL content, so an insertion re-chunks the edited
    * chunk and leaves every other chunk byte-identical — the resilience
    * fixed windows ([[dedupChunks]]) lack, and the reason dedup/storage
    * systems pay for a rolling boundary rule. Returns one row per chunk:
    * (id, chunk_id, n_tokens, start_pos, chunk_fp).
    *
    * Scale shape: one token posexplode, one doc-partitioned running-sum
    * window for chunk ids, one (id, chunk) aggregate — linear in token
    * volume, no self-join anywhere. */
  def cdcChunks(df: DataFrame, id: String, text: String,
                divisor: Int = 64): DataFrame = {
    require(divisor > 0, s"divisor must be positive: $divisor")
    val h28 = conv(substring(md5(col("__t")), 1, 7), 16, 10).cast(LongType)
    val tok = Parallelism.ensure(df)
      .select(col(id), posexplode(tokens(col(text))).as(Seq("__pos", "__t")))
    val w = Window.partitionBy(id).orderBy("__pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tok.withColumn("__cut", (h28 % divisor === 0).cast("long"))
      .withColumn("chunk_id", coalesce(sum(col("__cut")).over(w), lit(0L)))
      .groupBy(col(id), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        min("__pos").as("start_pos"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__pos"), col("__t")))),
            _.getField("__t")))).as("chunk_fp"))
  }

  /** Asymmetric shingle CONTAINMENT pairs: ordered (id_a, id_b) where
    * `|A ∩ B| / |A| >= threshold` over distinct word n-gram sets — the
    * near-SUPERSET relation Jaccard misses (a snippet quoted inside a
    * much larger page has high containment but low Jaccard, the shape
    * benchmark-contamination and quote-detection care about). Same
    * posting-list join and the same `maxShingleDf` skew guard as
    * [[jaccardPairs]]; both directions are evaluated from one symmetric
    * common-count pass, so the cost is identical to the Jaccard join.
    * Self-pairs are excluded; returns (id_a, id_b, containment) with
    * containment rounded to 5 decimals for engine-portable output. */
  def containmentPairs(df: DataFrame, id: String, text: String,
                       shingleN: Int = 3, threshold: Double = 0.9,
                       maxShingleDf: Int = 1000): DataFrame = {
    val p = guardedPostings(df, id, text, shingleN, maxShingleDf)
    val counts = p.groupBy(col(id)).agg(count(lit(1)).as("n"))
    val a = p.select(col(id).as("id_a"), col("shingle"))
    val b = p.select(col(id).as("id_b"), col("shingle"))
    // one symmetric pass (id_a < id_b), then emit both directions before
    // the per-direction threshold — half the join volume of the naive
    // ordered join
    val common = a.join(b, "shingle").where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    val both = common.unionByName(common.select(
      col("id_b").as("id_a"), col("id_a").as("id_b"), col("common")))
    both
      .join(counts.select(col(id).as("id_a"), col("n").as("n_a")), "id_a")
      .withColumn("c_raw", col("common").cast(DoubleType) / col("n_a"))
      .where(col("c_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("c_raw"), 5).as("containment"))
  }

  /** Postings with the hot-shingle df guard applied (shared by the
    * pairwise set-similarity operators). */
  private def guardedPostings(df: DataFrame, id: String, text: String,
                              shingleN: Int, maxShingleDf: Int): DataFrame = {
    val p0 = postings(df, id, text, shingleN)
    if (maxShingleDf == Int.MaxValue) p0
    else {
      val hot = p0.groupBy("shingle").agg(count(lit(1)).as("df"))
        .where(col("df") > maxShingleDf).select("shingle")
      p0.join(hot, Seq("shingle"), "left_anti")
    }
  }

  /** Exact n-gram Jaccard near-dup pairs, no LSH: posting-list self-join
    * on shared shingles. Fully SQL-expressible (the DuckDB oracle runs the
    * same algorithm). With a reasonable shingle size the posting lists are
    * near-unique, keeping the join linear; for skewed corpora prefer
    * [[minHashLshPairs]] whose candidate volume is bounded by banding.
    *
    * `maxShingleDf` guards the skew-quadratic failure mode: a boilerplate
    * shingle appearing in d documents alone contributes d^2 join rows
    * while carrying ~no similarity signal. The cutoff drops shingles with
    * document frequency above it from BOTH the join and the per-document
    * set sizes — the metric becomes exact Jaccard over the
    * informative-shingle universe, and per-shingle join fan-out is
    * bounded by maxShingleDf^2.
    *
    * The DEFAULT is a finite 1000: a naive call on boilerplate-heavy data
    * must not detonate into a d^2 cross product (at df=1000 the worst
    * single shingle already costs 10^6 join rows). A shingle shared by
    * 1000+ documents is boilerplate by any reasonable measure, so the
    * guarded metric equals the exact one on natural corpora; callers who
    * want the unconditionally exact metric opt in with
    * `maxShingleDf = Int.MaxValue` — explicitly buying the skew risk. */
  def jaccardPairs(df: DataFrame, id: String, text: String,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   maxShingleDf: Int = 1000): DataFrame = {
    val p = guardedPostings(df, id, text, shingleN, maxShingleDf)
    val counts = p.groupBy(col(id)).agg(count(lit(1)).as("n"))
    val a = p.select(col(id).as("id_a"), col("shingle"))
    val b = p.select(col(id).as("id_b"), col("shingle"))
    val common = a.join(b, "shingle").where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("common"))
    common
      .join(counts.select(col(id).as("id_a"), col("n").as("n_a")), "id_a")
      .join(counts.select(col(id).as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("j_raw",
        col("common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("common")).cast(DoubleType))
      .where(col("j_raw") >= threshold) // threshold on raw, round for output
      .select(col("id_a"), col("id_b"), round(col("j_raw"), 5).as("jaccard"))
  }

  /** Jaccard top-k text search: for each query document, the `k`
    * most-similar corpus documents by exact n-gram Jaccard — the lookup
    * twin of [[jaccardPairs]] (and the text-side counterpart of
    * [[Similarity.bruteForceTopK]]). Asymmetric posting-list join keyed
    * on shared shingles, so cost is bounded by shingle co-occurrence
    * (with the same `maxShingleDf` boilerplate guard), never
    * |queries| x |corpus|; per-query top-k runs as a WindowGroupLimit
    * partial before the final exchange. Candidates sharing no shingle
    * (Jaccard 0) never surface — standard search semantics. */
  def jaccardTopK(corpus: DataFrame, queries: DataFrame, id: String, text: String,
                  shingleN: Int = 3, k: Int = 5,
                  maxShingleDf: Int = 1000): DataFrame = {
    val cp0 = postings(corpus, id, text, shingleN)
    val cp =
      if (maxShingleDf == Int.MaxValue) cp0
      else {
        val hot = cp0.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") > maxShingleDf).select("shingle")
        cp0.join(hot, Seq("shingle"), "left_anti")
      }
    val qp = postings(queries, id, text, shingleN)
    val cCnt = cp.groupBy(col(id)).agg(count(lit(1)).as("n_c"))
    val qCnt = qp.groupBy(col(id)).agg(count(lit(1)).as("n_q"))
    val common = qp.select(col(id).as("query_id"), col("shingle"))
      .join(cp.select(col(id).as("corpus_id"), col("shingle")), "shingle")
      .groupBy("query_id", "corpus_id").agg(count(lit(1)).as("common"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("j_raw"), asc("corpus_id"))
    common
      .join(qCnt.select(col(id).as("query_id"), col("n_q")), "query_id")
      .join(cCnt.select(col(id).as("corpus_id"), col("n_c")), "corpus_id")
      .withColumn("j_raw", col("common").cast(DoubleType) /
        (col("n_q") + col("n_c") - col("common")).cast(DoubleType))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        round(col("j_raw"), 5).as("jaccard"))
  }

  /** MinHash-LSH top-k text search — the banded (ANN) scale path of
    * [[jaccardTopK]]: query signatures probe only corpus documents
    * sharing a signature band (candidate volume ~ banding collision
    * rate, never |queries| x |corpus| and never the full posting join),
    * then exact Jaccard scores the candidates and a per-query window
    * keeps k. Recall follows the banding s-curve (1-(1-j^rows)^bands) —
    * near-identical docs are found with near-certainty, low-similarity
    * neighbors may be missed: standard ANN semantics, the text twin of
    * [[Similarity.lshTopK]]. */
  def minHashTopK(corpus: DataFrame, queries: DataFrame, id: String, text: String,
                  shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                  k: Int = 5, family: MinHashFamily = XxMinHash): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def banded(df: DataFrame, as: String): DataFrame =
      minHashSignatures(df, id, text, shingleN, numHashes, family).select(
        col(id).as(as),
        posexplode(array((0 until bands).map(b =>
          xxhash64(slice(col("signature"), b * rows + 1, rows), lit(b))): _*))
          .as(Seq("band", "band_hash")))
    val candidates = banded(queries, "query_id")
      .join(banded(corpus, "corpus_id"), Seq("band", "band_hash"))
      .select("query_id", "corpus_id").distinct()
    val qs = queries.select(col(id).as("query_id"), shingleSet(col(text), shingleN).as("sh_q"))
    val cs = corpus.select(col(id).as("corpus_id"), shingleSet(col(text), shingleN).as("sh_c"))
    val w = Window.partitionBy("query_id").orderBy(desc("j_raw"), asc("corpus_id"))
    candidates
      .join(qs, "query_id")
      .join(cs, "corpus_id")
      .withColumn("common", size(array_intersect(col("sh_q"), col("sh_c"))).cast(DoubleType))
      .withColumn("j_raw",
        col("common") / (size(col("sh_q")) + size(col("sh_c")) - col("common")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"),
        round(col("j_raw"), 5).as("jaccard"))
  }

  /** Truncate lineage between iterations. `dir = None` keeps the
    * executor-local fast path (fine single-node); `Some(d)` uses a
    * reliable checkpoint under `d` — on a real cluster localCheckpoint
    * blocks die with their executor, killing any multi-round job past
    * the first failure, so 100 TB deployments should pass a durable
    * (HDFS/object-store) dir. */
  private def truncate(df: DataFrame, dir: Option[String]): DataFrame = dir match {
    case Some(d) =>
      val sc = df.sparkSession.sparkContext
      // honor the REQUESTED dir even when some earlier code set another
      // one. getCheckpointDir returns the fully-qualified UUID subdir
      // setCheckpointDir created (scheme + authority), so the raw caller
      // path must be qualified the same way before comparing — else the
      // guard never matches and every call mints a fresh UUID subdir.
      val p = new org.apache.hadoop.fs.Path(d)
      val qualified = p.getFileSystem(sc.hadoopConfiguration).makeQualified(p).toString
      if (!sc.getCheckpointDir.exists(_.startsWith(qualified + "/")))
        sc.setCheckpointDir(d)
      df.checkpoint(eager = true)
    case None => df.localCheckpoint(eager = true)
  }

  /** Connected components over a near-dup pair list: every document gets
    * the minimum doc-id reachable through the pair graph as its cluster
    * id — the step that turns pairwise similarity into dedup groups
    * (keep one representative per cluster).
    *
    * Iterative min-label propagation: each round, every vertex takes the
    * minimum label among itself and its neighbors; converges in
    * O(diameter) rounds. Near-dup graphs are forests of tiny cliques, so
    * diameter is small; each round is one shuffle-bounded join + agg, no
    * driver-side data. The convergence check rides on the materialized
    * checkpoint (a `__changed` flag scanned from the checkpointed
    * partitions) instead of re-running a join+count each round. For
    * adversarial long-chain graphs use [[connectedComponentsStar]]
    * (O(log n) rounds). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("v", "dst")
          .withColumnRenamed("label", "n_label"), "dst")
        .groupBy(col("src").as("v"))
        .agg(min(col("n_label")).as("n_min"))
      val next = truncate(
        labels.join(neighborMin, "v")
          .select(col("v"), least(col("label"), col("n_min")).as("label"),
            (col("n_min") < col("label")).as("__changed")),
        checkpointDir)
      converged = next.where(col("__changed")).isEmpty // scan, no recompute
      labels = next.drop("__changed")
      iter += 1
    }
    labels.select(col("v").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components via alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * converges in O(log n) rounds on ANY graph shape — the variant to
    * reach for when dup chains can be long (label propagation needs
    * O(diameter) rounds). Same output contract as
    * [[connectedComponents]].
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node and its smaller neighbors re-attach to
    *    that minimum.
    *
    * Both are one groupBy + one join per application; convergence is
    * detected by an edge-set signature (count + order-independent
    * bit_xor of pair hashes — one tiny aggregate per round, no edge-set
    * diff join). */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
                              maxIter: Int = 30,
                              checkpointDir: Option[String] = None): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v"))).distinct()
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    // input edges all (u > v); emit (v -> m) for the smaller neighbors
    // plus (u -> m), m = min of the closed out-neighborhood
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      e.join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }
    // order-independent, overflow-free (ANSI) set signature
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v")).distinct()
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      edges = truncate(smallStar(largeStar(edges)), checkpointDir)
      val next = signature(edges)
      converged = next == sig
      sig = next
      iter += 1
    }
    // If maxIter ran out before the edge fixpoint, a vertex can still
    // hold several outgoing edges; reduce to one min per u so the final
    // join keeps the one-row-per-vertex contract (labels are then merely
    // non-minimal, never duplicated or conflicting).
    if (!converged)
      edges = edges.groupBy("u").agg(min("v").as("v"))
    // stars: non-roots point at their component min; roots label themselves
    val vertices = pairs.select(col(aCol).as("doc_id"))
      .unionByName(pairs.select(col(bCol).as("doc_id"))).distinct()
    vertices.join(edges.select(col("u").as("doc_id"), col("v").as("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Driver-side union-find over a collected edge list — the clustering
    * plan for BROADCAST-SCALE pair graphs. Near-dup pair lists are
    * usually tiny relative to the corpus (only actual duplicates appear),
    * and 2-3 distributed label-propagation rounds cost ~6 scheduled jobs
    * plus checkpoints; for a bounded edge list the driver resolves the
    * same min-label components in microseconds, exactly the way a
    * broadcast join trades a shuffle for driver-held state. Same output
    * contract as [[connectedComponents]]. */
  private[graft] def connectedComponentsLocal(pairs: DataFrame,
                                              aCol: String, bCol: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast(LongType), col(bCol).cast(LongType))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    // iterative find + path compression: min-attachment (no union by
    // rank) can build O(n) root chains under adversarial union order,
    // and at the 2^20-edge gate a recursive find would overflow the stack
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => (v, find(v)))
      .toDF("doc_id", "cluster_id")
  }

  /** Size-gated clustering dispatch shared by the end-to-end dedup
    * pipelines (see [[dedupNear]] for the policy). */
  private def clusterPairs(pairs: DataFrame, starClustering: Boolean,
                           driverMaxEdges: Long): DataFrame =
    if (pairs.count() <= driverMaxEdges)
      connectedComponentsLocal(pairs, "id_a", "id_b")
    else if (starClustering) connectedComponentsStar(pairs, "id_a", "id_b")
    else connectedComponents(pairs, "id_a", "id_b")

  /** End-to-end near-dedup: detect near-dup pairs (MinHash-LSH), cluster
    * them (connected components), keep the minimum-id representative of
    * each cluster — the full "dedup the corpus" pipeline as one call.
    * Documents outside any cluster pass through untouched.
    *
    * Clustering is size-gated the way broadcast joins are: a pair list at
    * or under `driverClusterMaxEdges` (the count is free — the pairs are
    * already materialized in the cache) clusters via driver union-find
    * ([[connectedComponentsLocal]]); larger graphs run the distributed
    * algorithms. Set 0 to force distributed clustering.
    *
    * Default banding is 16 bands x 4 rows: a threshold-0.8 pair misses
    * with probability (1-j^4)^16 <= 2e-4, so recall effectively holds at
    * any corpus size (8x8 banding measurably lost borderline j~0.85
    * pairs at the 10x test scale). The wider bands admit more j>=0.5
    * candidates — all killed by the exact-Jaccard verify stage. */
  def dedupNear(df: DataFrame, id: String, text: String,
                shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                threshold: Double = 0.8,
                starClustering: Boolean = false,
                driverClusterMaxEdges: Long = 1L << 20): DataFrame = {
    // The pair list feeds an ITERATIVE clustering stage whose every round
    // re-references the edge frame, so an unpersisted pair plan would
    // re-run the whole shingle -> signature -> band -> verify pipeline
    // once per round (and evaluate the signature subtree twice within a
    // single run, via the candidate self-join). Persist the one-scan
    // sig+shingle base (r20: the verify stage's two shingle-set sides
    // read the cached base instead of re-scanning and re-shingling the
    // corpus — one tokenize pass instead of three), the aggregated
    // signatures (referenced by both sides of the candidate self-join)
    // and the verified pairs; the loser set — small by construction, one
    // id per non-representative clustered doc — is materialized eagerly
    // so every cache can be released before returning the lazy anti-join
    // to the caller.
    val base = sigShingleBase(df, id, text, shingleN, numHashes, XxMinHash)
      .persist()
    val sigs = sigsFromBase(base, id, numHashes).persist()
    val sh = base.select(col(id), col("sh"))
    val pairs = lshPairsVerify(sigs, sh, id, numHashes, bands, threshold)
      .persist()
    try {
      // near-dup graphs are forests of tiny cliques -> label propagation's
      // O(diameter) is 2-3 rounds; starClustering swaps in the O(log n)
      // large-star/small-star variant for corpora with long dup chains
      val clusters = clusterPairs(pairs, starClustering, driverClusterMaxEdges)
      val losers = clusters.where(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as(id))
        .localCheckpoint(eager = true)
      df.join(losers, Seq(id), "left_anti")
    } finally {
      pairs.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
      base.unpersist(blocking = false)
    }
  }

  /** Incremental near-dedup: drop from `incoming` every document that is
    * a near-duplicate of the already-canonical `existing` corpus or of a
    * surviving earlier (smaller-id) incoming document — the production
    * shape for continuously growing training lakes, where yesterday's
    * deduped corpus must never lose rows to today's batch.
    *
    * Semantics over the UNION pair graph: an incoming document survives
    * iff its near-dup cluster contains NO existing document and it is
    * the minimum incoming id of that cluster. (Existing documents are
    * canonical regardless of id order: an incoming doc with a smaller id
    * than its existing near-dup still drops — unlike [[dedupNear]] run
    * on the union, which would crown the smaller id.)
    *
    * Cost shape: the LSH pipeline runs over existing ∪ incoming. When
    * `existing` is large and stable, persist its signatures with
    * [[minHashSignatures]] and reuse via
    * [[minHashLshPairsFromSignatures]]; the pair volume itself is banded
    * (never |old| x |new|). Ids must be distinct across the two inputs. */
  def dedupNearIncremental(existing: DataFrame, incoming: DataFrame,
                           id: String, text: String,
                           shingleN: Int = 3, numHashes: Int = 64,
                           bands: Int = 16, threshold: Double = 0.8,
                           starClustering: Boolean = false,
                           driverClusterMaxEdges: Long = 1L << 20): DataFrame = {
    val all = existing.select(col(id), col(text)).withColumn("__origin", lit(0))
      .unionByName(incoming.select(col(id), col(text)).withColumn("__origin", lit(1)))
    val base = sigShingleBase(all, id, text, shingleN, numHashes, XxMinHash)
      .persist()
    val sigs = sigsFromBase(base, id, numHashes).persist()
    val sh = base.select(col(id), col("sh"))
    val pairs = lshPairsVerify(sigs, sh, id, numHashes, bands, threshold)
      .persist()
    try {
      val clusters = clusterPairs(pairs, starClustering, driverClusterMaxEdges)
      val withOrigin = clusters
        .join(all.select(col(id).as("doc_id"), col("__origin")), "doc_id")
      val stats = withOrigin.groupBy("cluster_id").agg(
        min(col("__origin")).as("__has_existing"), // 0 when any existing member
        min(when(col("__origin") === 1, col("doc_id"))).as("__min_incoming"))
      val losers = withOrigin.join(stats, "cluster_id")
        .where(col("__origin") === 1 &&
          (col("__has_existing") === 0 || col("doc_id") =!= col("__min_incoming")))
        .select(col("doc_id").as(id))
        .localCheckpoint(eager = true)
      incoming.join(losers, Seq(id), "left_anti")
    } finally {
      pairs.unpersist(blocking = false)
      sigs.unpersist(blocking = false)
      base.unpersist(blocking = false)
    }
  }

  /** Portable 60-bit token hash: the first 15 hex chars of md5 parsed to
    * a long. Any engine with md5 reproduces it digit-for-digit (the d4
    * DuckDB oracle does), unlike xxhash64 which is Spark-family-specific.
    * xxhash64 stays the scale-path default — md5 costs one string digest
    * per token, fine for verification runs. */
  val md5Hash60: Column => Column =
    t => conv(substring(md5(t), 1, 15), 16, 10).cast(LongType)

  /** `numBits`-bit SimHash per document: bit k of the hash is the sign of
    * the sum over tokens of ±1 according to bit k of `tokenHash(token)`.
    * `tokenHash` must populate bits 0..numBits-1 (xxhash64 for 64,
    * [[md5Hash60]] for 60). */
  def simHash(df: DataFrame, id: String, text: String,
              numBits: Int = 64,
              tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(numBits >= 1 && numBits <= 64)
    val tok = Parallelism.ensure(df)
      .select(col(id), explode(tokens(col(text))).as("t"))
      .withColumn("h", tokenHash(col("t")))
    val bitSums = (0 until numBits).map(k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$k"))
    val sums = tok.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
    val hashExpr = (0 until numBits).map(k =>
      when(col(s"b$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    sums.select(col(id), hashExpr.as("simhash"))
  }

  /** Near-dup pairs within `maxHamming` of each other's SimHash.
    * Banded join on `maxHamming + 1` balanced bit chunks: a pair within
    * Hamming distance h <= maxHamming differs in at most h chunks, so at
    * least one of the maxHamming+1 chunks is equal (pigeonhole) — every
    * qualifying pair surfaces from an equi-join, never a cross product,
    * and the exact Hamming filter on candidates makes the output exact. */
  def simHashPairs(df: DataFrame, id: String, text: String,
                   maxHamming: Int = 3, numBits: Int = 64,
                   tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(maxHamming >= 0 && maxHamming < numBits,
      "need maxHamming + 1 <= numBits chunks for the pigeonhole guarantee")
    val chunks = maxHamming + 1
    // balanced partition of [0, numBits): first (numBits % chunks) chunks
    // are one bit wider — exactly `chunks` non-empty chunks
    val base = numBits / chunks
    val extra = numBits % chunks
    val bounds = (0 until chunks).scanLeft(0)((acc, b) =>
      acc + base + (if (b < extra) 1 else 0))
    val sh = simHash(df, id, text, numBits, tokenHash)
    val banded = sh.select(col(id), col("simhash"),
      posexplode(array((0 until chunks).map { b =>
        val lo = bounds(b)
        val w = bounds(b + 1) - lo
        // w == 64 (single 64-bit chunk): (1L << 64) - 1 wraps to 0 under
        // JVM shift-mod-64 and would collapse every doc into one bucket
        val mask = if (w >= 64) -1L else (1L << w) - 1
        shiftright(col("simhash"), lo).bitwiseAND(lit(mask))
      }: _*)).as(Seq("chunk", "chunk_val")))
    val a = banded.select(col(id).as("id_a"), col("simhash").as("sh_a"),
      col("chunk"), col("chunk_val"))
    val b = banded.select(col(id).as("id_b"), col("simhash").as("sh_b"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
