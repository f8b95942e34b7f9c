package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** End-to-end training-corpus curation: the composition this engine
  * exists for, as one call —
  *
  *   1. annotate: language ID + quality score + token count (pure
  *      codegen'd per-row expressions);
  *   2. filter: drop unidentifiable or low-quality documents;
  *   3. dedup: exact near-identity on the whitespace-normalized text
  *      (md5 fingerprint), deterministic min-id survivor;
  *   4. sample: deterministic hash membership keyed on the CONTENT
  *      fingerprint, so the curated corpus is reproducible across runs,
  *      engines, partitionings, incremental loads — and invariant to
  *      document-id assignment and arrival order (the same text keeps or
  *      drops no matter which duplicate survived dedup, which is what
  *      lets the streaming twin emit the identical fingerprint set).
  *
  * Every stage is individually DuckDB-oracled (t1/t2/t3, t4, d1, t8);
  * the composed pipeline is oracled as `c1_curation` by composing the
  * same SQL — the whole chain stays cell-exact, not just the parts.
  * Scale shape: one window shuffle (dedup) + narrow maps; the sample
  * predicate is a pure function of the fingerprint column, so it pushes
  * ahead of everything except the annotate stage that derives it.
  */
object Curation {

  final case class Config(
      minQuality: Double = 0.5,
      dropUnknownLang: Boolean = true,
      sampleSixteenths: Int = 16)

  /** The stateless annotate + filter stage, shared VERBATIM by the batch
    * pipeline and [[graft.streaming.CurationStream]] (which swaps only
    * the stateful dedup) — one definition, no batch/stream drift. Works
    * on batch and streaming frames alike (pure expressions).
    *
    * All four annotations derive from ONE materialized
    * [[graft.functions.TextFunctions.annotateStats]] struct — a single
    * compiled text pass where the composable forms ran six regex scans,
    * two splits and a regex replace (the c1 annotate stage is ~90% of
    * the pipeline's cost and bytes-bound, SURVEY §6). The explicit
    * struct column makes the sharing deterministic — no reliance on
    * codegen subexpression elimination. AnnotateSpec pins the output
    * cell-identical to the composable regex forms. */
  def annotateAndFilter(df: DataFrame, textCol: String,
                        cfg: Config = Config()): DataFrame = {
    val ann = annCol(df)
    df.withColumn(ann, annotateStats(col(textCol)))
      .withColumn("lang_pred", langIdFrom(col(ann)))
      .withColumn("quality", qualityFrom(col(ann)))
      .withColumn("n_tokens", col(ann).getField("n_tokens").cast("long"))
      .withColumn("fp", md5(col(ann).getField("norm")))
      .drop(ann)
      .where(col("quality") >= cfg.minQuality)
      .where(if (cfg.dropUnknownLang) col("lang_pred") =!= "unk" else lit(true))
  }

  /** First `__ann`-prefixed name absent from `df` — the internal struct
    * column must never clobber (and then silently drop) a user column
    * that happens to be named `__ann`. The documented output columns
    * (`lang_pred`, `quality`, `n_tokens`, `fp`) overwrite by contract. */
  private def annCol(df: DataFrame): String =
    Iterator.from(0)
      .map(i => if (i == 0) "__ann" else s"__ann_$i")
      .find(n => !df.columns.contains(n)).get

  /** Curate `df` (needs `idCol` and `textCol`): returns the surviving
    * rows annotated with `lang_pred`, `quality`, `n_tokens`, `fp`. */
  def curate(df: DataFrame, idCol: String, textCol: String,
             cfg: Config = Config()): DataFrame = {
    val filtered = annotateAndFilter(Parallelism.ensure(df), textCol, cfg)
    val deduped = Dedup.dedupExact(filtered, Seq("fp"), idCol)
    Sampling.hashSample(deduped, "fp", cfg.sampleSixteenths)
  }

  /** Per-document DROP AUDIT for the [[curate]] pipeline: every input
    * row labeled with the FIRST rule that removed it, in pipeline
    * order — `low_quality`, `unk_lang`, `dup`, `sampled_out` — or
    * `kept`. The debugging view every curation stack needs ("where did
    * my corpus go?"): reasons partition the input exactly, and the
    * `kept` set is BY CONSTRUCTION the [[curate]] output (law-pinned in
    * CurationSpec... OperatorLawsSpec).
    *
    * Pipeline-order subtlety the naive version gets wrong: the dedup
    * survivor is the min id among rows that PASSED the quality/lang
    * filters (the only rows the real dedup stage ever sees), so the
    * survivor expression is `min(CASE WHEN passing THEN id END)` over
    * the fingerprint window — a doc whose duplicate-group "first" copy
    * failed quality is NOT a dup; it survives via the first passing id.
    * One fp-partitioned window, no global state. */
  def dropReasons(df: DataFrame, idCol: String, textCol: String,
                  cfg: Config = Config()): DataFrame = {
    val ann = annCol(df)
    val annotated = Parallelism.ensure(df)
      .withColumn(ann, annotateStats(col(textCol)))
      .withColumn("lang_pred", langIdFrom(col(ann)))
      .withColumn("quality", qualityFrom(col(ann)))
      .withColumn("fp", md5(col(ann).getField("norm")))
      .drop(ann)
    val passing = col("quality") >= cfg.minQuality &&
      (if (cfg.dropUnknownLang) col("lang_pred") =!= "unk" else lit(true))
    val minPass = min(when(passing, col(idCol)))
      .over(Window.partitionBy("fp"))
    annotated
      .withColumn("__min_pass", minPass)
      .withColumn("reason",
        when(col("quality") < cfg.minQuality, lit("low_quality"))
          .when(if (cfg.dropUnknownLang) col("lang_pred") === "unk"
            else lit(false), lit("unk_lang"))
          .when(col(idCol) =!= col("__min_pass"), lit("dup"))
          .when(!Sampling.hashKeep(col("fp"), cfg.sampleSixteenths),
            lit("sampled_out"))
          .otherwise(lit("kept")))
      .select(col(idCol), col("lang_pred"), col("quality"), col("reason"))
  }

  /** Source-level curation verdicts (the URL/domain-filtering stage a web
    * corpus runs before any per-document work): aggregate per-document
    * quality to its source and keep only sources with enough volume AND a
    * high-enough mean quality.
    *
    * Exactness at scale: per-row quality doubles are mapped to the
    * integer domain with `floor(q * 1e6)` BEFORE aggregation — floor of a
    * bit-identical double is deterministic, and BIGINT sums are exact and
    * order-independent, so the verdict never depends on partial-aggregate
    * order (a raw double sum would). The mean-quality gate is the
    * cross-multiplied integer comparison `sum >= ceil(minAvg·1e6)·n` —
    * no division anywhere. One partial+final aggregation, no shuffle
    * beyond the groupBy; verdicts broadcast back as a semi-join filter. */
  def sourceStats(df: DataFrame, sourceCol: String, textCol: String,
                  minDocs: Long = 1L, minAvgQuality: Double = 0.5): DataFrame = {
    val micro = math.ceil(minAvgQuality * 1e6).toLong
    Parallelism.ensure(df)
      .select(col(sourceCol),
        floor(qualityScore(col(textCol)) * 1e6).cast("long").as("q_micro"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("q_micro")).as("sum_q_micro"))
      .withColumn("kept",
        col("n_docs") >= minDocs && col("sum_q_micro") >= col("n_docs") * micro)
  }

  /** Concat-and-chunk sequence packing (the pretraining batch-prep step):
    * within each stratum, documents are laid head-to-tail in id order and
    * cut into fixed `budgetTokens`-token packs; each document reports the
    * pack its first token lands in and its offset inside that pack (docs
    * straddle pack boundaries, exactly like a concatenated token stream
    * chunked for training). Pure integer window arithmetic — one shuffle,
    * parallel across strata: a 100 TB packing run shards by stratum the
    * same way a sharded pretraining writer does (a single GLOBAL ordered
    * cumsum would serialize; the stratum key is the scale lever). */
  def packSequences(df: DataFrame, strataCol: String, idCol: String,
                    textCol: String, budgetTokens: Long): DataFrame =
    packSequencesCounted(df,
      strataCol, idCol, size(tokens(col(textCol))).cast("long"), budgetTokens)

  /** [[packSequences]] over a PRE-COMPUTED token count (optimization r20,
    * guide §4): a pipeline whose upstream annotate stage already carries
    * `n_tokens` passes it here as `col("n_tokens")` instead of paying a
    * second tokenize pass over the full text column. */
  def packSequencesCounted(df: DataFrame, strataCol: String, idCol: String,
                           nTokens: Column, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0)
    val w = Window.partitionBy(strataCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    Parallelism.ensure(df)
      .select(col(strataCol), col(idCol), nTokens.as("n_tokens"))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", expr(s"start_off DIV $budgetTokens"))
      .withColumn("pack_off", pmod(col("start_off"), lit(budgetTokens)))
  }

  /** Keep only documents from sources [[sourceStats]] accepts — the
    * composed filter (broadcast semi-join on the tiny verdict table). */
  def filterBySource(df: DataFrame, sourceCol: String, textCol: String,
                     minDocs: Long = 1L, minAvgQuality: Double = 0.5): DataFrame =
    df.join(
      broadcast(sourceStats(df, sourceCol, textCol, minDocs, minAvgQuality)
        .where(col("kept")).select(sourceCol)),
      Seq(sourceCol), "left_semi")

  /** Language-balanced curation: the same annotate → filter → dedup
    * chain, but the final sample is stratified per PREDICTED language —
    * the "rebalance the training mix" knob (downsample the dominant
    * language, keep more of the rare ones). `fractions` maps lang_pred →
    * sixteenths kept; languages absent from the map are dropped.
    * Membership stays keyed on the content fingerprint, so the kept fp
    * set remains id- and arrival-invariant per stratum. */
  def curateBalanced(df: DataFrame, idCol: String, textCol: String,
                     fractions: Map[String, Int],
                     cfg: Config = Config()): DataFrame = {
    val filtered = annotateAndFilter(Parallelism.ensure(df), textCol, cfg)
    val deduped = Dedup.dedupExact(filtered, Seq("fp"), idCol)
    Sampling.stratified(deduped, "lang_pred", "fp", fractions)
  }

  /** Per-source document cap (the per-domain cap a web-crawl curation
    * applies so no single domain dominates the mix): keep at most
    * `maxDocs` documents per source, best-quality first. Ranking runs in
    * the INTEGER micro-quality domain (`floor(q·1e6)`, ties by id) so
    * the cut is deterministic and engine-portable — a raw-double order
    * key would make the boundary row engine-dependent. One partitioned
    * window (keyed by source — fully parallel across domains; no
    * global ordering anywhere). */
  def capPerSource(df: DataFrame, sourceCol: String, idCol: String,
                   textCol: String, maxDocs: Int): DataFrame = {
    require(maxDocs > 0)
    val w = Window.partitionBy(sourceCol)
      .orderBy(desc("q_micro"), col(idCol))
    Parallelism.ensure(df)
      .withColumn("q_micro",
        floor(qualityScore(col(textCol)) * 1e6).cast("long"))
      .withColumn("rank_in_source", row_number().over(w))
      .where(col("rank_in_source") <= maxDocs)
  }

  /** Equalize a stratified mix (the "rebalance the training mixture"
    * step): compute each stratum's volume, take the smallest stratum as
    * the target, and deterministically downsample every other stratum
    * toward it with the hash-membership function — the kept fraction is
    * `floor(256·min/n)` 256ths (FLOORED AT 1, so a stratum more than
    * 256× the smallest is heavily downsampled but never silently
    * ELIMINATED from the mix), so membership stays a pure function of
    * the key (reproducible, incremental-load-stable) while the mix
    * approaches uniform. The per-stratum threshold table is one tiny
    * aggregate broadcast back; no shuffle touches the corpus itself. */
  def rebalanceEqual(df: DataFrame, stratumCol: String,
                     keyCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
    val sx = counts
      .crossJoin(broadcast(counts.agg(min(col("n")).as("m"))))
      .select(col(stratumCol),
        greatest(expr("CAST((m * 256) DIV n AS INT)"), lit(1))
          .as("kept_256ths"))
    df.join(broadcast(sx), Seq(stratumCol))
      .where(Sampling.hashKeepDynamic(col(keyCol), col("kept_256ths"), 256))
  }

  /** Deterministic epoch shuffle into shards (the training-order
    * randomization a sharded pretraining writer performs): every row
    * gets a portable 60-bit hash of (seed, key); the shard is the hash
    * mod `numShards`, and rows are positioned within their shard by
    * hash order. Re-running with the same seed reproduces the exact
    * order on any cluster size; a new seed is a fresh permutation.
    * Scale shape: one partitioned window keyed by shard — positions are
    * assigned per shard in parallel, never through a global rank. */
  def shardShuffle(df: DataFrame, keyCol: String, seed: Long,
                   numShards: Int): DataFrame = {
    require(numShards > 0)
    val h = Dedup.md5Hash60(concat_ws(":", lit(seed), col(keyCol)))
    val w = Window.partitionBy("shard").orderBy(col("shuffle_h"), col(keyCol))
    df.withColumn("shuffle_h", h)
      .withColumn("shard", pmod(col("shuffle_h"), lit(numShards.toLong)).cast("int"))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
  }

  /** Sequence-length bucketing for batch assembly (pad-efficient
    * batching groups sequences of similar length): bucket = number of
    * binary digits of the token count (i.e. pow-2 length classes, the
    * standard bucketing rule), then contiguous `batchSize` batches by id
    * order within each bucket. All integer arithmetic — `length(bin(n))`
    * is exact where a floating log2 would misclassify exact powers of
    * two — and the only shuffle is the bucket-partitioned window. */
  def lengthBuckets(df: DataFrame, idCol: String, textCol: String,
                    batchSize: Int): DataFrame = {
    require(batchSize > 0)
    val w = Window.partitionBy("bucket").orderBy(idCol)
    Parallelism.ensure(df)
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tokens"))
      .withColumn("bucket", length(bin(col("n_tokens"))).cast("int"))
      .withColumn("rn0", row_number().over(w).cast("long") - 1)
      .withColumn("batch_id", expr(s"rn0 DIV $batchSize"))
      .withColumn("batch_pos", pmod(col("rn0"), lit(batchSize.toLong)).cast("int"))
      .drop("rn0")
  }

  /** DSIR-style importance weights (hashed n-gram importance resampling,
    * the published data-selection technique): score every document by
    * how much more likely its hashed token features are under the TARGET
    * distribution than under the RAW corpus distribution —
    * `w(d) = mean over token occurrences of ln p_t(bucket) - ln p_r(bucket)`
    * with add-one smoothing over `buckets` hashed feature buckets.
    * `isTarget` is a row-level predicate over `df` selecting the target
    * exemplar subset (e.g. `col("lang") === "en"`).
    *
    * Scale shape: one token explode over the corpus; BOTH distributions
    * come from a single aggregate over the bounded bucket space
    * (`buckets` rows — raw count + conditional target count in one pass)
    * broadcast back to the occurrence stream, and the grand totals ride
    * a 1-row broadcast (t12's idf-scalar pattern). Nothing in the plan
    * is sized by anything but token volume. Portable md5 bucket hash so
    * an external engine reproduces the weights digit-for-digit. */
  def dsirWeights(df: DataFrame, isTarget: Column, idCol: String,
                  textCol: String, buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val occ = Parallelism.ensure(df)
      .select(col(idCol), isTarget.as("is_t"),
        explode(tokens(col(textCol))).as("t"))
      .select(col(idCol), col("is_t"),
        pmod(Dedup.md5Hash60(col("t")), lit(buckets.toLong)).as("b"))
    val dist = occ.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_t"), lit(1L)).otherwise(lit(0L))).as("ct"))
    val totals = dist.agg(sum("cr").as("tr"), sum("ct").as("tt"))
    occ.join(broadcast(dist), Seq("b"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        // + 0.0 canonicalizes IEEE -0.0 (a zero-crossing round can land
        // on either sign depending on the engine's rounding machinery)
        (round(avg(
          log((col("ct") + lit(1.0)) / (col("tt") + lit(buckets.toDouble))) -
          log((col("cr") + lit(1.0)) / (col("tr") + lit(buckets.toDouble)))), 4)
          + lit(0.0)).as("dsir_w"))
  }

  /** Deterministic round-robin source interleaving — the mixture
    * SCHEDULE: each source's docs are epoch-shuffled (seeded portable
    * hash, [[shardShuffle]]'s machinery) and the streams are interleaved
    * by `sched_pos = (per-source position - 1) · n_sources + source
    * index`, so reading in sched_pos order cycles sources round-robin
    * while each lasts (positions of exhausted sources leave gaps — the
    * ORDER is what matters, and it is a pure function of (seed, key)).
    * Prevents the source-clumping a naive concat-then-shuffle epoch
    * suffers at shard boundaries.
    *
    * Scale shape: the source-index table is derived from the DISTINCT
    * source set (strictly-smaller-count rank — no global window) and
    * broadcast back with the 1-row source count; the corpus itself sees
    * one source-partitioned window. The source-set self-join is an
    * inequality join bounded by |sources|², never data-sized. */
  def interleaveSources(df: DataFrame, sourceCol: String, keyCol: String,
                        seed: Long): DataFrame = {
    val srcs = df.select(col(sourceCol)).distinct()
    val idx = srcs.as("a")
      .join(broadcast(srcs.as("b")),
        col(s"b.$sourceCol") < col(s"a.$sourceCol"), "left")
      .groupBy(col(s"a.$sourceCol").as(sourceCol))
      .agg(count(col(s"b.$sourceCol")).as("si"))
    val ns = srcs.agg(count(lit(1)).as("ns"))
    val h = Dedup.md5Hash60(concat_ws(":", lit(seed), col(keyCol)))
    val w = Window.partitionBy(sourceCol).orderBy(col("__hv"), col(keyCol))
    df.withColumn("__hv", h)
      .withColumn("__pos", row_number().over(w).cast("long"))
      .join(broadcast(idx), Seq(sourceCol))
      .crossJoin(broadcast(ns))
      .select(col(keyCol), col(sourceCol),
        ((col("__pos") - 1) * col("ns") + col("si")).as("sched_pos"))
  }

  /** Token-budget mixture sampling — the "give me N tokens from this
    * mixture" curation step: every stratum is allotted an equal share of
    * the budget (integer division, so the sample lands at or below the
    * budget); its keep fraction is the allotment over its actual token
    * count clamped to [0, 256] 256ths; membership is the deterministic
    * md5 test, so the same call on the same corpus always emits the same
    * byte-identical sample and incremental reruns never flip a row's
    * fate. Scale shape: the threshold table is one tiny aggregate
    * broadcast back to the corpus — no corpus shuffle at all.
    *
    * A DEGENERATE stratum — token sum zero or null — is dropped whole:
    * without the explicit zero, the null the DIV produces would slip
    * through least() (nulls are skipped, not propagated) and silently
    * keep the entire stratum. */
  def budgetSample(df: DataFrame, stratumCol: String, keyCol: String,
                   tokensCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    val per = df.groupBy(col(stratumCol)).agg(sum(col(tokensCol)).as("tok"))
    val share = per.crossJoin(broadcast(per.agg(count(lit(1)).as("ns"))))
      .select(col(stratumCol),
        when(col("tok") > 0,
          least(lit(256),
            expr(s"CAST((($budgetTokens DIV ns) * 256) DIV tok AS INT)")))
          .otherwise(lit(0))
          .as("kept_256ths"))
    df.join(broadcast(share), Seq(stratumCol))
      .where(Sampling.hashKeepDynamic(col(keyCol), col("kept_256ths"), 256))
  }

  /** Temperature-based mixture resampling — the `p_i ∝ n_i^α` source
    * mixing rule of multilingual/multi-source pretraining, realized as a
    * pure DOWNSAMPLE: stratum i keeps the fraction `(n_min / n_i)^(1−α)`
    * (the largest fraction any stratum needs is 1, at the smallest
    * stratum, so no upsampling is ever required). α interpolates the
    * whole family: α=1 is the original mix (keep everything), α=0 is the
    * uniform mix ([[rebalanceEqual]]'s target), α=0.5 the common
    * heated-mixture compromise. Thresholds are 4096ths floored at 1
    * (a >4096× stratum is squeezed, never silently eliminated) and
    * membership is the deterministic md5 test — reproducible and
    * incremental-load-stable, like every sampler here. Scale shape: two
    * tiny aggregates broadcast back; the corpus never shuffles.
    *
    * Engine-portability of the threshold: α=0.5 is computed with `sqrt`,
    * which IEEE 754 requires to be CORRECTLY ROUNDED — division, sqrt
    * and the ×4096 (exact power of two) reproduce bit-identically on any
    * compliant engine, so `floor` lands on the same integer everywhere
    * (the DuckDB oracle of c13 leans on this). General α goes through
    * `pow`, whose 1-ulp license is fine within one engine but can flip a
    * floor boundary across engines — prefer the sqrt-expressible point
    * when a cross-engine gate matters. */
  def temperatureMix(df: DataFrame, stratumCol: String, keyCol: String,
                     alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
    val ratio = col("m").cast("double") / col("n").cast("double")
    val frac =
      if (alpha == 1.0) lit(1.0)
      else if (alpha == 0.5) sqrt(ratio)
      else if (alpha == 0.0) ratio
      else pow(ratio, lit(1.0 - alpha))
    val sx = counts
      .crossJoin(broadcast(counts.agg(min(col("n")).as("m"))))
      .select(col(stratumCol),
        greatest(floor(frac * lit(4096)).cast("int"), lit(1))
          .as("kept_4096ths"))
    df.join(broadcast(sx), Seq(stratumCol))
      .where(Sampling.hashKeepDynamic(col(keyCol), col("kept_4096ths"), 4096))
  }
}
