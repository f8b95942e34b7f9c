package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Lake
import graft.functions.TextFunctions._
import graft.functions.TopKAggregator

/** Text-analysis inventory over `documents` (SURVEY.md §2b): language ID,
  * quality scoring, token counting, fingerprinting. All pure codegen'd
  * expression pipelines — per-row maps that scale linearly. Oracles mirror
  * the exact same formulas in DuckDB SQL (shared regex dialect subset).
  */
object TextQueries {

  /** Documents scan re-parallelized for the CPU-heavy per-row
    * expression pipelines (the driver file is a single row group -> one
    * scan partition; no-op on real many-file inputs). The sampling
    * queries t8/t9 keep the plain scan - they are filter-only. */
  private def docs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Parallelism.ensure(graft.Lake(s, dir).documents)

  /** Corpus-trained bigram LM score per document (shared by t21/t22):
    * avg over the doc's bigrams of ln((c(bigram)+1) / (c(w1·)+V)) —
    * add-one smoothing over vocabulary V, with c(w1·) the bigram-start
    * count so the conditional normalizes exactly. Counts are corpus
    * aggregates joined back to the occurrence stream on their n-gram key
    * (hash equi-joins — the count tables are corpus-bounded, never
    * collected); V is a 1-row scalar broadcast. The per-doc mean is
    * rounded to 4 decimals: each ln term can differ by 1 ulp between
    * libm implementations and double partial-aggregation order is
    * engine-dependent, both ~1e-13 relative — nine orders below the
    * rounding step. Returns (doc_id, lang, n_bigrams, avg_ll); a doc too
    * short for a bigram scores 0.0 over 0 bigrams. */
  private def lmScored(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = docs(s, dir)
    val bg = d.select(col("doc_id"), explode(wordShingles(col("text"), 2)).as("bg"))
    val bgc = bg.groupBy("bg").agg(count(lit(1)).as("c2"))
    val w1c = bg.select(substring_index(col("bg"), " ", 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = d.select(explode(tokens(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val scored = bg
      .join(bgc, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(w1c, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((col("c2") + 1).cast(DoubleType)
          / (col("c1") + col("v")).cast(DoubleType))).as("ll"))
    d.select(col("doc_id"), col("lang"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(col("ll") / col("n_bigrams"), 4), lit(0.0)).as("avg_ll"))
  }

  /** Shared DuckDB replay of [[lmScored]] (CTE prefix ending in `sc2`). */
  private val lmOracleCtes =
    """WITH tok AS (
      |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS w
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]) AS bg
      |  FROM tok),
      |bgc AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
      |w1c AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
      |        FROM bg GROUP BY 1),
      |voc AS (SELECT count(DISTINCT tk) AS v
      |        FROM (SELECT unnest(w) AS tk FROM tok)),
      |sc AS (
      |  SELECT doc_id, count(*) AS nb,
      |    sum(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))) AS ll
      |  FROM (SELECT b.doc_id, bc.c2, wc.c1
      |        FROM bg b JOIN bgc bc USING (bg)
      |        JOIN w1c wc ON wc.w1 = split_part(b.bg, ' ', 1)) t, voc
      |  GROUP BY doc_id),
      |sc2 AS (
      |  SELECT d.doc_id, d.lang, CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
      |    COALESCE(round(sc.ll / sc.nb, 4), 0.0) AS avg_ll
      |  FROM documents d LEFT JOIN sc USING (doc_id))""".stripMargin

  val defs: Map[String, Q] = Map(

    // ---- heuristic language ID ----------------------------------------
    "t1_langid" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), col("lang").as("lang_tagged"),
          langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang AS lang_tagged,
          |  CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'unk'
          |       WHEN en >= es AND en >= de THEN 'en'
          |       WHEN es >= de THEN 'es'
          |       ELSE 'de' END AS lang_pred
          |FROM (
          |  SELECT doc_id, lang,
          |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS en,
          |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los)\b')) AS es,
          |    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|von)\b')) AS de
          |  FROM documents) t
          |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- quality scoring ------------------------------------------------
    "t2_quality" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |    least(CAST(ntok AS DOUBLE) / 100.0, 1.0) * 0.5
          |  + (CASE WHEN ntok > 0 THEN CAST(stop_hits AS DOUBLE) / ntok ELSE 0.0 END) * 0.3
          |  + (1.0 - CASE WHEN nchars > 0 THEN CAST(punct AS DOUBLE) / nchars ELSE 0.0 END) * 0.2
          |  AS quality
          |FROM (
          |  SELECT doc_id,
          |    len(string_split_regex(lower(trim(text)), '\s+')) AS ntok,
          |    len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS stop_hits,
          |    len(regexp_extract_all(text, '[^\s\p{L}\p{N}]')) AS punct,
          |    length(text) AS nchars
          |  FROM documents) t
          |ORDER BY doc_id""".stripMargin)),

    // ---- token counting (whitespace + BPE-ish regex), per language -----
    "t3_token_stats" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("lang"),
          size(tokens(col("text"))).cast(LongType).as("ws"),
          bpeTokenCount(col("text")).cast(LongType).as("bpe"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"))
        .orderBy("lang"),
      Some(
        """SELECT lang, COUNT(*) AS n_docs,
          |  CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS ws_tokens,
          |  CAST(SUM(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\s\p{L}\p{N}]'))) AS BIGINT) AS bpe_tokens
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- portable content fingerprint (md5 of normalized text) ---------
    "t4_fingerprint" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- order-sensitive rolling-hash fingerprint ----------------------
    // Portable md5-token variant so DuckDB can replay the identical fold
    // (list_reduce over the same polynomial mod 2^40); the xxhash64 form
    // is the scale default of the same fold (OperatorLawsSpec pins the
    // fold's order-sensitivity + range laws for both hash families).
    "t5_rolling_fingerprint" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), fingerprintRollingPortable(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
          |  FROM documents)
          |SELECT doc_id,
          |  list_reduce(
          |    list_prepend(CAST(0 AS BIGINT),
          |      [CAST(list_sum([(strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1)
          |                      * pow(16, 7 - i) for i in generate_series(1, 7)]) AS BIGINT)
          |       for w in ws]),
          |    (acc, x) -> (acc * 1000003 + x) % 1099511627776) AS fp
          |FROM tok ORDER BY doc_id""".stripMargin)),

    // ---- n-gram frequency table (Generator/explode path) ---------------
    "t7_bigram_counts" -> Q(
      (s, dir) => docs(s, dir)
        .select(explode(wordShingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram"))
        .limit(20),
      Some(
        """WITH tok AS (
          |  SELECT string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |bg AS (
          |  SELECT unnest([w[i] || ' ' || w[i+1]
          |                 for i in generate_series(1, len(w)-1)]) AS bigram
          |  FROM tok)
          |SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
          |ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),

    // ---- deterministic hash sampling (engine-portable membership) ------
    "t8_hash_sample" -> Q(
      (s, dir) => graft.operators.Sampling.hashSample(
          Lake(s, dir).documents, "doc_id", sixteenths = 2)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang FROM documents
          |WHERE md5(CAST(doc_id AS VARCHAR)) < '2'
          |ORDER BY doc_id""".stripMargin)),

    // ---- stratified deterministic sampling ------------------------------
    "t9_stratified_sample" -> Q(
      (s, dir) => graft.operators.Sampling.stratified(
          Lake(s, dir).documents, "lang", "doc_id",
          Map("es" -> 8, "de" -> 4, "zh" -> 2))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang FROM documents
          |WHERE (lang = 'es' AND md5(CAST(doc_id AS VARCHAR)) < '8')
          |   OR (lang = 'de' AND md5(CAST(doc_id AS VARCHAR)) < '4')
          |   OR (lang = 'zh' AND md5(CAST(doc_id AS VARCHAR)) < '2')
          |ORDER BY doc_id""".stripMargin)),

    // ---- inverted index build (term -> sorted posting list + df) -------
    // The materialize-the-index half of keyword search: one distinct
    // explode + one groupBy; postings ordered so the layout is
    // deterministic and merge-joinable. At 100 TB the same plan holds —
    // posting lists are per-term and build via map-side partial
    // aggregation, nothing driver-side.
    // postings dump as a comma-joined string: the sorted LIST itself is
    // unhashable in the driver's pandas row sort (CORRECTNESS_r04), and
    // BIGINT text rendering matches across engines, so still cell-exact
    "t10_inverted_index" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          array_join(sort_array(collect_list(col("doc_id"))).cast("array<string>"),
            ",").as("postings"))
        .orderBy("term"),
      Some(
        """WITH tok AS (
          |  SELECT DISTINCT doc_id,
          |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          |  FROM documents)
          |SELECT term, count(*) AS df,
          |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
          |FROM tok GROUP BY term ORDER BY term""".stripMargin)),

    // ---- conjunctive keyword search ranked by hit count ----------------
    // Docs containing ALL query terms, ranked by total occurrences with a
    // deterministic doc_id tie-break — integer-exact relevance, the query
    // half of t10's index.
    "t11_keyword_search" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .where(col("term").isin("data", "scan", "hash"))
        .groupBy("doc_id")
        .agg(countDistinct(col("term")).as("nt"), count(lit(1)).as("hits"))
        .where(col("nt") === 3)
        .select(col("doc_id"), col("hits"))
        .orderBy(desc("hits"), asc("doc_id"))
        .limit(20),
      Some(
        """WITH tok AS (
          |  SELECT doc_id,
          |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          |  FROM documents),
          |m AS (
          |  SELECT doc_id, count(DISTINCT term) AS nt, count(*) AS hits
          |  FROM tok WHERE term IN ('data', 'scan', 'hash') GROUP BY doc_id)
          |SELECT doc_id, hits FROM m WHERE nt = 3
          |ORDER BY hits DESC, doc_id LIMIT 20""".stripMargin)),

    // ---- TF-IDF: top-3 terms per document ------------------------------
    // score = tf * ln(N/df) ranks the terms; the COMPARED output is the
    // integer-exact (rank, term, tf, df) — the raw double is excluded
    // because HotSpot's intrinsic Math.log and libm ln differ by 1 ulp on
    // some inputs. Rank stability is safe by measure: the smallest
    // relative gap between distinct scores within any document is ~1e-3
    // across all three SFs (verified offline), thirteen orders of
    // magnitude above ulp noise, and exact score ties break on term.
    "t12_tfidf" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val n = d.agg(count(lit(1)).as("n_docs"))
        val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
        tf.join(dfreq, "term").crossJoin(broadcast(n))
          .where(col("doc_id") < 25)
          .withColumn("score", col("tf").cast(DoubleType)
            * log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 3)
          .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
          .orderBy("doc_id", "rank")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id,
          |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
          |  FROM documents),
          |tfs AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
          |dfq AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |scored AS (
          |  SELECT t.doc_id, t.term, t.tf, d.df,
          |    CAST(t.tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) AS score
          |  FROM tfs t JOIN dfq d USING (term), n
          |  WHERE t.doc_id < 25)
          |SELECT doc_id, rank, term, tf, df FROM (
          |  SELECT doc_id, term, tf, df, score,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
          |         ORDER BY score DESC, term) AS INTEGER) AS rank
          |  FROM scored) r
          |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    // ---- RAG-style token chunking (overlapping windows) ----------------
    // 32-token chunks every 16 tokens: adjacent chunks share half their
    // tokens, the tail chunk may be short. chunk_idx replays as
    // (start-1)/stride in the oracle.
    "t13_chunking" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          posexplode(tokenChunks(col("text"), 32, 16)).as(Seq("chunk_idx", "chunk_text")))
        .withColumn("n_tokens", size(tokens(col("chunk_text"))))
        .orderBy("doc_id", "chunk_idx"),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |st AS (
          |  SELECT doc_id, w, unnest(generate_series(1, len(w), 16)) AS s
          |  FROM tok)
          |SELECT doc_id, CAST((s - 1) / 16 AS INTEGER) AS chunk_idx,
          |  array_to_string(w[s:s+31], ' ') AS chunk_text,
          |  CAST(len(w[s:s+31]) AS INTEGER) AS n_tokens
          |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- deterministic PII-style redaction -----------------------------
    // A synthetic contact suffix is appended in BOTH engines so the
    // redaction demonstrably fires on every row regardless of corpus
    // content; patterns sit in the Java-regex/RE2 common subset.
    "t14_redact" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          redact(concat(col("text"),
            lit(" contact: a.b+c@mail.example or 1234567"))).as("clean"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  regexp_replace(
          |    regexp_replace(text || ' contact: a.b+c@mail.example or 1234567',
          |      '[\w.+-]+@[\w-]+\.[\w.]+', '<email>', 'g'),
          |    '\d{3,}', '<num>', 'g') AS clean
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- repetition signals (Gopher-style quality rules) ---------------
    // Word-level repetition scoring as pure per-row HOF expressions: the
    // top-unigram / top-bigram fraction and the duplicated-token fraction
    // — zero shuffles, the oracle recomputes the same counts relationally.
    "t15_repetition" -> Q(
      (s, dir) => {
        // materialize each array's counters once (2 folds, not 3): the
        // unigram struct feeds both the top and the duplicated fraction
        def frac(cnt: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
          when(n > 0, cnt.cast(DoubleType) / n.cast(DoubleType)).otherwise(lit(0.0))
        docs(s, dir)
          // stage the token and shingle ARRAYS once: each alias below is
          // used twice (size + counts) and is non-cheap, so
          // CollapseProject keeps the projection boundary and neither
          // the split nor the shingle transform evaluates twice per row
          .select(col("doc_id"),
            tokens(col("text")).as("toks"),
            wordShingles(col("text"), 2).as("bis"))
          .select(col("doc_id"),
            size(col("toks")).as("n_uni"),
            repetitionCounts(col("toks")).as("uni"),
            size(col("bis")).as("n_bi"),
            repetitionCounts(col("bis")).as("bi"))
          .select(col("doc_id"),
            frac(col("uni.mx"), col("n_uni")).as("top_unigram_frac"),
            frac(col("bi.mx"), col("n_bi")).as("top_bigram_frac"),
            frac(col("uni.dup"), col("n_uni")).as("dup_token_frac"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |ucnt AS (
          |  SELECT doc_id, t, count(*) AS c
          |  FROM (SELECT doc_id, unnest(w) AS t FROM tok) u GROUP BY doc_id, t),
          |ustat AS (
          |  SELECT doc_id, max(c) AS mx, sum(c) AS n,
          |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
          |  FROM ucnt GROUP BY doc_id),
          |bcnt AS (
          |  SELECT doc_id, b, count(*) AS c
          |  FROM (SELECT doc_id,
          |          unnest([w[i] || ' ' || w[i+1]
          |                  for i in generate_series(1, len(w)-1)]) AS b
          |        FROM tok) bb GROUP BY doc_id, b),
          |bstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS n FROM bcnt GROUP BY doc_id)
          |SELECT u.doc_id,
          |  CAST(u.mx AS DOUBLE) / u.n AS top_unigram_frac,
          |  COALESCE(CAST(b.mx AS DOUBLE) / b.n, 0.0) AS top_bigram_frac,
          |  CAST(u.dup AS DOUBLE) / u.n AS dup_token_frac
          |FROM ustat u LEFT JOIN bstat b USING (doc_id)
          |ORDER BY u.doc_id""".stripMargin),
      headline = true),

    // ---- corpus-relative rare-token scoring (vocabulary filtering) -----
    // Two-stage: build the corpus vocabulary with occurrence counts, mark
    // tokens under 0.5% of total volume as rare (the relative integer
    // comparison c*200 < total is exact and scale-invariant), then score
    // each doc by its rare-token occupancy. The rare set is tiny by
    // construction (Zipf tail) and broadcasts back.
    "t16_rare_tokens" -> Q(
      (s, dir) => {
        val occ = docs(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        val vocab = occ.groupBy("w").agg(count(lit(1)).as("c"))
        val rare = vocab
          .crossJoin(broadcast(vocab.agg(sum(col("c")).as("total"))))
          .where(col("c") * 200 < col("total"))
          .select("w")
        val nRare = occ.join(broadcast(rare), Seq("w"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_rare"))
        docs(s, dir)
          .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
          .join(nRare, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_rare"), lit(0L)).as("n_rare"))
          .withColumn("rare_frac",
            col("n_rare").cast("double") / col("n_tokens").cast("double"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |occ AS (SELECT doc_id, unnest(w) AS t FROM tok),
          |vocab AS (SELECT t, count(*) AS c FROM occ GROUP BY t),
          |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM vocab),
          |rare AS (SELECT t FROM vocab, tot WHERE c * 200 < total),
          |nr AS (
          |  SELECT doc_id, count(*) AS n_rare
          |  FROM occ JOIN rare USING (t) GROUP BY doc_id)
          |SELECT k.doc_id, CAST(len(k.w) AS BIGINT) AS n_tokens,
          |  CAST(COALESCE(nr.n_rare, 0) AS BIGINT) AS n_rare,
          |  CAST(COALESCE(nr.n_rare, 0) AS DOUBLE) / CAST(len(k.w) AS DOUBLE)
          |    AS rare_frac
          |FROM tok k LEFT JOIN nr USING (doc_id)
          |ORDER BY k.doc_id""".stripMargin)),

    // ---- count-min sketch (heavy-hitter frequency estimation) ----------
    // One fixed-size depth×width sketch over the whole token stream, as
    // a grouped count of (row, bucket) cells (map-side partial, at most
    // depth·width rows per task on the shuffle), then point estimates
    // for 5 probe words: the min over rows of the cell each word hashes
    // to. Width 16 << vocab 31 forces real collisions; the md5 hash
    // family is portable, so the oracle rebuilds every bucket's
    // collision mass and the min estimate exactly — not just a bound
    // check.
    "t17_countmin" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.operators.Sketches.{countMinEstimate, countMinSketch}
        val depth = 4; val width = 16
        val occ = docs(s, dir).select(explode(tokens(col("text"))).as("w"))
        val sketch = countMinSketch(occ, "w", depth, width)
        val probes = Seq("dup", "key", "spark", "table", "the").toDF("w")
        val exact = occ.groupBy("w").agg(count(lit(1)).as("exact"))
        val est = countMinEstimate(probes, "w", sketch, depth, width)
        probes.join(exact, Seq("w")).join(est, Seq("w"))
          .select(col("w"), col("exact"), col("est"),
            (col("est") >= col("exact")).as("sound"))
          .orderBy("w")
      },
      Some(
        """WITH occ AS (
          |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
          |  FROM documents),
          |vocab AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY t),
          |b AS (
          |  SELECT t, c, d,
          |    CAST(list_sum([(strpos('0123456789abcdef',
          |         substr(md5(d::VARCHAR || ':' || t), i, 1)) - 1)
          |         * CAST(pow(16, 7 - i) AS BIGINT)
          |         for i in generate_series(1, 7)]) AS BIGINT) % 16 AS bkt
          |  FROM vocab, generate_series(0, 3) AS g(d)),
          |probes AS (SELECT unnest(['dup','key','spark','table','the']) AS w),
          |pb AS (SELECT probes.w, b.d, b.bkt FROM probes JOIN b ON b.t = probes.w),
          |coll AS (
          |  SELECT pb.w, pb.d, CAST(sum(b2.c) AS BIGINT) AS est_d
          |  FROM pb JOIN b b2 ON b2.d = pb.d AND b2.bkt = pb.bkt
          |  GROUP BY pb.w, pb.d),
          |f AS (SELECT w, CAST(min(est_d) AS BIGINT) AS est FROM coll GROUP BY w)
          |SELECT f.w, v.c AS exact, f.est, f.est >= v.c AS sound
          |FROM f JOIN vocab v ON v.t = f.w ORDER BY f.w""".stripMargin)),

    // ---- vocabulary token-id encoding (text -> id arrays) --------------
    // The encode step before packing: vocab ids by frequency rank (ties
    // by token), each doc mapped to its id sequence; per-doc order is
    // restored from explode positions, not collect order.
    //
    // The global rank is TWO-PHASE so no unpartitioned window ever runs:
    // a 100 TB corpus has a vocab in the hundreds of millions, and a
    // single-partition WindowExec over it would be a serial point. Phase
    // 1 range-partitions the vocab aggregate on the rank order and ranks
    // WITHIN each partition; phase 2 adds per-partition row-count offsets
    // (a driver-side prefix sum over <= numPartitions rows — bounded by
    // construction, the same size class as a broadcast threshold). The
    // ranked vocab is localCheckpoint-ed so the offsets collect and the
    // final join read ONE materialized evaluation — pids cannot drift
    // between two jobs, by construction rather than by a determinism
    // claim about range-sampling (a cluster deployment would use a
    // durable checkpoint dir, as Dedup.truncate documents). The
    // materialization is narrow (token, count, pid, rank).
    "t18_encode" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val occ = docs(s, dir)
          .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
        val vocab = occ.groupBy("w").agg(count(lit(1)).as("c"))
        val byRank = vocab.repartitionByRange(desc("c"), asc("w"))
          .withColumn("pid", spark_partition_id())
        val pw = Window.partitionBy("pid").orderBy(desc("c"), asc("w"))
        val ranked = byRank
          .withColumn("r", row_number().over(pw).cast("long"))
          .localCheckpoint(eager = true)
        var acc = 0L
        val offsets = ranked.groupBy("pid").agg(count(lit(1)).as("n"))
          .orderBy("pid").collect()
          .map { row => val o = (row.getInt(0), acc); acc += row.getLong(1); o }
        val offDf = s.createDataFrame(offsets.toSeq).toDF("pid", "off")
        val ids = ranked.join(broadcast(offDf), "pid")
          .select(col("w"), (col("off") + col("r") - 1).as("tok_id"))
        // id sequence dumps as a comma-joined string (LIST cells are
        // unhashable in the driver's pandas row sort); order restored
        // from explode positions, exactly as before
        occ.join(broadcast(ids), Seq("w"))
          .groupBy("doc_id")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok_id")))),
            x => x.getField("tok_id").cast("string")), ",").as("token_ids"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |occ AS (
          |  SELECT doc_id, unnest(generate_series(1, len(w))) AS pos,
          |    unnest(w) AS t
          |  FROM tok),
          |vocab AS (SELECT t, count(*) AS c FROM occ GROUP BY t),
          |ids AS (
          |  SELECT t, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) AS BIGINT) - 1
          |    AS tok_id
          |  FROM vocab),
          |enc AS (
          |  SELECT occ.doc_id, occ.pos, ids.tok_id
          |  FROM occ JOIN ids ON ids.t = occ.t)
          |SELECT doc_id, array_to_string(list(tok_id ORDER BY pos), ',')
          |  AS token_ids
          |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- n-gram novelty scoring (diversity-based selection signal) -----
    // Per doc: the fraction of its distinct word 5-grams that occur in NO
    // other document (corpus df == 1) — the inverse of the boilerplate
    // signal d12 scrubs. One shingle explode + df count + doc rollup;
    // docs too short for a 5-gram report 0 shingles and novelty 0.
    "t19_novelty" -> Q(
      (s, dir) => {
        val sh = docs(s, dir)
          .select(col("doc_id"), explode(shingleSet(col("text"), 5)).as("s"))
        val df5 = sh.groupBy("s").agg(count(lit(1)).as("df"))
        val per = sh.join(df5, Seq("s"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
        docs(s, dir).select(col("doc_id"))
          .join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .withColumn("novelty",
            when(col("n_shingles") > 0,
              col("n_novel").cast("double") / col("n_shingles").cast("double"))
              .otherwise(lit(0.0)))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |sh AS (
          |  SELECT DISTINCT doc_id,
          |    unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
          |              || ' ' || w[i+4]
          |            for i in generate_series(1, len(w)-4)]) AS s
          |  FROM tok),
          |df5 AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
          |per AS (
          |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
          |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
          |  FROM sh JOIN df5 USING (s) GROUP BY sh.doc_id)
          |SELECT d.doc_id,
          |  COALESCE(per.n_shingles, 0) AS n_shingles,
          |  COALESCE(per.n_novel, 0) AS n_novel,
          |  CASE WHEN COALESCE(per.n_shingles, 0) > 0
          |       THEN CAST(per.n_novel AS DOUBLE) / CAST(per.n_shingles AS DOUBLE)
          |       ELSE 0.0 END AS novelty
          |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin)),

    // ---- typed top-k aggregate: 3 best-quality docs per language -------
    // TopKAggregator keeps a k-bounded buffer per group map-side; the
    // oracle is the window formulation of the same answer.
    "t6_topk_quality" -> Q(
      (s, dir) => {
        val scored = docs(s, dir).select(
          col("lang"), qualityScore(col("text")).as("score"), col("doc_id"))
        val topk = TopKAggregator.topK(3)
        scored.groupBy("lang").agg(topk(col("score"), col("doc_id")).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("rank"),
            col("s.id").as("doc_id"))
          .orderBy("lang", "rank")
      },
      Some(
        """SELECT lang, rank, doc_id FROM (
          |  SELECT lang, doc_id,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
          |         ORDER BY q DESC, doc_id) AS INTEGER) AS rank
          |  FROM (
          |    SELECT doc_id, lang,
          |        least(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5
          |      + CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
          |        / len(string_split_regex(lower(trim(text)), '\s+')) * 0.3
          |      + (1.0 - CAST(len(regexp_extract_all(text, '[^\s\p{L}\p{N}]')) AS DOUBLE)
          |        / length(text)) * 0.2 AS q
          |    FROM documents) t) r
          |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin)),

    // ---- token-length distribution profiling ---------------------------
    // Corpus profiling (the histogram a curation run inspects before
    // choosing packing budgets): per-language fixed-width token-length
    // buckets, top-capped. Bucketing is pure integer arithmetic
    // (n DIV 20, capped at 9) — portable to any engine with no reliance
    // on a width_bucket builtin — and the whole query is one partial+
    // final aggregation over (lang, bucket): map-side combine does the
    // heavy lifting, output is |langs|×10 rows regardless of corpus
    // size.
    "t20_length_histogram" -> Q(
      (s, dir) => docs(s, dir)
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("n"))
        .select(col("lang"),
          least(expr("n DIV 20"), lit(9L)).cast("int").as("bucket"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("bucket_lo", (col("bucket") * 20).cast("long"))
        .select("lang", "bucket", "bucket_lo", "n_docs")
        .orderBy("lang", "bucket"),
      Some(
        """SELECT lang,
          |  CAST(least(len(string_split_regex(lower(trim(text)), '\s+')) // 20,
          |             9) AS INTEGER) AS bucket,
          |  CAST(least(len(string_split_regex(lower(trim(text)), '\s+')) // 20,
          |             9) * 20 AS BIGINT) AS bucket_lo,
          |  COUNT(*) AS n_docs
          |FROM documents
          |GROUP BY 1, 2, 3 ORDER BY lang, bucket""".stripMargin)),

    // ---- corpus-trained bigram-LM scoring ------------------------------
    // The perplexity-proxy quality signal of a CCNet-style curation: the
    // per-doc average bigram log-likelihood under the corpus's own
    // add-one-smoothed bigram model. Three corpus aggregates (bigram
    // counts, bigram-start counts, vocabulary size) joined back to the
    // occurrence stream — all hash equi-joins on n-gram keys, nothing
    // driver-side except the 1-row V scalar.
    "t21_lm_score" -> Q(
      (s, dir) => lmScored(s, dir)
        .select("doc_id", "n_bigrams", "avg_ll")
        .orderBy("doc_id"),
      Some(lmOracleCtes +
        """
          |SELECT doc_id, n_bigrams, avg_ll FROM sc2
          |ORDER BY doc_id""".stripMargin)),

    // ---- CCNet-style head/middle/tail quality terciles -----------------
    // Per-language tercile assignment over the t21 LM score WITHOUT a
    // per-language global sort (which would serialize on the dominant
    // language at corpus scale): build the per-(lang, score) histogram,
    // take the strictly-better cumulative count over that BOUNDED
    // histogram (window input is |distinct scores|, not |docs|), join it
    // back, and cut at n/3, 2n/3 in integer arithmetic. Ties share a
    // tier by construction — the assignment is a pure function of the
    // score value, so it is stable under any row order.
    "t22_quality_buckets" -> Q(
      (s, dir) => {
        val sc = lmScored(s, dir)
        val hist = sc.groupBy("lang", "avg_ll").agg(count(lit(1)).as("nb"))
        val wcum = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(desc("avg_ll"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val cum = hist.withColumn("better",
          coalesce(sum(col("nb")).over(wcum), lit(0L)))
        val tot = sc.groupBy("lang").agg(count(lit(1)).as("n"))
        sc.join(cum.select("lang", "avg_ll", "better"), Seq("lang", "avg_ll"))
          .join(tot, Seq("lang"))
          .select(col("doc_id"), col("lang"), col("avg_ll"),
            when(col("better") * 3 < col("n"), "head")
              .when(col("better") * 3 < col("n") * 2, "middle")
              .otherwise("tail").as("tier"))
          .orderBy("doc_id")
      },
      Some(lmOracleCtes +
        """,
          |hist AS (SELECT lang, avg_ll, count(*) AS nb2 FROM sc2 GROUP BY 1, 2),
          |cum AS (
          |  SELECT lang, avg_ll,
          |    COALESCE(sum(nb2) OVER (PARTITION BY lang ORDER BY avg_ll DESC
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS better
          |  FROM hist),
          |tot AS (SELECT lang, count(*) AS n FROM sc2 GROUP BY 1)
          |SELECT s.doc_id, s.lang, s.avg_ll,
          |  CASE WHEN c.better * 3 < t.n THEN 'head'
          |       WHEN c.better * 3 < t.n * 2 THEN 'middle'
          |       ELSE 'tail' END AS tier
          |FROM sc2 s JOIN cum c USING (lang, avg_ll) JOIN tot t USING (lang)
          |ORDER BY s.doc_id""".stripMargin)),

    // ---- composite Gopher-style quality-filter verdict -----------------
    // The actual FILTER pass a curation run executes: the published rule
    // shapes (word-count window, mean word length, alphabetic-word
    // ratio, top-bigram repetition) evaluated per row with the failed
    // rules named in a deterministic reasons string. All measures are
    // integer-ratio doubles (exact in both engines, no rounding needed);
    // only the bigram stat shuffles — the oracle replays it relationally
    // (t15's playbook), everything else is a pure per-row map.
    "t23_gopher_rules" -> Q(
      (s, dir) => {
        val tk = tokens(col("text"))
        val scored = docs(s, dir).select(col("doc_id"),
          size(tk).cast("long").as("n_words"),
          aggregate(tk, lit(0), (a, x) => a + length(x))
            .cast("double").as("sum_wl"),
          size(filter(tk, _.rlike("[a-z]"))).cast("double").as("n_alpha"),
          topFreqFrac(wordShingles(col("text"), 2)).as("top_bi_frac"))
          .select(col("doc_id"), col("n_words"),
            (col("sum_wl") / col("n_words")).as("mean_wl"),
            (col("n_alpha") / col("n_words")).as("alpha_frac"),
            col("top_bi_frac"))
        val rWc = col("n_words") >= 50 && col("n_words") <= 100000
        val rMwl = col("mean_wl") >= 3.0 && col("mean_wl") <= 10.0
        val rAlpha = col("alpha_frac") >= 0.8
        val rRep = col("top_bi_frac") <= 0.18
        scored.select(col("doc_id"), col("n_words"), col("mean_wl"),
          col("alpha_frac"), col("top_bi_frac"),
          (rWc && rMwl && rAlpha && rRep).as("pass"),
          concat_ws(",",
            when(!rWc, lit("word_count")),
            when(!rMwl, lit("mean_word_length")),
            when(!rAlpha, lit("alpha_ratio")),
            when(!rRep, lit("repetition"))).as("reasons"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |base AS (
          |  SELECT doc_id, len(w) AS n,
          |    list_sum([length(x) for x in w]) AS sl,
          |    len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS na
          |  FROM tok),
          |bcnt AS (
          |  SELECT doc_id, b, count(*) AS c
          |  FROM (SELECT doc_id,
          |          unnest([w[i] || ' ' || w[i+1]
          |                  for i in generate_series(1, len(w)-1)]) AS b
          |        FROM tok) bb GROUP BY doc_id, b),
          |bstat AS (SELECT doc_id, max(c) AS mx, sum(c) AS nb
          |          FROM bcnt GROUP BY doc_id),
          |m AS (
          |  SELECT b.doc_id,
          |    CAST(b.n AS BIGINT) AS n_words,
          |    CAST(b.sl AS DOUBLE) / b.n AS mean_wl,
          |    CAST(b.na AS DOUBLE) / b.n AS alpha_frac,
          |    COALESCE(CAST(s.mx AS DOUBLE) / s.nb, 0.0) AS top_bi_frac
          |  FROM base b LEFT JOIN bstat s USING (doc_id))
          |SELECT doc_id, n_words, mean_wl, alpha_frac, top_bi_frac,
          |  (n_words >= 50 AND n_words <= 100000
          |   AND mean_wl >= 3.0 AND mean_wl <= 10.0
          |   AND alpha_frac >= 0.8 AND top_bi_frac <= 0.18) AS pass,
          |  concat_ws(',',
          |    CASE WHEN NOT (n_words >= 50 AND n_words <= 100000)
          |         THEN 'word_count' END,
          |    CASE WHEN NOT (mean_wl >= 3.0 AND mean_wl <= 10.0)
          |         THEN 'mean_word_length' END,
          |    CASE WHEN NOT (alpha_frac >= 0.8) THEN 'alpha_ratio' END,
          |    CASE WHEN NOT (top_bi_frac <= 0.18) THEN 'repetition' END)
          |    AS reasons
          |FROM m ORDER BY doc_id""".stripMargin)),

    // ---- PMI collocation mining ----------------------------------------
    // Pointwise mutual information over adjacent word pairs — the
    // classic collocation detector ("how much more often do these two
    // words co-occur than chance predicts"), the corpus-statistics
    // sibling of t7's raw bigram counts. Convention: pair probability
    // from the bigram table (cxy/N_b), marginals from the unigram table
    // (cx/N_u) — stated explicitly because PMI variants differ on the
    // margins. Scale shape: two distributed groupBys; the two 1-row
    // totals broadcast (allowlisted, the t12 pattern); the unigram-count
    // joins key on a vocabulary-sized table. minCount=5 keeps the
    // low-support pairs whose PMI is noise out of the output.
    "t24_pmi_collocations" -> Q(
      (s, dir) => {
        val tok = docs(s, dir).select(tokens(col("text")).as("w"))
        val uni = tok.select(explode(col("w")).as("t"))
        val uc = uni.groupBy("t").agg(count(lit(1)).as("cx"))
        val nu = uni.agg(count(lit(1)).cast("double").as("nu"))
        val bi = docs(s, dir)
          .select(explode(wordShingles(col("text"), 2)).as("bg"))
          .select(substring_index(col("bg"), " ", 1).as("w1"),
            substring_index(col("bg"), " ", -1).as("w2"))
        val bc = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
        val nb = bc.agg(sum(col("cxy")).cast("double").as("nb"))
        bc.where(col("cxy") >= 5)
          .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
          .join(uc.withColumnRenamed("t", "w1")
            .withColumnRenamed("cx", "c1"), Seq("w1"))
          .join(uc.withColumnRenamed("t", "w2")
            .withColumnRenamed("cx", "c2"), Seq("w2"))
          .select(col("w1"), col("w2"), col("cxy").as("n_pair"),
            (round(log(col("cxy") / col("nb"))
              - log(col("c1") / col("nu"))
              - log(col("c2") / col("nu")), 4) + 0.0).as("pmi"))
          .orderBy("w1", "w2")
      },
      Some(
        """WITH tok AS (
          |  SELECT string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |uni AS (SELECT unnest(w) AS t FROM tok),
          |uc AS (SELECT t, count(*) AS cx FROM uni GROUP BY t),
          |un AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM uni),
          |bg AS (
          |  SELECT unnest([w[i] || ' ' || w[i+1]
          |                 for i in generate_series(1, len(w)-1)]) AS b
          |  FROM tok),
          |bc AS (SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
          |         count(*) AS cxy
          |       FROM bg GROUP BY 1, 2),
          |bn AS (SELECT CAST(sum(cxy) AS DOUBLE) AS nb FROM bc)
          |SELECT bc.w1, bc.w2, CAST(bc.cxy AS BIGINT) AS n_pair,
          |  round(ln(bc.cxy / bn.nb) - ln(u1.cx / un.nu)
          |        - ln(u2.cx / un.nu), 4) + 0.0 AS pmi
          |FROM bc, bn, un
          |JOIN uc u1 ON u1.t = bc.w1
          |JOIN uc u2 ON u2.t = bc.w2
          |WHERE bc.cxy >= 5
          |ORDER BY bc.w1, bc.w2""".stripMargin)),

    // ---- held-out bigram-LM scoring (train/eval discipline) ------------
    // Unlike t21 (corpus scored under its own model), the model here is
    // fit on the TRAIN split only (even ids) and scores the UNSEEN eval
    // split (odd ids) — the honest perplexity measurement, which is also
    // what exercises the out-of-vocabulary path: an eval bigram absent
    // from train takes the add-one floor 1/(c1+V) (and c1 itself falls
    // to 0 for an unseen start token). n_unseen reports the OOV rate.
    // Same plan shape as t21 with the count joins turned LEFT.
    "t26_lm_heldout" -> Q(
      (s, dir) => {
        val d = docs(s, dir)
        val train = d.where(col("doc_id") % 2 === 0)
        val eval_ = d.where(col("doc_id") % 2 === 1)
        val trainBg = train.select(explode(wordShingles(col("text"), 2)).as("bg"))
        val bgc = trainBg.groupBy("bg").agg(count(lit(1)).as("c2"))
        val w1c = trainBg.select(substring_index(col("bg"), " ", 1).as("w1"))
          .groupBy("w1").agg(count(lit(1)).as("c1"))
        val vocab = train.select(explode(tokens(col("text"))).as("w"))
          .agg(countDistinct(col("w")).as("v"))
        val scored = eval_
          .select(col("doc_id"), explode(wordShingles(col("text"), 2)).as("bg"))
          .join(bgc, Seq("bg"), "left")
          .withColumn("w1", substring_index(col("bg"), " ", 1))
          .join(w1c, Seq("w1"), "left")
          .crossJoin(broadcast(vocab))
          .select(col("doc_id"),
            coalesce(col("c2"), lit(0L)).as("c2"),
            coalesce(col("c1"), lit(0L)).as("c1"), col("v"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            sum(when(col("c2") === 0, 1L).otherwise(0L)).as("n_unseen"),
            sum(log((col("c2") + 1).cast(DoubleType)
              / (col("c1") + col("v")).cast(DoubleType))).as("ll"))
        eval_.select(col("doc_id"))
          .join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
            coalesce(round(col("ll") / col("n_bigrams"), 4), lit(0.0)).as("avg_ll"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |bg AS (
          |  SELECT doc_id,
          |    unnest([w[i] || ' ' || w[i+1] for i in generate_series(1, len(w)-1)]) AS bg
          |  FROM tok),
          |bgc AS (SELECT bg, count(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY bg),
          |w1c AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1
          |        FROM bg WHERE doc_id % 2 = 0 GROUP BY 1),
          |voc AS (SELECT count(DISTINCT tk) AS v
          |        FROM (SELECT unnest(w) AS tk FROM tok WHERE doc_id % 2 = 0)),
          |sc AS (
          |  SELECT e.doc_id, count(*) AS nb,
          |    sum(CASE WHEN COALESCE(bc.c2, 0) = 0 THEN 1 ELSE 0 END) AS nu,
          |    sum(ln(CAST(COALESCE(bc.c2, 0) + 1 AS DOUBLE)
          |           / CAST(COALESCE(wc.c1, 0) + v AS DOUBLE))) AS ll
          |  FROM (SELECT doc_id, bg FROM bg WHERE doc_id % 2 = 1) e
          |  LEFT JOIN bgc bc USING (bg)
          |  LEFT JOIN w1c wc ON wc.w1 = split_part(e.bg, ' ', 1), voc
          |  GROUP BY e.doc_id)
          |SELECT d.doc_id,
          |  CAST(COALESCE(sc.nb, 0) AS BIGINT) AS n_bigrams,
          |  CAST(COALESCE(sc.nu, 0) AS BIGINT) AS n_unseen,
          |  COALESCE(round(sc.ll / sc.nb, 4), 0.0) AS avg_ll
          |FROM documents d LEFT JOIN sc USING (doc_id)
          |WHERE d.doc_id % 2 = 1
          |ORDER BY d.doc_id""".stripMargin)),

    // ---- BM25 ranking (the production tf-idf) --------------------------
    // Okapi BM25 over a 3-term query: idf(t)·tf·(k1+1)/(tf + k1·(1-b+
    // b·len/avglen)), k1=1.2, b=0.75. Cross-engine rank stability is BY
    // CONSTRUCTION, not by measure: the output order sorts on the
    // 4-decimal ROUNDED score (identical doubles in both engines — raw
    // ln/avg noise is ~1e-13, nine orders below the step) with doc_id
    // breaking exact rounded ties. Corpus stats (N, avg length) are one
    // 1-row broadcast; term stats are bounded by the query vocabulary.
    "t27_bm25" -> Q(
      (s, dir) => {
        val qTerms = Seq("data", "scan", "hash")
        val d = docs(s, dir)
        val lens = d.select(col("doc_id"),
          size(tokens(col("text"))).cast(DoubleType).as("dl"))
        val stats = lens.agg(avg(col("dl")).as("avgdl"),
          count(lit(1)).cast(DoubleType).as("n"))
        val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
          .where(col("term").isin(qTerms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).cast(DoubleType).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).cast(DoubleType).as("df"))
        val idf = log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
        val norm = col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))
        val scored = tf.join(dfreq, "term").join(lens, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("s", idf * col("tf") * lit(2.2) / norm)
          .groupBy("doc_id").agg(round(sum(col("s")), 4).as("bm25"))
        scored.orderBy(desc("bm25"), asc("doc_id")).limit(20)
          .select(col("doc_id"), col("bm25"))
      },
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
          |  FROM documents),
          |lens AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM tok),
          |st AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n FROM lens),
          |tf AS (
          |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
          |  FROM (SELECT doc_id, unnest(w) AS term FROM tok) t
          |  WHERE term IN ('data', 'scan', 'hash')
          |  GROUP BY doc_id, term),
          |dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
          |sc AS (
          |  SELECT tf.doc_id,
          |    round(sum(ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf.tf * 2.2
          |              / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / avgdl))), 4) AS bm25
          |  FROM tf JOIN dfq USING (term) JOIN lens l USING (doc_id), st
          |  GROUP BY tf.doc_id)
          |SELECT doc_id, bm25 FROM sc
          |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // ---- exact-size deterministic per-stratum sample -------------------
    // t9's fraction sampler cannot hit an exact size; this draws EXACTLY
    // k docs per language as the k smallest portable md5 hashes — a
    // uniform draw that any engine reproduces, computed with the
    // map-side k-bounded TopKAggregator (t6's machinery) instead of a
    // per-language sort: each partition holds at most k candidates per
    // language, so the dominant language never serializes a full-
    // partition window sort. 13 hex digits = 52 bits keeps the hash
    // exact in the aggregator's double score.
    "t25_fixed_k_sample" -> Q(
      (s, dir) => {
        val h52 = conv(substring(md5(concat(lit("5:"),
          col("doc_id").cast("string"))), 1, 13), 16, 10).cast(LongType)
        val topk = TopKAggregator.topK(20)
        docs(s, dir)
          .select(col("lang"), (-h52).cast(DoubleType).as("nh"), col("doc_id"))
          .groupBy("lang").agg(topk(col("nh"), col("doc_id")).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("smp_rank"),
            col("s.id").as("doc_id"))
          .orderBy("lang", "smp_rank")
      },
      Some(
        """WITH h AS (
          |  SELECT doc_id, lang,
          |    CAST(list_sum([(strpos('0123456789abcdef',
          |                    substr(md5('5:' || doc_id::VARCHAR), i, 1)) - 1)
          |                   * CAST(pow(16, 13 - i) AS BIGINT)
          |                   for i in generate_series(1, 13)]) AS BIGINT) AS hv
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, lang,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
          |         ORDER BY hv, doc_id) AS INTEGER) AS smp_rank
          |  FROM h)
          |SELECT lang, smp_rank, doc_id FROM r WHERE smp_rank <= 20
          |ORDER BY lang, smp_rank""".stripMargin)),

    // ---- content-defined chunking (CDC) --------------------------------
    // Variable-boundary chunking for insert-resilient dedup (the FastCDC
    // idea in token space): a cut falls AFTER any token whose portable
    // 28-bit hash ≡ 0 mod 8 (avg chunk ~8 tokens; the divisor is sized
    // to the fixture's 31-word synthetic vocabulary — real corpora use
    // 2^11..2^13 for KB-scale chunks) — boundaries depend only on
    // content, so an insertion re-chunks one chunk, not the
    // whole document (d13's fixed windows shift everywhere). One
    // doc-partitioned running-sum window assigns chunk ids; chunk
    // fingerprints come from the position-sorted token join. Linear in
    // token volume.
    "t29_cdc_chunks" -> Q(
      (s, dir) => graft.operators.Dedup.cdcChunks(
          docs(s, dir), "doc_id", "text", divisor = 8)
        .orderBy("doc_id", "chunk_id"),
      Some(
        """WITH tok AS (
          |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
          |  FROM documents),
          |t2 AS (
          |  SELECT doc_id,
          |    unnest(generate_series(1, len(ws))) - 1 AS pos,
          |    unnest(ws) AS t
          |  FROM tok),
          |f AS (
          |  SELECT doc_id, pos, t,
          |    CASE WHEN CAST(list_sum([(strpos('0123456789abcdef',
          |                     substr(md5(t), i, 1)) - 1)
          |                   * CAST(pow(16, 7 - i) AS BIGINT)
          |                   for i in generate_series(1, 7)]) AS BIGINT) % 8 = 0
          |         THEN 1 ELSE 0 END AS cut
          |  FROM t2),
          |c AS (
          |  SELECT doc_id, pos, t,
          |    COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
          |  FROM f)
          |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
          |  count(*) AS n_tokens, min(pos) AS start_pos,
          |  md5(string_agg(t, ' ' ORDER BY pos)) AS chunk_fp
          |FROM c GROUP BY doc_id, chunk_id
          |ORDER BY doc_id, chunk_id""".stripMargin)),

    // ---- weighted sample via priority sampling -------------------------
    // Deterministic weight-proportional sampling (Duffield et al.
    // priority sampling): priority = uniform 52-bit hash / weight; the k
    // SMALLEST priorities per language win, so heavier docs (weight =
    // n_chars) win proportionally more often, reproducibly. The 52-bit
    // hash is double-exact and one IEEE division is correctly rounded,
    // so both engines rank on BIT-IDENTICAL doubles — no rounding step
    // needed. Same map-side k-bounded aggregator as t25 (no per-language
    // window sort).
    "t30_weighted_sample" -> Q(
      (s, dir) => {
        val h52 = conv(substring(md5(concat(lit("w:"),
          col("doc_id").cast("string"))), 1, 13), 16, 10).cast(LongType)
        val topk = TopKAggregator.topK(10)
        docs(s, dir)
          .select(col("lang"), col("doc_id"),
            (h52.cast(DoubleType) / col("n_chars").cast(DoubleType)).as("pri"))
          .groupBy("lang").agg(topk(-col("pri"), col("doc_id")).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("pos", "s")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("smp_rank"),
            col("s.id").as("doc_id"), (-col("s.score")).as("priority"))
          .orderBy("lang", "smp_rank")
      },
      Some(
        """WITH h AS (
          |  SELECT doc_id, lang, n_chars,
          |    CAST(list_sum([(strpos('0123456789abcdef',
          |                    substr(md5('w:' || doc_id::VARCHAR), i, 1)) - 1)
          |                   * CAST(pow(16, 13 - i) AS BIGINT)
          |                   for i in generate_series(1, 13)]) AS BIGINT) AS hv
          |  FROM documents),
          |p AS (SELECT doc_id, lang,
          |        CAST(hv AS DOUBLE) / n_chars AS priority FROM h),
          |r AS (
          |  SELECT doc_id, lang, priority,
          |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
          |         ORDER BY priority, doc_id) AS INTEGER) AS smp_rank
          |  FROM p)
          |SELECT lang, smp_rank, doc_id, priority FROM r WHERE smp_rank <= 10
          |ORDER BY lang, smp_rank""".stripMargin)),

    // ---- per-source language-mixture entropy ---------------------------
    // Corpus composition diagnostic (t28's doc-level entropy lifted to
    // the source level): H = ln n − Σ c·ln c / n over each source's
    // language counts — 0 for monolingual sources, ln(k) for a uniform
    // k-language mix. Two bounded aggregates (sources × langs, then
    // sources); identical formula in the oracle, 4-decimal round,
    // -0.0 canonicalized (monolingual sources land exactly on zero).
    "t33_source_mix" -> Q(
      (s, dir) => {
        val lc = Lake(s, dir).documents
          .groupBy("source", "lang").agg(count(lit(1)).as("c"))
        lc.groupBy("source")
          .agg(sum("c").as("n_docs"),
            count(lit(1)).as("n_langs"),
            (round(log(sum(col("c")).cast(DoubleType)) -
              sum(col("c") * log(col("c"))) / sum(col("c")), 4) + lit(0.0))
              .as("lang_entropy"))
          .orderBy("source")
      },
      Some(
        """WITH lc AS (
          |  SELECT source, lang, count(*) AS c
          |  FROM documents GROUP BY 1, 2)
          |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
          |  count(*) AS n_langs,
          |  round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(c)) / sum(c), 4) + 0.0
          |    AS lang_entropy
          |FROM lc GROUP BY source ORDER BY source""".stripMargin)),

    // ---- classifier evaluation: per-class precision/recall/F1 ----------
    // The eval primitive every pipeline signal needs: langid predictions
    // scored against the tagged lang column — per-class true/predicted/
    // true-positive counts and the derived metrics, over the union of
    // truth and predicted classes (so a class that is only ever
    // predicted, like 'unk', still gets its zero-recall row). All
    // integer-count divisions (engine-exact); F1 derives from the
    // UNROUNDED p/r in both engines, rounded only at output.
    "t32_eval_metrics" -> Q(
      (s, dir) => {
        val preds = docs(s, dir)
          .select(col("lang").as("truth"), langId(col("text")).as("pred"))
        val classes = preds.select(col("truth").as("cls"))
          .union(preds.select(col("pred").as("cls"))).distinct()
        val bt = preds.groupBy(col("truth").as("cls")).agg(count(lit(1)).as("n_true"))
        val bp = preds.groupBy(col("pred").as("cls")).agg(count(lit(1)).as("n_pred"))
        val tpx = preds.where(col("truth") === col("pred"))
          .groupBy(col("truth").as("cls")).agg(count(lit(1)).as("tp"))
        val j = classes
          .join(bt, Seq("cls"), "left").join(bp, Seq("cls"), "left")
          .join(tpx, Seq("cls"), "left")
          .select(col("cls"),
            coalesce(col("n_true"), lit(0L)).as("n_true"),
            coalesce(col("n_pred"), lit(0L)).as("n_pred"),
            coalesce(col("tp"), lit(0L)).as("tp"))
        val p = when(col("n_pred") > 0,
          col("tp").cast(DoubleType) / col("n_pred")).otherwise(lit(0.0))
        val r = when(col("n_true") > 0,
          col("tp").cast(DoubleType) / col("n_true")).otherwise(lit(0.0))
        j.withColumn("__p", p).withColumn("__r", r)
          .select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
            (round(col("__p"), 4) + lit(0.0)).as("prec"),
            (round(col("__r"), 4) + lit(0.0)).as("rec"),
            (round(when(col("__p") + col("__r") > 0,
              lit(2) * col("__p") * col("__r") / (col("__p") + col("__r")))
              .otherwise(lit(0.0)), 4) + lit(0.0)).as("f1"))
          .orderBy("cls")
      },
      Some(
        """WITH preds AS (
          |  SELECT lang AS truth,
          |    CASE WHEN en = 0 AND es = 0 AND de = 0 THEN 'unk'
          |         WHEN en >= es AND en >= de THEN 'en'
          |         WHEN es >= de THEN 'es'
          |         ELSE 'de' END AS pred
          |  FROM (
          |    SELECT lang,
          |      len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) AS en,
          |      len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los)\b')) AS es,
          |      len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|von)\b')) AS de
          |    FROM documents) t),
          |classes AS (SELECT truth AS cls FROM preds
          |            UNION SELECT pred FROM preds),
          |bt AS (SELECT truth AS cls, count(*) AS n_true FROM preds GROUP BY 1),
          |bp AS (SELECT pred AS cls, count(*) AS n_pred FROM preds GROUP BY 1),
          |tpx AS (SELECT truth AS cls, count(*) AS tp FROM preds
          |        WHERE truth = pred GROUP BY 1),
          |j AS (SELECT c.cls,
          |        CAST(COALESCE(bt.n_true, 0) AS BIGINT) AS n_true,
          |        CAST(COALESCE(bp.n_pred, 0) AS BIGINT) AS n_pred,
          |        CAST(COALESCE(tpx.tp, 0) AS BIGINT) AS tp
          |      FROM classes c LEFT JOIN bt USING (cls)
          |      LEFT JOIN bp USING (cls) LEFT JOIN tpx USING (cls)),
          |m AS (SELECT cls, n_true, n_pred, tp,
          |        CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred
          |             ELSE 0.0 END AS p,
          |        CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true
          |             ELSE 0.0 END AS r
          |      FROM j)
          |SELECT cls, n_true, n_pred, tp,
          |  round(p, 4) + 0.0 AS prec, round(r, 4) + 0.0 AS rec,
          |  round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
          |        ELSE 0.0 END, 4) + 0.0 AS f1
          |FROM m ORDER BY cls""".stripMargin)),

    // ---- per-language Zipf rank-frequency slope ------------------------
    // The corpus-health diagnostic (natural text tracks slope ≈ -1;
    // template/generated text deviates hard): least-squares slope of
    // ln(count) on ln(rank) over each language's vocabulary, via the
    // engines' native regr_slope aggregate. Rank is a LANG-partitioned
    // window over the vocab aggregate (bounded by |vocab|, parallel
    // across languages — no global window). Rounded at 4 decimals: the
    // two engines merge covariance partials in different orders
    // (~1e-12 noise, eight orders below the step).
    "t31_zipf_slope" -> Q(
      (s, dir) => {
        val vocab = docs(s, dir)
          .select(col("lang"), explode(tokens(col("text"))).as("t"))
          .groupBy("lang", "t").agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy(desc("c"), asc("t"))
        vocab.withColumn("r", row_number().over(w))
          .groupBy("lang")
          .agg(count(lit(1)).as("vocab_size"),
            sum("c").as("n_tokens"),
            (round(regr_slope(log(col("c")), log(col("r"))), 4) + lit(0.0))
              .as("zipf_slope"))
          .orderBy("lang")
      },
      Some(
        """WITH vocab AS (
          |  SELECT lang, w, count(*) AS c
          |  FROM (SELECT lang,
          |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          |        FROM documents)
          |  GROUP BY 1, 2),
          |ranked AS (
          |  SELECT lang, c,
          |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS r
          |  FROM vocab)
          |SELECT lang, count(*) AS vocab_size,
          |  CAST(sum(c) AS BIGINT) AS n_tokens,
          |  round(regr_slope(ln(c), ln(r)), 4) + 0.0 AS zipf_slope
          |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- per-document token Shannon entropy ----------------------------
    // The information-density quality signal (low entropy = repetitive /
    // template text): H = ln(n) - Σ c·ln(c) / n over per-doc token
    // counts — one explode + two hash aggregates keyed by doc, linear in
    // token volume. Identical formula in the oracle; rounded at 4
    // decimals (t21's ulp argument), +0.0 canonicalizes the -0.0 a
    // single-token doc's exact zero can land on.
    "t28_token_entropy" -> Q(
      (s, dir) => {
        val tc = docs(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
        tc.groupBy("doc_id")
          .agg(sum("c").as("n_tokens"),
            (round(log(sum(col("c")).cast(DoubleType)) -
              sum(col("c") * log(col("c"))) / sum(col("c")), 4) + lit(0.0))
              .as("entropy"))
          .orderBy("doc_id")
      },
      Some(
        """WITH tc AS (
          |  SELECT doc_id, w, count(*) AS c
          |  FROM (SELECT doc_id,
          |          unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
          |        FROM documents)
          |  GROUP BY 1, 2)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
          |  round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(c)) / sum(c), 4) + 0.0
          |    AS entropy
          |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- BPE tokenizer induction ----------------------------------------
    // Learn the top-8 byte-pair merges from the corpus
    // (operators/Tokenizer.bpeTrain) — the "train the tokenizer" step,
    // hash-exact against an oracle that replays the SAME relational
    // algebra per round as 8 generated CTE blocks (pair count -> argmax
    // -> island-parity greedy application). The loop runs over the
    // word-FREQUENCY table, never the corpus, and each round hands the
    // driver exactly one argmax row; see the Tokenizer scaladoc for the
    // 100 TB argument.
    "t34_bpe_train" -> Q(
      (s, dir) => graft.operators.Tokenizer
        .bpeTrain(docs(s, dir), "text", nMerges = 8),
      Some(bpeOracle(8))),

    // ---- BPE corpus tokenization ----------------------------------------
    // The production "tokenize the corpus" step with the t34 model: the
    // learned merges (a bounded 8-row driver parameter — the model) are
    // replayed over the DISTINCT-WORD table only (Tokenizer.bpeSegment),
    // and the corpus is tokenized by one hash join of the document word
    // stream against that per-word symbol count — the corpus is never
    // touched by the iterative part. Oracle: the same generated CTE
    // replay, final state joined back to the unnested word stream.
    "t35_bpe_encode" -> Q(
      (s, dir) => {
        import graft.operators.Tokenizer
        val d = docs(s, dir)
        val merges = Tokenizer.bpeTrain(d, "text", nMerges = 8)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        val docWords = d
          .select(col("doc_id"),
            explode(split(lower(col("text")), "[^a-z]+")).as("word"))
          .where(length(col("word")) > 0)
        val segCounts = Tokenizer
          .bpeSegment(docWords.select("word"), "word", merges)
          .groupBy("word").agg(count(lit(1)).as("n_syms"))
        docWords.join(segCounts, Seq("word"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum(col("n_syms")).as("n_bpe_tokens"))
          .orderBy("doc_id")
      },
      Some(bpeEncodeOracle(8))),

    // ---- equi-depth length histogram ------------------------------------
    // Per-source decile binning of document length — the equi-DEPTH
    // counterpart of t20's fixed-width histogram, and the exact-answer
    // anchor for q25b's approximate quantiles. ntile is engine-portable
    // once the order is total: (length, doc_id) breaks ties
    // deterministically in both engines. The window is partitioned by
    // source — parallel across sources; at 100 TB you'd range-partition
    // within source first (the t18 two-phase playbook) if a single
    // source outgrew a partition.
    "t36_equidepth_hist" -> Q(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("len"), col("doc_id"))
        Lake(s, dir).documents
          .select(col("source"), col("doc_id"),
            length(col("text")).as("len"))
          .withColumn("decile", ntile(10).over(w))
          .groupBy("source", "decile")
          .agg(count(lit(1)).as("n_docs"),
            min(col("len")).as("min_len"), max(col("len")).as("max_len"))
          .orderBy("source", "decile")
      },
      Some(
        """WITH d AS (
          |  SELECT source, doc_id, len(text) AS len,
          |    ntile(10) OVER (PARTITION BY source ORDER BY len(text), doc_id)
          |      AS decile
          |  FROM documents)
          |SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(min(len) AS INTEGER) AS min_len,
          |  CAST(max(len) AS INTEGER) AS max_len
          |FROM d GROUP BY source, decile
          |ORDER BY source, decile""".stripMargin)),

    // ---- Spearman rank correlation --------------------------------------
    // Per-source monotonic association between document volume (token
    // count) and lexical diversity (type-token ratio): Spearman = Pearson
    // over tie-AVERAGED ranks, the statistic that survives the heavy
    // length ties a real corpus has. Average rank for a tie group =
    // rank() + (|ties|-1)/2 — pure per-source window algebra; corr() is
    // the engines' shared sample-Pearson aggregate. Rounded at 4
    // decimals (double partial-agg order, the t21 ulp argument).
    "t37_spearman" -> Q(
      (s, dir) => {
        val toks = split(lower(trim(col("text"))), "\\s+")
        val base = Lake(s, dir).documents
          .select(col("source"), col("doc_id"),
            size(toks).cast(DoubleType).as("x"),
            (size(array_distinct(toks)).cast(DoubleType) / size(toks))
              .as("y"))
        def avgRank(c: String) = {
          val rk = org.apache.spark.sql.expressions.Window
            .partitionBy("source").orderBy(col(c))
          val ties = org.apache.spark.sql.expressions.Window
            .partitionBy("source", c)
          rank().over(rk) + (count(lit(1)).over(ties) - 1) / lit(2.0)
        }
        base
          .withColumn("rx", avgRank("x"))
          .withColumn("ry", avgRank("y"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            (round(corr(col("rx"), col("ry")), 4) + lit(0.0))
              .as("spearman"))
          .orderBy("source")
      },
      Some(
        """WITH b AS (
          |  SELECT source, doc_id,
          |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE)
          |      AS x,
          |    CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+')))
          |        AS DOUBLE)
          |      / len(string_split_regex(lower(trim(text)), '\s+')) AS y
          |  FROM documents),
          |r AS (
          |  SELECT source,
          |    rank() OVER (PARTITION BY source ORDER BY x)
          |      + (count(*) OVER (PARTITION BY source, x) - 1) / 2.0 AS rx,
          |    rank() OVER (PARTITION BY source ORDER BY y)
          |      + (count(*) OVER (PARTITION BY source, y) - 1) / 2.0 AS ry
          |  FROM b)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  round(corr(rx, ry), 4) + 0.0 AS spearman
          |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // ---- per-source ROC AUC of the language-ID signal ------------------
    // Rank-based (Mann-Whitney) AUC of the en-stopword-density score
    // against the true lang='en' label, per source: AUC =
    // (Σ ranks of positives − n₁(n₁+1)/2) / (n₁·n₀) with TIE-AVERAGED
    // ranks (rank() + (|ties|−1)/2, the t37 device) so tied scores earn
    // the textbook half-credit. No threshold sweep materializes — the
    // rank identity computes the full curve's area in one source-
    // partitioned window + one aggregate. Degenerate sources (all-
    // positive or all-negative) yield NULL, not a division blowup.
    "t38_auc" -> Q(
      (s, dir) => {
        val nTok = size(tokens(col("text"))).cast(DoubleType)
        val base = docs(s, dir).select(
          col("source"),
          when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"),
          (langScore(col("text"), langMarkers.head._2).cast(DoubleType) / nTok)
            .as("score"))
        val rk = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("score"))
        val ties = org.apache.spark.sql.expressions.Window
          .partitionBy("source", "score")
        base
          .withColumn("r",
            rank().over(rk) + (count(lit(1)).over(ties) - 1) / lit(2.0))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("np"),
            sum(when(col("y") === 1.0, col("r"))).as("srp"))
          .select(col("source"),
            col("n").as("n_docs"),
            col("np").cast(LongType).as("n_pos"),
            (round(
              when(col("np") > 0 && col("np") < col("n"),
                (col("srp") - col("np") * (col("np") + 1) / 2) /
                  (col("np") * (col("n") - col("np")))),
              4) + lit(0.0)).as("auc"))
          .orderBy("source")
      },
      Some(
        """WITH b AS (
          |  SELECT source,
          |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
          |    CAST(len(regexp_extract_all(lower(text),
          |      '\b(the|a|of|and|to|in|is)\b')) AS DOUBLE)
          |      / len(string_split_regex(lower(trim(text)), '\s+')) AS score
          |  FROM documents),
          |r AS (
          |  SELECT source, y,
          |    rank() OVER (PARTITION BY source ORDER BY score)
          |      + (count(*) OVER (PARTITION BY source, score) - 1) / 2.0 AS r
          |  FROM b),
          |a AS (
          |  SELECT source, count(*) AS n, sum(y) AS np,
          |    sum(CASE WHEN y = 1.0 THEN r END) AS srp
          |  FROM r GROUP BY source)
          |SELECT source, CAST(n AS BIGINT) AS n_docs,
          |  CAST(np AS BIGINT) AS n_pos,
          |  round(CASE WHEN np > 0 AND np < n
          |    THEN (srp - np * (np + 1) / 2) / (np * (n - np)) END, 4) + 0.0
          |    AS auc
          |FROM a ORDER BY source""".stripMargin)),

    // ---- positional phrase search over the inverted index --------------
    // Multi-token phrase matching as pure relational algebra: positional
    // postings (doc_id, pos, tok) joined to a tiny exploded phrase table
    // on the TOKEN (the inverted-index lookup — only postings of the
    // phrase's words survive the join), then a full match is an anchor
    // group (doc_id, phrase, pos − phrase_pos) holding ALL phrase
    // positions. One hash join + one aggregate; the corpus-wide postings
    // list is never self-joined. Phrases with zero hits at small SFs
    // ("sort merge join") stay in the output via the left join back to
    // the phrase list.
    "t39_phrase_search" -> Q(
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val phrases = Seq("hash join", "table scan", "sort merge join")
          .toDF("phrase")
          .select(col("phrase"),
            posexplode(split(col("phrase"), " ")).as(Seq("ppos", "tok")))
        val postings = docs(s, dir)
          .select(col("doc_id"),
            posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        val full = postings.join(broadcast(phrases), Seq("tok"))
          .groupBy(col("phrase"), col("doc_id"),
            (col("pos") - col("ppos")).as("anchor"))
          .agg(count(lit(1)).as("k"))
          .join(broadcast(
            phrases.groupBy("phrase").agg(count(lit(1)).as("len"))),
            Seq("phrase"))
          .where(col("k") === col("len"))
          .groupBy("phrase")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_hits"))
        phrases.select("phrase").distinct()
          .join(full, Seq("phrase"), "left")
          .select(col("phrase"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .orderBy("phrase")
      },
      Some(
        """WITH ph(phrase) AS (
          |  VALUES ('hash join'), ('table scan'), ('sort merge join')),
          |pt AS (
          |  SELECT phrase, unnest(generate_series(1, len(w))) AS ppos,
          |    unnest(w) AS tok
          |  FROM (SELECT phrase, string_split(phrase, ' ') AS w FROM ph)),
          |post AS (
          |  SELECT doc_id, unnest(generate_series(1, len(w))) AS pos,
          |    unnest(w) AS tok
          |  FROM (SELECT doc_id,
          |          string_split_regex(lower(trim(text)), '\s+') AS w
          |        FROM documents)),
          |m AS (
          |  SELECT pt.phrase, post.doc_id, post.pos - pt.ppos AS anchor,
          |    count(*) AS k
          |  FROM post JOIN pt USING (tok)
          |  GROUP BY 1, 2, 3),
          |pl AS (SELECT phrase, count(*) AS len FROM pt GROUP BY 1),
          |hits AS (
          |  SELECT m.phrase, count(DISTINCT m.doc_id) AS n_docs,
          |    count(*) AS n_hits
          |  FROM m JOIN pl USING (phrase) WHERE m.k = pl.len
          |  GROUP BY 1)
          |SELECT ph.phrase,
          |  CAST(COALESCE(h.n_docs, 0) AS BIGINT) AS n_docs,
          |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
          |FROM ph LEFT JOIN hits h USING (phrase)
          |ORDER BY ph.phrase""".stripMargin)),
  )

  private def bpeEncodeOracle(nMerges: Int): String =
    bpeCtes(nMerges) + s""",
      |wc AS (SELECT word, count(*) AS n_syms FROM s$nMerges GROUP BY word),
      |dw AS (SELECT doc_id, w AS word FROM (
      |    SELECT doc_id,
      |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      |    FROM documents)
      |  WHERE len(w) > 0)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
      |  CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens
      |FROM dw JOIN wc USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Generates the chained-CTE DuckDB replay of `Tokenizer.bpeTrain`:
    * one (pairs, best, matches, islands, kept, state') block per merge
    * round, mirroring the Spark plan construct-for-construct so the
    * whole iterative training run is hash-compared, not spot-checked.
    * The re-referenced per-round CTEs are MATERIALIZED — default
    * inlining would re-expand each round's state into its ~5 readers
    * and blow up 5^rounds. */
  private def bpeOracle(nMerges: Int): String =
    bpeCtes(nMerges) + "\n" +
      (1 to nMerges).map { k =>
        s"SELECT CAST($k AS INTEGER) AS merge_rank, l AS lhs, r AS rhs," +
          s" CAST(cnt AS BIGINT) AS pair_count FROM b$k"
      }.mkString("", "\nUNION ALL ", "\nORDER BY merge_rank")

  /** The shared WITH-chain: w, s0, then per round k the
    * (p, b, m, i, k, s) block, ending at state s&lt;nMerges&gt;. */
  private def bpeCtes(nMerges: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH w AS (
      |  SELECT w AS word, count(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
      |    FROM documents)
      |  WHERE len(w) > 0 GROUP BY w),
      |s0 AS MATERIALIZED (
      |  SELECT word, freq, pos, substr(word, CAST(pos AS INTEGER), 1) AS sym
      |  FROM (SELECT word, freq,
      |          unnest(generate_series(1, len(word))) AS pos FROM w))""".stripMargin
    for (k <- 1 to nMerges) {
      val pv = k - 1
      sb ++= s""",
        |p$k AS (SELECT s.sym AS l, n.sym AS r, sum(s.freq) AS cnt
        |  FROM s$pv s JOIN s$pv n ON n.word = s.word AND n.pos = s.pos + 1
        |  GROUP BY 1, 2),
        |b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
        |m$k AS (SELECT s.word, s.pos
        |  FROM s$pv s JOIN s$pv n ON n.word = s.word AND n.pos = s.pos + 1
        |  CROSS JOIN b$k WHERE s.sym = b$k.l AND n.sym = b$k.r),
        |i$k AS (SELECT word, pos,
        |  pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS g
        |  FROM m$k),
        |k$k AS MATERIALIZED (SELECT word, pos FROM (
        |    SELECT word, pos, min(pos) OVER (PARTITION BY word, g) AS g0
        |    FROM i$k)
        |  WHERE (pos - g0) % 2 = 0),
        |s$k AS MATERIALIZED (SELECT word, freq,
        |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
        |  FROM (
        |    SELECT s.word, s.freq, s.pos,
        |      CASE WHEN kk.pos IS NOT NULL THEN s.sym || n.sym ELSE s.sym END
        |        AS sym
        |    FROM s$pv s
        |    LEFT JOIN k$k kk ON kk.word = s.word AND kk.pos = s.pos
        |    LEFT JOIN s$pv n ON n.word = s.word AND n.pos = s.pos + 1
        |    LEFT JOIN k$k kp ON kp.word = s.word AND kp.pos = s.pos - 1
        |    WHERE kp.pos IS NULL))""".stripMargin
    }
    sb.toString
  }
}
