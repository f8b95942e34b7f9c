package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.TextFunctions
import graft.functions.TextFunctions._

/** Pins the fused one-pass [[graft.plans.AnnotateStatsExpr]] counters to
  * the composable regex forms they replace, field for field, on inputs
  * chosen to break a hand-rolled scanner: empty/whitespace-only strings,
  * tabs that survive the 0x20-only trim, word-boundary traps (xthe,
  * the9, _the), Unicode letters/digits/numerals in every \p{N}
  * subcategory, surrogate pairs, locale-sensitive lowering (İ), and
  * NULL (whose when-chain fall-through is langId = 'de' — pinned, not
  * accidental). The t1/t2/t3/c1 DuckDB gates re-verify the same
  * semantics end to end at every driver SF. */
class AnnotateSpec extends AnyFunSuite {
  import TestSpark._

  private val nasty: Seq[String] = Seq(
    "",
    " ",
    "   ",
    "\t",
    "a",
    "the",
    "The THE tHe",
    "a-b the,of;and",
    "xthe the9 _the the_ 9the the_9 athe9",
    "el la de que y en los",
    "der die und das ist von",
    "the el der",
    "the the el la der die und",
    "é ñ 中文 the naïve",
    "a\tb\nc\rde\ff",
    "  leading and trailing  ",
    "\t leading tab",
    "trailing tab \t",
    "!!!",
    "a,b.c;d:e!f?g",
    "123 456 ٣٤٥",
    "Ⅻ ½ ²",
    "😀 the 😀",
    "İstanbul the DER",
    // \b's Unicode word class: é/中/١/𝕒 are word chars for the BOUNDARY
    // even though \w is ASCII — none of these may count a marker hit
    "éthe theé 中the the中 ١the the١ 𝕒the the𝕒",
    "é the 中 the ١ the", // markers bounded by spaces still count
    "a\u0307the x\u0307 the", // combining mark: NOT a word char -> boundary
    "ß THE strasse",
    "of of of of of",
    ("the quick brown fox " * 50).trim,
    "un deux trois quatre",
    "word" + " " + "joined", // NBSP: not Java \s, not punct-exempt
    "under_score the_end a_b")

  private def corpus = {
    import spark.implicits._
    val lit = (nasty :+ null.asInstanceOf[String]).toDF("text")
    val docs = Lake(spark, sf0001).documents.select(col("text"))
    lit.unionByName(docs)
  }

  test("fused struct counters equal the regex forms on adversarial + corpus text") {
    val st = annotateStats(col("text"))
    val rows = corpus.select(
      col("text"),
      st.getField("en").as("f_en"),
      langScore(col("text"), langMarkers(0)._2).as("r_en"),
      st.getField("es").as("f_es"),
      langScore(col("text"), langMarkers(1)._2).as("r_es"),
      st.getField("de").as("f_de"),
      langScore(col("text"), langMarkers(2)._2).as("r_de"),
      st.getField("n_tokens").as("f_tok"),
      size(tokens(col("text"))).as("r_tok"),
      st.getField("punct").as("f_punct"),
      regexp_count(col("text"), lit("""[^\s\p{L}\p{N}]""")).as("r_punct"),
      st.getField("n_chars").as("f_len"),
      length(col("text")).as("r_len"),
      st.getField("norm").as("f_norm"),
      normalized(col("text")).as("r_norm")).collect()
    assert(rows.length > nasty.length)
    for (r <- rows) {
      val t = Option(r.getString(0)).map(s => s.take(40)).getOrElse("NULL")
      for (base <- Seq(1, 3, 5, 7, 9, 11, 13))
        assert(r.get(base) === r.get(base + 1),
          s"field pair at $base diverged on <$t>: ${r.get(base)} vs ${r.get(base + 1)}")
    }
  }

  test("derived langId / qualityScore / fingerprint equal the regex forms bit-for-bit") {
    val st = annotateStats(col("text"))
    val rows = corpus.select(
      col("text"),
      langIdFrom(st).as("f_lang"),
      AnnotateSpec.langIdRegex(col("text")).as("r_lang"),
      qualityFrom(st).as("f_q"),
      AnnotateSpec.qualityScoreRegex(col("text")).as("r_q"),
      md5(st.getField("norm")).as("f_fp"),
      fingerprintMd5(col("text")).as("r_fp")).collect()
    for (r <- rows) {
      val t = Option(r.getString(0)).map(_.take(40)).getOrElse("NULL")
      assert(r.get(1) === r.get(2), s"langId diverged on <$t>")
      // bit-identical doubles, not epsilon-equal: compare raw bits
      val fq = Option(r.get(3)).map(v =>
        java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))
      val rq = Option(r.get(4)).map(v =>
        java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))
      assert(fq === rq, s"quality bits diverged on <$t>: ${r.get(3)} vs ${r.get(4)}")
      assert(r.get(5) === r.get(6), s"fingerprint diverged on <$t>")
    }
  }

  test("NULL text: struct is null, langId falls through to 'de', quality to 0.7 — both paths") {
    import spark.implicits._
    val df = Seq(null.asInstanceOf[String]).toDF("text")
    val r = df.select(
      annotateStats(col("text")).isNull.as("st_null"),
      langIdFrom(annotateStats(col("text"))).as("f_lang"),
      AnnotateSpec.langIdRegex(col("text")).as("r_lang"),
      qualityFrom(annotateStats(col("text"))).as("f_q"),
      AnnotateSpec.qualityScoreRegex(col("text")).as("r_q")).collect().head
    assert(r.getBoolean(0))
    assert(r.getString(1) === "de" && r.getString(2) === "de")
    assert(r.getDouble(3) === 0.7 && r.getDouble(4) === 0.7)
  }

  test("annotateAndFilter output is identical under both paths (the c1 stage)") {
    import graft.operators.Curation
    val docs = Lake(spark, sf0001).documents
    val fused = Curation.annotateAndFilter(docs, "text")
      .collect().map(_.toString).sorted.toSeq
    // regex twin of the annotate stage
    val text = col("text")
    val regex = docs
      .withColumn("lang_pred", AnnotateSpec.langIdRegex(text))
      .withColumn("quality", AnnotateSpec.qualityScoreRegex(text))
      .withColumn("n_tokens", size(tokens(text)).cast("long"))
      .withColumn("fp", fingerprintMd5(text))
      .where(col("quality") >= Curation.Config().minQuality)
      .where(col("lang_pred") =!= "unk")
      .collect().map(_.toString).sorted.toSeq
    assert(fused === regex)
    assert(fused.nonEmpty)
  }

  test("the fused expression evaluates once per row in the annotate projection") {
    val docs = Lake(spark, sf0001).documents
    val qe = graft.operators.Curation.annotateAndFilter(docs, "text")
      .queryExecution
    val plan = qe.optimizedPlan.toString
    val hits = "annotate_stats\\(".r.findAllIn(plan).length
    val code = org.apache.spark.sql.execution.debug.codegenString(qe.executedPlan)
    val evalSites = "AnnotateStats\\.compute".r.findAllIn(code).length
    info(s"optimized-plan instances: $hits; codegen eval sites: $evalSites")
    assert(evalSites >= 1 && evalSites <= 3,
      s"expected 1-3 compute sites in generated code, got $evalSites " +
        s"(plan instances: $hits)")
  }
}

/** The composable regex forms of `langId` / `qualityScore` that
  * [[graft.plans.AnnotateStatsExpr]] replaced, kept as the oracles the
  * spec compares the fused counters against. */
object AnnotateSpec {
  import org.apache.spark.sql.Column

  def langIdRegex(c: Column): Column = {
    val Seq(en, es, de) = langMarkers.map { case (_, p) => langScore(c, p) }
    when(en === 0 && es === 0 && de === 0, lit("unk"))
      .when(en >= es && en >= de, lit("en"))
      .when(es >= de, lit("es"))
      .otherwise(lit("de"))
  }

  def qualityScoreRegex(c: Column): Column = {
    val nTok = size(tokens(c)).cast(DoubleType)
    val stopHits = langScore(c, langMarkers.head._2).cast(DoubleType)
    val punct = regexp_count(c, lit("""[^\s\p{L}\p{N}]""")).cast(DoubleType)
    val lenSat = least(nTok / 100.0, lit(1.0))
    val stopShare = when(nTok > 0, stopHits / nTok).otherwise(lit(0.0))
    val punctShare = when(length(c) > 0, punct / length(c).cast(DoubleType))
      .otherwise(lit(0.0))
    lenSat * 0.5 + stopShare * 0.3 + (lit(1.0) - punctShare) * 0.2
  }
}
