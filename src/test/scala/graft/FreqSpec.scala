package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Sketches.{freqMergeAgg, freqSketchAgg, freqTopItems}

/** Laws for the frequent-items family (Spark's approx_top_k_* built-ins,
  * through Sketches.freqSketchAgg/freqMergeAgg/freqTopItems): the
  * no-purge exactness contract, rollup-equals-direct merging, the
  * overflow error bound, type/null handling, and the SQL surface. */
class FreqSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def topOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
    df.collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))

  test("exact mode: top items equal the exact group counts") {
    val df = Seq.tabulate(1000)(i => ("g", s"tok${i % 7}"))
      .toDF("g", "t")
    val got = topOf(df.groupBy("g")
      .agg(freqTopItems(freqSketchAgg(col("t")), 10).as("top"))
      .select("top"))
    val want = df.groupBy("t").count()
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }.toSeq
    assert(got === want)
  }

  test("rollup of per-slice partials equals a direct sketch (exact mode)") {
    val df = Seq.tabulate(2000)(i => ("g", i % 4, s"tok${i % 13}"))
      .toDF("g", "slice", "t")
    val direct = topOf(df.groupBy("g")
      .agg(freqTopItems(freqSketchAgg(col("t")), 13).as("top"))
      .select("top"))
    val viaPartials = topOf(df.groupBy("g", "slice")
      .agg(freqSketchAgg(col("t")).as("sk"))
      .groupBy("g")
      .agg(freqTopItems(freqMergeAgg(col("sk")), 13).as("top"))
      .select("top"))
    assert(viaPartials === direct)
  }

  test("overflow regime: estimates honor the sketch's own error bound") {
    // 64 counters (48 items tracked), 10_000 distinct singletons + one
    // 500-heavy item: way past capacity, so purges fire. The library
    // contract is
    // true <= estimate <= true + getMaximumError() — check against the
    // SELF-REPORTED error, not a guessed constant, and that the heavy
    // hitter survives at the top at all.
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.datasketches.memory.Memory
    val rows = (0 until 10000).map(i => ("g", s"noise$i")) ++
      Seq.fill(500)(("g", "heavy"))
    val bytes = rows.toDF("g", "t").groupBy("g")
      .agg(freqSketchAgg(col("t"), maxItemsTracked = 48).as("sk"))
      .select("sk.sketch").collect()(0).getAs[Array[Byte]](0)
    val sk = ItemsSketch.getInstance(
      Memory.wrap(bytes), new ArrayOfStringsSerDe())
    val est = sk.getEstimate("heavy")
    val maxErr = sk.getMaximumError
    assert(maxErr > 0, "fixture must actually overflow the counters")
    assert(est >= 500 && est <= 500 + maxErr,
      s"estimate $est outside [500, ${500 + maxErr}]")
    val top = sk.getFrequentItems(
      org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
    assert(top.map(_.getItem).contains("heavy"),
      "heavy hitter lost in overflow")
  }

  test("nulls are ignored") {
    val df = Seq(("g", Some("a")), ("g", None), ("g", Some("a")),
      ("g", Some("b"))).toDF("g", "t")
    val got = topOf(df.groupBy("g")
      .agg(freqTopItems(freqSketchAgg(col("t")), 5).as("top"))
      .select("top"))
    assert(got === Seq(("a", 2L), ("b", 1L)))
  }

  test("SQL surface: injected freq functions match the Column API") {
    Lake(spark, sf0001).documents.createOrReplaceTempView("freq_docs")
    val got = spark.sql(
      """SELECT s.source, t.pos, t.col.item, t.col.count
        |FROM (SELECT source, approx_top_k_accumulate(w, 192) AS sk FROM (
        |        SELECT source, explode(split(lower(trim(text)), '\\s+')) AS w
        |        FROM freq_docs) GROUP BY source) s
        |LATERAL VIEW posexplode(slice(array_sort(
        |    approx_top_k_estimate(s.sk, 192),
        |    (a, b) -> CASE WHEN a.count > b.count THEN -1
        |                   WHEN a.count < b.count THEN 1
        |                   WHEN a.item < b.item THEN -1
        |                   WHEN a.item > b.item THEN 1 ELSE 0 END), 1, 3)) t
        |ORDER BY s.source, t.pos""".stripMargin).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
    val want = Lake(spark, sf0001).documents
      .select(col("source"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
      .groupBy("source")
      .agg(freqTopItems(freqSketchAgg(col("w")), 3).as("top"))
      .select(col("source"), posexplode(col("top")))
      .orderBy("source", "pos").collect()
      .map(r => (r.getString(0), r.getInt(1),
        r.getStruct(2).getString(0), r.getStruct(2).getLong(1)))
    assert(got.toSeq === want.toSeq)
  }
}
