package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.operators.MaterializedView
import graft.operators.MaterializedView.MvAgg
import graft.plans.MaterializedViewRule

/** The materialized-view routing contract: a query that IS the view's
  * defining aggregate reads the view table; every soundness gate (stale
  * base, disabled flag, distinct/filtered/mis-grouped shapes, type
  * drift) falls back to the direct scan — and in every case the ANSWER
  * equals the direct aggregate, so correctness never depends on the
  * freshness bookkeeping. */
class MaterializedViewSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = s"target/mv_spec/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    p
  }

  /** Generation directories under a view root, committed or torn. */
  private def gensOf(mv: String): Set[String] =
    new java.io.File(mv).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName).toSet

  /** The newest committed generation's manifest: the view's durable
    * definition. */
  private def newestCommit(mv: String): java.io.File =
    gensOf(mv).toSeq.map(g => new java.io.File(s"$mv/$g/_graft_manifest.json"))
      .filter(_.isFile).maxBy(_.getParentFile.getName.stripPrefix("v=").toLong)

  /** A kill before the newest generation's commit landed: its manifest
    * and the manifest's checksum sidecar are gone. */
  private def uncommitNewest(mv: String): Unit = {
    val m = newestCommit(mv)
    assert(m.delete())
    new java.io.File(m.getParentFile, s".${m.getName}.crc").delete()
  }

  private def readsPath(df: DataFrame, path: String): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains(path))
        case _ => false
      }
      case _ => false
    }

  private def withRouting[A](f: => A): A = {
    spark.conf.set(MaterializedViewRule.ConfKey, "true")
    try f finally spark.conf.set(MaterializedViewRule.ConfKey, "false")
  }

  private def writeBase(dir: String, rows: Seq[(String, Long, Double)]): Unit =
    rows.toDF("k", "n", "v").write.mode("overwrite").parquet(dir)

  private val rows = Seq(
    ("a", 1L, 1.5), ("a", 2L, 2.5), ("b", 3L, 10.0), ("c", 4L, -1.0))

  private def define(name: String, base: String, mv: String) =
    MaterializedView.create(spark, name, base,
      groupCols = Seq("k"),
      aggs = Seq(
        MvAgg("count_star", outCol = "cnt"),
        MvAgg("sum", "v", Some("decimal(18,6)"), outCol = "sv"),
        MvAgg("max", "n", outCol = "mx")),
      mvPath = mv)

  private def query(base: String): DataFrame =
    spark.read.parquet(base).groupBy("k")
      .agg(count(lit(1)).as("cnt"),
        sum(col("v").cast(DecimalType(18, 6))).as("sv"),
        max(col("n")).as("mx"))

  private def collectQ(df: DataFrame) =
    df.orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString, r.getLong(3))).toSeq

  test("a matching aggregate routes to the view and answers identically") {
    val base = freshDir("route/base"); val mv = freshDir("route/mv")
    writeBase(base, rows)
    define("mv_route", base, mv)
    try withRouting {
      val q = query(base)
      assert(readsPath(q, mv), "expected the optimized plan to read the view")
      assert(!readsPath(q, base))
      val direct = { // flag off: the same query against the base
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try collectQ(query(base))
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(collectQ(q) == direct)
    } finally MaterializedView.drop("mv_route")
  }

  test("a mutated base silently stops routing and the answer is fresh") {
    val base = freshDir("stale/base"); val mv = freshDir("stale/mv")
    writeBase(base, rows)
    define("mv_stale", base, mv)
    try withRouting {
      assert(readsPath(query(base), mv))
      // append a new row -> fingerprint drifts -> no routing, new answer
      Seq(("a", 9L, 100.0)).toDF("k", "n", "v")
        .write.mode("append").parquet(base)
      val q = query(base)
      assert(!readsPath(q, mv), "stale view must not serve")
      assert(readsPath(q, base))
      val a = collectQ(q).find(_._1 == "a").get
      assert(a._2 == 3L && a._4 == 9L, s"stale-path answer not fresh: $a")
      // refresh re-arms routing with the new content
      MaterializedView.refresh(spark, "mv_stale")
      val r = query(base)
      assert(readsPath(r, mv))
      assert(collectQ(r).find(_._1 == "a").get == a)
    } finally MaterializedView.drop("mv_stale")
  }

  test("routing is opt-in and shape mismatches stand down") {
    val base = freshDir("shape/base"); val mv = freshDir("shape/mv")
    writeBase(base, rows)
    define("mv_shape", base, mv)
    try {
      // flag off -> no rewrite even though the view matches
      assert(!readsPath(query(base), mv))
      withRouting {
        // distinct aggregate is not derivable from stored partials
        val distinctQ = spark.read.parquet(base).groupBy("k")
          .agg(countDistinct(col("n")).as("cnt"))
        assert(!readsPath(distinctQ, mv))
        // a filter under the aggregate means a different population
        val filteredQ = spark.read.parquet(base).where(col("n") > 1)
          .groupBy("k").agg(count(lit(1)).as("cnt"))
        assert(!readsPath(filteredQ, mv))
        // different grouping
        val regroupedQ = spark.read.parquet(base).groupBy("n")
          .agg(count(lit(1)).as("cnt"))
        assert(!readsPath(regroupedQ, mv))
        // an aggregate the view does not store
        val avgQ = spark.read.parquet(base).groupBy("k")
          .agg(avg(col("v")).as("m"))
        assert(!readsPath(avgQ, mv))
        // a SUBSET of stored aggregates still routes
        val subsetQ = spark.read.parquet(base).groupBy("k")
          .agg(max(col("n")).as("mx"))
        assert(readsPath(subsetQ, mv))
      }
    } finally MaterializedView.drop("mv_shape")
  }

  test("two routed aggregates in one plan get independent attribute ids") {
    val base = freshDir("twice/base"); val mv = freshDir("twice/mv")
    writeBase(base, rows)
    define("mv_twice", base, mv)
    try withRouting {
      val l = query(base).select(col("k"), col("cnt").as("lc"))
      val r = query(base).select(col("k"), col("mx").as("rm"))
      val joined = l.join(r, "k")
      assert(readsPath(joined, mv))
      val got = joined.orderBy("k").collect()
        .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSeq
      assert(got == Seq(("a", 2L, 2L), ("b", 1L, 3L), ("c", 1L, 4L)))
    } finally MaterializedView.drop("mv_twice")
  }

  test("absorb law: merging a delta's partials equals a full recompute") {
    val base = freshDir("absorb/base"); val mv = freshDir("absorb/mv")
    val mv2 = freshDir("absorb/mv_recompute")
    writeBase(base, rows)
    define("mv_absorb", base, mv)
    val delta = Seq(("a", 7L, 4.5), ("d", 8L, 3.0)) // new rows + new group
    try withRouting {
      delta.toDF("k", "n", "v").write.mode("append").parquet(base)
      MaterializedView.absorb(spark, "mv_absorb", delta.toDF("k", "n", "v"))
      // the absorbed view routes again immediately (fingerprint re-armed)
      val q = query(base)
      assert(readsPath(q, mv), "absorb must re-arm routing")
      // and its content equals a from-scratch view over the grown base
      val recomputed = define("mv_absorb_recompute", base, mv2)
      try {
        val got = spark.read.parquet(
            MaterializedView.get("mv_absorb").get.dataDir)
          .orderBy("k").collect().map(_.toSeq).toSeq
        val want = spark.read.parquet(recomputed.dataDir)
          .orderBy("k").collect().map(_.toSeq).toSeq
        assert(got == want, s"merge != recompute:\n  $got\n  $want")
        // stored types survive the merge (decimal sums re-widen under
        // re-aggregation; the cast back is the routing contract)
        assert(spark.read.parquet(MaterializedView.get("mv_absorb").get.dataDir)
          .schema == spark.read.parquet(recomputed.dataDir).schema)
      } finally MaterializedView.drop("mv_absorb_recompute")
      // the routed answer reflects the delta
      val a = collectQ(q).find(_._1 == "a").get
      assert(a._2 == 3L && a._4 == 7L, s"absorbed answer stale: $a")
      assert(collectQ(q).map(_._1).contains("d"))
    } finally MaterializedView.drop("mv_absorb")
  }

  // The durable definition is the newest committed generation's manifest
  // (`_graft_manifest.json`); `_mvdef.json` in the title is its former file.
  test("a view survives the process: load() re-registers from _mvdef.json") {
    val base = freshDir("durable/base"); val mv = freshDir("durable/mv")
    writeBase(base, rows)
    define("mv_durable", base, mv)
    try withRouting {
      assert(readsPath(query(base), mv))
      // "new JVM": the in-memory catalog is gone, the files are not
      MaterializedView.drop("mv_durable")
      assert(!readsPath(query(base), mv), "dropped view must not route")
      val d = MaterializedView.load(spark, mv)
      assert(d.name == "mv_durable" && d.basePath == base)
      assert(d.aggs == Seq(
        MvAgg("count_star", outCol = "cnt"),
        MvAgg("sum", "v", Some("decimal(18,6)"), outCol = "sv"),
        MvAgg("max", "n", outCol = "mx")))
      val q = query(base)
      assert(readsPath(q, mv), "loaded view must route again")
      assert(collectQ(q).map(_._1) == Seq("a", "b", "c"))
    } finally MaterializedView.drop("mv_durable")
  }

  test("absorb with a batch id refuses replays and the guard survives refresh and reload") {
    val base = freshDir("replay/base"); val mv = freshDir("replay/mv")
    writeBase(base, rows)
    define("mv_replay", base, mv)
    val delta = Seq(("b", 20L, 5.0))
    try {
      delta.toDF("k", "n", "v").write.mode("append").parquet(base)
      MaterializedView.absorb(spark, "mv_replay", delta.toDF("k", "n", "v"),
        batchId = 4L)
      def bCount = spark.read.parquet(
          MaterializedView.get("mv_replay").get.dataDir)
        .where(col("k") === "b").collect().head.getLong(1)
      assert(bCount == 2L)
      // replay at and below the stamp: committed no-ops
      MaterializedView.absorb(spark, "mv_replay", delta.toDF("k", "n", "v"),
        batchId = 4L)
      MaterializedView.absorb(spark, "mv_replay", delta.toDF("k", "n", "v"),
        batchId = 2L)
      assert(bCount == 2L, "replayed batch must not double-count")
      // refresh carries the guard (the recomputed view CONTAINS the
      // absorbed rows; a replay arriving after it must stay refused)
      MaterializedView.refresh(spark, "mv_replay")
      assert(MaterializedView.get("mv_replay").get.lastBatchId == 4L)
      MaterializedView.absorb(spark, "mv_replay", delta.toDF("k", "n", "v"),
        batchId = 4L)
      assert(bCount == 2L)
      // and survives a process restart
      MaterializedView.drop("mv_replay")
      assert(MaterializedView.load(spark, mv).lastBatchId == 4L)
      // a fresh id still lands and advances the stamp
      Seq(("b", 21L, 1.0)).toDF("k", "n", "v")
        .write.mode("append").parquet(base)
      MaterializedView.absorb(spark, "mv_replay",
        Seq(("b", 21L, 1.0)).toDF("k", "n", "v"), batchId = 5L)
      assert(bCount == 3L)
      assert(MaterializedView.get("mv_replay").get.lastBatchId == 5L)
    } finally MaterializedView.drop("mv_replay")
  }

  test("streamed MV maintenance: routed answers track the feed exactly once") {
    // feed = THE BASE DIR itself (the verified-freshness convention):
    // the file source replays every file including the seed rows the
    // view already aggregated at create — MvStream drops those by the
    // snapshotted file ledger, so nothing double-counts, and each
    // absorb's expected-set check re-arms routing only once every base
    // file has been fed
    val base = freshDir("stream/base"); val mv = freshDir("stream/mv")
    writeBase(base, rows)
    define("mv_stream", base, mv)
    val d1 = Seq(("a", 30L, 1.0)); val d2 = Seq(("d", 31L, 2.0))
    try withRouting {
      for (d <- Seq(d1, d2))
        d.toDF("k", "n", "v").coalesce(1).write.mode("append").parquet(base)
      val q = graft.streaming.MvStream.maintain(
          spark.readStream.schema(spark.read.parquet(base).schema)
            .option("maxFilesPerTrigger", "1").parquet(base),
          "mv_stream",
          checkpoint = freshDir("stream/ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // the view caught up with the base: routing serves, answers fresh
      val routed = query(base)
      assert(readsPath(routed, mv), "caught-up view must route")
      val got = collectQ(routed)
      val direct = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try collectQ(query(base))
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(got == direct, s"streamed view diverged:\n  $got\n  $direct")
      assert(got.find(_._1 == "a").get._4 == 30L)
      assert(got.map(_._1).contains("d"))
      // the replay guard advanced with the stream's batch ids
      assert(MaterializedView.get("mv_stream").get.lastBatchId >= 0L)
    } finally MaterializedView.drop("mv_stream")
  }

  test("a base-file deletion parks absorb-armed routing until refresh") {
    // the view still CONTAINS the deleted file's rows; a later absorb
    // must not re-arm routing just because its expected set covers the
    // post-delete listing — the stored aggregates and the live base
    // have diverged, and only a refresh reconciles them
    val base = freshDir("delete/base"); val mv = freshDir("delete/mv")
    writeBase(base, rows)
    define("mv_delete", base, mv)
    def filesOf(): Seq[java.io.File] =
      new java.io.File(base).listFiles().toSeq
        .filter(f => f.getName.endsWith(".parquet"))
    try withRouting {
      val seed = filesOf().map(_.getAbsolutePath).toSet
      val d1 = Seq(("a", 60L, 1.0))
      d1.toDF("k", "n", "v").coalesce(1).write.mode("append").parquet(base)
      val f1 = filesOf().map(_.getAbsolutePath).filterNot(seed)
      // a retention job removes one ABSORBED seed file
      val victim = filesOf().find(f => seed(f.getAbsolutePath)).get
      assert(victim.delete())
      MaterializedView.absorb(spark, "mv_delete", d1.toDF("k", "n", "v"),
        batchId = 0L, deltaFiles = Some(f1))
      assert(!MaterializedView.isFresh(spark, "mv_delete"),
        "view holding deleted rows must not claim freshness")
      assert(!readsPath(query(base), mv), "diverged view must read direct")
      // a later clean batch stays parked too (the divergence persists)
      val d2 = Seq(("e", 61L, 2.0))
      val before2 = filesOf().map(_.getAbsolutePath).toSet
      d2.toDF("k", "n", "v").coalesce(1).write.mode("append").parquet(base)
      val f2 = filesOf().map(_.getAbsolutePath).filterNot(before2)
      MaterializedView.absorb(spark, "mv_delete", d2.toDF("k", "n", "v"),
        batchId = 1L, deltaFiles = Some(f2))
      assert(!MaterializedView.isFresh(spark, "mv_delete"),
        "parking must persist across later absorbs")
      assert(!readsPath(query(base), mv))
      // refresh recomputes against the live base and re-arms
      MaterializedView.refresh(spark, "mv_delete")
      assert(MaterializedView.isFresh(spark, "mv_delete"))
      val served = query(base)
      assert(readsPath(served, mv))
      val direct = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try collectQ(query(base))
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(collectQ(served) == direct)
    } finally MaterializedView.drop("mv_delete")
  }

  test("streamed maintenance of a join-backed view folds fact deltas through the dims") {
    import MaterializedView.MvJoin
    val fact = freshDir("jstream/fact"); val dim = freshDir("jstream/dim")
    val mv = freshDir("jstream/mv")
    Seq((1L, 10L, 2.0), (2L, 20L, 3.0))
      .toDF("o_id", "o_cust", "o_amt").write.mode("overwrite").parquet(fact)
    Seq((10L, "gold"), (20L, "iron"), (30L, "gold"))
      .toDF("c_id", "c_tier").write.mode("overwrite").parquet(dim)
    MaterializedView.create(spark, "mv_jstream", fact,
      groupCols = Seq("c_tier"),
      aggs = Seq(MvAgg("count_star", outCol = "n"),
        MvAgg("sum", "o_amt", Some("decimal(18,6)"), outCol = "amt")),
      mvPath = mv,
      joins = Seq(MvJoin(dim, Seq("o_cust"), Seq("c_id"))))
    try withRouting {
      // two appended fact batches; the stream feeds from the FACT dir
      // and each absorb joins the delta through the (unchanged) dim
      for (d <- Seq(Seq((3L, 30L, 5.0)), Seq((4L, 10L, 7.0), (5L, 99L, 11.0))))
        d.toDF("o_id", "o_cust", "o_amt").coalesce(1)
          .write.mode("append").parquet(fact)
      val q = graft.streaming.MvStream.maintain(
          spark.readStream.schema(spark.read.parquet(fact).schema)
            .option("maxFilesPerTrigger", "1").parquet(fact),
          "mv_jstream",
          checkpoint = freshDir("jstream/ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val factDf = spark.read.parquet(fact); val dimDf = spark.read.parquet(dim)
      def agg(df: DataFrame) = df.groupBy("c_tier")
        .agg(count(lit(1)).as("n"),
          sum(col("o_amt").cast(DecimalType(18, 6))).as("amt"))
      val routed = agg(factDf.join(dimDf, factDf("o_cust") === dimDf("c_id")))
      assert(readsPath(routed, mv), "caught-up join view must route")
      def canon(df: DataFrame) = df.orderBy("c_tier").collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString)).toSeq
      val direct = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try canon(agg(factDf.join(dimDf, factDf("o_cust") === dimDf("c_id"))))
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(canon(routed) == direct,
        s"streamed join view diverged:\n  ${canon(routed)}\n  $direct")
      // the unmatched-key delta row (o_cust=99) correctly joined nothing
      assert(canon(routed) ==
        Seq(("gold", 3L, "14.000000"), ("iron", 1L, "3.000000")))
    } finally MaterializedView.drop("mv_jstream")
  }

  test("split-batch absorb parks routing until the feed catches up") {
    // the round-11 freshness hole, closed: the base already holds a
    // LATER batch's files while an earlier batch is absorbed — the
    // published fingerprint must NOT match the live base (a routed
    // query would silently miss the unabsorbed rows), and must match
    // again exactly when the last file's rows land
    val base = freshDir("split/base"); val mv = freshDir("split/mv")
    writeBase(base, rows)
    define("mv_split", base, mv)
    def newFiles(before: Set[String]): Seq[String] =
      new java.io.File(base).listFiles().toSeq
        .map(_.getAbsolutePath)
        .filter(p => p.endsWith(".parquet") && !before(p))
    try withRouting {
      val before1 = newFiles(Set.empty).toSet
      val d1 = Seq(("a", 50L, 1.0)); val d2 = Seq(("e", 51L, 2.0))
      d1.toDF("k", "n", "v").coalesce(1).write.mode("append").parquet(base)
      val f1 = newFiles(before1)
      d2.toDF("k", "n", "v").coalesce(1).write.mode("append").parquet(base)
      val f2 = newFiles(before1 ++ f1)
      assert(f1.nonEmpty && f2.nonEmpty)
      // absorb batch 1 while batch 2's files are already on disk
      MaterializedView.absorb(spark, "mv_split", d1.toDF("k", "n", "v"),
        batchId = 0L, deltaFiles = Some(f1))
      assert(!MaterializedView.isFresh(spark, "mv_split"),
        "view absorbed only batch 1 — must not claim freshness")
      val parked = query(base)
      assert(!readsPath(parked, mv), "un-caught-up view must read direct")
      assert(collectQ(parked).map(_._1).contains("e")) // answer is fresh
      // absorb batch 2: caught up, routing re-arms
      MaterializedView.absorb(spark, "mv_split", d2.toDF("k", "n", "v"),
        batchId = 1L, deltaFiles = Some(f2))
      assert(MaterializedView.isFresh(spark, "mv_split"))
      val served = query(base)
      assert(readsPath(served, mv), "caught-up view must route")
      val direct = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try collectQ(query(base))
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(collectQ(served) == direct)
    } finally MaterializedView.drop("mv_split")
  }

  test("expression grouping: an hourly rollup routes on a date_trunc match") {
    import MaterializedView.MvGroupExpr
    val base = freshDir("hourly/base"); val mv = freshDir("hourly/mv")
    Seq(
      ("a", java.sql.Timestamp.valueOf("2026-01-01 10:15:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2026-01-01 10:45:00"), 2.0),
      ("a", java.sql.Timestamp.valueOf("2026-01-01 11:05:00"), 4.0),
      ("b", java.sql.Timestamp.valueOf("2026-01-01 10:59:00"), 8.0))
      .toDF("k", "ts", "v").write.mode("overwrite").parquet(base)
    MaterializedView.create(spark, "mv_hourly", base,
      groupCols = Seq("k"),
      aggs = Seq(MvAgg("count_star", outCol = "cnt"),
        MvAgg("sum", "v", Some("decimal(18,6)"), outCol = "sv")),
      mvPath = mv,
      groupExprs = Seq(MvGroupExpr("h", "date_trunc('hour', ts)")))
    try withRouting {
      val q = spark.read.parquet(base)
        .groupBy(col("k"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("v").cast(DecimalType(18, 6))).as("sv"))
      assert(readsPath(q, mv), "hourly rollup must route on the template")
      val got = q.orderBy("k", "h").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDecimal(3).toPlainString)).toSeq
      assert(got == Seq(
        ("a", "2026-01-01 10:00:00.0", 2L, "3.000000"),
        ("a", "2026-01-01 11:00:00.0", 1L, "4.000000"),
        ("b", "2026-01-01 10:00:00.0", 1L, "8.000000")))
      // a DIFFERENT bucket width must stand down (finer than stored)
      val daily = spark.read.parquet(base)
        .groupBy(col("k"), date_trunc("minute", col("ts")).as("m"))
        .agg(count(lit(1)).as("cnt"))
      assert(!readsPath(daily, mv))
      // grouping by the raw ts (finer) must stand down too
      val raw = spark.read.parquet(base).groupBy(col("k"), col("ts"))
        .agg(count(lit(1)).as("cnt"))
      assert(!readsPath(raw, mv))
      // absorb keeps working through the expression dimension
      val delta = Seq(("b",
        java.sql.Timestamp.valueOf("2026-01-01 11:30:00"), 16.0))
      delta.toDF("k", "ts", "v").write.mode("append").parquet(base)
      MaterializedView.absorb(spark, "mv_hourly", delta.toDF("k", "ts", "v"))
      val q2 = spark.read.parquet(base)
        .groupBy(col("k"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      assert(readsPath(q2, mv))
      assert(q2.where(col("k") === "b").count() == 2L)
    } finally MaterializedView.drop("mv_hourly")
  }

  test("a group-column filter routes (whole groups) and a value filter stands down") {
    val base = freshDir("filter/base"); val mv = freshDir("filter/mv")
    writeBase(base, rows)
    define("mv_filter", base, mv)
    try withRouting {
      // predicate over the grouping column: selects whole groups ->
      // served by filtering the view's rows
      val q = spark.read.parquet(base).where(col("k") =!= "c")
        .groupBy("k").agg(count(lit(1)).as("cnt"), max(col("n")).as("mx"))
      assert(readsPath(q, mv), "group-column filter must route")
      val got = q.orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(("a", 2L, 2L), ("b", 1L, 3L)))
      // predicate over an aggregated column: a different population per
      // group — not servable from stored partials
      val vq = spark.read.parquet(base).where(col("v") > 2.0)
        .groupBy("k").agg(count(lit(1)).as("cnt"))
      assert(!readsPath(vq, mv), "value filter must stand down")
      assert(vq.collect().map(r => (r.getString(0), r.getLong(1))).sorted
        .toSeq == Seq(("a", 1L), ("b", 1L)))
      // mixed predicate (group AND value column): stands down whole
      val mixed = spark.read.parquet(base)
        .where(col("k") === "a" && col("v") > 2.0)
        .groupBy("k").agg(count(lit(1)).as("cnt"))
      assert(!readsPath(mixed, mv))
    } finally MaterializedView.drop("mv_filter")
  }

  test("diagnose names the failing gate: routable, stale, shape, filter") {
    val base = freshDir("diag/base"); val mv = freshDir("diag/mv")
    writeBase(base, rows)
    define("mv_diag", base, mv)
    try withRouting {
      def oneLine(df: DataFrame) =
        MaterializedViewRule.diagnose(df)
          .filter(_.startsWith("view 'mv_diag'")).head
      assert(oneLine(query(base)).endsWith("routable"))
      assert(oneLine(spark.read.parquet(base).where(col("v") > 0)
          .groupBy("k").agg(count(lit(1)).as("c")))
        .contains("non-grouping column"))
      assert(oneLine(spark.read.parquet(base).groupBy("n")
          .agg(count(lit(1)).as("c")))
        .contains("grouping differs"))
      assert(oneLine(spark.read.parquet(base).groupBy("k")
          .agg(avg(col("v")).as("m")))
        .contains("not served"))
      Seq(("z", 99L, 0.0)).toDF("k", "n", "v")
        .write.mode("append").parquet(base)
      assert(oneLine(query(base)).contains("STALE"))
      // and the disabled-flag note
      spark.conf.set(MaterializedViewRule.ConfKey, "false")
      assert(MaterializedViewRule.diagnose(query(base))
        .exists(_.contains("routing disabled")))
      spark.conf.set(MaterializedViewRule.ConfKey, "true")
    } finally MaterializedView.drop("mv_diag")
  }

  test("a join-backed view routes the star rollup in either join orientation") {
    import MaterializedView.MvJoin
    val fact = freshDir("join/fact"); val dim = freshDir("join/dim")
    val mv = freshDir("join/mv")
    Seq((1L, 10L, 2.0), (2L, 10L, 3.0), (3L, 20L, 5.0), (4L, 30L, 7.0))
      .toDF("o_id", "o_cust", "o_amt").write.mode("overwrite").parquet(fact)
    Seq((10L, "gold"), (20L, "iron"), (30L, "gold"))
      .toDF("c_id", "c_tier").write.mode("overwrite").parquet(dim)
    MaterializedView.create(spark, "mv_join", fact,
      groupCols = Seq("c_tier"),
      aggs = Seq(MvAgg("count_star", outCol = "n"),
        MvAgg("sum", "o_amt", Some("decimal(18,6)"), outCol = "amt")),
      mvPath = mv,
      joins = Seq(MvJoin(dim, Seq("o_cust"), Seq("c_id"))))
    val factDf = spark.read.parquet(fact)
    val dimDf = spark.read.parquet(dim)
    def agg(df: DataFrame) = df.groupBy("c_tier")
      .agg(count(lit(1)).as("n"),
        sum(col("o_amt").cast(DecimalType(18, 6))).as("amt"))
    def canon(df: DataFrame) = df.orderBy("c_tier").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).toSeq
    val want = Seq(("gold", 3L, "12.000000"), ("iron", 1L, "5.000000"))
    try withRouting {
      val fwd = agg(factDf.join(dimDf, factDf("o_cust") === dimDf("c_id")))
      assert(readsPath(fwd, mv), "fact ⋈ dim must route")
      assert(canon(fwd) == want)
      // reversed orientation routes too
      val rev = agg(dimDf.join(factDf, factDf("o_cust") === dimDf("c_id")))
      assert(readsPath(rev, mv), "dim ⋈ fact must route")
      assert(canon(rev) == want)
      // wrong key pair stands down
      val wrongKeys = agg(factDf.join(dimDf, factDf("o_id") === dimDf("c_id")))
      assert(!readsPath(wrongKeys, mv))
      // group-column filter on the dim side still routes (whole groups)
      val filtered = agg(factDf.join(
        dimDf.where(col("c_tier") === "gold"),
        factDf("o_cust") === dimDf("c_id")))
      assert(readsPath(filtered, mv))
      assert(canon(filtered) == Seq(("gold", 3L, "12.000000")))
      // a dimension UPDATE invalidates the rollup (right-side staleness).
      // Freshness is judged against the QUERY'S OWN file listing, so the
      // probe needs a re-read: the pre-append `dimDf` still routes —
      // soundly, its frozen index would scan the pre-append files either
      // way — while any NEW read of the dim sees the append and falls
      // back to the direct join.
      Seq((40L, "iron")).toDF("c_id", "c_tier")
        .write.mode("append").parquet(dim)
      val preAppend = agg(factDf.join(dimDf, factDf("o_cust") === dimDf("c_id")))
      assert(readsPath(preAppend, mv),
        "a scan listed before the append may keep routing (snapshot-consistent)")
      val dimDf2 = spark.read.parquet(dim)
      val stale = agg(factDf.join(dimDf2, factDf("o_cust") === dimDf2("c_id")))
      assert(!readsPath(stale, mv), "dim change must stop routing")
      // a fact-delta absorb cannot repair a CHANGED dimension — refused
      // with a pointer to refresh (the q59 algebra needs dims as
      // snapshotted)
      val e = intercept[IllegalStateException] {
        MaterializedView.absorb(spark, "mv_join",
          Seq((9L, 10L, 1.0)).toDF("o_id", "o_cust", "o_amt"))
      }
      assert(e.getMessage.contains("refresh"))
      // refresh re-arms (probed with a post-append dim read — the
      // refreshed snapshot is of the LIVE dim)
      MaterializedView.refresh(spark, "mv_join")
      assert(readsPath(agg(factDf.join(dimDf2,
        factDf("o_cust") === dimDf2("c_id"))), mv))
    } finally MaterializedView.drop("mv_join")
  }

  test("join-backed absorb law: fact-delta merge equals a full refresh") {
    import MaterializedView.MvJoin
    val fact = freshDir("jabsorb/fact"); val dim = freshDir("jabsorb/dim")
    val mv = freshDir("jabsorb/mv"); val mv2 = freshDir("jabsorb/mv2")
    Seq((1L, 10L, 2.0), (2L, 20L, 3.0), (3L, 10L, 5.0))
      .toDF("o_id", "o_cust", "o_amt").write.mode("overwrite").parquet(fact)
    Seq((10L, "gold"), (20L, "iron"), (30L, "gold"))
      .toDF("c_id", "c_tier").write.mode("overwrite").parquet(dim)
    def defineJ(name: String, path: String) =
      MaterializedView.create(spark, name, fact,
        groupCols = Seq("c_tier"),
        aggs = Seq(MvAgg("count_star", outCol = "n"),
          MvAgg("sum", "o_amt", Some("decimal(18,6)"), outCol = "amt")),
        mvPath = path,
        joins = Seq(MvJoin(dim, Seq("o_cust"), Seq("c_id"))))
    defineJ("mv_jabsorb", mv)
    // fact delta: existing group (gold via 10), NEW group (gold via 30,
    // same tier — merge) and an unmatched key (99: joins to nothing)
    val delta = Seq((4L, 10L, 7.0), (5L, 30L, 11.0), (6L, 99L, 13.0))
    try withRouting {
      delta.toDF("o_id", "o_cust", "o_amt")
        .write.mode("append").parquet(fact)
      MaterializedView.absorb(spark, "mv_jabsorb",
        delta.toDF("o_id", "o_cust", "o_amt"), batchId = 7L)
      // routing re-armed against the grown fact
      val factDf = spark.read.parquet(fact); val dimDf = spark.read.parquet(dim)
      val q = factDf.join(dimDf, factDf("o_cust") === dimDf("c_id"))
        .groupBy("c_tier")
        .agg(count(lit(1)).as("n"),
          sum(col("o_amt").cast(DecimalType(18, 6))).as("amt"))
      assert(readsPath(q, mv), "join absorb must re-arm routing")
      // stored content and schema equal a from-scratch recompute
      val recomputed = defineJ("mv_jabsorb_recompute", mv2)
      try {
        val gotDf = spark.read.parquet(
          MaterializedView.get("mv_jabsorb").get.dataDir)
        val wantDf = spark.read.parquet(recomputed.dataDir)
        assert(gotDf.schema == wantDf.schema)
        val got = gotDf.orderBy("c_tier").collect().map(_.toSeq).toSeq
        val want = wantDf.orderBy("c_tier").collect().map(_.toSeq).toSeq
        assert(got == want, s"join merge != recompute:\n  $got\n  $want")
      } finally MaterializedView.drop("mv_jabsorb_recompute")
      // the replay guard holds for join views too
      MaterializedView.absorb(spark, "mv_jabsorb",
        delta.toDF("o_id", "o_cust", "o_amt"), batchId = 7L)
      val n = spark.read.parquet(MaterializedView.get("mv_jabsorb").get.dataDir)
        .agg(sum("n")).collect().head.getLong(0)
      assert(n == 5L, s"replayed join delta must not double-count (n=$n)")
    } finally MaterializedView.drop("mv_jabsorb")
  }

  test("two views over one base: the shape-matching one serves; a same-shaped view over ANOTHER base never does") {
    val base = freshDir("multi/base"); val other = freshDir("multi/other")
    val mvA = freshDir("multi/mvA"); val mvB = freshDir("multi/mvB")
    val mvO = freshDir("multi/mvO")
    writeBase(base, rows)
    writeBase(other, Seq(("x", 1L, 9.0))) // same schema, different data
    // view A: count by k; view B: max(n) by k — both over `base`
    MaterializedView.create(spark, "mv_multi_a", base, Seq("k"),
      Seq(MvAgg("count_star", outCol = "cnt")), mvA)
    MaterializedView.create(spark, "mv_multi_b", base, Seq("k"),
      Seq(MvAgg("max", "n", outCol = "mx")), mvB)
    // same shape as A but over the OTHER base
    MaterializedView.create(spark, "mv_multi_o", other, Seq("k"),
      Seq(MvAgg("count_star", outCol = "cnt")), mvO)
    try withRouting {
      val qa = spark.read.parquet(base).groupBy("k")
        .agg(count(lit(1)).as("cnt"))
      assert(readsPath(qa, mvA) && !readsPath(qa, mvB) && !readsPath(qa, mvO),
        "count query must pick view A only")
      assert(qa.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 1L), ("c", 1L)))
      val qb = spark.read.parquet(base).groupBy("k")
        .agg(max(col("n")).as("mx"))
      assert(readsPath(qb, mvB) && !readsPath(qb, mvA),
        "max query must pick view B only")
      // the other-base query routes to ITS view, not base's
      val qo = spark.read.parquet(other).groupBy("k")
        .agg(count(lit(1)).as("cnt"))
      assert(readsPath(qo, mvO) && !readsPath(qo, mvA))
      assert(qo.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("x", 1L)))
    } finally Seq("mv_multi_a", "mv_multi_b", "mv_multi_o")
      .foreach(MaterializedView.drop)
  }

  test("avg is served from stored (sum, count) partials, bit-exactly") {
    val base = freshDir("avg/base"); val mv = freshDir("avg/mv")
    writeBase(base, rows)
    MaterializedView.create(spark, "mv_avg", base,
      groupCols = Seq("k"),
      aggs = Seq(
        MvAgg("count", "v", outCol = "cnt_v"),
        MvAgg("count", "v", Some("decimal(18,6)"), outCol = "cnt_dec"),
        MvAgg("sum", "v", Some("decimal(18,6)"), outCol = "sv_dec"),
        MvAgg("sum", "v", outCol = "sv_dbl")),
      mvPath = mv)
    try withRouting {
      // decimal avg: Average's own evaluateExpression over the stored
      // decimal sum + count — exact precision/scale preserved
      val qDec = spark.read.parquet(base).groupBy("k")
        .agg(avg(col("v").cast(DecimalType(18, 6))).as("m"))
      assert(readsPath(qDec, mv), "decimal avg must route")
      val direct = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try spark.read.parquet(base).groupBy("k")
          .agg(avg(col("v").cast(DecimalType(18, 6))).as("m"))
          .orderBy("k").collect()
          .map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toSeq
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      val got = qDec.orderBy("k").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toSeq
      assert(got == direct, s"routed decimal avg diverged:\n $got\n $direct")
      assert(qDec.schema("m").dataType == DecimalType(22, 10))
      // double avg routes off the double sum partial
      val qDbl = spark.read.parquet(base).groupBy("k")
        .agg(avg(col("v")).as("m"))
      assert(readsPath(qDbl, mv), "double avg must route")
      assert(qDbl.orderBy("k").collect().map(_.getDouble(1)).toSeq ==
        Seq(2.0, 10.0, -1.0))
      // avg over a column with NO stored sum/count pair stands down
      val qOther = spark.read.parquet(base).groupBy("k")
        .agg(avg(col("n")).as("m"))
      assert(!readsPath(qOther, mv), "unserved avg input must stand down")
      // distinct avg is not derivable from partials
      val qDistinct = spark.read.parquet(base).groupBy("k")
        .agg(expr("avg(DISTINCT v)").as("m"))
      assert(!readsPath(qDistinct, mv))
      // avg mixes with directly-stored aggregates in one query
      val qMixed = spark.read.parquet(base).groupBy("k")
        .agg(count(col("v")).as("cnt_v"), avg(col("v")).as("m"))
      assert(readsPath(qMixed, mv))
    } finally MaterializedView.drop("mv_avg")
  }

  test("the routing rule's freshness probe does zero filesystem walks") {
    val base = freshDir("nowalk/base"); val mv = freshDir("nowalk/mv")
    val mv2 = freshDir("nowalk/mv2")
    writeBase(base, rows)
    define("mv_nowalk_a", base, mv)
    MaterializedView.create(spark, "mv_nowalk_b", base, Seq("k"),
      Seq(MvAgg("count_star", outCol = "cnt")), mv2)
    try withRouting {
      val q = query(base) // builds the scan: its index lists the base here
      val before = MaterializedView.walkCount.get()
      assert(readsPath(q, mv), "query must route")   // forces optimization
      val after = MaterializedView.walkCount.get()
      assert(after == before,
        s"optimizer freshness probe walked the filesystem ${after - before} " +
          "times — it must fingerprint the query's own file index instead")
    } finally {
      MaterializedView.drop("mv_nowalk_a")
      MaterializedView.drop("mv_nowalk_b")
    }
  }

  test("a 3-table star chain routes under any orientation or association") {
    import MaterializedView.MvJoin
    val fact = freshDir("star3/fact"); val d1 = freshDir("star3/d1")
    val d2 = freshDir("star3/d2"); val mv = freshDir("star3/mv")
    // lineitem-shaped chain: item -> order -> customer
    Seq((1L, 100L, 2.0), (2L, 100L, 3.0), (3L, 200L, 5.0))
      .toDF("l_id", "l_ord", "l_amt").write.mode("overwrite").parquet(fact)
    Seq((100L, 77L), (200L, 88L))
      .toDF("o_id", "o_cust").write.mode("overwrite").parquet(d1)
    Seq((77L, "gold"), (88L, "iron"))
      .toDF("c_id", "c_tier").write.mode("overwrite").parquet(d2)
    MaterializedView.create(spark, "mv_star3", fact,
      groupCols = Seq("c_tier"),
      aggs = Seq(MvAgg("count_star", outCol = "n"),
        MvAgg("sum", "l_amt", Some("decimal(18,6)"), outCol = "amt")),
      mvPath = mv,
      joins = Seq(
        MvJoin(d1, Seq("l_ord"), Seq("o_id")),
        MvJoin(d2, Seq("o_cust"), Seq("c_id"))))
    val f = spark.read.parquet(fact)
    val o = spark.read.parquet(d1)
    val c = spark.read.parquet(d2)
    def agg(df: DataFrame) = df.groupBy("c_tier")
      .agg(count(lit(1)).as("n"),
        sum(col("l_amt").cast(DecimalType(18, 6))).as("amt"))
    def canon(df: DataFrame) = df.orderBy("c_tier").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).toPlainString)).toSeq
    val want = Seq(("gold", 2L, "5.000000"), ("iron", 1L, "5.000000"))
    try withRouting {
      // left-deep, the declared order
      val q1 = agg(f.join(o, f("l_ord") === o("o_id"))
        .join(c, o("o_cust") === c("c_id")))
      assert(readsPath(q1, mv), "left-deep star must route")
      assert(canon(q1) == want)
      // right-deep association: f ⋈ (o ⋈ c)
      val q2 = agg(f.join(o.join(c, o("o_cust") === c("c_id")),
        f("l_ord") === o("o_id")))
      assert(readsPath(q2, mv), "right-deep star must route")
      assert(canon(q2) == want)
      // reversed orientation: c ⋈ o ⋈ f
      val q3 = agg(c.join(o, o("o_cust") === c("c_id"))
        .join(f, f("l_ord") === o("o_id")))
      assert(readsPath(q3, mv), "reversed star must route")
      assert(canon(q3) == want)
      // a DIFFERENT key pairing stands down
      val q4 = agg(f.join(o, f("l_id") === o("o_id"))
        .join(c, o("o_cust") === c("c_id")))
      assert(!readsPath(q4, mv))
      // a 2-table prefix of the 3-table view stands down (shape differs)
      val q5 = f.join(o, f("l_ord") === o("o_id"))
        .groupBy("o_cust").agg(count(lit(1)).as("n"))
      assert(!readsPath(q5, mv))
      // rollup composes with the star: the GLOBAL total re-aggregates
      // the 2-row view instead of re-running the 3-way join
      val q6 = f.join(o, f("l_ord") === o("o_id"))
        .join(c, o("o_cust") === c("c_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_amt").cast(DecimalType(18, 6))).as("amt"))
      assert(readsPath(q6, mv), "global star rollup must route")
      assert(q6.collect().map(r =>
        (r.getLong(0), r.getDecimal(1).toPlainString)).toSeq ==
        Seq((3L, "10.000000")))
    } finally MaterializedView.drop("mv_star3")
  }

  test("rollup routing: a coarser grouping re-aggregates the view, never the base") {
    val base = freshDir("rollup/base"); val mv = freshDir("rollup/mv")
    Seq(
      ("a", "x", 1L, 1.5), ("a", "x", 2L, 2.5), ("a", "y", 3L, 4.5),
      ("b", "x", 4L, 10.0), ("b", "y", 5L, -1.0), ("c", "y", 6L, 0.25))
      .toDF("k", "k2", "n", "v").write.mode("overwrite").parquet(base)
    MaterializedView.create(spark, "mv_rollup", base,
      groupCols = Seq("k", "k2"),
      aggs = Seq(
        MvAgg("count_star", outCol = "cnt"),
        MvAgg("count", "v", outCol = "cnt_v"),
        MvAgg("count", "v", Some("decimal(18,6)"), outCol = "cnt_v_dec"),
        MvAgg("sum", "v", Some("decimal(18,6)"), outCol = "sv"),
        MvAgg("min", "n", outCol = "mn"),
        MvAgg("max", "n", outCol = "mx")),
      mvPath = mv)
    def direct[A](f: => A): A = {
      spark.conf.set(MaterializedViewRule.ConfKey, "false")
      try f finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
    }
    try withRouting {
      // subset grouping (k only): counts/sums re-sum, min/max re-merge
      def coarse() = spark.read.parquet(base).groupBy("k")
        .agg(count(lit(1)).as("cnt"),
          sum(col("v").cast(DecimalType(18, 6))).as("sv"),
          min(col("n")).as("mn"), max(col("n")).as("mx"))
      val q = coarse()
      assert(readsPath(q, mv) && !readsPath(q, base),
        "coarser grouping must re-aggregate the view")
      def canon(df: DataFrame) = df.orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString, r.getLong(3), r.getLong(4))).toSeq
      assert(canon(q) == direct(canon(coarse())))
      // the OTHER dimension alone also rolls up
      val q2 = spark.read.parquet(base).groupBy("k2")
        .agg(count(col("v")).as("cnt_v"))
      assert(readsPath(q2, mv) && !readsPath(q2, base))
      assert(q2.orderBy("k2").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("x", 3L), ("y", 3L)))
      // GLOBAL aggregate (no grouping): the full-table rollup
      val qg = spark.read.parquet(base)
        .agg(count(lit(1)).as("cnt"), max(col("n")).as("mx"))
      assert(readsPath(qg, mv) && !readsPath(qg, base),
        "a global aggregate must roll the whole view up")
      assert(qg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((6L, 6L)))
      // avg rolls up through the re-summed (sum, count) pair, bit-exact
      def avgQ() = spark.read.parquet(base).groupBy("k")
        .agg(avg(col("v").cast(DecimalType(18, 6))).as("m"))
      val qa = avgQ()
      assert(readsPath(qa, mv) && !readsPath(qa, base), "avg must roll up")
      def canonA(df: DataFrame) = df.orderBy("k").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString)).toSeq
      assert(canonA(qa) == direct(canonA(avgQ())))
      // an aggregate the view cannot derive stands the rollup down
      val qBad = spark.read.parquet(base).groupBy("k")
        .agg(count(col("n")).as("c")) // count(n) is not stored
      assert(!readsPath(qBad, mv))
      // group-column filters compose with the rollup (whole view rows)
      val qf = spark.read.parquet(base).where(col("k2") === "x")
        .groupBy("k").agg(count(lit(1)).as("cnt"))
      assert(readsPath(qf, mv) && !readsPath(qf, base))
      assert(qf.orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 2L), ("b", 1L)))
      // a filter selecting NO groups: the global count must answer 0
      // like the direct plan, not Sum-of-partials' null-on-empty
      val qEmpty = spark.read.parquet(base).where(col("k") === "zzz")
        .agg(count(lit(1)).as("cnt"))
      assert(readsPath(qEmpty, mv) && !readsPath(qEmpty, base))
      val gotEmpty = qEmpty.collect().head
      assert(!gotEmpty.isNullAt(0) && gotEmpty.getLong(0) == 0L,
        s"empty-selection rollup count must be 0, got $gotEmpty")
    } finally MaterializedView.drop("mv_rollup")
  }

  test("rollup routing rolls a time-bucketed dimension away") {
    import MaterializedView.MvGroupExpr
    val base = freshDir("rollup2/base"); val mv = freshDir("rollup2/mv")
    Seq(
      ("a", java.sql.Timestamp.valueOf("2026-01-01 10:15:00"), 1.0),
      ("a", java.sql.Timestamp.valueOf("2026-01-01 11:45:00"), 2.0),
      ("b", java.sql.Timestamp.valueOf("2026-01-01 10:59:00"), 8.0))
      .toDF("k", "ts", "v").write.mode("overwrite").parquet(base)
    MaterializedView.create(spark, "mv_rollup_h", base,
      groupCols = Seq("k"),
      aggs = Seq(MvAgg("count_star", outCol = "cnt"),
        MvAgg("sum", "v", Some("decimal(18,6)"), outCol = "sv")),
      mvPath = mv,
      groupExprs = Seq(MvGroupExpr("h", "date_trunc('hour', ts)")))
    try withRouting {
      // the hour dimension rolled away: per-key totals from the hourly view
      val q = spark.read.parquet(base).groupBy("k")
        .agg(count(lit(1)).as("cnt"),
          sum(col("v").cast(DecimalType(18, 6))).as("sv"))
      assert(readsPath(q, mv) && !readsPath(q, base),
        "per-key totals must come from the hourly view")
      assert(q.orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString)).toSeq ==
        Seq(("a", 2L, "3.000000"), ("b", 1L, "8.000000")))
      // grouping by the hour template alone (key rolled away) also serves
      val qh = spark.read.parquet(base)
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("cnt"))
      assert(readsPath(qh, mv) && !readsPath(qh, base))
      assert(qh.orderBy("h").collect().map(_.getLong(1)).toSeq == Seq(2L, 1L))
      // COARSER time bucket: daily totals re-truncate the stored hour —
      // date_trunc('day', h) ≡ date_trunc('day', ts) because hour nests
      // into day — so the hourly view serves the daily rollup too
      val qd = spark.read.parquet(base)
        .groupBy(col("k"), date_trunc("day", col("ts")).as("d"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("v").cast(DecimalType(18, 6))).as("sv"))
      assert(readsPath(qd, mv) && !readsPath(qd, base),
        "a daily rollup must re-truncate the hourly view")
      assert(qd.orderBy("k").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDecimal(3).toPlainString)).toSeq ==
        Seq(("a", "2026-01-01 00:00:00.0", 2L, "3.000000"),
          ("b", "2026-01-01 00:00:00.0", 1L, "8.000000")))
      // monthly from hourly also nests; a week query over a MONTH view
      // would not — pin the nesting guard at the unit level instead: a
      // view storing WEEK buckets must refuse a monthly query
      val mvW = freshDir("rollup2/mvW")
      MaterializedView.create(spark, "mv_rollup_w", base,
        groupCols = Seq("k"),
        aggs = Seq(MvAgg("count_star", outCol = "cnt")),
        mvPath = mvW,
        groupExprs = Seq(MvGroupExpr("w", "date_trunc('week', ts)")))
      try {
        val qm = spark.read.parquet(base)
          .groupBy(date_trunc("month", col("ts")).as("m"))
          .agg(count(lit(1)).as("cnt"))
        assert(!readsPath(qm, mvW),
          "weeks straddle month boundaries — month-from-week must stand down")
        // but a month query still routes from the HOURLY view
        assert(readsPath(qm, mv) && !readsPath(qm, base))
        assert(qm.collect().map(_.getLong(1)).toSeq == Seq(3L))
      } finally MaterializedView.drop("mv_rollup_w")
      // finer-than-stored stands down outright (minute from hourly)
      val qMin = spark.read.parquet(base)
        .groupBy(date_trunc("minute", col("ts")).as("m"))
        .agg(count(lit(1)).as("cnt"))
      assert(!readsPath(qMin, mv))
    } finally MaterializedView.drop("mv_rollup_h")
  }

  test("hll-sketch views serve distinct-count rollups from stored partials") {
    val base = freshDir("sketch/base"); val mv = freshDir("sketch/mv")
    // 3 keys × 2 subkeys, overlapping user sets across subkeys — the
    // rollup union must DEDUPLICATE across merged groups, which a
    // stored count-distinct never could (the sketch makes it algebraic)
    (0 until 600).map(i => (s"k${i % 3}", s"s${i % 2}", (i % 50).toLong))
      .toDF("k", "k2", "u").write.mode("overwrite").parquet(base)
    MaterializedView.create(spark, "mv_sketch", base,
      groupCols = Seq("k", "k2"),
      aggs = Seq(
        MvAgg("count_star", outCol = "cnt"),
        MvAgg("hll_sketch", "u", outCol = "uhll", lgK = Some(12))),
      mvPath = mv)
    def direct[A](f: => A): A = {
      spark.conf.set(MaterializedViewRule.ConfKey, "false")
      try f finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
    }
    try withRouting {
      // exact grouping: the estimate wraps the STORED sketch column
      def exactQ() = spark.read.parquet(base).groupBy("k", "k2")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12))).as("nd"))
      val qe = exactQ()
      assert(readsPath(qe, mv) && !readsPath(qe, base),
        "sketch estimate over the exact grouping must route")
      def canon2(df: DataFrame) = df.orderBy("k", "k2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      assert(canon2(qe) == direct(canon2(exactQ())))
      // coupon-exact fixture: the estimate IS the true distinct count
      assert(canon2(qe) == direct(
        spark.read.parquet(base).groupBy("k", "k2")
          .agg(countDistinct(col("u")).as("nd")).orderBy("k", "k2").collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq))
      // ROLLUP: per-k distinct users re-union the stored sketches —
      // user sets overlap across k2, so a sum of counts would be WRONG;
      // the union deduplicates
      def rollQ() = spark.read.parquet(base).groupBy("k")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12))).as("nd"))
      val qr = rollQ()
      assert(readsPath(qr, mv) && !readsPath(qr, base),
        "sketch rollup must route")
      def canon1(df: DataFrame) = df.orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(canon1(qr) == direct(canon1(rollQ())))
      assert(canon1(qr) == direct(
        spark.read.parquet(base).groupBy("k")
          .agg(countDistinct(col("u")).as("nd")).orderBy("k").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq))
      // global distinct: the whole-table union
      val qg = spark.read.parquet(base)
        .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12))).as("nd"))
      assert(readsPath(qg, mv) && !readsPath(qg, base))
      assert(qg.collect().head.getLong(0) == 50L)
      // a different lgK is a different error bound: stand down
      val qBad = spark.read.parquet(base).groupBy("k")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(13))).as("nd"))
      assert(!readsPath(qBad, mv))
      // compound scalar structure around served aggregates routes too
      val qc = spark.read.parquet(base).groupBy("k")
        .agg((count(lit(1)) * lit(10L)).as("c10"))
      assert(readsPath(qc, mv) && !readsPath(qc, base),
        "arithmetic over served aggregates must route")
      assert(canon1(qc) == Seq(("k0", 2000L), ("k1", 2000L), ("k2", 2000L)))
      // absorb folds a delta's sketch partials by idempotent union
      val delta = (600 until 700).map(i => (s"k${i % 3}", s"s${i % 2}", (i % 80).toLong))
      delta.toDF("k", "k2", "u").write.mode("append").parquet(base)
      MaterializedView.absorb(spark, "mv_sketch", delta.toDF("k", "k2", "u"))
      val qAfter = rollQ()
      assert(readsPath(qAfter, mv), "absorb must re-arm sketch routing")
      assert(canon1(qAfter) == direct(
        spark.read.parquet(base).groupBy("k")
          .agg(countDistinct(col("u")).as("nd")).orderBy("k").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq),
        "absorbed sketch estimates must stay coupon-exact")
    } finally MaterializedView.drop("mv_sketch")
  }

  test("the advisor's one recommendation serves its whole workload") {
    val base = freshDir("advise/base"); val mv = freshDir("advise/mv")
    Seq(
      ("a", java.sql.Timestamp.valueOf("2026-01-01 10:15:00"), 1.5),
      ("a", java.sql.Timestamp.valueOf("2026-01-01 10:45:00"), 2.5),
      ("a", java.sql.Timestamp.valueOf("2026-01-01 11:05:00"), 4.0),
      ("b", java.sql.Timestamp.valueOf("2026-01-01 10:59:00"), 8.0))
      .toDF("k", "ts", "v").write.mode("overwrite").parquet(base)
    def w1 = spark.read.parquet(base).groupBy("k")
      .agg(sum(col("v").cast(DecimalType(18, 6))).as("sv"))
    def w2 = spark.read.parquet(base)
      .groupBy(col("k"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        avg(col("v").cast(DecimalType(18, 6))).as("m"))
    def w3 = spark.read.parquet(base).agg(count(lit(1)).as("n"))
    // an UNSERVABLE query (distinct agg) must not poison the cluster
    val w4 = spark.read.parquet(base).groupBy("k")
      .agg(countDistinct(col("v")).as("nd"))
    val advice = MaterializedView.advise(spark, Seq(w1, w2, w3, w4))
    assert(advice.size == 1, s"expected one clustered advice, got $advice")
    val a = advice.head
    assert(a.groupCols == Seq("k") && a.groupExprs.map(_.name) == Seq("ts_hour"))
    assert(a.nQueries == 3, "the distinct-agg query is not servable")
    assert(a.viewRows == 3L && a.baseRows == 4L) // (k × hour) groups
    val aggFuncs = a.aggs.map(x => (x.func, x.inputCol)).toSet
    assert(aggFuncs == Set(("sum", "v"), ("count", "v"), ("count_star", "")),
      s"advice aggregates off: ${a.aggs}")
    // the loop closes: create from the advice, the workload routes
    MaterializedView.create(spark, "mv_advised", a.basePath, a.groupCols,
      a.aggs, mv, a.groupExprs, a.joins)
    try withRouting {
      for ((q, label) <- Seq((w1, "w1"), (w2, "w2"), (w3, "w3")))
        assert(readsPath(q, mv) && !readsPath(q, base),
          s"advised view must serve $label")
      assert(!readsPath(w4, mv), "the unservable query stays direct")
      assert(w2.orderBy("k", "h").collect().map(r =>
        (r.getString(0), r.getLong(2), r.getDecimal(3).toPlainString)).toSeq ==
        Seq(("a", 2L, "2.0000000000"), ("a", 1L, "4.0000000000"),
          ("b", 1L, "8.0000000000")))
      assert(w3.collect().head.getLong(0) == 4L)
    } finally MaterializedView.drop("mv_advised")
  }

  test("the advisor reconstructs a star chain and its advice serves the join workload") {
    import MaterializedView.MvJoin
    val fact = freshDir("advisej/fact"); val dim = freshDir("advisej/dim")
    val mv = freshDir("advisej/mv")
    Seq((1L, 10L, 2.0), (2L, 10L, 3.0), (3L, 20L, 5.0))
      .toDF("o_id", "o_cust", "o_amt").write.mode("overwrite").parquet(fact)
    Seq((10L, "gold"), (20L, "iron"))
      .toDF("c_id", "c_tier").write.mode("overwrite").parquet(dim)
    def star(df: DataFrame => DataFrame) = {
      val f = spark.read.parquet(fact); val c = spark.read.parquet(dim)
      df(f.join(c, f("o_cust") === c("c_id")))
    }
    def w1 = star(_.groupBy("c_tier")
      .agg(sum(col("o_amt").cast(DecimalType(18, 6))).as("amt")))
    def w2 = star(_.agg(count(lit(1)).as("n")))
    val advice = MaterializedView.advise(spark, Seq(w1, w2))
    assert(advice.size == 1, s"one star cluster expected, got $advice")
    val a = advice.head
    assert(a.joins.size == 1 && a.joins.head.rightPath.contains(dim),
      s"chain must join the dim: ${a.joins}")
    assert(a.joins.head.leftKeys == Seq("o_cust") &&
      a.joins.head.rightKeys == Seq("c_id"),
      s"chain orientation wrong: ${a.joins}")
    assert(a.groupCols == Seq("c_tier") && a.viewRows == 2L && a.baseRows == 3L)
    MaterializedView.create(spark, "mv_advised_star", a.basePath,
      a.groupCols, a.aggs, mv, a.groupExprs, a.joins)
    try withRouting {
      assert(readsPath(w1, mv) && !readsPath(w1, fact), "star rollup must route")
      assert(readsPath(w2, mv), "global star count must route")
      assert(w2.collect().head.getLong(0) == 3L)
      assert(w1.orderBy("c_tier").collect().map(r =>
        (r.getString(0), r.getDecimal(1).toPlainString)).toSeq ==
        Seq(("gold", "5.000000"), ("iron", "5.000000")))
    } finally MaterializedView.drop("mv_advised_star")
  }

  test("kll views serve quantile rollups exactly below the k bound") {
    import graft.plans.KllSketchExprs._
    val base = freshDir("kll/base"); val mv = freshDir("kll/mv")
    // ≤ 40 values per final group, default k=200: the sketch never
    // compacts, so quantiles are exact order statistics and routed
    // must equal direct bit-for-bit
    (0 until 120).map(i => (s"k${i % 3}", s"s${i % 2}", (i * 7 % 100).toDouble))
      .toDF("k", "k2", "v").write.mode("overwrite").parquet(base)
    MaterializedView.create(spark, "mv_kll", base,
      groupCols = Seq("k", "k2"),
      aggs = Seq(
        MvAgg("count_star", outCol = "cnt"),
        MvAgg("kll", "v", outCol = "vkll")),
      mvPath = mv)
    def direct[A](f: => A): A = {
      spark.conf.set(MaterializedViewRule.ConfKey, "false")
      try f finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
    }
    try withRouting {
      def exactQ() = spark.read.parquet(base).groupBy("k", "k2")
        .agg(kllQuantile(kllAgg(col("v")), lit(0.5)).as("p50"))
      val qe = exactQ()
      assert(readsPath(qe, mv) && !readsPath(qe, base),
        "kll quantile over the exact grouping must route")
      def canon2(df: DataFrame) = df.orderBy("k", "k2").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      assert(canon2(qe) == direct(canon2(exactQ())))
      // rollup: per-k quantiles from MERGED stored sketches
      def rollQ() = spark.read.parquet(base).groupBy("k")
        .agg(kllQuantile(kllAgg(col("v")), lit(0.5)).as("p50"),
          kllQuantile(kllAgg(col("v")), lit(0.95)).as("p95"))
      val qr = rollQ()
      assert(readsPath(qr, mv) && !readsPath(qr, base),
        "kll rollup must route")
      def canon1(df: DataFrame) = df.orderBy("k").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(canon1(qr) == direct(canon1(rollQ())),
        "below-k merged quantiles must equal the direct build exactly")
      // a different k is a different error bound: stand down
      val qBad = spark.read.parquet(base).groupBy("k")
        .agg(kllQuantile(kllAgg(col("v"), 400), lit(0.5)).as("p50"))
      assert(!readsPath(qBad, mv))
    } finally MaterializedView.drop("mv_kll")
  }

  test("cost-based selection: the smallest servable view wins") {
    val base = freshDir("cost/base")
    val mvWide = freshDir("cost/mv_wide"); val mvSmall = freshDir("cost/mv_small")
    // many (k2) groups vs few (k) groups over the same base
    (1 to 512).map(i => (s"g${i % 4}", s"s$i", i.toLong))
      .toDF("k", "k2", "n").write.mode("overwrite").parquet(base)
    // WIDE view: grouped by (k, k2) — 512 rows; declared groupCols must
    // cover the query grouping exactly, so give both views the same
    // single grouping column but different stored widths: the wide one
    // carries an extra fat aggregate column
    MaterializedView.create(spark, "mv_cost_wide", base, Seq("k"),
      Seq(MvAgg("count_star", outCol = "cnt"),
        MvAgg("min", "k2", outCol = "mn2"),
        MvAgg("max", "k2", outCol = "mx2"),
        MvAgg("sum", "n", outCol = "sn"),
        MvAgg("min", "n", outCol = "mnn"),
        MvAgg("max", "n", outCol = "mxn")), mvWide)
    MaterializedView.create(spark, "mv_cost_small", base, Seq("k"),
      Seq(MvAgg("count_star", outCol = "cnt")), mvSmall)
    try withRouting {
      val sizeOf = (n: String) =>
        MaterializedView.get(n).get.relation.relation.sizeInBytes
      assert(sizeOf("mv_cost_small") < sizeOf("mv_cost_wide"))
      val q = spark.read.parquet(base).groupBy("k")
        .agg(count(lit(1)).as("cnt"))
      assert(readsPath(q, mvSmall) && !readsPath(q, mvWide),
        "both views serve count(*) — the smaller stored table must win")
      // a query needing the wide view's columns still routes there
      val qw = spark.read.parquet(base).groupBy("k")
        .agg(sum(col("n")).as("sn"))
      assert(readsPath(qw, mvWide))
    } finally {
      MaterializedView.drop("mv_cost_wide")
      MaterializedView.drop("mv_cost_small")
    }
  }

  test("a failed recompute keeps the prior registration serving") {
    val base = freshDir("restore/base"); val mv = freshDir("restore/mv")
    writeBase(base, rows)
    define("mv_restore", base, mv)
    val before = MaterializedView.get("mv_restore").get
    try {
      // recompute against a column the base does not have: the defining
      // query fails, and the catalog must still hold the old generation
      intercept[Exception] {
        MaterializedView.create(spark, "mv_restore", base, Seq("k"),
          Seq(MvAgg("sum", "no_such_column", None, outCol = "s")), mv)
      }
      val after = MaterializedView.get("mv_restore")
      assert(after.map(_.dataDir).contains(before.dataDir),
        "failed create must restore the prior registration")
      withRouting(assert(readsPath(query(base), mv),
        "prior generation must keep routing after a failed recompute"))
    } finally MaterializedView.drop("mv_restore")
  }

  test("vacuum keeps the generation the persisted definition points at") {
    val base = freshDir("vac/base"); val mv = freshDir("vac/mv")
    writeBase(base, rows)
    define("mv_vac", base, mv) // v=1, committed
    val gen1 = MaterializedView.get("mv_vac").get.dataDir
    try {
      // orphan: a crashed writer's data directory with no commit —
      // occupies v=2 but nothing points at it
      val orphan = new java.io.File(s"$mv/v=2")
      orphan.mkdirs()
      new java.io.FileOutputStream(new java.io.File(orphan, "junk.bin"))
        .close()
      MaterializedView.refresh(spark, "mv_vac") // publishes v=3
      val gen3 = MaterializedView.get("mv_vac").get.dataDir
      assert(gen3 != gen1)
      // the orphan is vacuumed; v=1 (the pre-refresh commit — and any
      // plan optimized against it) survives
      assert(!orphan.exists(), "orphan generation must be vacuumed")
      assert(new java.io.File(gen1).exists(),
        "the previously-persisted generation must survive the vacuum")
      // a second refresh retires v=1 (two newer commits exist)
      MaterializedView.refresh(spark, "mv_vac")
      assert(!new java.io.File(gen1).exists())
      assert(new java.io.File(gen3).exists())
    } finally MaterializedView.drop("mv_vac")
  }

  test("SQL text gets the same routing as the DataFrame API") {
    val base = freshDir("sql/base"); val mv = freshDir("sql/mv")
    writeBase(base, rows)
    define("mv_sql", base, mv)
    spark.read.parquet(base).createOrReplaceTempView("mv_sql_base")
    try withRouting {
      val q = spark.sql(
        """SELECT k, count(1) AS cnt, max(n) AS mx
          |FROM mv_sql_base GROUP BY k""".stripMargin)
      assert(readsPath(q, mv))
      assert(q.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("a", 2L, 2L), ("b", 1L, 3L), ("c", 1L, 4L)))
      // the GLOBAL rollup through SQL text re-aggregates the view
      val qg = spark.sql("SELECT count(1) AS cnt FROM mv_sql_base")
      assert(readsPath(qg, mv) && !readsPath(qg, base),
        "SQL global aggregate must roll the view up")
      assert(qg.collect().head.getLong(0) == 4L)
      // HAVING filters sit ABOVE the rewritten aggregate and keep
      // resolving against the preserved output ids
      val qh = spark.sql(
        """SELECT k, count(1) AS cnt FROM mv_sql_base
          |GROUP BY k HAVING count(1) > 1""".stripMargin)
      assert(readsPath(qh, mv) && !readsPath(qh, base),
        "a HAVING query must route through the preserved expr ids")
      assert(qh.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 2L)))
    } finally {
      MaterializedView.drop("mv_sql")
      spark.catalog.dropTempView("mv_sql_base")
    }
  }

  test("streamed maintenance keeps sketch views serving exact distincts") {
    val base = freshDir("skstream/base"); val mv = freshDir("skstream/mv")
    (0 until 200).map(i => (s"k${i % 2}", (i % 40).toLong))
      .toDF("k", "u").write.mode("overwrite").parquet(base)
    MaterializedView.create(spark, "mv_skstream", base,
      groupCols = Seq("k"),
      aggs = Seq(MvAgg("count_star", outCol = "cnt"),
        MvAgg("hll_sketch", "u", outCol = "uhll", lgK = Some(12))),
      mvPath = mv)
    try withRouting {
      // two appended batches extend the user range; union absorb must
      // track the growing distinct set exactly (coupon mode)
      for (d <- Seq((200 until 260), (260 until 330)))
        d.map(i => (s"k${i % 2}", (i % 90).toLong)).toDF("k", "u")
          .coalesce(1).write.mode("append").parquet(base)
      val q = graft.streaming.MvStream.maintain(
          spark.readStream.schema(spark.read.parquet(base).schema)
            .option("maxFilesPerTrigger", "1").parquet(base),
          "mv_skstream",
          checkpoint = freshDir("skstream/ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val routed = spark.read.parquet(base).groupBy("k")
        .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12))).as("nd"))
      assert(readsPath(routed, mv), "caught-up sketch view must route")
      val got = routed.orderBy("k").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try spark.read.parquet(base).groupBy("k")
          .agg(countDistinct(col("u")).as("nd")).orderBy("k").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(got == want, s"streamed sketch view diverged:\n  $got\n  $want")
    } finally MaterializedView.drop("mv_skstream")
  }

  test("STREAM restart in either absorb window: join-backed sketch view stays exactly-once") {
    // The batch-level chaos spec above drives absorb directly; this one
    // drives the SAME two kill windows through a real restarted
    // streaming query, over the hardest view shape — join-backed with
    // an HLL sketch column (the hll-union idempotence claim). Windows:
    //   (A) absorb fully committed (generation + ledger) but the stream
    //       died before the CHECKPOINT commit → the restarted stream
    //       replays the batch; the file ledger and the persisted batch
    //       guard must make it a state-level no-op (no republish, no
    //       double union);
    //   (B) the stream died INSIDE absorb — generation written, ledger
    //       NOT republished, checkpoint not committed → the restart
    //       must re-fold the batch exactly once and vacuum the orphan
    //       generation.
    import MaterializedView.MvJoin
    import org.apache.spark.sql.streaming.Trigger
    val fact = freshDir("mvsk/fact"); val dim = freshDir("mvsk/dim")
    val mv = freshDir("mvsk/mv"); val ckpt = freshDir("mvsk/ckpt")
    (0 until 120).map(i => (i.toLong, (i % 3) * 10L, (i % 37).toLong, (i % 10) / 2.0))
      .toDF("o_id", "o_cust", "o_user", "o_amt")
      .coalesce(2).write.mode("overwrite").parquet(fact)
    Seq((0L, "gold"), (10L, "iron"), (20L, "clay"))
      .toDF("c_id", "c_tier").write.mode("overwrite").parquet(dim)
    MaterializedView.create(spark, "mv_skchaos", fact,
      groupCols = Seq("c_tier"),
      aggs = Seq(MvAgg("count_star", outCol = "n"),
        MvAgg("sum", "o_amt", Some("decimal(18,6)"), outCol = "amt"),
        MvAgg("hll_sketch", "o_user", outCol = "uhll", lgK = Some(12))),
      mvPath = mv,
      joins = Seq(MvJoin(dim, Seq("o_cust"), Seq("c_id"))))
    def gensOf(): Set[String] = MaterializedViewSpec.this.gensOf(mv)
    def appendFact(lo: Int, hi: Int): Unit =
      (lo until hi).map(i => (i.toLong, (i % 3) * 10L, (i % 91).toLong, (i % 10) / 2.0))
        .toDF("o_id", "o_cust", "o_user", "o_amt")
        .coalesce(1).write.mode("append").parquet(fact)
    def runStream(tag: String): Unit = {
      val _ = tag // phase label for the call sites
      val q = graft.streaming.MvStream.maintain(
          spark.readStream.schema(spark.read.parquet(fact).schema)
            .option("maxFilesPerTrigger", "1").parquet(fact),
          "mv_skchaos", checkpoint = ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def restartJvm(): Unit = { // process death: only the disk survives
      MaterializedView.drop("mv_skchaos")
      MaterializedView.load(spark, mv)
      ()
    }
    def checkServes(): Unit = withRouting {
      val factDf = spark.read.parquet(fact); val dimDf = spark.read.parquet(dim)
      def joined = factDf.join(dimDf, factDf("o_cust") === dimDf("c_id"))
      val routed = joined.groupBy("c_tier")
        .agg(count(lit(1)).as("n"),
          sum(col("o_amt").cast(DecimalType(18, 6))).as("amt"),
          hll_sketch_estimate(hll_sketch_agg(col("o_user"), lit(12))).as("nd"))
      assert(readsPath(routed, mv), "recovered sketch view must route")
      def canon(df: DataFrame) = df.orderBy("c_tier").collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
      val direct = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try canon(joined.groupBy("c_tier")
          .agg(count(lit(1)).as("n"),
            sum(col("o_amt").cast(DecimalType(18, 6))).as("amt"),
            countDistinct(col("o_user")).as("nd")))
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(canon(routed) == direct,
        s"restarted sketch view diverged:\n  ${canon(routed)}\n  $direct")
    }
    // A real process death restarts with a COLD checkpoint-log cache;
    // in-JVM, Spark's per-path metadata cache would see the deleted
    // commit as a concurrent writer — disable it to make the restart
    // faithful to the crash being simulated.
    val cacheKey = "spark.sql.streaming.metadataCache.enabled"
    val prevCache = spark.conf.getOption(cacheKey)
    spark.conf.set(cacheKey, "false")
    try {
      // ---- window A: checkpoint commit lost, absorb fully committed --
      appendFact(120, 160)
      runStream("A-initial")
      val ledgerA = java.nio.file.Files.readAllBytes(newestCommit(mv).toPath)
      val gensA = gensOf()
      val dataDirA = MaterializedView.get("mv_skchaos").get.dataDir
      val commits = new java.io.File(s"$ckpt/commits")
      val lastCommit = commits.listFiles()
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
      assert(lastCommit.delete(), "kill: last checkpoint commit lost")
      // a real crash writes neither the commit nor its checksum sidecar
      new java.io.File(commits, s".${lastCommit.getName}.crc").delete()
      restartJvm()
      runStream("A-restart") // replays the last batch with the same id
      assert(MaterializedView.get("mv_skchaos").get.dataDir == dataDirA,
        "a replayed committed batch must not republish (hll never re-unioned)")
      assert(java.util.Arrays.equals(
          java.nio.file.Files.readAllBytes(newestCommit(mv).toPath), ledgerA),
        "the ledger must be byte-identical after the replay no-op")
      checkServes()

      // ---- window B: kill INSIDE absorb (gen written, ledger old) ----
      val gensB = gensOf()
      appendFact(160, 200)
      runStream("B-crashed") // the "crashed" run: absorb publishes + commits
      uncommitNewest(mv) // the kill: the absorb's commit never landed
      val commitsB = new java.io.File(s"$ckpt/commits")
      val lastB = commitsB.listFiles()
        .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
      assert(lastB.delete(), "kill: checkpoint commit lost too")
      new java.io.File(commitsB, s".${lastB.getName}.crc").delete()
      val orphans = gensOf() -- gensB
      assert(orphans.nonEmpty, "the crashed absorb must leave its generation")
      restartJvm()
      runStream("B-restart") // replays the batch; ledger is BEHIND → real re-fold
      assert((gensOf() & orphans).isEmpty,
        "recovery's publish must vacuum the crashed generation")
      checkServes()

      // ---- the guard is not over-broad: a fresh append still lands --
      appendFact(200, 230)
      runStream("fresh-append")
      checkServes()
    } finally {
      MaterializedView.drop("mv_skchaos")
      prevCache match {
        case Some(v) => spark.conf.set(cacheKey, v)
        case None    => spark.conf.unset(cacheKey)
      }
    }
  }

  test("exactly-once chaos: a kill in either half of the commit window never double-counts") {
    // The streamed-maintenance commit sequence is: (1) write the new
    // generation's parquet, (2) commit its manifest (the ledger: the
    // definition, carrying lastBatchId), (3) the stream's checkpoint
    // commits the batch. A kill between (1) and (2) leaves an orphan
    // generation + the OLD ledger; a kill between (2) and (3) leaves
    // the NEW ledger but a checkpoint that will REPLAY the batch. The
    // view must equal the batch rebuild after recovery in BOTH cases.
    val base = freshDir("chaos/base"); val mv = freshDir("chaos/mv")
    writeBase(base, rows)
    define("mv_chaos", base, mv)
    def filesOf(): Seq[String] =
      new java.io.File(base).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    def gensOf(): Set[String] = MaterializedViewSpec.this.gensOf(mv)
    try withRouting {
      // batch 0 commits cleanly
      val before0 = filesOf().toSet
      Seq(("a", 50L, 3.0)).toDF("k", "n", "v")
        .coalesce(1).write.mode("append").parquet(base)
      val f0 = filesOf().filterNot(before0)
      MaterializedView.absorb(spark, "mv_chaos",
        spark.read.parquet(f0: _*), batchId = 0L, deltaFiles = Some(f0))
      val committedGens = gensOf()

      // ---- leg 1: kill between generation write and ledger commit ----
      // run the absorb, then take back its commit: the disk now holds
      // exactly what a kill after publish's parquet write but before
      // the commit leaves — an orphan generation, the old newest
      // definition, the old lastBatchId
      val before1 = filesOf().toSet
      Seq(("d", 51L, 4.0)).toDF("k", "n", "v")
        .coalesce(1).write.mode("append").parquet(base)
      val f1 = filesOf().filterNot(before1)
      def delta1 = spark.read.parquet(f1: _*)
      MaterializedView.absorb(spark, "mv_chaos", delta1,
        batchId = 1L, deltaFiles = Some(f1))
      uncommitNewest(mv) // the kill
      val orphans = gensOf() -- committedGens
      assert(orphans.nonEmpty, "the crashed publish must leave its generation")
      MaterializedView.drop("mv_chaos") // the process dies
      // restart: recovery sees batch 0's ledger, so the replay guard is
      // BEHIND the orphan write — and the checkpoint, which also never
      // committed, replays batch 1. It must fold exactly once.
      assert(MaterializedView.load(spark, mv).lastBatchId == 0L)
      MaterializedView.absorb(spark, "mv_chaos", delta1,
        batchId = 1L, deltaFiles = Some(f1))
      assert((gensOf() & orphans).isEmpty,
        "recovery's publish must vacuum the crash orphan (keep-set by exclusion)")

      // ---- leg 2: kill between ledger commit and checkpoint commit ----
      // restart again; the ledger now carries batch 1, and the replayed
      // batch must be a state-level no-op (no new generation, same id)
      MaterializedView.drop("mv_chaos")
      val recovered = MaterializedView.load(spark, mv)
      assert(recovered.lastBatchId == 1L)
      MaterializedView.absorb(spark, "mv_chaos", delta1,
        batchId = 1L, deltaFiles = Some(f1))
      val after = MaterializedView.get("mv_chaos").get
      assert(after.dataDir == recovered.dataDir && after.lastBatchId == 1L,
        "a replayed committed batch must not republish")

      // view ≡ batch rebuild: the routed answer, the direct aggregate,
      // and a from-scratch view built over the same base all agree
      val routed = query(base)
      assert(readsPath(routed, mv), "recovered view must route")
      val direct = {
        spark.conf.set(MaterializedViewRule.ConfKey, "false")
        try collectQ(query(base))
        finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
      }
      assert(collectQ(routed) == direct,
        s"chaos recovery diverged:\n  ${collectQ(routed)}\n  $direct")
      val rebuilt = define("mv_chaos_rebuild", base, freshDir("chaos/rebuild"))
      try {
        def stored(dir: String) = spark.read.parquet(dir)
          .orderBy("k").collect().map(_.toString).toSeq
        assert(stored(after.dataDir) == stored(rebuilt.dataDir),
          "recovered stored table must equal the batch rebuild row-for-row")
      } finally MaterializedView.drop("mv_chaos_rebuild")
      assert(collectQ(routed).find(_._1 == "a").get._4 == 50L)
      assert(collectQ(routed).map(_._1).contains("d"))
    } finally MaterializedView.drop("mv_chaos")
  }

  test("budgeted advisor: benefit ranking, prefix-budget selection, and the top pick routes") {
    val b1 = freshDir("budget/small"); val b2 = freshDir("budget/big")
    val mv = freshDir("budget/mv")
    // cluster 1: 8 rows / 2 groups, TWO servable queries -> benefit 2·(8−2)=12
    // cluster 2: 20 rows / 4 groups, one query            -> benefit 1·(20−4)=16
    (1 to 8).map(i => ("g" + (i % 2), i.toDouble)).toDF("k", "v")
      .write.mode("overwrite").parquet(b1)
    (1 to 20).map(i => ("h" + (i % 4), i.toDouble)).toDF("k", "v")
      .write.mode("overwrite").parquet(b2)
    def w1 = spark.read.parquet(b1).groupBy("k")
      .agg(sum(col("v").cast(DecimalType(18, 6))).as("sv"))
    def w2 = spark.read.parquet(b1).agg(count(lit(1)).as("n"))
    def w3 = spark.read.parquet(b2).groupBy("k").agg(count(lit(1)).as("n"))
    def rankedAt(budget: Long) =
      MaterializedView.adviseBudgeted(spark, Seq(w1, w2, w3), budget)
    val ranked = rankedAt(5L)
    assert(ranked.map(_.rank) == Seq(1, 2))
    assert(ranked.map(_.benefit) == Seq(16L, 12L),
      s"benefit = nQueries·(baseRows−viewRows): $ranked")
    assert(ranked.head.advice.basePath.contains("budget/big"))
    // budget 5: rank 1 fits (cum 4), rank 2 would overflow (cum 6)
    assert(ranked.map(_.selected) == Seq(true, false))
    // PREFIX rule: a budget rank 1 overflows blocks EVERYONE below it,
    // even a later view that would fit alone — rank order is priority
    // order, not a knapsack
    assert(rankedAt(3L).map(_.selected) == Seq(false, false))
    assert(rankedAt(0L).map(_.selected) == Seq(false, false))
    assert(rankedAt(100L).map(_.selected) == Seq(true, true))
    // the loop closes: create the top pick, its cluster routes
    val top = ranked.head.advice
    MaterializedView.create(spark, "mv_budget_top", top.basePath,
      top.groupCols, top.aggs, mv, top.groupExprs, top.joins)
    try withRouting {
      assert(readsPath(w3, mv) && !readsPath(w3, b2),
        "top pick must serve its cluster")
      assert(readsPath(w1, b1), "the unselected cluster stays direct")
      assert(w3.orderBy("k").collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("h0", 5L), ("h1", 5L), ("h2", 5L), ("h3", 5L)))
    } finally MaterializedView.drop("mv_budget_top")
  }

  /** The jobs `f` starts, counted with the listener bus drained on both
    * sides of the window. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    import org.apache.spark.GraftTestSparkBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftTestSparkBridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val a = f
      GraftTestSparkBridge.waitListenerBusEmpty(sc)
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The routed answer equals the direct aggregate over the live base. */
  private def assertServesLiveBase(base: String, mv: String): Unit = withRouting {
    val q = query(base)
    assert(readsPath(q, mv), "the view must route")
    val direct = {
      spark.conf.set(MaterializedViewRule.ConfKey, "false")
      try collectQ(query(base))
      finally spark.conf.set(MaterializedViewRule.ConfKey, "true")
    }
    assert(collectQ(q) == direct)
  }

  test("create reuses an unchanged view: same generation, no job; refresh still publishes") {
    val base = freshDir("reuse/base"); val mv = freshDir("reuse/mv")
    writeBase(base, rows)
    val first = define("mv_reuse", base, mv)
    try {
      val (again, jobs) = jobsDuring(define("mv_reuse", base, mv))
      assert(again.dataDir == first.dataDir)
      assert(again eq first, "the registration is returned as is")
      assert(jobs == 0, s"a reused create ran $jobs jobs")
      assert(gensOf(mv) == Set("v=1"))
      assertServesLiveBase(base, mv)
      assert(MaterializedView.refresh(spark, "mv_reuse").dataDir != first.dataDir,
        "refresh recomputes and publishes a new generation")
    } finally MaterializedView.drop("mv_reuse")
  }

  test("an appended, rewritten or deleted base file forces a rebuild") {
    val base = freshDir("rebuild/base"); val mv = freshDir("rebuild/mv")
    // two files, so one can be deleted and rows remain
    rows.take(2).toDF("k", "n", "v").coalesce(1).write.parquet(base)
    rows.drop(2).toDF("k", "n", "v").coalesce(1).write.mode("append").parquet(base)
    var dataDir = define("mv_rebuild", base, mv).dataDir
    def rebuilt(change: String): Unit = {
      val d = define("mv_rebuild", base, mv)
      assert(d.dataDir != dataDir, s"$change must publish a new generation")
      dataDir = d.dataDir
      assertServesLiveBase(base, mv)
    }
    try {
      Seq(("d", 5L, 4.0)).toDF("k", "n", "v").coalesce(1)
        .write.mode("append").parquet(base)
      rebuilt("an appended file")
      Seq(("a", 6L, 9.0), ("e", 7L, 1.0)).toDF("k", "n", "v").coalesce(1)
        .write.mode("overwrite").parquet(base)
      Seq(("f", 8L, 2.0)).toDF("k", "n", "v").coalesce(1)
        .write.mode("append").parquet(base)
      rebuilt("a rewritten base")
      val parts = new java.io.File(base).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(parts.length == 2)
      assert(parts.head.delete())
      rebuilt("a deleted file")
    } finally MaterializedView.drop("mv_rebuild")
  }

  test("a changed definition or join input forces a rebuild") {
    import MaterializedView.MvJoin
    val base = freshDir("redefine/base"); val mv = freshDir("redefine/mv")
    writeBase(base, rows)
    val first = define("mv_redefine", base, mv)
    val fact = freshDir("redefine/fact"); val dim = freshDir("redefine/dim")
    val jmv = freshDir("redefine/jmv")
    Seq((1L, 10L, 2.0), (2L, 20L, 3.0)).toDF("o_id", "o_cust", "o_amt")
      .write.parquet(fact)
    Seq((10L, "gold"), (20L, "iron")).toDF("c_id", "c_tier").write.parquet(dim)
    def defineJ() = MaterializedView.create(spark, "mv_redefine_j", fact,
      groupCols = Seq("c_tier"), aggs = Seq(MvAgg("count_star", outCol = "n")),
      mvPath = jmv, joins = Seq(MvJoin(dim, Seq("o_cust"), Seq("c_id"))))
    try {
      val narrower = MaterializedView.create(spark, "mv_redefine", base,
        Seq("k"), Seq(MvAgg("count_star", outCol = "cnt")), mv)
      assert(narrower.dataDir != first.dataDir)
      assert(narrower.aggs == Seq(MvAgg("count_star", outCol = "cnt")))
      val j1 = defineJ()
      assert(defineJ().dataDir == j1.dataDir, "an unchanged join view is reused")
      Seq((10L, "iron")).toDF("c_id", "c_tier").write.mode("overwrite").parquet(dim)
      val j2 = defineJ()
      assert(j2.dataDir != j1.dataDir, "a changed join input must rebuild")
      assert(spark.read.parquet(j2.dataDir).collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq == Seq(("iron", 1L)))
    } finally {
      MaterializedView.drop("mv_redefine")
      MaterializedView.drop("mv_redefine_j")
    }
  }

  test("after drop, create re-registers the committed generation from its manifest") {
    val base = freshDir("reregister/base"); val mv = freshDir("reregister/mv")
    writeBase(base, rows)
    val first = define("mv_reregister", base, mv)
    try {
      MaterializedView.drop("mv_reregister")
      val again = define("mv_reregister", base, mv)
      assert(again.dataDir == first.dataDir)
      assert(!(again eq first), "re-registered from the manifest")
      assert(gensOf(mv) == Set("v=1"))
      assert(MaterializedView.get("mv_reregister").map(_.dataDir).contains(first.dataDir))
      assertServesLiveBase(base, mv)
    } finally MaterializedView.drop("mv_reregister")
  }

  test("create after absorb answers the same as the direct aggregate") {
    val base = freshDir("reabsorb/base"); val mv = freshDir("reabsorb/mv")
    writeBase(base, rows)
    define("mv_reabsorb", base, mv)
    val delta = Seq(("a", 7L, 4.5), ("d", 8L, 3.0))
    try {
      delta.toDF("k", "n", "v").write.mode("append").parquet(base)
      val absorbed = MaterializedView.absorb(spark, "mv_reabsorb",
        delta.toDF("k", "n", "v"))
      val again = define("mv_reabsorb", base, mv)
      assert(again.dataDir == absorbed.dataDir,
        "the absorbed generation records the live base")
      assertServesLiveBase(base, mv)
    } finally MaterializedView.drop("mv_reabsorb")
  }
}
