package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** Streaming/batch equivalence: the bounded events Parquet pushed through
  * the streaming operators must reproduce the batch answers. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  // the streaming file source requires a *directory*; the driver tables
  // are single files, so stage a copy
  private lazy val eventsDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming hourly counts equal the batch aggregation") {
    val stream = EventsStream.hourlyCounts(
      EventsStream.readEvents(spark, eventsDir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly")
        .select("hour_start", "event_type", "n")
        .collect().map(_.toString).sorted.toSeq
      val want = Lake(spark, sf0001).events
        .withColumn("t", col("ts"))
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("hour_start"), col("event_type"), col("n"))
        .collect().map(_.toString).sorted.toSeq
      assert(got === want)
    } finally q.stop()
  }

  test("streaming gap sessionization equals the batch session_window answer") {
    val stream = EventsStream.sessionStats(
      EventsStream.readEvents(spark, eventsDir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select("user_id", "session_start", "n_events", "session_value")
        .collect().map(_.toString).sorted.toSeq
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val want = Lake(spark, sf0001).events
        .withColumn("t", col("ts"))
        .groupBy(session_window(col("t"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("session_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("session_value"))
        .collect().map(_.toString).sorted.toSeq
      assert(got === want)
      assert(got.size < Lake(spark, sf0001).events.count(),
        "sessions must group multiple events")
    } finally q.stop()
  }

  test("stream-static dimension join enriches each micro-batch") {
    val dim = Lake(spark, sf0001).customer
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = EventsStream.enrichWithDim(
        EventsStream.readEvents(spark, eventsDir), dim, "user_id", "c_custkey")
      .select(col("event_id"), col("c_mktsegment"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enriched").collect().map(_.toString).sorted.toSeq
      val want = Lake(spark, sf0001).events
        .join(dim, col("user_id") === col("c_custkey"), "left")
        .select(col("event_id"), col("c_mktsegment"))
        .collect().map(_.toString).sorted.toSeq
      assert(got === want)
      // fixture user ids all resolve in the dim -> fully enriched
      assert(spark.table("enriched").where(col("c_mktsegment").isNull).count() === 0)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup emits each event_id once") {
    val deduped = EventsStream.dedupByEventId(
      EventsStream.readEvents(spark, eventsDir))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup").count()
      val distinctIds = spark.table("dedup").select("event_id").distinct().count()
      assert(n === distinctIds)
      assert(n === Lake(spark, sf0001).events.count()) // fixture has no dups
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch formulation") {
    val joined = EventsStream.purchaseToError(
      EventsStream.readEvents(spark, eventsDir))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("p2e").start()
    try {
      q.processAllAvailable()
      val got = spark.table("p2e").collect().map(_.toString).sorted.toSeq
      val ev = Lake(spark, sf0001).events
        .withColumn("t", col("ts"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("t").as("p_t"))
      val e = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"),
          col("user_id").as("e_user"), col("t").as("e_t"))
      val want = p.join(e,
          col("p_user") === col("e_user") &&
            col("e_t") >= col("p_t") &&
            col("e_t") <= col("p_t") + expr("INTERVAL 30 MINUTES"))
        .select("purchase_id", "error_id", "p_user")
        .collect().map(_.toString).sorted.toSeq
      assert(got === want)
      assert(got.nonEmpty, "fixture should contain purchase->error sequences")
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched purchases after the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val events = input.toDF.toDF("event_id", "t", "user_id", "event_type")
    val joined = EventsStream.purchaseToErrorOuter(events)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("p2e_outer").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
      def ts(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)
      // user 1: purchase then error within 30m (matched)
      // user 2: purchase, no error ever (must STILL emit, with null error)
      input.addData(
        (100L, ts(0), 1L, "purchase"),
        (101L, ts(10), 1L, "error"),
        (200L, ts(0), 2L, "purchase"))
      q.processAllAvailable()
      // push BOTH sides' watermarks far past purchase-time + 30m + 2h so
      // the join can prove user 2's error will never arrive
      input.addData(
        (900L, ts(10 * 60), 9L, "purchase"),
        (901L, ts(10 * 60), 9L, "error"))
      q.processAllAvailable()
      val got = spark.table("p2e_outer")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got(100L) === Some(101L), "in-window pair matches")
      assert(got.contains(200L) && got(200L).isEmpty,
        "unmatched purchase emits with null error after watermark")
    } finally q.stop()
  }

  test("parquet file sink resumes exactly-once across restart") {
    import java.nio.file.{Files, Paths}
    val in = Files.createTempDirectory("sink_in")
    val sink = Files.createTempDirectory("sink_out").toString
    val ckpt = Files.createTempDirectory("sink_ckpt").toString
    val src = Paths.get(s"$sf0001/events.parquet")
    def transformed(stream: org.apache.spark.sql.DataFrame) =
      stream.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"),
          date_trunc("hour", col("t")).as("hour_start"))
    def runOnce(): Unit = {
      val q = transformed(EventsStream.readEvents(spark, in.toString))
        .writeStream.outputMode("append")
        .format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    Files.copy(src, in.resolve("batch1.parquet"))
    runOnce()
    // second file arrives while the query is DOWN; the restarted query
    // must pick it up from the checkpoint without reprocessing batch1
    Files.copy(src, in.resolve("batch2.parquet"))
    runOnce()
    val got = spark.read.parquet(sink)
      .groupBy("event_id").agg(count(lit(1)).as("n"))
    // each event appears exactly twice (two identical input files) — any
    // replay of batch1 on restart would show up as n > 2
    assert(got.where(col("n") =!= 2).count() === 0)
    val batch = Lake(spark, sf0001).events
      .where(col("event_type") === "purchase").count()
    assert(spark.read.parquet(sink).count() === 2 * batch)
  }

  test("streaming curation emits the same deduped fingerprint set as batch") {
    import graft.streaming.CurationStream
    import graft.operators.Curation
    val d = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      d.resolve("documents.parquet"))
    // sixteenths=16 keeps everything: survivor IDENTITY differs between
    // batch (min id) and stream (first arrival), so compare the
    // arrival-order-invariant outcome — the surviving fingerprint set
    val stream = CurationStream.curate(
      CurationStream.readDocs(spark, d.toString),
      Curation.Config(sampleSixteenths = 16))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("curated").start()
    try {
      q.processAllAvailable()
      val got = spark.table("curated").select("fp").collect()
        .map(_.getString(0)).toSet
      val want = Curation.curate(Lake(spark, sf0001).documents, "doc_id", "text",
          Curation.Config(sampleSixteenths = 16))
        .select("fp").collect().map(_.getString(0)).toSet
      assert(got === want)
      assert(got.nonEmpty)
      assert(spark.table("curated").count() === want.size) // one row per fp
    } finally q.stop()
  }

  test("streaming curation fp-set parity holds under sub-16 sampling") {
    // Both pipelines sample on the CONTENT fingerprint, so the kept fp
    // set is arrival-order-invariant even when survivor identity differs
    // (sampling on doc_id would let batch keep a fp whose stream-side
    // first-arrival survivor hash-drops). sixteenths=8 makes the sample
    // stage a real filter.
    import graft.streaming.CurationStream
    import graft.operators.Curation
    val d = java.nio.file.Files.createTempDirectory("docs_stream8")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      d.resolve("documents.parquet"))
    val stream = CurationStream.curate(
      CurationStream.readDocs(spark, d.toString),
      Curation.Config(sampleSixteenths = 8))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("curated8").start()
    try {
      q.processAllAvailable()
      val got = spark.table("curated8").select("fp").collect()
        .map(_.getString(0)).toSet
      val all = Curation.curate(Lake(spark, sf0001).documents, "doc_id", "text",
          Curation.Config(sampleSixteenths = 16))
        .select("fp").collect().map(_.getString(0)).toSet
      val want = Curation.curate(Lake(spark, sf0001).documents, "doc_id", "text",
          Curation.Config(sampleSixteenths = 8))
        .select("fp").collect().map(_.getString(0)).toSet
      assert(got === want)
      assert(want.nonEmpty && want.size < all.size,
        s"sixteenths=8 should actually drop fps (${want.size} of ${all.size})")
    } finally q.stop()
  }

  test("foreachBatch lands micro-batches as idempotent partition overwrites") {
    import java.nio.file.Files
    val sink = Files.createTempDirectory("lake_sink").toString
    val ckpt = Files.createTempDirectory("lake_ckpt").toString
    val q = EventsStream.writeHourlyPartitioned(
      EventsStream.readEvents(spark, eventsDir), sink, ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val want = Lake(spark, sf0001).events.count()
    assert(spark.read.parquet(sink).count() === want)
    // hive-style hour partitions on disk
    val dirs = new java.io.File(sink).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_hour="))
    assert(dirs.length > 1, s"expected hour partitions, got ${dirs.toSeq}")
    // replaying the same content replaces its partitions - no duplication
    val replay = Lake(spark, sf0001).events
      .withColumn("t", col("ts"))
      .withColumn("event_hour", date_trunc("hour", col("t")))
    graft.operators.LakeMaintenance.overwritePartitions(
      replay, sink, Seq("event_hour"))
    assert(spark.read.parquet(sink).count() === want,
      "a replayed batch must replace, not append")
  }

  test("streaming upsert snapshot converges to latest-version rows under out-of-order batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.LakeMaintenance
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("upsert_sink").toString + "/snap"
    val ckpt = Files.createTempDirectory("upsert_ckpt").toString
    val input = MemoryStream[(Long, Long, String)]
    // compactEvery = 1: the periodic in-place compaction runs after
    // every micro-batch — proving the maintenance step never changes
    // the data the merge produced
    val q = graft.streaming.SnapshotStream.upsertSnapshot(
      input.toDF.toDF("k", "ver", "payload"), sink, ckpt,
      keyCols = Seq("k"), versionCols = Seq("ver"), numBuckets = 4,
      compactEvery = 1).start()
    try {
      // batch 1: initial versions
      input.addData((1L, 10L, "a1"), (2L, 10L, "b1"), (3L, 10L, "c1"))
      q.processAllAvailable()
      // batch 2 arrives OUT OF ORDER: a newer row for k=1, an OLDER
      // (late) row for k=2 that must NOT replace b1, an insert for k=4
      input.addData((1L, 20L, "a2"), (2L, 5L, "b0"), (4L, 1L, "d1"))
      q.processAllAvailable()
    } finally q.stop()
    def snap() = spark.read.parquet(sink)
      .select("k", "ver", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val want = Map(1L -> (20L, "a2"), 2L -> (10L, "b1"),
      3L -> (10L, "c1"), 4L -> (1L, "d1"))
    assert(snap() === want)
    // replaying an already-applied batch is a no-op (idempotent merge)
    LakeMaintenance.upsertIntoSnapshot(
      Seq((1L, 20L, "a2"), (2L, 5L, "b0")).toDF("k", "ver", "payload"),
      sink, Seq("k"), Seq("ver"), numBuckets = 4)
    assert(snap() === want, "replay must not change the snapshot")
  }

  test("streaming joined view equals the direct join; batch replay replaces, not appends") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SnapshotStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("jview_sink").toString + "/view"
    val ckpt = Files.createTempDirectory("jview_ckpt").toString
    val dim = Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("k", "tier")
    val input = MemoryStream[(Long, Long)]
    val q = SnapshotStream.joinedViewStream(
      input.toDF.toDF("k", "amount"), sink, ckpt,
      dim = () => dim, keys = Seq("k")).start()
    try {
      input.addData((1L, 10L), (2L, 20L), (9L, 99L)) // 9 has no dim row
      q.processAllAvailable()
      input.addData((1L, 11L), (3L, 30L))
      q.processAllAvailable()
    } finally q.stop()
    def view() = spark.read.parquet(sink)
      .select("k", "amount", "tier").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    val want = Seq((1L, 10L, "gold"), (1L, 11L, "gold"),
      (2L, 20L, "silver"), (3L, 30L, "bronze"))
    assert(view() === want)
    // crash-replay of an absorbed batch: its partition is REPLACED, so
    // the view is unchanged — no duplicated rows
    SnapshotStream.applyJoinBatch(
      Seq((1L, 11L), (3L, 30L)).toDF("k", "amount"), 1L, sink, dim, Seq("k"))
    assert(view() === want, "replay must not duplicate view rows")
    // a late backfill with a fresh id lands additively
    SnapshotStream.applyJoinBatch(
      Seq((2L, 21L)).toDF("k", "amount"), 7L, sink, dim, Seq("k"))
    assert(view() === (want :+ ((2L, 21L, "silver"))).sorted)
  }

  test("stateful running totals accumulate per user") {
    val totals = EventsStream.runningUserTotals(spark,
      EventsStream.readEvents(spark, eventsDir))
    val q = totals.toDF().writeStream.outputMode("update")
      .format("memory").queryName("running").start()
    try {
      q.processAllAvailable()
      // last update per user must equal the batch per-user totals
      val got = spark.table("running")
        .groupBy("user_id").agg(max("n_events").as("n"))
      val want = Lake(spark, sf0001).events
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      val diff = got.join(want, "user_id")
        .where(got("n") =!= want("n")).count()
      assert(diff === 0)
    } finally q.stop()
  }

  test("streaming funnel advances reach exactly the batch funnel stages") {
    val stream = EventsStream.funnelProgress(spark,
      EventsStream.readEvents(spark, eventsDir))
    val q = stream.toDF().writeStream.outputMode("append")
      .format("memory").queryName("funnel_adv").start()
    try {
      q.processAllAvailable()
      val got = spark.table("funnel_adv")
        .groupBy("user_id").agg(max("stage").as("stage"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = SparkEntry.queries("q35_funnel")(spark, sf0001)
        .select("user_id", "funnel_stage")
        .collect().map(r => r.getLong(0) -> r.getInt(1))
        .filter(_._2 > 0).toMap // stage-0 users emit no advances
      assert(got === want)
      assert(got.nonEmpty)
      // each advance is emitted exactly once per (user, stage)
      assert(spark.table("funnel_adv").count() ===
        spark.table("funnel_adv").select("user_id", "stage").distinct().count())
    } finally q.stop()
  }

  test("streaming decontamination alerts equal the batch contaminated set") {
    import graft.streaming.CurationStream
    import graft.operators.Dedup
    val d = java.nio.file.Files.createTempDirectory("docs_decontam")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/documents.parquet"),
      d.resolve("documents.parquet"))
    val batchDocs = Lake(spark, sf0001).documents
    val bench = batchDocs.where(col("doc_id") % 2 === 1)
    val stream = CurationStream.decontamAlerts(
      CurationStream.readDocs(spark, d.toString).where(col("doc_id") % 2 === 0),
      bench)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("decontam_alerts").start()
    try {
      q.processAllAvailable()
      val got = spark.table("decontam_alerts").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      val want = Dedup.decontaminate(batchDocs.where(col("doc_id") % 2 === 0),
          bench, "doc_id", "text", shingleN = 5)
        .where(col("contaminated")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(got === want)
      assert(got.nonEmpty)
      assert(spark.table("decontam_alerts").count() === want.size) // once per doc
    } finally q.stop()
  }

  test("streaming aggregate snapshot merges partials and refuses replayed batches") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SnapshotStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("agg_sink").toString + "/snap"
    val ckpt = Files.createTempDirectory("agg_ckpt").toString
    val input = MemoryStream[(String, Double)]
    val q = SnapshotStream.aggSnapshot(
      input.toDF.toDF("k", "v"), sink, ckpt,
      keyCols = Seq("k"), valueCol = "v").start()
    try {
      input.addData(("a", 1.0), ("b", 2.0), ("a", 0.5))
      q.processAllAvailable()
      input.addData(("a", 3.5), ("c", 1.25))
      q.processAllAvailable()
    } finally q.stop()
    def snap() = spark.read.parquet(sink)
      .select(col("k"), col("n_rows"), col("sum_value").cast("double"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = Map("a" -> (3L, 5.0), "b" -> (1L, 2.0), "c" -> (1L, 1.25))
    assert(snap() === want)
    // crash-replay of an ALREADY-ABSORBED batch id: additive state would
    // double-count without the guard — must be a strict no-op
    SnapshotStream.applyAggBatch(
      Seq(("a", 3.5), ("c", 1.25)).toDF("k", "v"), batchId = 1L,
      sink, Seq("k"), "v")
    assert(snap() === want, "replayed batch must not double-count")
    // a genuinely NEW batch id still merges
    SnapshotStream.applyAggBatch(
      Seq(("b", 1.0)).toDF("k", "v"), batchId = 2L, sink, Seq("k"), "v")
    assert(snap() === Map("a" -> (3L, 5.0), "b" -> (2L, 3.0), "c" -> (1L, 1.25)))
    // an EMPTY first batch leaves a zero-row snapshot (null max batch
    // id) — the next batch must still merge instead of NPE-ing
    val sink2 = Files.createTempDirectory("agg_sink2").toString + "/snap"
    SnapshotStream.applyAggBatch(
      Seq.empty[(String, Double)].toDF("k", "v"), batchId = 0L,
      sink2, Seq("k"), "v")
    SnapshotStream.applyAggBatch(
      Seq(("z", 1.5)).toDF("k", "v"), batchId = 1L, sink2, Seq("k"), "v")
    val got2 = spark.read.parquet(sink2)
      .select(col("k"), col("n_rows"), col("sum_value").cast("double"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got2 === Map("z" -> (1L, 1.5)))
  }

  test("streaming distinct sketch tracks exact distincts and shrugs off replays") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SnapshotStream
    import graft.operators.Sketches
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("hll_sink").toString + "/snap"
    val ckpt = Files.createTempDirectory("hll_ckpt").toString
    val input = MemoryStream[(String, Long)]
    val q = SnapshotStream.distinctSketchStream(
      input.toDF.toDF("g", "v"), sink, ckpt,
      groupCols = Seq("g"), valueCol = "v").start()
    def est() = Sketches.withEstimate(spark.read.parquet(sink))
      .select("g", "distinct_est").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      // batch 0: 3 distinct for a, 1 for b
      input.addData(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L))
      q.processAllAvailable()
      assert(est() === Map("a" -> 3L, "b" -> 1L)) // coupon mode: exact
      // batch 1 overlaps batch 0 — distinct, not additive, semantics
      input.addData(("a", 2L), ("a", 4L), ("c", 7L))
      q.processAllAvailable()
      assert(est() === Map("a" -> 4L, "b" -> 1L, "c" -> 1L))
    } finally q.stop()
    // crash-replay of an absorbed batch id: guarded no-op
    SnapshotStream.applySketchBatch(
      Seq(("a", 2L), ("a", 4L), ("c", 7L)).toDF("g", "v"), batchId = 1L,
      sink, Seq("g"), "v")
    assert(est() === Map("a" -> 4L, "b" -> 1L, "c" -> 1L))
    // the sketch-specific stronger property: DOUBLE-APPLYING the same
    // data under a fresh batch id is still harmless — union idempotence
    // protects the state even where the batch-id guard cannot (e.g. a
    // backfill accidentally re-submitted)
    SnapshotStream.applySketchBatch(
      Seq(("a", 2L), ("a", 4L), ("c", 7L)).toDF("g", "v"), batchId = 2L,
      sink, Seq("g"), "v")
    assert(est() === Map("a" -> 4L, "b" -> 1L, "c" -> 1L),
      "idempotent union must absorb a duplicate delta unchanged")
  }

  test("streaming frequency sketch tracks exact heavy hitters and refuses replays") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SnapshotStream
    import graft.operators.Sketches.freqTopItems
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("freq_sink").toString + "/snap"
    val ckpt = Files.createTempDirectory("freq_ckpt").toString
    val input = MemoryStream[(String, String)]
    val q = SnapshotStream.freqSketchStream(
      input.toDF.toDF("g", "t"), sink, ckpt,
      groupCols = Seq("g"), valueCol = "t").start()
    def top(): Seq[(String, Long)] = spark.read.parquet(sink)
      .select(posexplode(freqTopItems(col("freq"), 3)))
      .orderBy("pos").collect()
      .map(r => (r.getStruct(1).getString(0), r.getStruct(1).getLong(1))).toSeq
    try {
      input.addData(("g", "a"), ("g", "a"), ("g", "b"))
      q.processAllAvailable()
      assert(top() === Seq(("a", 2L), ("b", 1L)))
      // cross-batch accumulation: counts ADD (unlike the distinct sketches)
      input.addData(("g", "b"), ("g", "b"), ("g", "c"))
      q.processAllAvailable()
      assert(top() === Seq(("b", 3L), ("a", 2L), ("c", 1L)))
    } finally q.stop()
    // replay of an absorbed batch id must be refused — frequency merge
    // is additive, a re-merge would double-count
    SnapshotStream.applyFreqBatch(
      Seq(("g", "b"), ("g", "b"), ("g", "c")).toDF("g", "t"), batchId = 1L,
      sink, Seq("g"), "t")
    assert(top() === Seq(("b", 3L), ("a", 2L), ("c", 1L)),
      "replayed batch must not double-count")
    // a genuinely new batch still merges
    SnapshotStream.applyFreqBatch(
      Seq(("g", "c"), ("g", "c"), ("g", "c")).toDF("g", "t"), batchId = 2L,
      sink, Seq("g"), "t")
    assert(top() === Seq(("c", 4L), ("b", 3L), ("a", 2L)))
  }

  test("streaming segment sketch serves retention reads and shrugs off replays") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SnapshotStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("theta_sink").toString + "/snap"
    val ckpt = Files.createTempDirectory("theta_ckpt").toString
    val input = MemoryStream[(Long, Long)]
    val q = SnapshotStream.segmentSketchStream(
      input.toDF.toDF("day", "user_id"), sink, ckpt,
      groupCols = Seq("day"), valueCol = "user_id").start()
    // retention cell read straight off the stored sketch table: of day-0
    // actives, how many were also active on day 1
    def retained(): Long = {
      val st = spark.read.parquet(sink)
      st.where(col("day") === 0L).select(col("theta").as("ska"))
        .crossJoin(st.where(col("day") === 1L).select(col("theta").as("skb")))
        .select(theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
          .as("n"))
        .collect()(0).getLong(0)
    }
    try {
      // batch 0: day 0 = {1,2,3}, day 1 = {2}
      input.addData((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L))
      q.processAllAvailable()
      assert(retained() === 1L)
      // batch 1: day 1 gains {3, 9} — retained grows to {2, 3}
      input.addData((1L, 3L), (1L, 9L))
      q.processAllAvailable()
      assert(retained() === 2L)
    } finally q.stop()
    // crash-replay of an absorbed batch id: guarded no-op
    SnapshotStream.applySegmentBatch(
      Seq((1L, 3L), (1L, 9L)).toDF("day", "user_id"), batchId = 1L,
      sink, Seq("day"), "user_id")
    assert(retained() === 2L)
    // theta union is idempotent: a double-applied backfill under a fresh
    // batch id cannot corrupt the distinct sets either
    SnapshotStream.applySegmentBatch(
      Seq((1L, 3L), (1L, 9L)).toDF("day", "user_id"), batchId = 2L,
      sink, Seq("day"), "user_id")
    assert(retained() === 2L,
      "idempotent theta union must absorb a duplicate delta unchanged")
  }

  test("streaming quantile sketch tracks exact quantiles and refuses replays") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.SnapshotStream
    import graft.operators.Sketches.kllQuantile
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sink = Files.createTempDirectory("kll_sink").toString + "/snap"
    val ckpt = Files.createTempDirectory("kll_ckpt").toString
    val input = MemoryStream[(String, Double)]
    val q = SnapshotStream.quantileSketchStream(
      input.toDF.toDF("g", "v"), sink, ckpt,
      groupCols = Seq("g"), valueCol = "v").start()
    def med() = spark.read.parquet(sink)
      .select(col("g"), kllQuantile(col("kll"), lit(0.5)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    try {
      // 1..50 across two batches: n < k, so quantiles are exact order
      // statistics and the cross-batch merge is visible exactly
      input.addData((1 to 25).map(i => ("g", i.toDouble)): _*)
      q.processAllAvailable()
      assert(med() === Map("g" -> 13.0))
      input.addData((26 to 50).map(i => ("g", i.toDouble)): _*)
      q.processAllAvailable()
      assert(med() === Map("g" -> 25.0))
    } finally q.stop()
    // replay of an absorbed batch id must be refused (KLL merge is NOT
    // idempotent — a re-merge would re-weight and shift the median)
    SnapshotStream.applyQuantileBatch(
      (26 to 50).map(i => ("g", i.toDouble)).toDF("g", "v"), batchId = 1L,
      sink, Seq("g"), "v")
    assert(med() === Map("g" -> 25.0), "replayed batch must not re-weight")
    // a genuinely new batch still merges
    SnapshotStream.applyQuantileBatch(
      (51 to 100).map(i => ("g", i.toDouble)).toDF("g", "v"), batchId = 2L,
      sink, Seq("g"), "v")
    assert(med() === Map("g" -> 50.0))
  }

  test("streaming near-dedup grows the canonical corpus exactly like the batch fold") {
    import graft.streaming.DedupStream
    import graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("dedup_corpus").toString
    val docs = Lake(spark, sf0001).documents
    val batches = (0 to 2).map(i => docs.where(col("doc_id") % 3 === i))

    // the batch fold this stream twins: each step deduped against the
    // accumulated canonical corpus
    var want = docs.where(lit(false))
    batches.foreach { b =>
      want = want.unionByName(Dedup.dedupNearIncremental(
        want, b, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8))
    }
    val wantRows = want.collect().map(_.toString).sorted.toSeq
    assert(wantRows.nonEmpty && wantRows.size < docs.count())

    batches.zipWithIndex.foreach { case (b, i) =>
      DedupStream.applyDedupBatch(b, i.toLong, root, "doc_id", "text")
    }
    def corpusRows() = DedupStream.canonicalCorpus(spark, root)
      .collect().map(_.toString).sorted.toSeq
    assert(corpusRows() === wantRows)

    // crash window (a): version committed, checkpoint not — the replayed
    // batch must see its own id in-band and no-op (a re-run would drop
    // the batch's survivors as near-dups of themselves)
    DedupStream.applyDedupBatch(batches(2), 2L, root, "doc_id", "text")
    assert(corpusRows() === wantRows, "replayed batch must be a no-op")

    // crash window (b): a torn un-manifested version directory is
    // invisible to readers and to the guard, and vacuum clears it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val torn = new org.apache.hadoop.fs.Path(s"$root/v=999")
    fs.mkdirs(torn)
    fs.create(new org.apache.hadoop.fs.Path(torn, "_claim"), false).close()
    fs.create(new org.apache.hadoop.fs.Path(torn, "part-torn.parquet"), false).close()
    assert(corpusRows() === wantRows, "torn version must stay invisible")

    // compaction: one full version, same rows, and the in-band replay
    // guard survives (the old batch is still refused afterwards)
    val fullV = DedupStream.compactCorpus(spark, root)
    assert(fullV > 999L, "allocation is monotone over torn dirs")
    assert(corpusRows() === wantRows, "compaction must preserve the corpus")
    assert(graft.operators.LakeMaintenance
      .snapshotVersions(spark, root) === Seq(fullV))
    assert(!fs.exists(torn), "vacuum clears the crashed-writer leftover")
    DedupStream.applyDedupBatch(batches(1), 1L, root, "doc_id", "text")
    assert(corpusRows() === wantRows, "guard must survive compaction")
  }

  test("compaction crash window: kill between full-version commit and vacuum is reader-invisible; append ≡ rebuild") {
    import graft.streaming.DedupStream
    import graft.operators.LakeMaintenance
    val root = java.nio.file.Files.createTempDirectory("dedup_chaos").toString
    val docs = Lake(spark, sf0001).documents
    val batches = (0 to 3).map(i => docs.where(col("doc_id") % 4 === i))
    def rows(r: String) = DedupStream.canonicalCorpus(spark, r)
      .collect().map(_.toString).sorted.toSeq

    (0 to 2).foreach { i =>
      DedupStream.applyDedupBatch(batches(i), i.toLong, root, "doc_id", "text")
    }
    val preCompact = rows(root)
    val deltaVersions = LakeMaintenance.snapshotVersions(spark, root)
    assert(deltaVersions.size === 3)

    // THE KILL: production half 1 of compactCorpus (the full-version
    // commit), then the process dies before the vacuum — superseded
    // versions stay on disk exactly as a real crash leaves them
    val fullV = DedupStream.writeFullVersion(spark, root)
    assert(LakeMaintenance.snapshotVersions(spark, root).size === 4,
      "the crash window must hold full + all superseded versions")

    // reader equivalence across the window
    assert(rows(root) === preCompact,
      "the crash window must be invisible to readers")
    // the in-band replay guard still holds in the window
    DedupStream.applyDedupBatch(batches(2), 2L, root, "doc_id", "text")
    assert(rows(root) === preCompact,
      "a replayed batch in the crash window must no-op")
    // new data lands correctly in the window (delta above the full version)
    DedupStream.applyDedupBatch(batches(3), 3L, root, "doc_id", "text")
    val after3 = rows(root)
    assert(after3.size > preCompact.size)

    // recovery: the NEXT compaction retires every superseded version,
    // including the pre-crash deltas the interrupted vacuum never removed
    val fullV2 = DedupStream.compactCorpus(spark, root)
    assert(fullV2 > fullV)
    assert(LakeMaintenance.snapshotVersions(spark, root) === Seq(fullV2),
      "recovery compaction must leave exactly one (full) version")
    assert(rows(root) === after3, "recovery must preserve the corpus")
    // the replay guard survives both compactions
    DedupStream.applyDedupBatch(batches(3), 3L, root, "doc_id", "text")
    assert(rows(root) === after3)

    // append ≡ rebuild: the same batches folded on a fresh root with no
    // compaction (and no crash) produce the identical canonical corpus
    val root2 = java.nio.file.Files.createTempDirectory("dedup_rebuild").toString
    (0 to 3).foreach { i =>
      DedupStream.applyDedupBatch(batches(i), i.toLong, root2, "doc_id", "text")
    }
    assert(rows(root2) === after3,
      "crashed-compaction corpus must equal the uncompacted rebuild")
  }

  test("streaming near-dedup wiring: file feed drives the same per-batch fold") {
    import graft.streaming.DedupStream
    val feed = java.nio.file.Files.createTempDirectory("dedup_feed")
    val root = java.nio.file.Files.createTempDirectory("dedup_root2").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_ckpt").toString
    val docs = Lake(spark, sf0001).documents
    // one file per micro-batch; distinct ascending mtimes pin the file
    // source's processing order so the fold order is deterministic
    (0 to 2).foreach { i =>
      val tmp = java.nio.file.Files.createTempDirectory(s"dedup_stage$i")
      docs.where(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(feed.toFile, f"b$i%03d.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    // maxFilesPerTrigger is a SOURCE option: on the writer it is silently
    // ignored and the whole feed lands in one batch (the fold degenerates)
    val stream = graft.streaming.CurationStream
      .readDocs(spark, feed.toString,
        sourceOptions = Map("maxFilesPerTrigger" -> "1")).drop("arrival")
    val q = DedupStream.dedupStream(stream, root, ckpt, "doc_id", "text",
        compactEvery = 3).start()
    try q.processAllAvailable() finally q.stop()
    var want = docs.where(lit(false))
    (0 to 2).foreach { i =>
      want = want.unionByName(graft.operators.Dedup.dedupNearIncremental(
        want, docs.where(col("doc_id") % 3 === i), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8))
    }
    val got = DedupStream.canonicalCorpus(spark, root)
      .collect().map(_.toString).sorted.toSeq
    assert(got === want.collect().map(_.toString).sorted.toSeq)
    // compactEvery=3 fired on the last batch: exactly one (full) version
    assert(graft.operators.LakeMaintenance
      .snapshotVersions(spark, root).size === 1)
  }
}
