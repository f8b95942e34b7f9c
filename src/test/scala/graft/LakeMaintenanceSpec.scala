package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.LakeMaintenance

class LakeMaintenanceSpec extends AnyFunSuite {
  import TestSpark._

  test("dynamic partition overwrite replaces only the incoming partitions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("dyn_overwrite").toString
    val day1 = Seq((1L, "d1"), (2L, "d2")).toDF("id", "day")
    LakeMaintenance.overwritePartitions(day1, dir, Seq("day"))
    // incremental batch: only day 2, with corrected content
    val day2fix = Seq((99L, "d2")).toDF("id", "day")
    LakeMaintenance.overwritePartitions(day2fix, dir, Seq("day"))
    val got = spark.read.parquet(dir).select("id", "day").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // day 1 untouched, day 2 replaced
    assert(got === Set((1L, "d1"), (99L, "d2")))
  }

  test("full overwrite (the reference's mode) would have dropped day 1") {
    import spark.implicits._
    val dir = Files.createTempDirectory("full_overwrite").toString
    Seq((1L, "d1")).toDF("id", "day")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    Seq((99L, "d2")).toDF("id", "day")
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    val days = spark.read.parquet(dir).select("day").distinct().collect()
      .map(_.getString(0)).toSet
    assert(days === Set("d2")) // history gone — why dynamic matters
  }

  test("compaction reduces file count without changing data") {
    val dir = Files.createTempDirectory("fragmented").toString
    val out = Files.createTempDirectory("compacted").toString
    val li = Lake(spark, sf0001).lineitem
    li.repartition(64).write.mode("overwrite").parquet(dir) // 64 tiny files
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(dir) === 64)
    LakeMaintenance.compact(spark, dir, out)
    assert(parquetFiles(out) === 1) // ~300 KB input, one target file
    assert(spark.read.parquet(out).count() === li.count())
  }

  test("in-place snapshot compaction bounds file counts over many batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("snap_compact").toString + "/snap"
    def bucketFiles(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }
    def snap() = spark.read.parquet(dir).select("k", "ver", "payload")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // 8 micro-batch-shaped upserts, compacting every 2nd — the
    // SnapshotStream.upsertSnapshot(compactEvery = 2) maintenance loop
    // run batch-side; 4 buckets, keys overlap so versions keep winning
    val counts = (0 until 8).map { b =>
      val batch = (0 until 6)
        .map(i => ((b * 2 + i).toLong % 16, b.toLong, s"p$b-$i"))
        .toDF("k", "ver", "payload")
      LakeMaintenance.upsertIntoSnapshot(batch, dir, Seq("k"), Seq("ver"),
        numBuckets = 4)
      if ((b + 1) % 2 == 0)
        LakeMaintenance.compactSnapshotInPlace(spark, dir, Seq("__bucket"))
      bucketFiles()
    }
    // bounded: every post-compaction count is ~one file per bucket —
    // NOT growing with the batch index
    val afterCompaction = counts.zipWithIndex.collect {
      case (c, i) if (i + 1) % 2 == 0 => c
    }
    assert(afterCompaction.forall(_ <= 4),
      s"file count grew despite compaction: $counts")
    // and compaction is a data no-op: latest version wins per key
    val expected = (0 until 8).flatMap { b =>
      (0 until 6).map(i => ((b * 2 + i).toLong % 16, (b.toLong, s"p$b-$i")))
    }.groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._1) }
    assert(snap() === expected)
  }

  test("dataset fingerprint: order/partitioning-invariant, content-sensitive") {
    import spark.implicits._
    val docs = Lake(spark, sf0001).documents
    def fp(df: org.apache.spark.sql.DataFrame) =
      LakeMaintenance.datasetFingerprint(df, Seq("source"), Seq("doc_id", "text"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = fp(docs)
    // invariant under shuffling and radically different partitioning
    assert(fp(docs.repartition(3)) === base)
    assert(fp(docs.orderBy(desc("text")).coalesce(1)) === base)
    // a single changed byte in one row flips that group's fingerprint
    val oneRow = docs.orderBy("doc_id").limit(1).collect()(0)
    val src = oneRow.getAs[String]("source")
    val mutated = docs.withColumn("text",
      when(col("doc_id") === oneRow.getAs[Long]("doc_id"),
        concat(col("text"), lit("!"))).otherwise(col("text")))
    val mfp = fp(mutated)
    assert(mfp(src)._2 !== base(src)._2, "mutation must change the fingerprint")
    assert(mfp.filter(_._1 != src) === base.filter(_._1 != src),
      "untouched groups must keep their fingerprint")
    // removing one row and duplicating another keeps n_rows but not fp
    val ids = docs.where(col("source") === src).select("doc_id")
      .orderBy("doc_id").limit(2).collect().map(_.getLong(0))
    val swapped = docs.where(col("doc_id") =!= ids(0))
      .unionByName(docs.where(col("doc_id") === ids(1)))
    val sfp = fp(swapped)
    assert(sfp(src)._1 === base(src)._1, "row count unchanged by design")
    assert(sfp(src)._2 !== base(src)._2,
      "duplication-with-removal must still flip the fingerprint")
  }

  test("range clustering yields disjoint per-file value ranges") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("lake_cluster").toString
    val li = Lake(spark, TestSpark.sf0001).lineitem
    LakeMaintenance.clusterBy(li, out, "l_orderkey", files = 4)
    val perFile = spark.read.parquet(out)
      .select(col("l_orderkey"), input_file_name().as("f"))
      .groupBy("f").agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(perFile.length === 4)
    // disjoint, ordered ranges: every file's min exceeds the previous max
    perFile.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(lo2 > hi, s"overlapping file ranges: $perFile")
    }
    assert(spark.read.parquet(out).count() === li.count()) // lossless
  }

  test("clustered layout actually skips row groups under a point filter") {
    import spark.implicits._
    // Same rows, two layouts: range-clustered vs hash-shuffled. A point
    // filter on the cluster column must read ~one file's rows from the
    // clustered layout (row-group min/max excludes the rest via Parquet
    // predicate pushdown) and ~all rows from the shuffled layout (every
    // row group's [min,max] spans the whole key range) — measured at the
    // SCAN's own numOutputRows metric, i.e. rows surviving pushdown
    // before the residual Filter.
    val n = 40000L
    val data = spark.range(n)
      .select((col("id") * 2654435761L % n).as("k"), col("id").as("payload"))
    val clustered = Files.createTempDirectory("skip_clustered").toString
    val shuffled = Files.createTempDirectory("skip_shuffled").toString
    LakeMaintenance.clusterBy(data, clustered, "k", files = 8)
    data.repartition(8).write.mode("overwrite").parquet(shuffled)
    def scanRows(dir: String): Long = {
      val q = spark.read.parquet(dir).where(col("k") === 123L)
      assert(q.count() >= 1) // the probed key exists
      q.collect()
      val scans = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, "expected a FileSourceScanExec leaf")
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val clusteredRows = scanRows(clustered)
    val shuffledRows = scanRows(shuffled)
    assert(clusteredRows <= n / 8 + n / 16,
      s"clustered scan read $clusteredRows rows; skipping is not happening")
    assert(shuffledRows >= n * 9 / 10,
      s"shuffled control scan read only $shuffledRows of $n rows?")
    assert(clusteredRows * 4 < shuffledRows)
  }

  test("z-order clustering skips row groups on BOTH clustered columns") {
    import spark.implicits._
    // two independent keys; linear clustering on k1 gives k2 filters no
    // skipping at all, z-order gives both substantial skipping
    val n = 65536L
    val data = spark.range(n).select(
      (col("id") * 2654435761L % n).as("k1"),
      (col("id") * 40503L % n).as("k2"),
      col("id").as("payload"))
    val zDir = Files.createTempDirectory("skip_zorder").toString
    val linDir = Files.createTempDirectory("skip_linear").toString
    LakeMaintenance.zOrderBy(data, zDir, Seq("k1", "k2"), files = 16)
    LakeMaintenance.clusterBy(data, linDir, "k1", files = 16)
    def scanRows(dir: String, c: String): Long = {
      val q = spark.read.parquet(dir).where(col(c) === 123L)
      assert(q.count() >= 1)
      q.collect()
      q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.map(_.metrics("numOutputRows").value).sum
    }
    // z-order: a filter on EITHER column reads a bounded fraction — with
    // 16 files over a 2-D z-layout each dimension splits into ~4 value
    // slabs (~1/4 of rows); allow up to 1/2 because repartitionByRange's
    // sampled boundaries need not align with z-curve quadrant edges
    val zk1 = scanRows(zDir, "k1")
    val zk2 = scanRows(zDir, "k2")
    assert(zk1 <= n / 2, s"z-order should skip on k1 (read $zk1 of $n)")
    assert(zk2 <= n / 2, s"z-order should skip on k2 (read $zk2 of $n)")
    // linear: leading column skips hard, the other column reads ~everything
    assert(scanRows(linDir, "k1") <= n / 8)
    val link2 = scanRows(linDir, "k2")
    assert(link2 >= n * 9 / 10,
      "linear clustering cannot skip on the non-clustered column")
    assert(zk2 * 2 < link2, "z-order must beat linear on the second column")
    // data lossless through the z-order write
    assert(spark.read.parquet(zDir).count() === n)
  }

  test("versioned snapshots: immutable history, pinned and latest reads") {
    import spark.implicits._
    val root = Files.createTempDirectory("versioned").toString + "/tbl"
    assert(LakeMaintenance.snapshotVersions(spark, root) === Seq.empty)
    val v1 = LakeMaintenance.writeSnapshotVersion(
      Seq((1L, "a"), (2L, "b")).toDF("k", "x"), root)
    val v2 = LakeMaintenance.writeSnapshotVersion(
      Seq((1L, "a2"), (3L, "c")).toDF("k", "x"), root)
    assert((v1, v2) === (1L, 2L))
    assert(LakeMaintenance.snapshotVersions(spark, root) === Seq(1L, 2L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // latest = v2; time travel to v1 returns the ORIGINAL rows untouched
    assert(rows(LakeMaintenance.readSnapshotVersion(spark, root)) ===
      Set((1L, "a2"), (3L, "c")))
    assert(rows(LakeMaintenance.readSnapshotVersion(spark, root, 1L)) ===
      Set((1L, "a"), (2L, "b")))
    intercept[IllegalArgumentException] {
      LakeMaintenance.readSnapshotVersion(spark, root, 99L)
    }
  }

  test("a writer crash mid-commit leaves no readable torn version") {
    import spark.implicits._
    val root = Files.createTempDirectory("torn").toString + "/tbl"
    LakeMaintenance.writeSnapshotVersion(Seq((1L, "a")).toDF("k", "x"), root)
    // simulate a writer that died between the data write and the manifest
    // publish: data files exist under v=2, no manifest
    Seq((9L, "torn")).toDF("k", "x").write.parquet(s"$root/v=2")
    // the torn directory is invisible: not listed, not served as latest,
    // not readable even when pinned explicitly
    assert(LakeMaintenance.snapshotVersions(spark, root) === Seq(1L))
    assert(LakeMaintenance.readSnapshotVersion(spark, root)
      .collect().map(_.getString(1)).toSet === Set("a"))
    intercept[IllegalArgumentException] {
      LakeMaintenance.readSnapshotVersion(spark, root, 2L)
    }
    // the next commit allocates PAST the torn directory, never over it
    val v3 = LakeMaintenance.writeSnapshotVersion(Seq((2L, "b")).toDF("k", "x"), root)
    assert(v3 === 3L)
    assert(LakeMaintenance.snapshotVersions(spark, root) === Seq(1L, 3L))
    assert(LakeMaintenance.readSnapshotVersion(spark, root)
      .collect().map(_.getString(1)).toSet === Set("b"))
  }

  test("optimistic concurrency: contending writers land distinct versions, none lost, none mixed") {
    import spark.implicits._
    val root = Files.createTempDirectory("occ").toString + "/tbl"
    // an in-flight CLAIM from another writer (no data yet): the next
    // commit must skip the claimed number, not write into it
    LakeMaintenance.writeSnapshotVersion(Seq((0L, 0L)).toDF("writer", "batch"), root)
    new java.io.File(s"$root/v=2").mkdirs()
    assert(new java.io.File(s"$root/v=2/_claim").createNewFile())
    val v = LakeMaintenance.writeSnapshotVersion(
      Seq((0L, 1L)).toDF("writer", "batch"), root)
    assert(v === 3L)
    assert(LakeMaintenance.snapshotVersions(spark, root) === Seq(1L, 3L))
    // two writers racing from the same start state: every commit wins a
    // DISTINCT version (exactly one winner per number), none is lost,
    // and each committed version holds exactly one writer's batch
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    try {
      val futures = (1 to 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = {
            barrier.await()
            (0 until 3).map { i =>
              LakeMaintenance.writeSnapshotVersion(
                Seq((w.toLong, i.toLong)).toDF("writer", "batch"), root)
            }
          }
        })
      }
      val won = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      val all = won.flatten
      assert(all.size === 6 && all.toSet.size === 6, s"versions shared or lost: $won")
      assert(LakeMaintenance.snapshotVersions(spark, root).toSet ===
        all.toSet + 1L + 3L)
      for ((vs, i) <- won.zipWithIndex; v <- vs) {
        val writers = LakeMaintenance.readSnapshotVersion(spark, root, v)
          .select("writer").distinct().collect().map(_.getLong(0)).toSet
        assert(writers === Set((i + 1).toLong),
          s"version $v mixed writers: $writers")
      }
    } finally pool.shutdown()
  }

  test("reads validate the manifest against the files on disk") {
    import spark.implicits._
    val root = Files.createTempDirectory("validated").toString + "/tbl"
    LakeMaintenance.writeSnapshotVersion(
      Seq((1L, "a"), (2L, "b")).toDF("k", "x").repartition(2), root)
    val dir = new java.io.File(s"$root/v=1")
    val dataFile = dir.listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    // post-commit corruption (lost block, partial restore): a manifested
    // file disappears -> the read REFUSES rather than serving a subset
    assert(dataFile.delete())
    val e = intercept[java.io.IOException] {
      LakeMaintenance.readSnapshotVersion(spark, root, 1L).collect()
    }
    assert(e.getMessage.contains("manifest validation"))
  }

  test("vacuum keeps the newest k versions and clears dead torn dirs") {
    import spark.implicits._
    val root = Files.createTempDirectory("vacuum").toString + "/tbl"
    (1 to 4).foreach { i =>
      LakeMaintenance.writeSnapshotVersion(Seq((i.toLong, s"g$i")).toDF("k", "x"), root)
    }
    // dead torn dir below the newest commit (crashed writer leftovers)...
    Seq((0L, "dead")).toDF("k", "x").write.parquet(s"$root/v=0")
    // ...and an in-flight dir ABOVE it (a writer between steps 2 and 4)
    Seq((0L, "flight")).toDF("k", "x").write.parquet(s"$root/v=9")
    val deleted = LakeMaintenance.vacuumVersions(spark, root, keepLast = 2)
    assert(deleted === Seq(0L, 1L, 2L))
    assert(LakeMaintenance.snapshotVersions(spark, root) === Seq(3L, 4L))
    // kept versions still read clean; expired ones are gone
    assert(LakeMaintenance.readSnapshotVersion(spark, root, 4L)
      .collect().map(_.getString(1)).toSet === Set("g4"))
    intercept[IllegalArgumentException] {
      LakeMaintenance.readSnapshotVersion(spark, root, 1L)
    }
    // the possibly-in-flight dir above the newest commit survives vacuum
    assert(new java.io.File(s"$root/v=9").isDirectory)
    // keepLast below 1 would delete the live table - refused
    intercept[IllegalArgumentException] {
      LakeMaintenance.vacuumVersions(spark, root, keepLast = 0)
    }
  }

  test("compactionBins packs files by the running-sum rule per partition") {
    import spark.implicits._
    val manifest = Seq(
      ("p1", 1L, 4L), ("p1", 2L, 4L), ("p1", 3L, 4L), // cum 0,4,8  -> bin 0
      ("p1", 4L, 9L),                                 // cum 12     -> bin 1
      ("p1", 5L, 2L),                                 // cum 21     -> bin 2
      ("p2", 1L, 25L),                                // oversized file alone
      ("p2", 2L, 1L)                                  // cum 25     -> bin 2
    ).toDF("part", "file_id", "bytes")
    val got = LakeMaintenance
      .compactionBins(manifest, "part", "file_id", "bytes", targetBytes = 10L)
      .orderBy("part", "file_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got === Seq(
      ("p1", 1L, 0L), ("p1", 2L, 0L), ("p1", 3L, 0L),
      ("p1", 4L, 1L), ("p1", 5L, 2L),
      ("p2", 1L, 0L), ("p2", 2L, 2L)))
  }

  test("zone-map pruned read skips files and loses no rows") {
    import graft.operators.ZoneMapTable
    val dir = Files.createTempDirectory("zonemap").toString + "/t"
    val li = Lake(spark, sf0001).lineitem
    ZoneMapTable.write(li, dir, clusterCol = "l_orderkey",
      statsCols = Seq("l_orderkey", "l_quantity"), files = 16)
    // skipping: a narrow key range must open a strict minority of files
    val (kept, total) = ZoneMapTable.survivingFiles(spark, dir,
      "l_orderkey", lit(200L), lit(300L))
    assert(total === 16L)
    assert(kept.nonEmpty && kept.size < 4,
      s"expected a narrow range to keep few files, kept ${kept.size}/$total")
    // correctness: pruned read == plain filter, row for row
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val got = canon(ZoneMapTable.prunedRead(spark, dir,
      "l_orderkey", lit(200L), lit(300L)))
    val want = canon(li.where(col("l_orderkey").between(200L, 300L)))
    assert(got === want)
    assert(got.nonEmpty)
    // an out-of-range scan keeps zero files and returns an empty frame
    val (none, _) = ZoneMapTable.survivingFiles(spark, dir,
      "l_orderkey", lit(10000000L), lit(20000000L))
    assert(none.isEmpty)
    assert(ZoneMapTable.prunedRead(spark, dir, "l_orderkey",
      lit(10000000L), lit(20000000L)).count() === 0L)
    // the manifest also carries the secondary column's zones
    val m = ZoneMapTable.manifest(spark, dir)
    assert(m.columns.toSet.intersect(
      Set("min_l_quantity", "max_l_quantity")).size === 2)
  }

  test("versioned zone-mapped tables: pinned reads keep file-skipping, torn versions invisible") {
    import graft.operators.ZoneMapTable
    val root = Files.createTempDirectory("zonemap_ver").toString + "/t"
    val li = Lake(spark, sf0001).lineitem
    val v1 = ZoneMapTable.writeVersion(li.where(col("l_orderkey") < 1000),
      root, "l_orderkey", Seq("l_orderkey"), files = 8)
    val v2 = ZoneMapTable.writeVersion(li, root, "l_orderkey",
      Seq("l_orderkey"), files = 8)
    assert((v1, v2) === (1L, 2L))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // latest == full table; pinned v1 serves the HISTORICAL subset
    assert(canon(ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
        lit(900L), lit(1100L))) ===
      canon(li.where(col("l_orderkey").between(900L, 1100L))))
    assert(canon(ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
        lit(900L), lit(1100L), version = 1L)) ===
      canon(li.where(col("l_orderkey") < 1000)
        .where(col("l_orderkey").between(900L, 1100L))))
    // the pinned HISTORICAL read still skips files via its own manifest
    val (kept, total) = ZoneMapTable.survivingFiles(spark, s"$root/v=1",
      "l_orderkey", lit(0L), lit(100L))
    assert(total === 8L && kept.nonEmpty && kept.size < 4)
    // a torn version (data, no commit marker) is invisible
    ZoneMapTable.write(li.limit(10), s"$root/v=3", "l_orderkey",
      Seq("l_orderkey"), files = 1)
    assert(ZoneMapTable.versions(spark, root) === Seq(1L, 2L))
    intercept[IllegalArgumentException] {
      ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
        lit(0L), lit(10L), version = 3L)
    }
    // allocation never reuses the torn number
    assert(ZoneMapTable.writeVersion(li.limit(5), root, "l_orderkey",
      Seq("l_orderkey"), files = 1) === 4L)
  }

  test("race law: racing zone-mapped writeVersion calls land distinct versions, each serving its own rows") {
    import graft.operators.ZoneMapTable
    val root = Files.createTempDirectory("zm_race").toString + "/t"
    val li = Lake(spark, sf0001).lineitem.select("l_orderkey", "l_quantity")
    def rowsOf(w: Int) = li.where(col("l_orderkey") % 2 === w - 1)
      .withColumn("writer", lit(w.toLong))
    // two writers released together from the same start state: each
    // commit wins a DISTINCT version, none is lost, and each committed
    // version serves exactly its own writer's rows
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    try {
      val futures = (1 to 2).map { w =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            barrier.await()
            ZoneMapTable.writeVersion(rowsOf(w), root, "l_orderkey",
              Seq("l_orderkey"), files = 2)
          }
        })
      }
      val won = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(won.toSet === Set(1L, 2L), s"versions shared or lost: $won")
      assert(ZoneMapTable.versions(spark, root) === Seq(1L, 2L))
      for ((v, i) <- won.zipWithIndex) {
        val served = ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
          lit(0L), lit(Long.MaxValue), v)
        assert(served.select("writer").distinct().collect().map(_.getLong(0)).toSet ===
          Set((i + 1).toLong), s"version $v mixed writers")
        assert(served.count() === rowsOf(i + 1).count(), s"version $v lost rows")
      }
    } finally pool.shutdown()
  }

  test("a torn first zone-map publish fails range reads with a named error") {
    import graft.operators.ZoneMapTable
    val dir = Files.createTempDirectory("zm_torn_first").toString + "/t"
    val li = Lake(spark, sf0001).lineitem.select("l_orderkey", "l_quantity")
      .limit(40)
    ZoneMapTable.write(li, dir, "l_orderkey", Seq("l_orderkey"), files = 4)
    // the crash: the first publish died after its claim and some stats
    // parts — nothing it writes later (commit, sidecars) ever landed, and
    // one stats part is missing too
    val gen = new java.io.File(s"$dir/_zonemap").listFiles()
      .filter(_.isDirectory).head
    gen.listFiles().filter(f => f.isFile && f.getName != "_claim" &&
      !f.getName.contains("part-")).foreach(_.delete())
    val part = gen.listFiles().filter(_.getName.startsWith("part-")).head
    assert(part.delete())
    new java.io.File(gen, s".${part.getName}.crc").delete()
    // a torn manifest would silently skip files: the read must refuse
    val e = intercept[java.io.FileNotFoundException] {
      ZoneMapTable.prunedRead(spark, dir, "l_orderkey", lit(0L),
        lit(Long.MaxValue)).collect()
    }
    assert(e.getMessage.contains("no committed zone-map generation"))
  }

  test("zone maps whose stats columns hold tab and quote characters publish and read back") {
    import graft.operators.ZoneMapTable
    import spark.implicits._
    val dir = Files.createTempDirectory("zm_json").toString + "/t"
    val (k, q) = ("a\tb", "q\"x")
    val df = (1 to 40).map(i => (i.toLong, f"v$i%02d")).toDF(k, q)
    ZoneMapTable.write(df, dir, k, Seq(k, q), files = 4)
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(canon(ZoneMapTable.prunedRead(spark, dir, k, lit(10L), lit(20L))) ===
      canon(df.where(col(k).between(10L, 20L))))
    assert(canon(ZoneMapTable.prunedReadMulti(spark, dir,
        Seq((k, lit(1L), lit(40L)), (q, lit("v05"), lit("v07"))))) ===
      canon(df.where(col(q).between("v05", "v07"))))
    assert(ZoneMapTable.manifest(spark, dir).columns.toSet
      .contains("max_" + q))
  }

  test("zone-map append maintains the manifest from the delta; append == rebuild") {
    import graft.operators.ZoneMapTable
    val li = Lake(spark, sf0001).lineitem
    val base = li.where(col("l_orderkey") <= 700)
    val delta = li.where(col("l_orderkey") > 700)
    val incDir = Files.createTempDirectory("zonemap_inc").toString + "/t"
    val fullDir = Files.createTempDirectory("zonemap_full").toString + "/t"
    ZoneMapTable.write(base, incDir, "l_orderkey", Seq("l_orderkey"), files = 8)
    ZoneMapTable.append(delta, incDir, "l_orderkey", Seq("l_orderkey"), files = 4)
    ZoneMapTable.write(li, fullDir, "l_orderkey", Seq("l_orderkey"), files = 12)
    // manifest law: same file count, same total rows, same covered range
    def m(dir: String) = ZoneMapTable.manifest(spark, dir)
      .agg(count(lit(1)), sum(col("n_rows")),
        min(col("min_l_orderkey")), max(col("max_l_orderkey")))
      .collect().head
    assert(m(incDir) === m(fullDir))
    // reads through the appended manifest equal the plain filter
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    for ((lo, hi) <- Seq((200L, 900L), (650L, 750L), (1000L, 1200L))) {
      assert(canon(ZoneMapTable.prunedRead(spark, incDir,
          "l_orderkey", lit(lo), lit(hi))) ===
        canon(li.where(col("l_orderkey").between(lo, hi))),
        s"range [$lo,$hi] diverged through the appended manifest")
    }
    // delta-local skipping: a range covered only by the base still
    // skips all delta files (their zones exclude it)
    val (kept, total) = ZoneMapTable.survivingFiles(spark, incDir,
      "l_orderkey", lit(200L), lit(300L))
    assert(total === 12L)
    assert(kept.nonEmpty && kept.size < 4,
      s"expected a narrow base-side range to keep few files, kept ${kept.size}/$total")
    // appending an empty delta is a manifest no-op
    ZoneMapTable.append(delta.limit(0), incDir, "l_orderkey",
      Seq("l_orderkey"), files = 4)
    assert(m(incDir) === m(fullDir))
    // a writer killed mid-manifest-publish is invisible: partial stats
    // under an uncommitted v= dir must not shift any read (a torn
    // manifest would silently SKIP files - the one failure mode worse
    // than an error)
    def mrows() = ZoneMapTable.manifest(spark, incDir)
      .collect().map(_.toString).sorted.toSeq
    val beforeTorn = mrows()
    ZoneMapTable.manifest(spark, incDir).limit(2)
      .write.parquet(s"$incDir/_zonemap/v=99")
    assert(mrows() === beforeTorn)
    assert(canon(ZoneMapTable.prunedRead(spark, incDir,
        "l_orderkey", lit(200L), lit(900L))) ===
      canon(li.where(col("l_orderkey").between(200L, 900L))))
    // the next publish allocates past the torn dir and prunes it
    ZoneMapTable.append(li.limit(3), incDir, "l_orderkey",
      Seq("l_orderkey"), files = 1)
    assert(!new java.io.File(s"$incDir/_zonemap/v=99").exists())
  }

  test("zone-map footer stats == scan stats; unsupported types fall back, reads stay exact") {
    import graft.operators.ZoneMapTable
    val li = Lake(spark, sf0001).lineitem
    // long + string stats: footer-eligible, multi-row-group files
    // (maxRecordsPerFile forces several blocks' worth of files so the
    // cross-row-group merge actually runs)
    val footDir = Files.createTempDirectory("zm_foot").toString + "/t"
    ZoneMapTable.write(li, footDir, "l_orderkey",
      Seq("l_orderkey", "l_returnflag"), files = 6)
    // independent truth: per-file min/max via a plain scan
    def scanManifest(dir: String, cols: Seq[String]) = {
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      spark.read.parquet(s"$dir/data")
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
    }
    def zones(df: org.apache.spark.sql.DataFrame) =
      df.drop("file").collect().map(_.toString).sorted.toSeq
    assert(zones(ZoneMapTable.manifest(spark, footDir)) ===
      zones(scanManifest(footDir, Seq("l_orderkey", "l_returnflag"))),
      "footer-derived zones diverged from a full scan's")
    // a string-zone pruned read is exact (bounds in parquet's
    // unsigned-lexicographic order must not lose any survivor)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(ZoneMapTable.prunedRead(spark, footDir, "l_returnflag",
        lit("N"), lit("N"))) ===
      canon(li.where(col("l_returnflag") === "N")))
    // double stats column: NOT footer-eligible (NaN invisibility) —
    // the scan fallback must produce the same manifest shape and the
    // same exact reads
    val fallDir = Files.createTempDirectory("zm_fall").toString + "/t"
    ZoneMapTable.write(li, fallDir, "l_orderkey",
      Seq("l_orderkey", "l_quantity"), files = 6)
    assert(zones(ZoneMapTable.manifest(spark, fallDir)) ===
      zones(scanManifest(fallDir, Seq("l_orderkey", "l_quantity"))))
    assert(canon(ZoneMapTable.prunedRead(spark, fallDir, "l_orderkey",
        lit(200L), lit(300L))) ===
      canon(li.where(col("l_orderkey").between(200L, 300L))))
    // footer path must also agree through append's delta manifest
    val incDir = Files.createTempDirectory("zm_foot_inc").toString + "/t"
    ZoneMapTable.write(li.where(col("l_orderkey") <= 700), incDir,
      "l_orderkey", Seq("l_orderkey", "l_returnflag"), files = 4)
    ZoneMapTable.append(li.where(col("l_orderkey") > 700), incDir,
      "l_orderkey", Seq("l_orderkey", "l_returnflag"), files = 2)
    assert(zones(ZoneMapTable.manifest(spark, incDir)) ===
      zones(scanManifest(incDir, Seq("l_orderkey", "l_returnflag"))))
    // past DriverFooterBatch files the parse fans out over executors —
    // same zones, same exactness (the 100 TB initial-build path)
    val bigDir = Files.createTempDirectory("zm_foot_big").toString + "/t"
    val nFiles = graft.operators.ZoneMapTable.DriverFooterBatch + 44
    ZoneMapTable.write(li, bigDir, "l_orderkey",
      Seq("l_orderkey", "l_returnflag"), files = nFiles)
    val bigManifest = ZoneMapTable.manifest(spark, bigDir)
    assert(bigManifest.count() > graft.operators.ZoneMapTable.DriverFooterBatch,
      "fixture did not exceed the driver-batch threshold")
    assert(zones(bigManifest) ===
      zones(scanManifest(bigDir, Seq("l_orderkey", "l_returnflag"))))
    assert(canon(ZoneMapTable.prunedRead(spark, bigDir, "l_orderkey",
        lit(200L), lit(300L))) ===
      canon(li.where(col("l_orderkey").between(200L, 300L))))
  }

  test("double zone maps: footers serve clean files, NaN files scan per-file, reads stay exact") {
    import graft.operators.ZoneMapTable
    import spark.implicits._
    // doubles incl. negatives and +Inf are footer-servable; the NaN
    // slice (ids 900–999, one clustered file) has its chunk stats
    // DISCARDED by parquet's reader, so exactly that file takes the
    // per-file scan fallback — and its manifest row must carry Spark's
    // NaN-is-max semantics, which a footer could never witness
    val rows = (0 until 1000).map { i =>
      val v =
        if (i >= 900 && i % 7 == 0) Double.NaN
        else if (i == 500) Double.PositiveInfinity
        else i * 1.5 - 700.25
      (i.toLong, v)
    }
    val dir = Files.createTempDirectory("zm_nan").toString + "/t"
    ZoneMapTable.write(rows.toDF("id", "v"), dir, "id",
      Seq("id", "v"), files = 4)
    def scanManifest() = {
      val aggs = count(lit(1)).as("n_rows") +:
        Seq("id", "v").flatMap(c => Seq(
          min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      spark.read.parquet(s"$dir/data")
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
    }
    def zones(df: org.apache.spark.sql.DataFrame) =
      df.drop("file").collect().map(_.toString).sorted.toSeq
    assert(zones(ZoneMapTable.manifest(spark, dir)) === zones(scanManifest()),
      "write-side double zones diverged from a full scan's (NaN fixture)")
    val m = ZoneMapTable.manifest(spark, dir).collect()
    assert(m.exists(r => r.getDouble(r.fieldIndex("max_v")).isNaN),
      "the NaN file's manifest row must carry Spark's NaN-is-max bound")
    assert(m.exists(r => r.getDouble(r.fieldIndex("max_v"))
      .isPosInfinity), "+Inf must stay an exact footer bound")
    // value-range pruned read over the DOUBLE column: NaN rows fail any
    // range predicate, zones are bounding boxes — result equals the
    // direct filter exactly
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(ZoneMapTable.prunedRead(spark, dir, "v",
        lit(-100.0), lit(50.0))) ===
      canon(rows.toDF("id", "v")
        .where(col("v") >= -100.0 && col("v") <= 50.0)))
    // and the double column no longer forces a whole-manifest scan:
    // clean files must prune on their footer-derived id zones
    val (kept, total) = ZoneMapTable.survivingFiles(spark, dir, "id",
      lit(0L), lit(100L))
    assert(total == 4L && kept.size < 4, s"expected id pruning, kept $kept")
  }

  test("timestamp/date zone maps are footer-served and prune calendar ranges exactly") {
    import graft.operators.ZoneMapTable
    import spark.implicits._
    val li = Lake(spark, sf0001).lineitem
    val dir = Files.createTempDirectory("zm_time").toString + "/t"
    // cluster BY the ship date — the canonical time-partitioned lake
    // layout; both the long key and the timestamp column keep stats
    ZoneMapTable.write(li, dir, "l_shipdate",
      Seq("l_shipdate", "l_orderkey"), files = 6)
    def scanManifest() = {
      val aggs = count(lit(1)).as("n_rows") +:
        Seq("l_shipdate", "l_orderkey").flatMap(c => Seq(
          min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      spark.read.parquet(s"$dir/data")
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
    }
    def zones(df: org.apache.spark.sql.DataFrame) =
      df.drop("file").collect().map(_.toString).sorted.toSeq
    assert(zones(ZoneMapTable.manifest(spark, dir)) === zones(scanManifest()),
      "timestamp zones diverged from a full scan's")
    // the footer path actually served every file (no scan fallback):
    // the write used Spark's own MICROS annotation, which the parser
    // validates before trusting INT64 stats
    val dataFiles = new java.io.File(s"$dir/data").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getAbsolutePath).toSeq
    val Some((served, scanned)) = ZoneMapTable.footerStats(spark, dataFiles,
      Seq("l_shipdate", "l_orderkey"),
      spark.read.parquet(s"$dir/data").schema)
    assert(scanned.isEmpty,
      s"timestamp stats must come from footers, still scanning: $scanned")
    assert(served.count() == dataFiles.size)
    // calendar-range pruned read: clustered by date, a one-year slice
    // opens a file subset and equals the direct predicate exactly
    val lo = lit("1994-01-01").cast(org.apache.spark.sql.types.TimestampNTZType)
    val hi = lit("1994-12-31 23:59:59").cast(org.apache.spark.sql.types.TimestampNTZType)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(ZoneMapTable.prunedRead(spark, dir, "l_shipdate", lo, hi)) ===
      canon(li.where(col("l_shipdate") >= lo && col("l_shipdate") <= hi)))
    val (kept, total) = ZoneMapTable.survivingFiles(spark, dir, "l_shipdate", lo, hi)
    assert(total == 6L && kept.size < 6,
      s"date clustering must let the calendar slice skip files, kept $kept")
  }

  test("z-ordered zone maps prune on every clustered dimension at once") {
    import graft.operators.ZoneMapTable
    val li = Lake(spark, sf0001).lineitem
    val dir = Files.createTempDirectory("zm_zorder").toString + "/t"
    ZoneMapTable.writeZOrdered(li, dir, Seq("l_orderkey", "l_partkey"),
      Seq("l_orderkey", "l_partkey"), files = 16)
    val ok = ("l_orderkey", lit(200L), lit(600L))
    val pk = ("l_partkey", lit(20L), lit(60L))
    val (k1, total) = ZoneMapTable.survivingFilesMulti(spark, dir, Seq(ok))
    val (k2, _) = ZoneMapTable.survivingFilesMulti(spark, dir, Seq(pk))
    val (k12, _) = ZoneMapTable.survivingFilesMulti(spark, dir, Seq(ok, pk))
    assert(total == 16L)
    assert(k1.size < 16, s"orderkey range must skip files, kept ${k1.size}")
    assert(k2.size < 16, s"partkey range must skip files, kept ${k2.size}")
    assert(k12.size <= math.min(k1.size, k2.size),
      "the conjunction must never open more files than either predicate")
    assert(k12.toSet.subsetOf(k1.toSet.intersect(k2.toSet)))
    // exactness: the multi-pruned read equals the direct conjunction
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(ZoneMapTable.prunedReadMulti(spark, dir, Seq(ok, pk))) ===
      canon(li.where(col("l_orderkey").between(200L, 600L) &&
        col("l_partkey").between(20L, 60L))))
    // empty intersection degrades to an empty frame, not an error
    assert(ZoneMapTable.prunedReadMulti(spark, dir, Seq(
      ("l_orderkey", lit(-10L), lit(-1L)), pk)).count() == 0L)
  }

  test("streamed zone-map ingest reads like batch, absorbs each batch exactly once") {
    import graft.operators.ZoneMapTable
    val li = Lake(spark, sf0001).lineitem
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val dir = Files.createTempDirectory("zm_stream").toString + "/t"
    val feed = Files.createTempDirectory("zm_stream_feed").toString
    ZoneMapTable.write(li.where(col("l_orderkey") <= 700), dir,
      "l_orderkey", Seq("l_orderkey"), files = 4)
    // bounded feed, one file per micro-batch -> several append commits
    li.where(col("l_orderkey").between(701, 1200)).coalesce(1)
      .write.mode("append").parquet(feed)
    li.where(col("l_orderkey") > 1200).coalesce(1)
      .write.mode("append").parquet(feed)
    val stream = graft.streaming.ZoneMapStream.zoneMapStream(
        graft.streaming.ZoneMapStream.readFeed(spark, feed, li.schema),
        dir, "l_orderkey", Seq("l_orderkey"), filesPerBatch = 2,
        checkpoint = Files.createTempDirectory("zm_stream_ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .start()
    stream.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // reads through the streamed manifest equal the plain filter
    for ((lo, hi) <- Seq((200L, 900L), (1100L, 1300L)))
      assert(canon(ZoneMapTable.prunedRead(spark, dir, "l_orderkey",
          lit(lo), lit(hi))) ===
        canon(li.where(col("l_orderkey").between(lo, hi))),
        s"range [$lo,$hi] diverged through the streamed manifest")
    // total coverage: manifest rows == table rows, batch stamp advanced
    val total = ZoneMapTable.manifest(spark, dir)
      .agg(sum(col("n_rows"))).collect().head.getLong(0)
    assert(total === li.count())
    // the stamp recorded SOME absorbed batch (file-source batching may
    // fold the feed into one micro-batch, so only >= 0 is contractual)
    assert(ZoneMapTable.lastBatchId(spark, dir) >= 0L)
    // replaying an absorbed batch id is a committed no-op (exactly-once)
    val before = canon(ZoneMapTable.manifest(spark, dir))
    ZoneMapTable.append(li.limit(50), dir, "l_orderkey",
      Seq("l_orderkey"), files = 1, batchId = 0L)
    assert(canon(ZoneMapTable.manifest(spark, dir)) === before)
    // a FRESH batch id still lands, and the stamp follows the max
    ZoneMapTable.append(li.limit(3), dir, "l_orderkey",
      Seq("l_orderkey"), files = 1, batchId = 7L)
    assert(ZoneMapTable.manifest(spark, dir).count() === before.size + 1)
    assert(ZoneMapTable.lastBatchId(spark, dir) === 7L)
  }

  test("zone-map compact restores disjoint files; vacuumData reclaims only unreferenced ones") {
    import graft.operators.ZoneMapTable
    val li = Lake(spark, sf0001).lineitem
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val dir = Files.createTempDirectory("zm_compact").toString + "/t"
    // append-grown table: 3 overlapping batches -> many small files
    ZoneMapTable.write(li.where(col("l_orderkey") % 3 === 0), dir,
      "l_orderkey", Seq("l_orderkey"), files = 4)
    ZoneMapTable.append(li.where(col("l_orderkey") % 3 === 1), dir,
      "l_orderkey", Seq("l_orderkey"), files = 4, batchId = 0L)
    ZoneMapTable.append(li.where(col("l_orderkey") % 3 === 2), dir,
      "l_orderkey", Seq("l_orderkey"), files = 4, batchId = 1L)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def readRange(lo: Long, hi: Long) = canon(
      ZoneMapTable.prunedRead(spark, dir, "l_orderkey", lit(lo), lit(hi)))
    val want = canon(li.where(col("l_orderkey").between(200L, 900L)))
    assert(readRange(200L, 900L) === want)
    val filesBefore = ZoneMapTable.manifest(spark, dir).count()
    assert(filesBefore === 12L)
    ZoneMapTable.compact(spark, dir, "l_orderkey", Seq("l_orderkey"),
      targetFiles = 5)
    // same answers through fewer, globally-disjoint files; superseded
    // files still on disk (in-flight readers), so vacuum reclaims them
    assert(ZoneMapTable.manifest(spark, dir).count() === 5L)
    assert(readRange(200L, 900L) === want)
    // compaction restores skipping: a narrow range opens a minority
    val (kept, total) = ZoneMapTable.survivingFiles(spark, dir,
      "l_orderkey", lit(200L), lit(300L))
    assert(total === 5L && kept.size < 3)
    // the replay stamp carried through compaction
    assert(ZoneMapTable.lastBatchId(spark, dir) === 1L)
    val removed = ZoneMapTable.vacuumData(spark, dir)
    assert(removed.size === 12)
    assert(readRange(200L, 900L) === want)
    // vacuum with nothing unreferenced is a no-op
    assert(ZoneMapTable.vacuumData(spark, dir) === Seq.empty)
    // data dir now holds exactly the manifested files
    assert(new java.io.File(s"$dir/data").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")) === 5)
    // REBUILDING an existing table lands beside the old files and flips
    // the manifest (reader-safe: old files stay until vacuum), replaces
    // the contents, and keeps the replay stamp
    val sub = li.where(col("l_orderkey") <= 500)
    ZoneMapTable.write(sub, dir, "l_orderkey", Seq("l_orderkey"), files = 3)
    assert(ZoneMapTable.manifest(spark, dir).count() === 3L)
    assert(readRange(0L, 100000L) === canon(sub))
    assert(ZoneMapTable.lastBatchId(spark, dir) === 1L)
    assert(ZoneMapTable.vacuumData(spark, dir).size === 5)
    assert(readRange(0L, 100000L) === canon(sub))
  }

  test("zone-map maintenance crash window: kill between manifest commit and vacuum is reader-invisible; append ≡ rebuild") {
    // The ZoneMapTable twin of DedupStream's / VectorIndexSpec's
    // compaction chaos specs (VERDICT-r16 item 6): the production
    // maintenance cycle is compact() THEN vacuumData(), two separate FS
    // mutations. The window between them — compacted manifest
    // generation committed, superseded data files not yet reclaimed —
    // is exactly where a real maintenance job dies. Claims under test:
    // the window is invisible to readers (pruned ranges AND file
    // skipping), replay-safe for streaming ingest, open for new
    // appends, star stats survive verbatim, and the NEXT maintenance
    // cycle retires every pre-crash orphan.
    import graft.operators.ZoneMapTable
    import graft.plans.StarStatsRegistry
    val li = Lake(spark, sf0001).lineitem
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val batches = (0 to 3).map(i => li.where(col("l_orderkey") % 4 === i))
    val dir = Files.createTempDirectory("zm_chaos").toString + "/t"
    ZoneMapTable.write(batches(0), dir, "l_orderkey", Seq("l_orderkey"),
      files = 4, sketchCols = Seq("l_orderkey"))
    ZoneMapTable.append(batches(1), dir, "l_orderkey", Seq("l_orderkey"),
      files = 4, batchId = 1L)
    ZoneMapTable.append(batches(2), dir, "l_orderkey", Seq("l_orderkey"),
      files = 4, batchId = 2L)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def readRange(lo: Long, hi: Long) = canon(
      ZoneMapTable.prunedRead(spark, dir, "l_orderkey", lit(lo), lit(hi)))
    def dataFiles() = new java.io.File(s"$dir/data").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    def starRows() = {
      assert(ZoneMapTable.loadStarStats(spark, dir),
        "star stats sidecar must stay loadable through the window")
      StarStatsRegistry.statsFor(
        StarStatsRegistry.qualify(spark, s"$dir/data")).get.nRows
    }
    val threeBatches = readRange(0L, Long.MaxValue)
    val preWindow = readRange(200L, 900L)
    assert(dataFiles() === 12)
    assert(starRows() === batches.take(3).map(_.count()).sum)

    // THE KILL: production half 1 (compact commits a new manifest
    // generation), then the process dies before vacuumData — the 12
    // superseded files stay on disk exactly as a real crash leaves them
    ZoneMapTable.compact(spark, dir, "l_orderkey", Seq("l_orderkey"),
      targetFiles = 5)
    assert(ZoneMapTable.manifest(spark, dir).count() === 5L)
    assert(dataFiles() === 17,
      "the crash window must hold compacted + all superseded files")

    // reader equivalence across the window: the committed manifest
    // wins, orphans are never resolved, and skipping still works
    assert(readRange(200L, 900L) === preWindow)
    assert(readRange(0L, Long.MaxValue) === threeBatches)
    val (kept, total) = ZoneMapTable.survivingFiles(spark, dir,
      "l_orderkey", lit(200L), lit(300L))
    assert(total === 5L && kept.size < 3,
      "file skipping must read the compacted manifest, not the orphans")
    // the replay guard holds inside the window (compact carried the
    // batch stamp): an absorbed batch id must be a committed no-op
    assert(ZoneMapTable.lastBatchId(spark, dir) === 2L)
    ZoneMapTable.append(batches(2), dir, "l_orderkey", Seq("l_orderkey"),
      files = 4, batchId = 2L)
    assert(readRange(0L, Long.MaxValue) === threeBatches,
      "a replayed batch in the crash window must no-op")
    // new data lands correctly in the window, star stats keep counting
    ZoneMapTable.append(batches(3), dir, "l_orderkey", Seq("l_orderkey"),
      files = 4, batchId = 3L)
    val allFour = readRange(0L, Long.MaxValue)
    assert(allFour.size.toLong === li.count())
    assert(starRows() === li.count())

    // recovery: the NEXT maintenance cycle retires every superseded
    // file, including the pre-crash orphans the interrupted vacuum
    // never removed
    ZoneMapTable.compact(spark, dir, "l_orderkey", Seq("l_orderkey"),
      targetFiles = 5)
    // 12 pre-crash orphans + the 5 now-superseded compacted files + the
    // 4 batch-3 files (the replayed batch wrote NOTHING — it
    // short-circuits before any data lands, so it leaves no orphans)
    val removed = ZoneMapTable.vacuumData(spark, dir)
    assert(removed.size === 12 + 5 + 4,
      s"recovery must reclaim orphans + superseded, got ${removed.size}")
    assert(dataFiles() === 5)
    assert(readRange(0L, Long.MaxValue) === allFour,
      "recovery must preserve the table")
    assert(ZoneMapTable.lastBatchId(spark, dir) === 3L)
    assert(starRows() === li.count())

    // append ≡ rebuild: the same batches folded WITHOUT a crash or any
    // maintenance produce the identical served rows and row coverage
    val rebuilt = Files.createTempDirectory("zm_chaos_rebuild").toString + "/t"
    ZoneMapTable.write(batches(0), rebuilt, "l_orderkey",
      Seq("l_orderkey"), files = 4, sketchCols = Seq("l_orderkey"))
    (1 to 3).foreach { i =>
      ZoneMapTable.append(batches(i), rebuilt, "l_orderkey",
        Seq("l_orderkey"), files = 4, batchId = i.toLong)
    }
    assert(canon(ZoneMapTable.prunedRead(spark, rebuilt, "l_orderkey",
      lit(0L), lit(Long.MaxValue))) === allFour)
  }

  test("versioned table maintenance crash: a mid-cycle kill in the live version never perturbs pinned reads") {
    // writeVersion's commit marker is last, so a torn version is
    // invisible (pinned above); this covers the OTHER maintenance
    // window: the live version dir is append-grown and its
    // compact-then-vacuum cycle dies in the middle — historical pinned
    // reads and latest reads must both hold, and version allocation
    // must continue past the crashed cycle.
    import graft.operators.ZoneMapTable
    val root = Files.createTempDirectory("zm_ver_chaos").toString + "/t"
    val li = Lake(spark, sf0001).lineitem
      .select("l_orderkey", "l_quantity")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val v1 = ZoneMapTable.writeVersion(li.where(col("l_orderkey") < 1000),
      root, "l_orderkey", Seq("l_orderkey"), files = 4)
    val v2 = ZoneMapTable.writeVersion(li, root, "l_orderkey",
      Seq("l_orderkey"), files = 4)
    assert((v1, v2) === (1L, 2L))
    // the live version grows by append, then its maintenance dies in
    // the commit-to-vacuum window
    val extra = li.where(col("l_orderkey") >= 1000).limit(50)
    ZoneMapTable.append(extra, s"$root/v=2", "l_orderkey",
      Seq("l_orderkey"), files = 2, batchId = 1L)
    val liveWant = canon(li.unionByName(extra)
      .where(col("l_orderkey").between(0L, Long.MaxValue)))
    ZoneMapTable.compact(spark, s"$root/v=2", "l_orderkey",
      Seq("l_orderkey"), targetFiles = 3)
    // KILLED here — vacuum never ran. Both reads hold:
    assert(canon(ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
        lit(0L), lit(Long.MaxValue), version = 1L)) ===
      canon(li.where(col("l_orderkey") < 1000)))
    assert(canon(ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
        lit(0L), lit(Long.MaxValue))) === liveWant)
    // allocation continues past the crashed cycle; the new version is
    // immediately the served latest
    val v3 = ZoneMapTable.writeVersion(li.limit(10), root, "l_orderkey",
      Seq("l_orderkey"), files = 1)
    assert(v3 === 3L)
    assert(ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
      lit(0L), lit(Long.MaxValue)).count() === 10L)
    // recovery vacuum inside the old version dir reclaims its orphans
    // without touching any other version
    val removed = ZoneMapTable.vacuumData(spark, s"$root/v=2")
    assert(removed.nonEmpty)
    assert(canon(ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
        lit(0L), lit(Long.MaxValue), version = 2L)) === liveWant)
    assert(canon(ZoneMapTable.prunedReadVersion(spark, root, "l_orderkey",
        lit(0L), lit(Long.MaxValue), version = 1L)) ===
      canon(li.where(col("l_orderkey") < 1000)))
  }

  test("streamed zone-map ingest with compactEvery keeps the file count bounded") {
    import graft.operators.ZoneMapTable
    val li = Lake(spark, sf0001).lineitem
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val dir = Files.createTempDirectory("zm_stream_cpt").toString + "/t"
    val feed = Files.createTempDirectory("zm_stream_cpt_feed").toString
    ZoneMapTable.write(li.where(col("l_orderkey") <= 700), dir,
      "l_orderkey", Seq("l_orderkey"), files = 6)
    li.where(col("l_orderkey") > 700).coalesce(1)
      .write.mode("append").parquet(feed)
    val stream = graft.streaming.ZoneMapStream.zoneMapStream(
        graft.streaming.ZoneMapStream.readFeed(spark, feed, li.schema),
        dir, "l_orderkey", Seq("l_orderkey"), filesPerBatch = 4,
        checkpoint = Files.createTempDirectory("zm_stream_cpt_ckpt").toString,
        compactEvery = 1, compactTo = 5)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    stream.awaitTermination()
    // post-compaction: exactly compactTo manifested + on-disk files,
    // reads equal the plain filter over everything ingested
    assert(ZoneMapTable.manifest(spark, dir).count() === 5L)
    assert(new java.io.File(s"$dir/data").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith(".")) === 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(ZoneMapTable.prunedRead(spark, dir, "l_orderkey",
        lit(0L), lit(100000L))) === canon(li))
  }
}
