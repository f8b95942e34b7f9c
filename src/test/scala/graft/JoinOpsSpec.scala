package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{AsOfJoin, IntervalJoin, RangeJoin, SkewJoin, TemporalJoin}

class JoinOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("asOfBackward equals the naive inequality-join + argmax form") {
    val ev = Lake(spark, sf0001).events.withColumn("t", expr("unix_micros(ts)"))
    val l = ev.select("event_id", "user_id", "t")
    val r = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "t").agg(max("event_id").as("purchase_id"))
    val got = AsOfJoin.asOfBackward(l, r, Seq("user_id"), "t", "t")
      .select("event_id", "asof_purchase_id")

    val naive = l.as("e").join(r.as("p"),
        col("e.user_id") === col("p.user_id") && col("e.t") >= col("p.t"), "left")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("event_id").orderBy(desc_nulls_last("p.t"))))
      .where(col("__rn") === 1)
      .select(col("event_id"), col("purchase_id"))

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(canon(got) === canon(naive))
  }

  test("asOfBackward matches at equal timestamps (>= semantics)") {
    import spark.implicits._
    val l = Seq((1L, "k", 100L), (2L, "k", 99L)).toDF("id", "k", "t")
    val r = Seq((7L, "k", 100L)).toDF("rid", "k", "rt")
    val got = AsOfJoin.asOfBackward(l, r, Seq("k"), "t", "rt")
      .select("id", "asof_rid").collect()
      .map(x => (x.getLong(0), Option(x.get(1)))).sortBy(_._1).toSeq
    assert(got === Seq((1L, Some(7L)), (2L, None)))
  }

  test("asOfBackward picks a deterministic right row on (key, time) ties") {
    import spark.implicits._
    // three right rows share (k, rt=100); the deterministic winner is the
    // greatest right struct in field order => max rid
    val l = Seq((1L, "k", 150L)).toDF("id", "k", "t")
    val dupes = Seq((9L, "k", 100L), (3L, "k", 100L), (7L, "k", 100L))
    (0 until 6).foreach { i =>
      val r = spark.createDataFrame(
        spark.sparkContext.parallelize(
          scala.util.Random.shuffle(dupes).map(Row.fromTuple), i % 3 + 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rid", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("rt", org.apache.spark.sql.types.LongType))))
      val got = AsOfJoin.asOfBackward(l, r, Seq("k"), "t", "rt")
        .select("asof_rid").head().getLong(0)
      assert(got === 9L, s"iteration $i: nondeterministic tie-break, got $got")
    }
  }

  test("pointInTime equals the naive interval join on an SCD2 history with holes") {
    val ev = Lake(spark, sf0001).events.withColumn("t", expr("unix_micros(ts)"))
    val dim = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("t").as("valid_from"))
      .agg(max("event_id").as("purchase_id"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy("user_id").orderBy("valid_from")))
      .where(col("purchase_id") % 3 =!= 0) // holes
    val facts = ev.select("event_id", "user_id", "t")
    val got = TemporalJoin.pointInTime(facts, dim, Seq("user_id"),
        "t", "valid_from", "valid_to")
      .select("event_id", "pit_purchase_id")
    val naive = facts.as("f").join(dim.as("d"),
        col("f.user_id") === col("d.user_id") &&
          col("f.t") >= col("d.valid_from") &&
          (col("d.valid_to").isNull || col("f.t") < col("d.valid_to")), "left")
      .select(col("event_id"), col("purchase_id").as("pit_purchase_id"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq
    assert(canon(got) === canon(naive))
    // intervals partition time per key, so the naive LEFT join kept |facts|
    assert(naive.count() === facts.count())
  }

  test("pointInTime: boundary semantics and holes on a handcrafted history") {
    import spark.implicits._
    // key "k": v1 [10, 20), v2 [20, 30) DELETED (hole), v3 [30, open)
    val dim = Seq(("k", 10L, 20L, "v1"), ("k", 30L, -1L, "v3"))
      .toDF("k", "valid_from", "valid_to", "ver")
      .withColumn("valid_to",
        when(col("valid_to") === -1L, lit(null)).otherwise(col("valid_to")))
    val facts = Seq(("k", 5L), ("k", 10L), ("k", 19L), ("k", 20L), ("k", 25L),
      ("k", 30L), ("k", 99L)).toDF("k", "t")
    val got = TemporalJoin.pointInTime(facts, dim, Seq("k"), "t",
        "valid_from", "valid_to")
      .select("t", "pit_ver").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(got === Set(
      (5L, None),         // before history
      (10L, Some("v1")),  // valid_from inclusive
      (19L, Some("v1")),
      (20L, None),        // valid_to exclusive AND the next version deleted
      (25L, None),        // inside the hole
      (30L, Some("v3")),  // open interval starts
      (99L, Some("v3"))))
  }

  test("binned range join equals the naive cross + filter") {
    val lk = Lake(spark, sf0001)
    val got = RangeJoin.binnedRangeJoin(lk.customer, lk.supplier,
        "c_acctbal", "s_acctbal", 10.0)
      .select("c_custkey", "s_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = lk.customer.crossJoin(lk.supplier)
      .where(abs(col("c_acctbal") - col("s_acctbal")) <= 10.0)
      .select("c_custkey", "s_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === naive)
    assert(got.nonEmpty)
  }

  test("salted join is multiset-identical to the plain equi-join") {
    val lk = Lake(spark, sf0001)
    def canon(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    val custKeyed = lk.customer.withColumnRenamed("c_custkey", "o_custkey")
    val salted = SkewJoin.saltedJoin(lk.orders, custKeyed, "o_custkey", 8)
    val plain = lk.orders.join(custKeyed, "o_custkey")
    assert(canon(salted.drop("o_custkey")) === canon(plain.drop("o_custkey")))
  }

  test("hot-key salted join is multiset-identical to the plain equi-join") {
    import spark.implicits._
    def canon(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    // one hot key (0), several warm keys, dim covers hot + cold + absent
    val hot = ((1 to 800).map(i => (0L, i)) ++
      (1 to 20).flatMap(k => (1 to 5).map(i => (k.toLong, i))))
      .toDF("k", "payload")
    val dim = (0 to 25).map(k => (k.toLong, s"name$k")).toDF("k", "name")
    val plain = canon(hot.join(dim, Seq("k")))
    // hot key present, several salt counts
    for (s <- Seq(2, 8, 64))
      assert(canon(SkewJoin.saltedJoinHot(hot, dim, "k", s, Seq("0"))) === plain,
        s"salts=$s diverged")
    // multiple hot keys, incl. one with no dim partner and one absent
    // from the probe side entirely
    assert(canon(SkewJoin.saltedJoinHot(hot, dim, "k", 8,
      Seq("0", "3", "999"))) === plain)
    // hot list that misses the actual hot key still joins correctly
    // (it only degrades the straggler protection, never the answer)
    assert(canon(SkewJoin.saltedJoinHot(hot, dim, "k", 8, Seq("7"))) === plain)
    // replication is hot-rows-only: the salted right side carries
    // |dim| + (salts-1) x |hot dim rows| rows, not |dim| x salts
    val rSalted = dim.withColumn("__salt",
      explode(when(col("k").cast("string").isin("0"),
        sequence(lit(0L), lit(7L))).otherwise(array(lit(0L)))))
    assert(rSalted.count() === dim.count() + 7)
  }

  test("planFor surfaces the hot key and executeJoin salts only it") {
    import graft.operators.JoinPlanner
    import spark.implicits._
    val hot = spark.range(0, 2000)
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 50).select(col("id").as("dk"),
      concat(lit("v"), col("id")).as("v"))
    val plan = JoinPlanner.planFor(hot, "k", dim, "dk", broadcastMaxRows = 10L)
    assert(plan.strategy === "salted" && plan.salts > 1)
    assert(plan.hotKeys === Seq("1"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(JoinPlanner.executeJoin(plan, hot, "k", dim, "dk")) ===
      canon(hot.join(dim, hot("k") === dim("dk")).drop(dim("dk"))))
  }

  test("planFor surfaces EVERY key above the skew threshold, not just the top-1 (ADVICE r19)") {
    import graft.operators.JoinPlanner
    // two heavy keys (45% / 35% of rows) + uniform residual: top-1-only
    // hot lists would pin the second heavy key to salt 0 on one task
    val hot = spark.range(0, 4000)
      .select(when(col("id") % 20 < 9, lit(1L))
        .when(col("id") % 20 < 16, lit(2L))
        .otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val dim = spark.range(0, 50).select(col("id").as("dk"),
      concat(lit("v"), col("id")).as("v"))
    val plan = JoinPlanner.planFor(hot, "k", dim, "dk", broadcastMaxRows = 10L)
    assert(plan.strategy === "salted")
    assert(plan.hotKeys.toSet === Set("1", "2"),
      s"both heavy keys must surface, got ${plan.hotKeys}")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(JoinPlanner.executeJoin(plan, hot, "k", dim, "dk")) ===
      canon(hot.join(dim, hot("k") === dim("dk")).drop(dim("dk"))))
  }

  test("mixed-typed keys refuse hot salting and fall back correctly (ADVICE r19)") {
    import graft.operators.JoinPlanner
    import spark.implicits._
    // bigint 1 and decimal 1.00 satisfy === under coercion but render
    // differently as strings — the hot test would silently drop matched
    // pairs with salt != 0. saltedJoinHot must refuse; executeJoin must
    // take the legacy full-replication path and stay multiset-identical.
    val left = ((1 to 400).map(i => (1L, i)) ++ Seq((2L, 401), (3L, 402)))
      .toDF("k", "payload")
    val right = Seq(1, 2, 3, 4).toDF("dk")
      .select(col("dk").cast("decimal(10,2)").as("dk"),
        concat(lit("v"), col("dk")).as("v"))
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoinHot(left,
        right.withColumnRenamed("dk", "k"), "k", 8, Seq("1"))
    }
    val plan = JoinPlanner.JoinPlan("salted", 8, Seq("1"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(JoinPlanner.executeJoin(plan, left, "k", right, "dk")) ===
      canon(left.join(right, left("k") === right("dk")).drop(right("dk"))))
  }

  test("auto-salted join: advisor picks >1 on skew, 1 on uniform, equal either way") {
    import spark.implicits._
    // 1000 rows on one hot key + 10 uniform keys: max/mean >> 4
    val hot = ((1 to 1000).map(i => (0L, i)) ++
      (1 to 10).flatMap(k => (1 to 5).map(i => (k.toLong, i))))
      .toDF("k", "payload")
    val dim = (0 to 10).map(k => (k.toLong, s"name$k")).toDF("k", "name")
    assert(SkewJoin.adviseSalts(hot, "k") > 1)
    // uniform load: advisor declines to salt
    val uniform = (1 to 100).map(i => (i.toLong % 10, i)).toDF("k", "payload")
    assert(SkewJoin.adviseSalts(uniform, "k") === 1)
    assert(SkewJoin.adviseSalts(uniform.limit(0), "k") === 1)
    // both advice branches are multiset-identical to the manual salting
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col).toSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    val manual = SkewJoin.saltedJoin(hot, dim, "k", 8)
    assert(canon(SkewJoin.autoSaltedJoin(hot, dim, "k")) === canon(manual))
    assert(canon(SkewJoin.autoSaltedJoin(uniform, dim, "k")) ===
      canon(SkewJoin.saltedJoin(uniform, dim, "k", 4)))
    // advised count respects the clamp
    assert(SkewJoin.adviseSalts(hot, "k", maxSalts = 4) <= 4)
  }

  test("as-of tolerance nulls matches older than the lookback, boundary inclusive") {
    import spark.implicits._
    val left = Seq((1L, 100L), (1L, 200L), (2L, 500L)).toDF("k", "t")
    val right = Seq((1L, 90L, "a"), (1L, 50L, "b"), (2L, 100L, "c"))
      .toDF("k", "t", "v")
    val got = AsOfJoin.asOfBackward(left, right, Seq("k"), "t", "t",
        tolerance = Some(lit(110L)))
      .select("k", "t", "asof_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    // (1,100): latest right is t=90, age 10 <= 110 -> "a"
    // (1,200): latest right is t=90, age 110 <= 110 -> "a" (boundary kept)
    // (2,500): right t=100, age 400 > 110 -> null, row kept (LEFT)
    assert(got === Set((1L, 100L, Some("a")), (1L, 200L, Some("a")),
      (2L, 500L, None)))
    // and tolerance=None remains the unbounded backward join
    val unbounded = AsOfJoin.asOfBackward(left, right, Seq("k"), "t", "t")
      .select("k", "t", "asof_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSet
    assert(unbounded === Set((1L, 100L, Some("a")), (1L, 200L, Some("a")),
      (2L, 500L, Some("c"))))
  }

  test("interval overlaps equals the naive predicate join, keyed and unkeyed, any bin width") {
    import spark.implicits._
    // spans from events: [t, t + hash-derived length) — lengths from
    // sub-bin to many-bin so the single-emission rule is exercised
    val ev = Lake(spark, sf0001).events.withColumn("t", expr("unix_micros(ts)"))
    val l = ev.where(col("event_id") < 400)
      .select(col("user_id"), col("event_id").as("lid"),
        col("t").as("ls"), (col("t") + pmod(xxhash64(col("event_id")), lit(5000000000L)) + 1).as("le"))
    val r = ev.where(col("event_id") < 400)
      .select(col("user_id"), col("event_id").as("rid"),
        col("t").as("rs"), (col("t") + pmod(xxhash64(col("event_id") + 7), lit(5000000000L)) + 1).as("re"))
    def canonKeyed(df: org.apache.spark.sql.DataFrame) =
      df.select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val naive = canonKeyed(l.as("a").join(r.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("ls") < col("re") && col("rs") < col("le")))
    for (w <- Seq(1000000L, 600000000L, 86400000000L)) {
      val got = canonKeyed(IntervalJoin.overlaps(l, r, Seq("user_id"),
        "ls", "le", "rs", "re", binWidth = w))
      assert(got === naive, s"binWidth $w diverged (keyed)")
    }
    assert(naive.nonEmpty)
    // unkeyed: same law on small slices (global axis, no key equality)
    val ls = l.where(col("lid") < 40); val rs = r.where(col("rid") < 40)
    val naiveU = ls.as("a").join(rs.as("b"),
        col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    val gotU = IntervalJoin.overlaps(ls, rs, Seq.empty,
        "ls", "le", "rs", "re", binWidth = 3600000000L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(gotU === naiveU)
    // degenerate (empty) intervals match nothing
    val degen = Seq((1L, 100L, 100L)).toDF("k", "s", "e")
    val other = Seq((1L, 0L, 1000L)).toDF("k", "s2", "e2")
    assert(IntervalJoin.overlaps(degen, other, Seq("k"), "s", "e", "s2", "e2", 10L)
      .count() === 0L)
  }

  test("long-interval guard: guarded join equals the naive predicate join at any maxBins") {
    import spark.implicits._
    val minUs = 60L * 1000000
    // minute-sized intervals plus one day-long outlier on each side —
    // the fan-out case the guard exists for (a day at minute bins would
    // register in 1440 bins; the guard routes it via broadcast instead)
    val l = (Seq((1L, 0L, 1440 * minUs)) ++ (0 until 50).map(i =>
      (i.toLong % 3, i * 10 * minUs, i * 10 * minUs + minUs)))
      .zipWithIndex.map { case ((k, s, e), i) => (k, i.toLong, s, e) }
      .toDF("k", "lid", "ls", "le")
    val r = (Seq((2L, 100L * minUs, 100L * minUs + 1440 * minUs)) ++
      (0 until 50).map(i => (i.toLong % 3, i * 7 * minUs, i * 7 * minUs + 2 * minUs)))
      .zipWithIndex.map { case ((k, s, e), i) => (k, i.toLong, s, e) }
      .toDF("k", "rid", "rs", "re")
    val naive = l.join(r, l("k") === r("k") &&
        col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(naive.nonEmpty)
    // every (maxBins, gate) combination must agree: outliers absent,
    // collected to a local broadcast, or left lazy above the gate
    for (mb <- Seq(1, 4, 64, Int.MaxValue); gate <- Seq(0, 1, 65536)) {
      val got = IntervalJoin.overlaps(l, r, Seq("k"), "ls", "le", "rs", "re",
          binWidth = minUs, maxBins = mb, maxCollectedLong = gate)
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
      assert(got === naive, s"maxBins $mb gate $gate diverged from the naive join")
    }
    // exact integer binning: epoch-NANOS magnitudes (past the 2^53
    // double mantissa) must bin exactly — float division would mis-bin
    // and drop overlapping pairs (the round-10 advice)
    val base = 1700000000L * 1000000000L
    val ln = Seq((1L, 10L, base, base + 3600L * 1000000000L))
      .toDF("k", "lid", "ls", "le")
    val rn = Seq((1L, 20L, base + 1800L * 1000000000L, base + 5400L * 1000000000L))
      .toDF("k", "rid", "rs", "re")
    val gotN = IntervalJoin.overlaps(ln, rn, Seq("k"), "ls", "le", "rs", "re",
        binWidth = 60L * 1000000000L)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(gotN === Seq((10L, 20L)))
  }

  test("outlier probes are memoized per (plan, files) and invalidated by new data") {
    import spark.implicits._
    val dirL = "target/ij_probe/l"; val dirR = "target/ij_probe/r"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File("target/ij_probe"))
    val minUs = 60L * 1000000
    (0 until 20).map(i => (i.toLong % 3, i.toLong, i * 10 * minUs, i * 10 * minUs + minUs))
      .toDF("k", "lid", "ls", "le").write.parquet(dirL)
    (0 until 20).map(i => (i.toLong % 3, i.toLong, i * 7 * minUs, i * 7 * minUs + 2 * minUs))
      .toDF("k", "rid", "rs", "re").write.parquet(dirR)
    def run(): Seq[(Long, Long)] = {
      val l = spark.read.parquet(dirL); val r = spark.read.parquet(dirR)
      IntervalJoin.overlaps(l, r, Seq("k"), "ls", "le", "rs", "re",
          binWidth = minUs, maxBins = 4)
        .select("lid", "rid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    }
    val first = run()
    val runsAfterFirst = IntervalJoin.probeRuns.get()
    val second = run()
    assert(second === first)
    assert(IntervalJoin.probeRuns.get() == runsAfterFirst,
      "identical plan over identical files must reuse the cached probes")
    // new data invalidates: an appended day-long outlier must surface
    Seq((1L, 99L, 0L, 1440 * minUs)).toDF("k", "lid", "ls", "le")
      .write.mode("append").parquet(dirL)
    val third = run()
    assert(IntervalJoin.probeRuns.get() > runsAfterFirst,
      "changed files must re-probe")
    assert(third.count(_._1 == 99L) > 0,
      "the appended outlier's pairs must appear (cache must not serve stale)")
    val l3 = spark.read.parquet(dirL); val r3 = spark.read.parquet(dirR)
    val naive3 = l3.join(r3, l3("k") === r3("k") &&
        col("ls") < col("re") && col("rs") < col("le"))
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sorted.toSeq
    assert(third === naive3)
  }

  test("plannedJoin executes the sketch advice and stays multiset-equal to the manual join") {
    import graft.operators.JoinPlanner
    import spark.implicits._
    val hot = spark.range(0, 2000)
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
    val uniform = spark.range(0, 2000)
      .select((col("id") % 500).as("k"), col("id").as("payload"))
    val dim = spark.range(0, 50).select(col("id").as("dk"),
      concat(lit("v"), col("id")).as("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def manual(l: org.apache.spark.sql.DataFrame,
               r: org.apache.spark.sql.DataFrame) =
      canon(l.join(r, l("k") === r("dk")).drop(r("dk")))
    // small side under the threshold -> broadcast (no salting needed)
    assert(JoinPlanner.planFor(hot, "k", dim, "dk") ===
      JoinPlanner.JoinPlan("broadcast-right", 1))
    assert(canon(JoinPlanner.plannedJoin(hot, "k", dim, "dk")) ===
      manual(hot, dim))
    assert(JoinPlanner.planFor(dim.withColumnRenamed("dk", "k"), "k",
        hot.select(col("k").as("dk"), col("payload")), "dk",
        broadcastMaxRows = 100L).strategy === "broadcast-left")
    // both sides big + hot probe key -> salted, with a sketch-derived count
    val skewPlan = JoinPlanner.planFor(hot, "k", dim, "dk",
      broadcastMaxRows = 10L)
    assert(skewPlan.strategy === "salted" && skewPlan.salts > 1)
    assert(canon(JoinPlanner.plannedJoin(hot, "k", dim, "dk",
      broadcastMaxRows = 10L)) === manual(hot, dim))
    // both sides big + uniform probe -> plain shuffle join
    assert(JoinPlanner.planFor(uniform, "k", dim, "dk",
      broadcastMaxRows = 10L) === JoinPlanner.JoinPlan("shuffle-hash", 1))
    assert(canon(JoinPlanner.plannedJoin(uniform, "k", dim, "dk",
      broadcastMaxRows = 10L)) === manual(uniform, dim))
    // empty probe degrades to a plain (empty) join, no division blowup
    val empty = hot.limit(0)
    assert(JoinPlanner.planFor(empty, "k", dim, "dk",
      broadcastMaxRows = 0L).salts === 1)
    assert(JoinPlanner.plannedJoin(empty, "k", dim, "dk",
      broadcastMaxRows = 0L).count() === 0L)
  }

  test("joinDelta law: stored ∪ delta equals the direct join, any split, empty deltas included") {
    import graft.operators.IncrementalJoin
    val lk = Lake(spark, sf0001)
    val o = lk.orders.select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val l = lk.lineitem.select(col("l_orderkey").as("k"), col("l_extendedprice"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val direct = canon(o.join(l, Seq("k")))
    for (m <- Seq(2, 3, 7)) {
      val got = canon(
        o.where(col("k") % m === 0).join(l.where(col("k") % m === 0), Seq("k"))
          .unionByName(IncrementalJoin.joinDelta(
            o.where(col("k") % m === 0), o.where(col("k") % m =!= 0),
            l.where(col("k") % m === 0), l.where(col("k") % m =!= 0),
            Seq("k"))))
      assert(got === direct, s"split mod $m diverged")
    }
    // no new rows on either side -> empty delta
    assert(IncrementalJoin.joinDelta(o, o.limit(0), l, l.limit(0), Seq("k"))
      .count() === 0L)
    // one-sided append: delta is exactly the new left rows' matches
    val oneSided = IncrementalJoin.joinDelta(
      o.where(col("k") % 2 === 0), o.where(col("k") % 2 === 1), l, l.limit(0),
      Seq("k"))
    assert(canon(oneSided) === canon(o.where(col("k") % 2 === 1).join(l, Seq("k"))))
  }

  test("joinStats: estimate is exact under uniform multiplicity, honest under skew") {
    import graft.operators.JoinPlanner
    import spark.implicits._
    // uniform: every key has exactly 2 left rows and 3 right rows, and
    // keyspaces half-overlap -> the containment model is EXACT
    val l = (0L until 40L).flatMap(k => Seq.fill(2)(k)).toSeq.toDF("k")
    val r = (20L until 60L).flatMap(k => Seq.fill(3)(k)).toSeq.toDF("k")
    val row = JoinPlanner.joinStats(l, "k", r, "k").collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) === ((80L, 120L, 40L, 40L, 20L)))
    val actual = l.join(r, Seq("k")).count()
    assert(row.getAs[Long]("est_out") === actual) // 2*3*20 = 120
    // left (80 rows) is the smaller side -> it is the one to broadcast
    assert(row.getAs[String]("strategy") === "broadcast-left")
    // CORRELATED skew: the same key is heavy on both sides, so the true
    // output is quadratic in that key's mass while the model spreads it
    // uniformly -> underestimate. (One-sided skew stays exact: the
    // estimate is sum(l_i)·avg_r over common keys, so a uniform right
    // hides any left skew — that's why this fixture skews BOTH sides.)
    val ls = (Seq.fill(90)(0L) ++ (1L until 11L)).toDF("k")
    val rs = (Seq.fill(50)(0L) ++ (1L until 11L)).toDF("k")
    val srow = JoinPlanner.joinStats(ls, "k", rs, "k").collect()(0)
    val sactual = ls.join(rs, Seq("k")).count() // 90*50 + 10 = 4510
    assert(sactual === 4510L)
    assert(srow.getAs[Long]("est_out") < sactual)
    // threshold flip: tiny broadcastMaxRows forces shuffle-hash
    val tiny = JoinPlanner.joinStats(l, "k", r, "k", broadcastMaxRows = 10L)
      .collect()(0)
    assert(tiny.getAs[String]("strategy") === "shuffle-hash")
  }

  test("joinStatsFromSketches over per-day state equals joinStats over the rows") {
    import graft.operators.JoinPlanner
    import spark.implicits._
    // per-day sketch-state tables of the segmentSketchStream shape:
    // (day, theta, n_rows) — the rows themselves are never re-read
    val l = (0L until 40L).flatMap(k => Seq.fill(2)((k % 5, k))).toSeq
      .toDF("day", "k")
    val r = (20L until 60L).flatMap(k => Seq.fill(3)((k % 3, k))).toSeq
      .toDF("day", "k")
    def state(df: org.apache.spark.sql.DataFrame) = df.groupBy("day")
      .agg(theta_sketch_agg(col("k")).as("theta"),
        count(lit(1)).as("n_rows"))
    val fromState = JoinPlanner.joinStatsFromSketches(
      state(l), "theta", "n_rows", state(r), "theta", "n_rows").collect()(0)
    val fromRows = JoinPlanner.joinStats(l, "k", r, "k").collect()(0)
    assert(fromState.toSeq === fromRows.toSeq,
      "persisted sketch state must answer exactly like the raw tables")
  }

  test("skewProbe finds the heavy key exactly below the counter budget") {
    import graft.operators.JoinPlanner
    import spark.implicits._
    val df = (Seq.fill(70)(7L) ++ (0L until 30L)).toDF("k")
    val row = JoinPlanner.skewProbe(df, "k").collect()(0)
    assert(row.getAs[Long]("n_rows") === 100L)
    assert(row.getAs[String]("top_key") === "7")
    assert(row.getAs[Long]("top_rows") === 71L) // 70 heavy + key 7 itself
    assert(math.abs(row.getAs[Double]("top_share") - 0.71) < 1e-9)
  }

  test("skewProbe reports no-skew (not an error) when no key clears the sketch bound") {
    import graft.operators.JoinPlanner
    import spark.implicits._
    // Uniform keys, count 1 each, under a tiny counter budget: the
    // NO_FALSE_POSITIVES frequent-items list is empty because no count
    // clears the ~n/mapSize error bound — the sf1 q61 crash shape.
    // The probe must answer "nothing demonstrably heavy", never throw.
    val df = (0L until 2000L).toDF("k")
    val row = JoinPlanner.skewProbe(df, "k", maxItemsTracked = 6).collect()(0)
    assert(row.getAs[Long]("n_rows") === 2000L)
    assert(row.getAs[String]("top_key") === null)
    assert(row.getAs[Long]("top_rows") === 0L)
    assert(row.getAs[Double]("top_share") === 0.0)
    // and planFor on such a join must settle on the plain shuffle shape
    val left = (0L until 2000L).toDF("k1")
    val right = (0L until 1500L).toDF("k2")
    val plan = JoinPlanner.planFor(left, "k1", right, "k2",
      broadcastMaxRows = 100L)
    assert(plan.strategy === "shuffle-hash")
  }

  test("starOrder inverts an adversarial written order; join equals written order and broadcasts") {
    import graft.operators.JoinPlanner
    import graft.operators.JoinPlanner.StarDim
    val lk = Lake(spark, sf0001)
    val fact = lk.lineitem.select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_extendedprice"))
    // written least-selective-first: supplier keeps every fact key,
    // the URGENT orders filter ~1/5, the Brand#11 part filter ~1/20
    val dims = Seq(
      StarDim("supplier",
        lk.supplier.select(col("s_suppkey"), col("s_nationkey")),
        "l_suppkey", "s_suppkey"),
      StarDim("orders",
        lk.orders.where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey")),
        "l_orderkey", "o_orderkey"),
      StarDim("part",
        lk.part.where(col("p_brand") === "Brand#11")
          .select(col("p_partkey")),
        "l_partkey", "p_partkey"))
    val (joined, plan) = JoinPlanner.orderedStarJoin(fact, dims)
    assert(plan.order === Seq("part", "orders", "supplier"),
      s"survival estimates mis-ranked: $plan")
    assert(plan.survival("part") < plan.survival("orders") &&
      plan.survival("orders") < plan.survival("supplier"))
    assert(plan.survival("supplier") >= 0.99) // every suppkey resolves
    // equality law: inner equi-joins commute — the planned order must
    // return exactly the written-order join's rows
    val written = dims.foldLeft(fact)((acc, d) =>
      acc.join(d.dim, acc(d.factKey) === d.dim(d.dimKey)).drop(d.dim(d.dimKey)))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(joined.select(written.columns.map(col).toIndexedSeq: _*))
      === canon(written))
    // every dim sits under the default broadcast cap -> three
    // BroadcastHashJoins, zero shuffled joins
    val phys = joined.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(phys).size === 3, phys)
    assert(!phys.contains("SortMergeJoin"), phys)
  }

  test("starOrder: duplicate dim names and empty chains are rejected; empty fact is ordered not crashed") {
    import graft.operators.JoinPlanner
    import graft.operators.JoinPlanner.StarDim
    import spark.implicits._
    val f = Seq((1L, 2L)).toDF("a", "b")
    val d = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      JoinPlanner.starOrder(f, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      JoinPlanner.starOrder(f, Seq(
        StarDim("d", d, "a", "k"), StarDim("d", d, "b", "k")))
    }
    // empty fact: every survival is 0, order falls back to name order
    val plan = JoinPlanner.starOrder(f.limit(0), Seq(
      StarDim("z", d, "a", "k"), StarDim("y", d, "b", "k")))
    assert(plan.order === Seq("y", "z"))
    assert(plan.survival.values.forall(_ === 0.0))
  }
}
