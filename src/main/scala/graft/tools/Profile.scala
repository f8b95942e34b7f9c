package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftSession, Lake}
import graft.operators.{Dedup, RuntimeFilter, Similarity, SkewJoin}
import graft.plans.OrEquiJoinRule
import graft.functions.TextFunctions._

/** One parameterized diagnostic profiler (VERDICT-r17 item 7): every
  * dev-only micro-bench/stage-isolation main that used to live as its
  * own `tools.XyzBench`-style object is a subcommand here.
  *
  *   runMain graft.tools.Profile <cmd> [args...]
  *
  *   agg [sfDir]              decimal-sum vs integer-cents on q02's shape
  *   bloom [sfDir] [amp]      runtime Bloom filter on the q45 shape
  *   dedupnear [sfDir]        end-to-end dedupNear, prop vs star clustering
  *   dedupstages [sfDir]      MinHash-LSH stage isolation (scan..full)
  *   fam [sfDir]              minhash family timing (xx vs md5)
  *   kll [sfDir]              q52 stage isolation (scan/hashagg/build/full)
  *   orjoin [nL] [nR]         OR-join two ways (BNLJ / rule)
  *   pq [sfDir]               PQ reconstruction cosine distribution (s11)
  *   q87 [sfDir]              q87 gate phase timer (probe/load/plan/exec)
  *   qtime <q,..> [sfDir] [r] any declared query: build/plan/exec phase split
  *   reuse [sfDir]            band self-join exchange reuse, two forms
  *   sigpersist [sfDir] [r]   d2: persist signatures or not, end-to-end
  *   skew [nLeft]             hot-key SMJ: AQE off / on / salted
  *
  * Historical outputs cited in SURVEY §6 under the old names
  * (tools.AggBench = `agg`, tools.OrJoinBench = `orjoin`,
  * tools.SkewBench = `skew`, tools.FamBench = `fam`,
  * tools.ReuseBench = `reuse`, tools.PqProbe = `pq`,
  * tools.BloomBench = `bloom`, tools.Q87Profile = `q87`, …) were
  * produced by these same bodies — only the entry point moved.
  * Diagnostic only — not part of the driver contract. */
object Profile {

  private def timer(prefix: String): (String => (=> Long) => Unit) =
    name => f => {
      val t0 = System.nanoTime()
      val n = f
      println(f"$prefix $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("help")
    val rest = args.drop(1)
    cmd match {
      case "agg"         => agg(rest)
      case "bloom"       => bloom(rest)
      case "dedupnear"   => dedupNear(rest)
      case "dedupstages" => dedupStages(rest)
      case "fam"         => fam(rest)
      case "kll"         => kll(rest)
      case "naajplan"    => naajPlan(rest)
      case "orjoin"      => orJoin(rest)
      case "pq"          => pq(rest)
      case "q87"         => q87(rest)
      case "qtime"       => qtime(rest)
      case "reuse"       => reuse(rest)
      case "sigpersist"  => sigPersist(rest)
      case "skew"        => skew(rest)
      case other =>
        System.err.println(
          s"unknown profile '$other' — one of: agg bloom dedupnear " +
            "dedupstages fam kll orjoin pq q87 qtime reuse sigpersist skew")
        if (other != "help") sys.exit(2)
    }
  }

  /** q99's NOT-IN plan with NullAwareAntiJoinRule DISARMED vs ARMED —
    * the evidence artifact VERDICT r19 asked for (its committed
    * before/after pair was byte-identical because the declared query
    * always arms the rule on its child session; this dumps the stock
    * BroadcastNestedLoopJoin plan a rule-off session actually produces).
    *
    *   runMain graft.tools.Profile naajplan [sfDir]
    */
  private def naajPlan(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = session("naajplan")
    val sql =
      """SELECT c_custkey, c_name FROM customer
        |WHERE (NULLIF(c_nationkey, 4), NULLIF(c_mktsegment, 'MACHINERY'))
        |  NOT IN (SELECT NULLIF(s_nationkey, 9), 'BUILDING' FROM supplier)"""
        .stripMargin
    for (armed <- Seq(false, true)) {
      val child = spark.newSession()
      child.conf.set(graft.plans.NullAwareAntiJoinRule.ConfKey, armed.toString)
      Lake(child, dir).registerViews()
      println(s"==================== q99 NOT-IN, rewriteNotIn=$armed ====================")
      println(child.sql(sql).queryExecution.executedPlan.toString)
    }
  }

  /** Phase split for declared queries (optimization round 19, guide §1):
    * where does a bench second actually go? For each named query, per rep:
    *   build = the `fn(spark, dir)` call — driver-side jobs (iterative
    *           fits, plan probes, index builds) run HERE;
    *   plan  = forcing `queryExecution.executedPlan` on the returned frame
    *           (analysis + optimization + physical planning, pre-AQE);
    *   exec  = the noop save (what Bench times INCLUDES build+plan).
    * A listener counts jobs launched and sums task wall time per phase, so
    * "32 jobs, 0.1 s of task time, 2 s wall" reads as scheduling/planning
    * overhead, not data work.
    *
    *   runMain graft.tools.Profile qtime q86_or_join_3pred[,q99...] [sfDir] [reps]
    */
  private def qtime(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q86_or_join_3pred"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val showJobs = sys.env.get("GRAFT_QTIME_JOBS").contains("1")
    val spark = session("qtime")
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val taskNs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (showJobs) jobStart.put(j.jobId, (j.time,
          Option(j.properties).map(_.getProperty("callSite.short", "?")).getOrElse("?")))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (showJobs) Option(jobStart.remove(j.jobId)).foreach { case (t0, site) =>
          println(f"[qtime-job]   job ${j.jobId}%3d ${(j.time - t0) / 1e3}%7.2fs  $site")
        }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null)
          taskNs.addAndGet((t.taskInfo.finishTime - t.taskInfo.launchTime) * 1000000L)
      }
    })
    def phase[A](f: => A): (A, Double, Long, Long, Double) = {
      val (j0, t0, n0) = (jobs.get, taskNs.get, tasks.get)
      val w0 = System.nanoTime()
      val r = f
      Thread.sleep(60) // listener bus drain (diagnostic-grade)
      ((r, (System.nanoTime() - w0) / 1e9 - 0.06, jobs.get - j0, tasks.get - n0,
        (taskNs.get - t0) / 1e9))
    }
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).write.mode("overwrite").format("noop").save() // warmup
      for (r <- 1 to reps) {
        val (df, bw, bj, bn, bt) = phase { fn(spark, sfDir) }
        val (_, pw, pj, pn, pt) = phase { df.queryExecution.executedPlan }
        val (_, ew, ej, en, et) = phase {
          df.write.mode("overwrite").format("noop").save()
        }
        println(f"[qtime] $name%-28s rep$r  " +
          f"build ${bw}%6.2fs (${bj}%3d jobs/${bn}%4d tasks/${bt}%6.2fs task)  " +
          f"plan ${pw}%6.2fs (${pj}%3d j)  " +
          f"exec ${ew}%6.2fs (${ej}%3d jobs/${en}%4d tasks/${et}%6.2fs task)")
      }
    }
    spark.stop()
  }

  private def session(name: String): SparkSession = {
    val s = GraftSession.local(name)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Decimal-sum vs integer-cents aggregation cost on q02's shape. */
  private def agg(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session("profile-agg")
    val li = graft.operators.Parallelism.ensure(Lake(spark, dir).lineitem)
    def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
    def dsum(c: org.apache.spark.sql.Column) = sum(dec(c)).cast(DoubleType)
    def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast(LongType)
    val t = timer("AGG")
    for (rep <- 1 to 3) {
      t(s"decimal_$rep")(li.groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast(DoubleType).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")).count())
      t(s"cents_$rep")(li.groupBy("l_returnflag", "l_linestatus")
        .agg((sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          (sum(cents(col("l_extendedprice"))) / 100.0).as("sum_base_price"),
          (sum(cents(col("l_extendedprice")) * (lit(10000L) - cents(col("l_discount")) * 100L)) / 1e8)
            .as("sum_disc_price"),
          (sum(cents(col("l_quantity"))) / 100.0 / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")).count())
    }
    spark.stop()
  }

  /** What the runtime Bloom filter buys: the q45 shape with broadcast
    * DISABLED so the join shuffles — the 100 TB regime where the
    * filter's job is to shrink the probe-side exchange. The probe side
    * is amplified `amp`× (default 16): at raw sf0.1 the whole shuffle
    * is a few MB and the per-row probe cost cancels what it saves. */
  private def bloom(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val amp = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val spark = session("profile-bloom")
    val lake = Lake(spark, sfDir)
    val dim = lake.part.where(col("p_size") >= 48).select("p_partkey")
    val li = lake.lineitem
      .withColumn("rep", explode(sequence(lit(1), lit(amp))))
    def time(name: String)(f: => Long): Unit = {
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }.minBy(_._1)
      println(f"BLOOM $name%-12s ${best._1}%8.2f s  rows=${best._2}")
    }
    time("warmup")(li.count() + dim.count())
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    time("plain_smj")(li.join(dim, col("l_partkey") === col("p_partkey")).count())
    time("bloom_smj") {
      val bloom = RuntimeFilter.bloomBuild(dim, "p_partkey")
      li.where(RuntimeFilter.mightContain(col("l_partkey"), bloom))
        .join(dim, col("l_partkey") === col("p_partkey")).count()
    }
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    time("broadcast")(li.join(broadcast(dim),
      col("l_partkey") === col("p_partkey")).count())
    spark.stop()
  }

  /** End-to-end dedupNear: propagation vs star clustering. */
  private def dedupNear(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session("profile-dedupnear")
    val docs = Lake(spark, dir).documents
    val t = timer("DN")
    for (rep <- 1 to 3) {
      t(s"prop_$rep")(Dedup.dedupNear(docs, "doc_id", "text", 3, 64, 8, 0.8).count())
      t(s"star_$rep")(Dedup.dedupNear(docs, "doc_id", "text", 3, 64, 8, 0.8,
        starClustering = true).count())
    }
    spark.stop()
  }

  /** MinHash-LSH stage isolation: scan, shingles, postings, signatures,
    * full pipeline. */
  private def dedupStages(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session("profile-dedupstages")
    val docs = Lake(spark, dir).documents
    val t = timer("STAGE")
    t("scan")(docs.count())
    t("scan2")(docs.count())
    t("shingleSet")(docs.select(shingleSet(col("text"), 3).as("sh")).count())
    t("shingleSet2")(docs.select(shingleSet(col("text"), 3).as("sh")).count())
    t("explode_precomputed")(docs
      .select(col("doc_id"), shingleSet(col("text"), 3).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("shingle")).count())
    t("postings_inline")(docs.select(col("doc_id"), explode(shingleSet(col("text"), 3)).as("shingle")).count())
    t("postings_repart")(docs.repartition(32)
      .select(col("doc_id"), explode(shingleSet(col("text"), 3)).as("shingle")).count())
    t("signatures")(Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64).count())
    t("full_lsh")(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 8, 0.7).count())
    spark.stop()
  }

  /** MinHash family timing: xx vs md5, pairs and signatures. */
  private def fam(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session("profile-fam")
    val docs = Lake(spark, dir).documents
    val t = timer("FAM")
    for (rep <- 1 to 3) {
      t(s"xx_$rep")(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 8, 0.7, Dedup.XxMinHash).count())
      t(s"md5_$rep")(Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 64, 8, 0.7, Dedup.Md5MinHash).count())
      t(s"sig_xx_$rep")(Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64, Dedup.XxMinHash).count())
      t(s"sig_md5_$rep")(Dedup.minHashSignatures(docs, "doc_id", "text", 3, 64, Dedup.Md5MinHash).count())
    }
    spark.stop()
  }

  /** q52 stage isolation: the two row-bound passes and the scan
    * separated (the object-path KLL build is the only non-codegen
    * per-row work in the headline set). Each stage runs cold then warm. */
  private def kll(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session("profile-kll")
    import graft.plans.KllSketchExprs._
    val ev = Lake(spark, dir).events.where(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val t = timer("STAGE")
    def sketchTable() = ev.groupBy("event_type").agg(
        kllAgg(col("value")).as("sk"), count(lit(1)).as("n_vals"))
      .select(col("event_type"), col("n_vals"),
        kllQuantile(col("sk"), lit(0.5)).as("p50"),
        kllQuantile(col("sk"), lit(0.95)).as("p95"))
    def full() = {
      val sk = sketchTable()
      ev.join(sk, Seq("event_type"))
        .groupBy("event_type")
        .agg(max(col("n_vals")).as("n_vals"),
          (sum(when(col("value") <= col("p50"), 1L)).cast("double")
            / max(col("n_vals"))).as("r50"),
          (sum(when(col("value") <= col("p95"), 1L)).cast("double")
            / max(col("n_vals"))).as("r95"))
        .count()
    }
    for (round <- Seq("cold", "warm")) {
      t(s"scan_$round")(ev.count())
      t(s"hashagg_$round")(ev.groupBy("event_type")
        .agg(count(lit(1)), sum(col("value")), max(col("value"))).count())
      t(s"kll_build_$round")(sketchTable().count())
      t(s"q52_full_$round")(full())
    }
    spark.stop()
  }

  /** The OR-equi left join at synthetic scale, two ways: nested loop
    * (the reference's plan) and the injected optimizer rule. */
  private def orJoin(args: Array[String]): Unit = {
    val nLeft = args.headOption.map(_.toLong).getOrElse(1000000L)
    val nRight = args.drop(1).headOption.map(_.toLong).getOrElse(2000L)
    val spark = session("profile-orjoin")
    val left = spark.range(nLeft)
      .select(col("id"),
        (col("id") % 500).cast("string").as("k1"),
        (col("id") % 997).cast("string").as("k2"))
    val right = spark.range(nRight)
      .select(col("id").as("rid"),
        (col("id") % 450).cast("string").as("r1"),
        ((col("id") % 800) + 200).cast("string").as("r2"))
    def naive() = left.join(right,
      col("k1") === col("r1") || col("k2") === col("r2"), "left")
    val time = timer("ORJOIN")
    time("warmup")(left.count() + right.count())
    // GraftSession arms the rule by default — disarm for the BNLJ leg
    spark.conf.set(OrEquiJoinRule.ConfKey, "false")
    time("nested_loop")(naive().count())
    spark.conf.set(OrEquiJoinRule.ConfKey, "true")
    time("optimizer_rule")(naive().count())
    spark.stop()
  }

  /** Distribution of PQ reconstruction cosine at the s11 defaults. */
  private def pq(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = session("profile-pq")
    val emb = Lake(spark, sfDir).embeddings
    for (m <- Seq(4, 2, 1)) {
      try {
        val pqDf = Similarity.pqReconstruction(emb, "vec_id", "embedding",
          m = m, planes = 4, kmeansIters = 2)
        val r = pqDf.agg(count(lit(1)), avg("recon_cos"),
          min("recon_cos"), max("recon_cos")).head()
        println(s"PQ m=$m n=${r.getLong(0)} avg=${r.getDouble(1)} min=${r.getDouble(2)} max=${r.getDouble(3)}")
      } catch { case e: Throwable =>
        println(s"PQ m=$m FAILED: ${e.getMessage.take(150)}")
      }
    }
    spark.stop()
  }

  /** Phase timer for the q87 gate: stage existence probe, lazy stats
    * load, view setup, plan probe, execution. */
  private def q87(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[q87prof] $label%-18s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    import graft.operators.ZoneMapTable
    val stage = s"target/star_stage/q87_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"
    val marker = new org.apache.hadoop.fs.Path(s"$stage/customer/_zonemap")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    t("exists") { fs.exists(marker) }
    if (!fs.exists(marker)) t("build") {
      val lk = Lake(spark, sfDir)
      ZoneMapTable.write(lk.customer, s"$stage/customer", "c_custkey",
        Seq("c_custkey"), 2,
        sketchCols = Seq("c_name", "c_acctbal", "c_custkey", "c_nationkey"))
      ZoneMapTable.write(lk.supplier, s"$stage/supplier", "s_suppkey",
        Seq("s_suppkey"), 1,
        sketchCols = Seq("s_name", "s_acctbal", "s_suppkey", "s_nationkey"))
    }
    t("deregister") {
      for (tb <- Seq("customer", "supplier"))
        graft.plans.StarStatsRegistry.deregister(
          graft.plans.StarStatsRegistry.qualify(spark, s"$stage/$tb/data"))
    }
    val child = t("newSession") { spark.newSession() }
    child.conf.set(OrEquiJoinRule.ConfKey, "true")
    t("views") {
      child.read.parquet(s"$stage/customer/data")
        .createOrReplaceTempView("customer_zm")
      child.read.parquet(s"$stage/supplier/data")
        .createOrReplaceTempView("supplier_zm")
    }
    val df = t("sql") { child.sql(
      """SELECT c_custkey, COUNT(s_suppkey) AS n_match,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        |FROM customer_zm LEFT JOIN supplier_zm
        |  ON c_name = s_name OR c_acctbal = s_acctbal
        |    OR c_custkey = s_suppkey OR c_nationkey = s_nationkey
        |GROUP BY c_custkey""".stripMargin) }
    def decorate(eager: Boolean, b0Key: String) =
      df.select(col("c_custkey"), col("n_match"), col("bal"),
          lit(eager).as("plan_eager"), lit(b0Key).as("b0_key"))
        .orderBy("c_custkey")
    val probe = decorate(eager = false, b0Key = "probe").queryExecution
    t("optimize") { probe.optimizedPlan }
    t("executedPlan") { probe.executedPlan.toString }
    t("execute") { decorate(eager = true, b0Key = "x").collect().length }
    t("execute2") { decorate(eager = true, b0Key = "x").collect().length }
    spark.stop()
  }

  /** Does an alias-based band self-join reuse the signature exchange
    * (vs the rename-below-exchange form computing it twice)? */
  private def reuse(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session("profile-reuse")
    val docs = Lake(spark, dir).documents
    val id = "doc_id"
    val sigs = Dedup.minHashSignatures(docs, id, "text", 3, 64, Dedup.Md5MinHash)
    val rows = 8
    val banded = sigs.select(
      col(id),
      posexplode(array((0 until 8).map(b =>
        xxhash64(slice(col("signature"), b * rows + 1, rows), lit(b))): _*))
        .as(Seq("band", "band_hash")))
    // current form: rename below the exchange
    val a = banded.select(col(id).as("id_a"), col("band"), col("band_hash"))
    val b = banded.select(col(id).as("id_b"), col("band"), col("band_hash"))
    val oldCand = a.join(b, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    // alias form: identical children -> exchange reuse
    val newCand = banded.as("ba").join(banded.as("bb"),
        col("ba.band") === col("bb.band") &&
          col("ba.band_hash") === col("bb.band_hash") &&
          col(s"ba.$id") < col(s"bb.$id"))
      .select(col(s"ba.$id").as("id_a"), col(s"bb.$id").as("id_b")).distinct()
    val t = timer("REUSE")
    for (r <- 1 to 3) { t(s"old_$r")(oldCand.count()); t(s"new_$r")(newCand.count()) }
    println("new plan contains ReusedExchange: " +
      newCand.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    println("old plan contains ReusedExchange: " +
      oldCand.queryExecution.executedPlan.toString.contains("ReusedExchange"))
    spark.stop()
  }

  /** The measured answer to "should d2 persist its MinHash signatures?"
    * — one-shot vs persisted-signature LSH, END-TO-END (the persist's
    * own cost counted, unpersist after), interleaved reps. */
  private def sigPersist(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = session("profile-sigpersist")
    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def oneShot(): Unit =
      noop(Dedup.minHashLshPairs(Lake(spark, dir).documents,
        "doc_id", "text", shingleN = 3, numHashes = 64, bands = 8,
        threshold = 0.7, family = Dedup.Md5MinHash).orderBy("id_a", "id_b"))
    def persisted(): Unit = {
      val docs = Lake(spark, dir).documents
      val sigs = Dedup.minHashSignatures(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, family = Dedup.Md5MinHash).persist()
      try {
        noop(Dedup.minHashLshPairsFromSignatures(docs, sigs,
          "doc_id", "text", shingleN = 3, numHashes = 64, bands = 8,
          threshold = 0.7).orderBy("id_a", "id_b"))
      } finally sigs.unpersist(blocking = true)
    }
    def time(f: () => Unit): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    // interleaved reps so page-cache / JIT drift hits both variants alike
    oneShot(); persisted() // warmup
    val pairs = (1 to reps).map { r =>
      val o = time(oneShot _); val p = time(persisted _)
      println(f"[sigbench] rep $r: one_shot=$o%.3fs persist=$p%.3fs")
      (o, p)
    }
    val bestO = pairs.map(_._1).min
    val bestP = pairs.map(_._2).min
    println(f"""{"sf":"$dir","reps":$reps,"one_shot_best":$bestO%.3f,"persist_best":$bestP%.3f,"persist_speedup":${bestO / bestP}%.3f}""")
    spark.stop()
  }

  /** Hot-key SMJ three ways: AQE skew splitting off, on, explicit
    * salting — broadcast disabled so the join actually shuffles. */
  private def skew(args: Array[String]): Unit = {
    val nLeft = args.headOption.map(_.toLong).getOrElse(5000000L)
    val spark = session("profile-skew")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // 90% of rows hit key 0; the rest spread over 100k keys
    val left = spark.range(nLeft).select(col("id"),
      when(col("id") % 10 =!= 0, lit(0L))
        .otherwise(col("id") % 100000).as("k"))
    val right = spark.range(100000).select(col("id").as("k"),
      (col("id") * 7).as("payload"))
    val time = timer("SKEW")
    time("warmup")(left.count() + right.count())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    time("smj_no_aqe_skew")(left.join(right, "k").count())
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    time("smj_aqe_skew")(left.join(right, "k").count())
    time("salted")(SkewJoin.saltedJoin(left, right, "k", salts = 32).count())
    spark.stop()
  }
}
