package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{GraftSession, Lake, SparkEntry}
import graft.pipelines.Sparkify
import perfbench.Tracer.Span

/** One benchmark run in one JVM.
  *
  * Arguments are `key=value` pairs:
  *  - `kind`: `queries` (headline query functions over a parquet lake) or
  *    `etl` (the Sparkify pipeline over song/log JSON);
  *  - `input`, `work`, `out`: input directory, scratch directory, result
  *    file;
  *  - `ops`: comma-separated query names (`queries` only);
  *  - `cores`, `seconds`, `trace`.
  *
  * A run sets up a fresh session (`setup_s`, from JVM start), runs one cold
  * pass over the operations, then warm passes until `seconds` have passed
  * since the cold pass began. Each operation is timed from outside the
  * engine, around its public entry points. The first warm pass is still
  * compiling and only warms up. With `trace=1` the later ones alternate
  * between untraced and traced, so the tracing overhead is measured in the
  * same JVM; only traced passes feed the layer metrics. Traces are analysed, and
  * correctness outputs written, after all timed passes. */
object Harness {

  /** Warm passes whose statistics a run reports (`pool`), after the
    * warm-up pass: without tracing, the next [[WarmPasses]], so a faster run
    * does not read warmer because more passes fit its window; with tracing,
    * all of them. */
  val WarmPasses = 2

  /** Epoch milliseconds with nanosecond resolution, on the clock Spark's
    * listener events use. */
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def spanJson(s: Span): JValue = JObject(
    "op" -> JString(s.op), "name" -> JString(s.name), "layer" -> JString(s.layer),
    "parent" -> JString(s.parent), "start_ms" -> JDouble(s.start),
    "end_ms" -> JDouble(s.end))

  private def num(m: collection.Map[String, Double]): JValue =
    JObject(m.toSeq.sortBy(_._1).map { case (k, v) => k -> JDouble(v) }: _*)

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val kind = kv("kind")
    val input = kv("input")
    val work = kv("work")
    val cores = kv("cores").toInt
    val (spark, setupS) = setUp(kind, input, cores, work)
    val ops = kind match {
      case "queries" => kv("ops").split(',').toSeq.map(n => queryOp(spark, n, input))
      case "etl"     => etlOps(spark, input, s"$work/out")
    }
    val result = run(spark, kind, ops, input, work, setupS, kv("seconds").toDouble,
      kv("trace") == "1")
    Files.writeString(Paths.get(kv("out")), compact(render(result)))
    spark.stop()
  }

  /** Session with the engine's extensions and configuration; for query
    * workloads the lake's views are registered. The ETL reads its input
    * paths itself, so its set-up ends when the session is ready. Returns
    * the seconds since JVM start. */
  def setUp(kind: String, input: String, cores: Int, work: String): (SparkSession, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(f"[harness] session ready ${(nowMs() - jvmStart) / 1e3}%.3fs after JVM start")
    if (kind == "queries") Lake(spark, input).registerViews()
    (spark, (nowMs() - jvmStart) / 1e3)
  }

  /** What an operation reports back: the epoch-ms time its build phase
    * ended (its start when it has none), and the analysis phase of the
    * frame it built, as `Dataset.queryExecution`'s tracker recorded it. */
  final case class Built(at: Double, analysis: Option[(Long, Long)] = None)

  /** An operation: `run(pass)` performs it. */
  final case class Op(name: String, run: Int => Built)

  /** A headline query: build the frame (phase `build`), then materialize
    * it through the `noop` sink (phase `save`). */
  def queryOp(spark: SparkSession, name: String, input: String): Op = {
    val fn = SparkEntry.headline.getOrElse(name,
      sys.error(s"$name is not a headline query"))
    val sc = spark.sparkContext
    Op(name, _ => {
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val df = fn(spark, input)
      val built = nowMs()
      val analysis = df.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
        .map(p => (p.startTimeMs, p.endTimeMs))
      sc.setLocalProperty(Tracer.PhaseKey, "save")
      df.write.mode("overwrite").format("noop").save()
      Built(built, analysis)
    })
  }

  /** `Sparkify.run` as its two passes, each pass of the workload writing
    * into its own output directory. */
  def etlOps(spark: SparkSession, input: String, outRoot: String): Seq[Op] = {
    val sc = spark.sparkContext
    def cfg(pass: Int) = Sparkify.Config(input, s"$outRoot/p$pass")
    Seq(
      Op("song", p => {
        sc.setLocalProperty(Tracer.PhaseKey, "op")
        val t = nowMs(); Sparkify.processSongData(spark, cfg(p)); Built(t)
      }),
      Op("log", p => {
        sc.setLocalProperty(Tracer.PhaseKey, "op")
        val t = nowMs(); Sparkify.processLogData(spark, cfg(p)); Built(t)
      }))
  }

  final case class OpRec(name: String, pass: Int, traced: Boolean, wallS: Double,
                         error: Option[String], var layers: Map[String, Double] = Map.empty)

  final case class PassRec(pass: Int, traced: Boolean, pool: Boolean, wallS: Double) {
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val selfMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }

  /** What the tracer saw of one operation, analysed after the timed passes. */
  final case class TracedOp(rec: OpRec, pass: PassRec, opId: String, t0: Double,
                            built: Built, t2: Double, ev: Tracer.Events)

  def run(spark: SparkSession, kind: String, ops: Seq[Op], input: String,
          work: String, setupS: Double, seconds: Double, trace: Boolean): JValue = {
    val sc = spark.sparkContext
    val tracer = new Tracer
    val opRecs = ArrayBuffer.empty[OpRec]
    val passRecs = ArrayBuffer.empty[PassRec]
    val tracedOps = ArrayBuffer.empty[TracedOp]
    val footers = new Tracer.Footers(sc.hadoopConfiguration)
    val etlPasses = ArrayBuffer.empty[JValue]

    def runPass(pass: Int, traced: Boolean, pool: Boolean): Unit = {
      if (traced) sc.addSparkListener(tracer)
      val seen = ArrayBuffer.empty[(OpRec, String, Double, Built, Double, Tracer.Events)]
      val p0 = nowMs()
      ops.zipWithIndex.foreach { case (op, i) =>
        val t0 = nowMs()
        val res = Try(op.run(pass))
        val t2 = nowMs()
        System.err.println(f"[harness] pass $pass ${op.name} ${(t2 - t0) / 1e3}%.3fs" +
          res.failed.toOption.map(e => s" FAILED: $e").getOrElse(""))
        val rec = OpRec(op.name, pass, traced, (t2 - t0) / 1e3,
          res.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
        opRecs += rec
        if (traced) {
          org.apache.spark.perfbench.ListenerBus.drain(sc)
          val ev = tracer.take()
          val t3 = nowMs()
          footers.read(ev.qes)
          System.err.println(f"[harness] trace collection: drain ${(t3 - t2) / 1e3}%.3fs, footers ${(nowMs() - t3) / 1e3}%.3fs")
          seen += ((rec, s"p$pass.$i.${op.name}", t0, res.getOrElse(Built(t0)), t2, ev))
        }
      }
      val p1 = nowMs()
      if (traced) sc.removeSparkListener(tracer)
      val pr = PassRec(pass, traced, pool, (p1 - p0) / 1e3)
      passRecs += pr
      seen.foreach { case (rec, opId, t0, built, t2, ev) =>
        tracedOps += TracedOp(rec, pr, opId, t0, built, t2, ev) }
      if (kind == "etl") etlPasses += etlPass(s"$work/out/p$pass", pass)
    }

    /** Bytes and files one ETL pass wrote. Every pass keeps its own
      * output directory; all of them are checked after the run. */
    def etlPass(dir: String, pass: Int): JValue = {
      val files = Files.walk(Paths.get(dir)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
      JObject(
        "pass" -> JInt(pass), "dir" -> JString(dir),
        "bytes_written" -> JDouble(files.map(p => Files.size(p)).sum.toDouble),
        "files_written" -> JDouble(files.length.toDouble))
    }

    // with tracing, warm passes after the warm-up go traced, untraced,
    // untraced, traced, ... so the JIT warming over a run does not bias the
    // overhead estimate
    val tStart = System.nanoTime()
    runPass(0, traced = false, pool = false)
    var pass = 1
    val minWarm = if (trace) 5 else 1 + WarmPasses
    while (pass <= minWarm || (System.nanoTime() - tStart) / 1e9 < seconds) {
      runPass(pass, traced = trace && pass > 1 && (pass - 2) % 4 % 3 == 0,
        pool = pass > 1 && (trace || pass <= 1 + WarmPasses))
      pass += 1
    }
    val measuredS = (System.nanoTime() - tStart) / 1e9

    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    // Trace analysis and correctness outputs, outside every timed region.
    val spans = tracedOps.flatMap { t =>
      val (m, self, sp) = traceOp(kind, t.opId, t.rec.name, t.t0, t.built, t.t2, t.ev,
        footers)
      t.rec.layers = m
      m.foreach { case (k, v) => t.pass.layers(k) += v }
      self.foreach { case (k, v) => t.pass.selfMs(k) += v }
      sp
    }
    val dumps =
      if (kind == "queries") dumpQueries(spark, ops.map(_.name), input, s"$work/dump")
      else JNothing
    val traceFile = s"$work/spans.json"
    if (trace) Files.writeString(Paths.get(traceFile),
      compact(render(JArray(spans.map(spanJson).toList))))

    JObject(
      "setup_s" -> JDouble(setupS),
      "measured_s" -> JDouble(measuredS),
      "heap_retained_mb" -> JDouble(heapMb),
      "passes" -> JArray(passRecs.map { p =>
        JObject("pass" -> JInt(p.pass), "traced" -> JBool(p.traced), "pool" -> JBool(p.pool),
          "wall_s" -> JDouble(p.wallS), "layers" -> num(p.layers),
          "self_s" -> num(p.selfMs.map { case (k, v) => k -> v / 1e3 }))
      }.toList),
      "ops" -> JArray(opRecs.map { r =>
        JObject("name" -> JString(r.name), "pass" -> JInt(r.pass),
          "traced" -> JBool(r.traced), "wall_s" -> JDouble(r.wallS),
          "error" -> r.error.map(JString(_)).getOrElse(JNull),
          "layers" -> num(r.layers))
      }.toList),
      "etl_passes" -> JArray(etlPasses.toList),
      "dumps" -> dumps,
      "spans_file" -> (if (trace) JString(traceFile) else JNull),
      "env" -> JObject(
        "spark_version" -> JString(spark.version),
        "jdk" -> JString(System.getProperty("java.version")),
        "max_heap_mb" -> JDouble(Runtime.getRuntime.maxMemory / 1048576.0),
        "master" -> JString(sc.master),
        "shuffle_partitions" -> JString(spark.conf.get("spark.sql.shuffle.partitions"))))
  }

  /** Each query's result, written as Verify writes it, plus its DuckDB
    * oracle. */
  def dumpQueries(spark: SparkSession, names: Seq[String], input: String,
                  dir: String): JValue = {
    Files.createDirectories(Paths.get(dir))
    val written = names.map { n =>
      n -> Try(SparkEntry.headline(n)(spark, input).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$n"))
    }
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> JString(_)))
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      compact(render(JObject(oracle: _*))))
    JObject(
      "dir" -> JString(dir),
      "errors" -> JObject(written.collect { case (n, scala.util.Failure(e)) =>
        n -> JString(s"${e.getClass.getName}: ${e.getMessage}") }: _*))
  }

  /** Layer metrics, self times and spans of one traced operation that ran
    * from `t0` to `t2` (epoch ms).
    *
    * Build is driver-side work outside the executions that produce the
    * operation's results: for a query, the query function call (and the
    * jobs it runs); for a pipeline pass, its time outside SQL executions
    * (and the jobs submitted outside them, such as listing leaf files). */
  def traceOp(kind: String, opId: String, name: String, t0: Double, built: Built,
              t2: Double, ev: Tracer.Events, footers: Tracer.Footers)
      : (Map[String, Double], Map[String, Double], Seq[Span]) = {
    val Tracer.Events(jobs, stages, qes, executions) = ev
    val t1 = built.at
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val buildJobIds = jobs.filter(j =>
      if (kind == "queries") j.phase == "build" else !j.inExecution).map(_.id).toSet
    val isBuildJob = (j: Tracer.Job) => buildJobIds.contains(j.id)
    val (buildJobs, execJobs) = jobs.partition(isBuildJob)
    val buildStageIds = stagesOf(buildJobs, stages)
    val isBuildStage = (s: Tracer.Stage) => buildStageIds.contains(s.id)
    val (buildStages, execStages) = stages.partition(isBuildStage)

    // queries: driver-side build, its jobs and their task time
    m("queries.build_s") += (if (kind == "queries") t1 - t0 else
      (t2 - t0) - Tracer.unionLength(executions.map(x =>
        (math.max(x.start.toDouble, t0), math.min(x.end.toDouble, t2))))) / 1e3
    m("queries.build_jobs") += buildJobs.size
    m("queries.build_task_s") += buildStages.map(_.runMs).sum / 1e3
    if (kind == "etl") m(s"pipelines.${name}_s") += (t2 - t0) / 1e3

    // catalyst and plans, from the trackers of the executed plans
    val trackers = qes.map(_.tracker).foldLeft(List.empty[QueryPlanningTracker]) {
      (l, t) => if (l.exists(_ eq t)) l else t :: l
    }.reverse
    // the built frame was analyzed inside the query function; the
    // executions that ran it analyze only the command around it
    val phases = built.analysis.map(QueryPlanningTracker.ANALYSIS -> _).toSeq ++
      trackers.flatMap(_.phases.toSeq.map { case (ph, s) => ph -> (s.startTimeMs, s.endTimeMs) })
    val phaseSpans = phases.zipWithIndex.map { case ((ph, (s, e)), k) =>
      m(s"catalyst.${ph}_s") += (e - s) / 1e3
      Span(opId, s"catalyst.$ph#$k", "catalyst", opId, s.toDouble, e.toDouble)
    }
    trackers.foreach { tr =>
      tr.rules.foreach { case (rule, r) =>
        if (rule.startsWith("graft.plans.")) {
          m("plans.rules_s") += r.totalTimeNs / 1e9
          m("plans.invocations") += r.numInvocations
          m("plans.effective_invocations") += r.numEffectiveInvocations
          Tracer.Rules.find(n => rule.endsWith("." + n))
            .foreach(n => m(s"plans.${n}_s") += r.totalTimeNs / 1e9)
        }
      }
    }

    // exec: the jobs of the save (or of the pipeline call)
    val jobIv = execJobs.map(j => (j.start.toDouble, j.end.toDouble))
    m("exec.s") += Tracer.unionLength(jobIv) / 1e3
    m("exec.jobs") += execJobs.size
    m("exec.stages") += execStages.size
    m("exec.tasks") += execStages.map(_.tasks).sum
    m("exec.task_s") += execStages.map(_.runMs).sum / 1e3
    m("exec.task_cpu_s") += execStages.map(_.cpuNs).sum / 1e9
    m("exec.gc_s") += execStages.map(_.gcMs).sum / 1e3

    // lake and shuffle, over every stage the operation ran
    m("lake.scan_rows") += stages.map(_.inRecords).sum
    m("shuffle.write_bytes") += stages.map(_.shuffleWrite).sum
    m("shuffle.read_bytes") += stages.map(_.shuffleRead).sum
    m("shuffle.fetch_wait_s") += stages.map(_.fetchWaitMs).sum / 1e3
    m("shuffle.spill_bytes") += stages.map(_.spill).sum
    m("pipelines.write_task_s") += stages.filter(_.outBytes > 0).map(_.runMs).sum / 1e3

    // plans as executed: the final plans of the save's executions (every
    // execution of a pipeline call)
    val plans = qes.flatMap(q => Try(q.executedPlan).toOption)
    val allScans = plans.flatMap(Tracer.scans)
      .foldLeft(List.empty[org.apache.spark.sql.execution.FileSourceScanExec]) {
        (l, s) => if (l.exists(_ eq s)) l else s :: l
      }
    val parquetScans = allScans.filter(Tracer.isParquet)
    m("lake.files_read") += parquetScans.map(Tracer.metric(_, "numFiles")).sum
    m("lake.scan_bytes") += parquetScans.map(footers.columnBytes).sum
    m("pipelines.json_bytes_read") +=
      allScans.filter(Tracer.isJson).map(Tracer.metric(_, "filesSize")).sum
    val savePlans = qes.filter { q =>
      kind != "queries" || q.tracker.phases.get("planning").exists(_.startTimeMs >= t1 - 1)
    }.flatMap(q => Try(q.executedPlan).toOption)
    savePlans.map(Tracer.shape).foreach(_.foreach { case (k, v) => m(k) += v })

    // spans, ranked for self time: build < execution < phase < job < stage;
    // operation time no span covers is charged to no layer
    val buildSpan =
      if (kind == "queries") Seq(Span(opId, "queries.build", "queries.driver", opId, t0, t1))
      else Nil
    val buildLayer = if (kind == "queries") "queries.jobs" else "pipelines.jobs"
    val execSpans = executions.map(x => Span(opId, s"exec.${x.id}",
      if (kind == "queries" && x.start < t1) "queries.driver" else "exec.driver", opId,
      x.start.toDouble, x.end.toDouble))
    val jobSpans = jobs.map(j => Span(opId, s"job.${j.id}",
      if (isBuildJob(j)) buildLayer else "exec.jobs", opId,
      j.start.toDouble, j.end.toDouble))
    val stageSpans = stages.map(s => Span(opId, s"stage.${s.id}",
      if (isBuildStage(s)) buildLayer else "exec.stages", s"job.${jobOf(s.id, jobs)}",
      s.start.toDouble, s.end.toDouble))
    val ranked = buildSpan ++ execSpans ++ phaseSpans ++ jobSpans ++ stageSpans
    val self0 = Tracer.selfTimes(t0, t2, ranked, "unattributed")
    // graft rule time lies inside the optimization phase: charge it to plans
    val plansMs = m("plans.rules_s") * 1e3
    val self = self0 ++ Map(
      "catalyst" -> math.max(0.0, self0.getOrElse("catalyst", 0.0) - plansMs),
      "plans" -> math.min(plansMs, self0.getOrElse("catalyst", 0.0)))
    val opSpan = Span(opId, s"op.$name", "op", "", t0, t2)
    (m.toMap, self, opSpan +: ranked)
  }

  private def jobOf(stage: Int, jobs: Seq[Tracer.Job]): String =
    jobs.find(_.stageIds.contains(stage)).map(_.id.toString).getOrElse("?")

  /** Ids of the stages the given jobs ran. */
  private def stagesOf(js: Seq[Tracer.Job], stages: Seq[Tracer.Stage]): Set[Int] =
    stages.filter(s => js.exists(_.stageIds.contains(s.id))).map(_.id).toSet

}
