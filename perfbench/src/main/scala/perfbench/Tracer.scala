package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalInputFile

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlExecutions

/** Records what Spark reports about each operation, from outside the
  * engine: a `SparkListener` for jobs, stages and task metrics, and for
  * the `QueryExecution` of every SQL execution (its planning-phase and
  * rule timings and its final plan).
  *
  * Jobs carry the harness's local properties, so each one is tagged with
  * the phase of the operation it ran in (`build`: inside the
  * query function; `save`: inside the `noop` save; `op`: inside a pipeline
  * call). Events are buffered until [[take]], which the harness calls
  * after draining the listener bus at the end of each operation. */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val qes = ArrayBuffer.empty[QueryExecution]
  private val executions = mutable.LinkedHashMap.empty[Long, Execution]

  private def phaseOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val inExecution = Option(e.properties)
      .exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null)
    jobs += Job(e.jobId, phaseOf(e.properties), inExecution, e.stageIds, e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val t = i.submissionTime.getOrElse(System.currentTimeMillis())
    stages((i.stageId, i.attemptNumber())) =
      Stage(i.stageId, t, t)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get((e.stageId, e.stageAttemptId)).filter(_ => m != null).foreach { s =>
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inRecords += m.inputMetrics.recordsRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart => synchronized {
      executions(start.executionId) = Execution(start.executionId, start.time, start.time)
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      executions.get(end.executionId).foreach(_.end = end.time)
      SqlExecutions.queryExecution(end).foreach(qes += _)
    }
    case _ =>
  }

  /** Everything recorded since the previous call. */
  def take(): Events = synchronized {
    val r = Events(jobs.toSeq, stages.values.toSeq, qes.toSeq, executions.values.toSeq)
    jobs.clear(); stages.clear(); qes.clear(); executions.clear()
    r
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Local property naming the operation phase a job was submitted in. */
  val PhaseKey = "perfbench.phase"

  /** `inExecution`: submitted inside a SQL execution (an action on a
    * frame), not by driver code between executions. */
  final case class Job(id: Int, phase: String, inExecution: Boolean, stageIds: Seq[Int],
                       start: Long, var end: Long)
  final case class Execution(id: Long, start: Long, var end: Long)
  final case class Stage(id: Int, start: Long, var end: Long) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inRecords = 0L; var outBytes = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L
    var spill = 0L
  }

  final case class Events(jobs: Seq[Job], stages: Seq[Stage], qes: Seq[QueryExecution],
                          executions: Seq[Execution])

  /** A timed interval on the epoch-millisecond clock. `layer` is the
    * layer its self time is charged to. */
  final case class Span(op: String, name: String, layer: String, parent: String,
                        start: Double, end: Double)

  /** The graft rules whose time is reported one by one. */
  val Rules: Seq[String] = Seq("OrEquiJoinRule", "StarOrderRule",
    "MaterializedViewRule", "NullAwareAntiJoinRule")

  def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }

  /** Node counts of a final (post-AQE) physical plan. */
  def shape(plan: SparkPlan): Map[String, Double] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def count(f: SparkPlan => Boolean) = nodes.count(f).toDouble
    Map(
      "shape.exchanges" -> count(_.isInstanceOf[ShuffleExchangeExec]),
      "shape.scans" -> count(_.isInstanceOf[FileSourceScanExec]),
      "shape.smj" -> count(_.isInstanceOf[SortMergeJoinExec]),
      "shape.bhj" -> count(_.isInstanceOf[BroadcastHashJoinExec]),
      "shape.bnlj" -> count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "shape.windows" -> count(_.isInstanceOf[WindowExec]))
  }

  def metric(s: FileSourceScanExec, name: String): Double =
    s.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)

  def isParquet(s: FileSourceScanExec): Boolean =
    s.relation.fileFormat.isInstanceOf[ParquetFileFormat]
  def isJson(s: FileSourceScanExec): Boolean =
    s.relation.fileFormat.isInstanceOf[JsonFileFormat]

  /** Parquet footers, read once per file. [[read]] runs as each traced
    * operation ends, while the files its scans selected still exist (the
    * engine replaces materialized-view generations). */
  final class Footers(conf: Configuration) {
    private val chunks = mutable.Map.empty[String, Seq[(String, Long)]]
    private val options = HadoopReadOptions.builder(conf).build()

    /** (top-level column, compressed bytes) of every column chunk. */
    private def of(file: org.apache.hadoop.fs.Path): Seq[(String, Long)] =
      chunks.getOrElseUpdate(file.toString, {
        // local files are read directly: through the checksummed Hadoop
        // file system a footer costs about 10 ms
        val in =
          if (file.toUri.getScheme == "file") new LocalInputFile(java.nio.file.Paths.get(file.toUri))
          else HadoopInputFile.fromPath(file, conf)
        val r = ParquetFileReader.open(in, options)
        try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
          c.getPath.toArray.head.toLowerCase -> c.getTotalSize))
        finally r.close()
      })

    def read(qes: Seq[QueryExecution]): Unit =
      qes.flatMap(q => scala.util.Try(q.executedPlan).toOption).flatMap(scans)
        .filter(isParquet).flatMap(SqlExecutions.selectedFiles).foreach(of)

    /** Bytes a parquet scan moves from storage: the column chunks of its
      * required columns in every file it selected. Row groups that pushed
      * filters skip are counted too. Task input metrics cannot give this:
      * the parquet reader fetches column data off the task thread, so
      * they count little more than the footers. */
    def columnBytes(s: FileSourceScanExec): Double = {
      val cols = s.requiredSchema.fieldNames.map(_.toLowerCase).toSet
      val files = SqlExecutions.selectedFiles(s).distinct
      files.toSeq.flatMap(of).collect { case (c, n) if cols(c) => n }.sum.toDouble
    }
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Self time per layer inside `[from, to)`: each elementary interval is
    * charged to the covering span of highest rank (a later entry in
    * `ranked` outranks an earlier one); time no span covers is charged to
    * `rest`. */
  def selfTimes(from: Double, to: Double, ranked: Seq[Span],
                rest: String): Map[String, Double] = {
    val cuts = (ranked.flatMap(s => Seq(s.start, s.end)) ++ Seq(from, to))
      .filter(t => t >= from && t <= to).distinct.sorted
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val mid = (a + b) / 2
      val owner = ranked.lastIndexWhere(s => s.start <= mid && mid < s.end)
      acc(if (owner < 0) rest else ranked(owner).layer) += b - a
    }
    acc.toMap
  }
}
