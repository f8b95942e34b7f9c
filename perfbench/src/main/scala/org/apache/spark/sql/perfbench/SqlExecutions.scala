package org.apache.spark.sql.perfbench

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, ScanFileListing}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries the `QueryExecution` that ran. It
  * reaches a `SparkListener` for every session of the context, including
  * the child sessions (`newSession()`) many engine queries run on, which
  * a session-scoped `QueryExecutionListener` never hears about. */
object SqlExecutions {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)

  /** Files an executed scan selected after static and dynamic partition
    * pruning. The listing is a protected member of the scan, so it is
    * reached by name; on an executed plan it is already computed. */
  def selectedFiles(s: FileSourceScanExec): Seq[Path] =
    s.getClass.getMethod("dynamicallySelectedPartitions").invoke(s)
      .asInstanceOf[ScanFileListing].toPartitionArray.toSeq.map(_.toPath)
}
