package graft

import java.net.URI
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import graft.pipelines.Sparkify

/** The engine's `file://` filesystem starts no process per file, and its
  * statuses equal the stock `RawLocalFileSystem`'s, which stays the
  * oracle: the stock one reads a permission, owner and group by running
  * `ls -ld` and sets a mode by running `chmod`. */
class InProcessLocalFileSystemSpec extends AnyFunSuite {
  import TestSpark._

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = rawFs(new RawLocalFileSystem)
  private lazy val inProcess = rawFs(new InProcessLocalFileSystem.Raw)

  /** Every field a status carries, the lazily loaded ones included. */
  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
      s.getGroup)

  /** The processes this JVM starts while `body` runs: each one's command
    * line, thread and calling classes. Starts from the JDK's cleaner
    * thread are left out: they clean up after objects that an earlier
    * garbage collection found unreachable (Spark deletes a dropped
    * session's artifact directory with `rm -rf`), whenever that ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val jfr = Files.createTempFile("process_starts", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      rec.dump(jfr)
    } finally rec.close()
    try RecordingFile.readAllEvents(jfr).asScala.toSeq.flatMap { e =>
      val callers = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(_.getMethod.getType.getName).distinct
      if (callers.contains("jdk.internal.ref.CleanerImpl")) None
      else Some(s"${e.getString("command")} [${e.getThread.getJavaName}] " +
        callers.mkString(" < "))
    } finally Files.delete(jfr)
  }

  test("a GraftSession session's file:// filesystem is the in-process one") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[InProcessLocalFileSystem], fs.getClass.getName)
    assert(FileSystem.getLocal(conf).getRaw.isInstanceOf[InProcessLocalFileSystem.Raw])
  }

  test("set modes read back as the stock filesystem's permission, owner and group") {
    val root = Files.createTempDirectory("fs_parity")
    val modes = Seq("file" -> "644", "file" -> "640", "file" -> "700",
      "dir" -> "755", "dir" -> "1777")
    for ((kind, octal) <- modes; (setter, by) <- Seq(stock -> "stock", inProcess -> "in_process")) {
      val local = root.resolve(s"${kind}_${octal}_$by")
      if (kind == "dir") Files.createDirectory(local) else Files.writeString(local, "x")
      val p = new Path(local.toUri)
      val mode = FsPermission.createImmutable(Integer.parseInt(octal, 8).toShort)
      setter.setPermission(p, mode)
      val want = stock.getFileStatus(p)
      assert(want.getPermission === mode, s"$kind $octal set by $by")
      assert(fields(inProcess.getFileStatus(p)) === fields(want), s"$kind $octal set by $by")
    }
    // listings: a directory's entries and a file's own one-entry listing
    def listed(fs: FileSystem, p: Path) = fs.listStatus(p).map(fields).sortBy(_._1.toString).toSeq
    val rootPath = new Path(root.toUri)
    assert(listed(inProcess, rootPath) === listed(stock, rootPath))
    assert(listed(inProcess, rootPath).size === 10)
    val file = new Path(rootPath, "file_640_stock")
    assert(listed(inProcess, file) === listed(stock, file))
    val missing = new Path(rootPath, "missing")
    intercept[java.io.FileNotFoundException](inProcess.getFileStatus(missing))
    intercept[java.io.FileNotFoundException](inProcess.listStatus(missing))
  }

  test("create without overwrite: exactly one of two racing creators wins") {
    val fs = new InProcessLocalFileSystem
    fs.initialize(URI.create("file:///"), new Configuration())
    val dir = Files.createTempDirectory("excl_create")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val winners = (1 to 200).map { i =>
        val p = new Path(dir.resolve(s"f$i").toUri)
        val barrier = new java.util.concurrent.CyclicBarrier(2)
        val tries = (1 to 2).map(_ => pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            barrier.await()
            try { fs.create(p, false).close(); true }
            catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
          }
        }))
        tries.count(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      }
      assert(winners.forall(_ == 1), s"rounds without exactly one winner: " +
        winners.zipWithIndex.filter(_._1 != 1).map(_._2 + 1))
    } finally pool.shutdownNow()
    // overwrite still replaces; a missing parent is still created
    val p = new Path(dir.resolve("a/b/c").toUri)
    fs.create(p, false).close()
    val out = fs.create(p, true)
    try out.write(1) finally out.close()
    assert(fs.getFileStatus(p).getLen === 1)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](fs.create(p, false))
  }

  test("the recording sees a process start") {
    val starts = processStarts(new ProcessBuilder("true").start().waitFor())
    assert(starts.exists(_.contains("true")), starts)
  }

  test("the ETL, a Lake read and a partitioned write start no process") {
    val in = Files.createTempDirectory("fork_free_in").toString
    SparkifyFixtures.write(in)
    def operations(): Unit = {
      val out = Files.createTempDirectory("fork_free_out").toString
      Sparkify.run(spark, Sparkify.Config(in, out))
      assert(spark.read.parquet(s"$out/songplays").count() > 0)
      val lake = Lake(spark, sf0001)
      assert(lake.lineitem.count() > 0 && lake.orders.count() > 0)
      spark.range(200).withColumn("p", col("id") % 5)
        .write.partitionBy("p").parquet(s"$out/partitioned")
    }
    // once unrecorded, so that one-time probes such as Hadoop's shell
    // checks fall outside the recording; the stock filesystem starts its
    // processes on every run. Spark's page-size lookup (`getconf`) runs
    // at the first heartbeat after the session starts: run it now.
    operations()
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val starts = processStarts(operations())
    assert(starts.isEmpty, s"${starts.size} process starts:\n${starts.mkString("\n")}")
  }
}
