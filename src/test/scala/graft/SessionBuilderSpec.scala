package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkConf
import org.scalatest.funsuite.AnyFunSuite

/** Every main and the suite build their session through
  * `GraftSession.local`, so cores, master and shuffle partitions follow one
  * rule and a spark-submit master is never overridden. */
class SessionBuilderSpec extends AnyFunSuite {

  test("GraftSession.scala holds the only session builder") {
    val files = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      scala.util.Using.resource(Files.walk(Paths.get(root)))(
        _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    }
    assert(files.nonEmpty, "run from the repository root")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val bad = for {
      f <- files if f.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("/")
      if builder.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}: $code"
    assert(bad.isEmpty, bad.mkString("session builders outside GraftSession:\n", "\n", ""))
  }

  test("a launch master is kept; without one the session runs local[cores]") {
    val submitted = new SparkConf(false).set("spark.master", "yarn")
    assert(GraftSession.launchSettings(submitted, 3).isEmpty,
      "spark-submit's master and the deployment's shuffle partitions stand")
    assert(GraftSession.launchSettings(new SparkConf(false), 3).toMap === Map(
      "spark.master" -> "local[3]", "spark.sql.shuffle.partitions" -> "3"))
  }

  test("the suite's session follows the local rule and keeps its temp warehouse") {
    val conf = TestSpark.spark.sparkContext.getConf
    val cores = conf.get("spark.master") match {
      case s"local[$n]" => n.toInt
      case other => fail(s"the suite runs on a local master, not $other")
    }
    assert(TestSpark.spark.conf.get("spark.sql.shuffle.partitions") === cores.toString)
    val wh = TestSpark.spark.conf.get("spark.sql.warehouse.dir")
    assert(wh.contains("graft_wh"), s"warehouse $wh is not the suite's temp dir")
  }

  test("the session keeps ObjectHashAggregate's hash map up to 64k groups per task") {
    assert(TestSpark.spark.conf
      .get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") === "65536")
  }
}
