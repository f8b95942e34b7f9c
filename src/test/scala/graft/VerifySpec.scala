package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.dump` with a name list is the per-query dev loop: it dumps only
  * the named queries and writes oracle SQL for exactly those, which is
  * what `scripts/check.py` with `GRAFT_CHECK_ONLY` reads. */
class VerifySpec extends AnyFunSuite {
  import TestSpark._

  private val json = new ObjectMapper()

  test("a name list dumps exactly those queries and their oracle SQL") {
    val out = Files.createTempDirectory("graft_verify")
    val names = Seq("q08_or_join", "q01_filter_project")
    Verify.dump(spark, sf0001, out.toString, names)
    val dirs = scala.util.Using.resource(Files.list(out))(
      _.iterator.asScala.filter(Files.isDirectory(_))
        .map(_.getFileName.toString).toSet)
    assert(dirs === names.toSet)
    names.foreach(n => assert(spark.read.parquet(s"$out/$n").count() > 0, n))
    val oracle = json.readValue(out.resolve("oracle_sql.json").toFile,
      classOf[java.util.Map[String, String]]).asScala
    assert(oracle.keySet === names.toSet)
    names.foreach(n => assert(oracle(n) === SparkEntry.oracleSql(n)))
    assert(Files.readString(out.resolve("verify_failures.txt")).trim.isEmpty)
  }

  test("an undeclared name fails before anything is dumped") {
    val out = Files.createTempDirectory("graft_verify")
    intercept[IllegalArgumentException](
      Verify.dump(spark, sf0001, out.toString, Seq("q01_filter_project", "no_such_query")))
    assert(scala.util.Using.resource(Files.list(out))(_.count()) === 0)
  }

  test("oracle SQL escaping round-trips control characters through a JSON parser") {
    val sql = "SELECT\t'a\"b'\r\n, '\\\\' AS c\u0001 -- é"
    assert(json.readValue(Verify.oracleJson(Map("q" -> sql)),
      classOf[java.util.Map[String, String]]).get("q") === sql)
  }
}
