package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The environment variables the main sources read. Only harness and
  * deployment settings may come from the environment: a behaviour switched
  * by an env var is a second code path that the suite and the benchmark
  * never run, so a bench-only lever must not come back this way. */
class MainEnvKeysSpec extends AnyFunSuite {

  private val allowed = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_SF_DIR2",
    "SPARK_GRAFT_CPUS")
  private def isAllowed(key: String): Boolean =
    allowed(key) || key.startsWith("SPARK_GRAFT_BENCH_")

  test("src/main reads only harness and deployment env keys") {
    val files = scala.util.Using.resource(Files.walk(Paths.get("src/main")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, "run from the repository root")
    // every env access, with its key when the key is a string literal
    val access = """(?:sys\.env|System\.getenv)(?:\.getOrElse|\.get|\.contains)?(?:\s*\(\s*"([^"]*)")?""".r
    val reads = for {
      f <- files
      line <- Files.readAllLines(f).asScala
      code = line.trim if !code.startsWith("*") && !code.startsWith("/")
      m <- access.findAllMatchIn(code)
    } yield (f, Option(m.group(1)))
    val keys = reads.flatMap(_._2).toSet
    assert(keys.contains("SPARK_GRAFT_CPUS"), s"the scan found no known key: $keys")
    val bad = reads.collect {
      case (f, k) if !k.exists(isAllowed) => s"$f: ${k.getOrElse("<non-literal key>")}"
    }
    assert(bad.isEmpty, bad.mkString("env keys outside the allowed set:\n", "\n", ""))
  }
}
