package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.MaterializedViewRule
import graft.queries.EventsQueries

/** Declared queries run on the caller's session. A fresh session compiles
  * its generated code anew on every query, so a `newSession()` per call is
  * fixed cost; the only child kept is the materialized-view routing one,
  * made once per parent session. */
class QuerySessionsSpec extends AnyFunSuite {
  import TestSpark._

  test("queries create no session outside mvSession") {
    val files = scala.util.Using.resource(
        Files.walk(Paths.get("src/main/scala/graft/queries")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, "run from the repository root")
    val defName = """\bdef\s+(\w+)""".r
    val bad = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toSeq
      (line, i) <- lines.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("/")
      if code.contains("newSession(")
      // the enclosing definition: the last `def` at or above the line
      owner = lines.take(i + 1).reverseIterator
        .flatMap(l => defName.findFirstMatchIn(l).map(_.group(1))).nextOption()
      if !owner.contains("mvSession")
    } yield s"$f:${i + 1}: $code"
    assert(bad.isEmpty, bad.mkString("newSession() outside mvSession:\n", "\n", ""))
  }

  test("mvSession: one routing-armed child per parent session") {
    val a = EventsQueries.mvSession(spark)
    val b = EventsQueries.mvSession(spark)
    assert(a eq b, "two calls must return the same child")
    assert(!(a eq spark))
    assert(a.conf.get(MaterializedViewRule.ConfKey) === "true")
    assert(!spark.conf.getOption(MaterializedViewRule.ConfKey).contains("true"),
      "routing must stay off the caller's session")
  }
}
