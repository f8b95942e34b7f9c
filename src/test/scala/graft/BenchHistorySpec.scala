package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Bench.History

/** The bench's delta baseline is like for like: a previous record taken
  * at another parallelism yields no deltas and is not overwritten. */
class BenchHistorySpec extends AnyFunSuite {

  private def record(cpus: Option[Int]) = {
    val env = cpus.map(c => s""","env":{"cpus":32,"cpus_configured":$c}""").getOrElse("")
    s"""{"metric":"total","value":3.5$env,"queries":{"q01":1.25,"q02":2,"q03":-1.0}}"""
  }

  test("parse keeps successful best times and the configured parallelism") {
    val h = History.parse(record(Some(8)))
    assert(h.best == Map("q01" -> 1.25, "q02" -> 2.0))
    assert(h.cpusConfigured.contains(8))
    assert(History.parse(record(None)).cpusConfigured.isEmpty)
  }

  test("a record at another parallelism is neither a baseline nor replaced") {
    val h = History.parse(record(Some(8)))
    assert(h.isBaselineFor(8) && h.mayBeReplacedBy(8))
    assert(!h.isBaselineFor(32))
    assert(!h.mayBeReplacedBy(32))
  }

  test("an unstamped record gives no deltas but may be replaced") {
    val h = History.parse(record(None))
    assert(!h.isBaselineFor(8))
    assert(h.mayBeReplacedBy(8))
  }
}
