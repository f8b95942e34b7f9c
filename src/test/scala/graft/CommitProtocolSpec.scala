package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Generations

/** Persisted state has one commit protocol: generation listing, claims,
  * publish renames and vacuum live in `Generations`, and the zone-map
  * layout is `ZoneMapTable`'s own. A writer whose generation a racing
  * vacuum cleared fails its commit instead of publishing what is left. */
class CommitProtocolSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val files = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, "run from the repository root")
    files
  }

  /** `file:line: code` for every non-comment line outside `owner` that
    * matches `pattern`. */
  private def offenders(owner: String, pattern: scala.util.matching.Regex): Seq[String] =
    for {
      f <- mainSources if f.getFileName.toString != owner
      (line, i) <- Files.readAllLines(f).asScala.toSeq.zipWithIndex
      code = line.trim if !code.startsWith("*") && !code.startsWith("/")
      if pattern.findFirstIn(code).isDefined
    } yield s"$f:${i + 1}: $code"

  test("Generations.scala holds the only generation listing and publish rename") {
    val bad = offenders("Generations.scala",
      """startsWith\("(g=|v=|gen-|m=)|fs\.rename\(""".r)
    assert(bad.isEmpty, bad.mkString("generation code outside Generations:\n", "\n", ""))
  }

  test("ZoneMapTable.scala holds the only _zonemap path") {
    val bad = offenders("ZoneMapTable.scala", """/_zonemap\b""".r)
    assert(bad.isEmpty, bad.mkString("zone-map layout outside ZoneMapTable:\n", "\n", ""))
  }

  test("a generation a racing writer's vacuum cleared cannot be committed") {
    val root = new org.apache.hadoop.fs.Path(Files.createTempDirectory("gen_claim").toString)
    // the session's filesystem: a plain Hadoop Configuration would cache
    // the stock `file://` class for the whole JVM (see
    // InProcessLocalFileSystemSpec)
    val fs = root.getFileSystem(TestSpark.spark.sessionState.newHadoopConf())
    val mine = Generations.claim(fs, root)
    // a racing writer claims the next number, commits and vacuums: it
    // reads the in-flight generation below its commit as a dead writer's
    val theirs = Generations.claim(fs, root)
    Generations.commit(fs, root, theirs, org.json4s.JObject())
    assert(Generations.vacuum(fs, root, keepLast = 1) === Seq(mine))
    val e = intercept[java.io.IOException](
      Generations.commit(fs, root, mine, org.json4s.JObject()))
    assert(e.getMessage.contains("lost its claim"))
    assert(Generations.committed(fs, root) === Seq(theirs))
  }
}
