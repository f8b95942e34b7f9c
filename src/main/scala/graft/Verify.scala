package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (`scripts/check.py`).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name,name,...]
  * With a name list, only those queries are dumped and only their oracle
  * SQL is written: the per-query dev loop, checked by `scripts/check.py`
  * with `GRAFT_CHECK_ONLY` set to the same list. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [name,name,...]")
    val names = args.lift(2).fold(SparkEntry.queries.keys.toSeq)(
      _.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val spark = GraftSession.local("graft-verify")
    dump(spark, args(0), args(1), names)
    spark.stop()
  }

  /** Dump the declared queries `names` over `sfDir` into `outDir`, in
    * name order; `spark` is left running. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Unit = {
    val queries = SparkEntry.queries
    val todo = names.distinct.sorted
    val unknown = todo.filterNot(queries.contains)
    require(unknown.isEmpty, s"undeclared queries: ${unknown.mkString(", ")}")
    new java.io.File(outDir).mkdirs()
    // Schema-contract tripwire (the r8→r9 lesson): a driver-side
    // testdata regeneration that re-types a column must fail LOUDLY by
    // table name up front — not as a scatter of per-query failures a
    // round later. Queries still run (one drifted table must not zero
    // the other tables' correctness rows); the banner + artifact make
    // the drift unmissable.
    val drifted = SchemaContract.drift(Lake(spark, sfDir))
    if (drifted.nonEmpty) {
      System.err.println("=" * 72)
      drifted.foreach(d => System.err.println(s"[verify] SCHEMA DRIFT: $d"))
      System.err.println("=" * 72)
      println(s"""{"metric":"schema_drift","tables":${drifted.size}}""")
    }
    Files.writeString(Paths.get(s"$outDir/schema_drift.txt"),
      drifted.mkString("", "\n", "\n"))
    // Failures are caught per query so one break cannot hide the rest —
    // but they must stay LOUD: a failed query silently vanishes from the
    // driver's CORRECTNESS report (it compares only dumped results), so
    // the summary line + verify_failures.txt make any drop visible both
    // in captured stdout and as an artifact (the round-9 lesson, where a
    // testdata schema change cost 17 queries and nothing flagged it).
    val failed = todo.flatMap { name =>
      try {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    println(s"""{"metric":"verify_summary","declared":${todo.size},"dumped":${todo.size - failed.size},"failed":${failed.size},"failed_names":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    Files.writeString(Paths.get(s"$outDir/verify_failures.txt"),
      failed.mkString("", "\n", "\n"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql.filter { case (k, _) => todo.contains(k) }))
  }

  /** The oracle map as JSON. json4s escapes every control character — a
    * tab or CR in oracle SQL must not make the compare's json.load fail
    * and silently zero the correctness report. */
  private[graft] def oracleJson(oracles: Map[String, String]): String = {
    import org.json4s.JsonDSL._
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(oracles))
  }
}
