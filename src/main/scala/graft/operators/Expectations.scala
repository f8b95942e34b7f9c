package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the validation gate a
  * training-data pipeline runs before anything downstream trusts a
  * table (the Deequ/Great-Expectations idea, engine-native).
  *
  * Design for 100 TB: the COST of a constraint suite is what decides
  * whether teams run it, so checks compile by cost class:
  *
  *  - ROW-LOCAL checks (not-null, range, set membership, regex, custom
  *    predicate) all fold into ONE partial+final aggregate over a
  *    single scan — adding a check adds a counter, never a pass.
  *    Violation counts come back as one row of sums.
  *  - UNIQUENESS is one hash aggregate on the key (count minus distinct
  *    groups; the shuffle every exact-duplicate question costs —
  *    [[Dedup]]'s exact family at metric granularity).
  *  - REFERENTIAL integrity (every fact key resolves in a dimension) is
  *    one LEFT join against the distinct reference keys — Catalyst
  *    broadcasts the dimension side when it fits, and NULL keys are not
  *    violations (SQL FK semantics; add a [[NotNull]] check to forbid
  *    them).
  *
  * The report is one tiny DataFrame — (check_name, violations, n_rows,
  * passed) per declared expectation — so it composes with the rest of
  * the engine: persist it beside a snapshot version, gate a
  * [[Curation]] run on `passed`, or diff it across ingest batches. */
object Expectations {

  sealed trait Check { def name: String }

  /** `col` is never null. */
  final case class NotNull(col: String) extends Check {
    def name = s"not_null($col)"
  }
  /** `col` ∈ [lo, hi] (nulls are not violations — pair with NotNull). */
  final case class InRange(col: String, lo: Column, hi: Column) extends Check {
    def name = s"in_range($col)"
  }
  /** `col` ∈ `values`. */
  final case class InSet(col: String, values: Seq[Any]) extends Check {
    def name = s"in_set($col)"
  }
  /** String `col` contains a match of `regex` (rlike semantics). */
  final case class MatchesRegex(col: String, regex: String) extends Check {
    def name = s"matches_regex($col)"
  }
  /** Arbitrary row-local predicate (named by the caller). STRICT null
    * semantics, unlike the typed checks: the predicate must DEFINITELY
    * hold — a NULL result counts as a violation. A custom predicate's
    * null-acceptance is the author's call, and the strict default means
    * a forgotten null guard surfaces as a violation count instead of
    * silently passing; wrap in `coalesce(p, lit(true))` to opt into
    * SQL-CHECK pass-on-null. */
  final case class Satisfies(label: String, predicate: Column) extends Check {
    def name = s"satisfies($label)"
  }
  /** The tuple `cols` appears at most once; `violations` counts every
    * row belonging to a duplicated tuple. */
  final case class Unique(cols: Seq[String]) extends Check {
    def name = s"unique(${cols.mkString(",")})"
  }
  /** Every non-null `col` value exists in `refCol` of `ref`. */
  final case class RefersTo(col: String, ref: DataFrame, refCol: String)
      extends Check {
    def name = s"refers_to($col)"
  }

  /** A row-local check's VIOLATION predicate. Typed checks (range, set,
    * regex) are null-safe per SQL constraint semantics — a NULL input is
    * not a violation (pair with [[NotNull]] to forbid nulls). The one
    * exception is [[Satisfies]], which is deliberately strict: a NULL
    * predicate result IS a violation (see its doc). */
  private def violation(c: Check): Option[Column] = c match {
    case NotNull(col)         => Some(org.apache.spark.sql.functions.col(col).isNull)
    case InRange(col, lo, hi) =>
      val x = org.apache.spark.sql.functions.col(col)
      Some(x.isNotNull && !(x >= lo && x <= hi))
    case InSet(col, vs)       =>
      val x = org.apache.spark.sql.functions.col(col)
      Some(x.isNotNull && !x.isin(vs: _*))
    case MatchesRegex(col, re) =>
      val x = org.apache.spark.sql.functions.col(col)
      Some(x.isNotNull && !x.rlike(re))
    case Satisfies(_, p)      => Some(p.isNull || !p)
    case _                    => None
  }

  /** Run every check and return one report row per check:
    * `(check_name, violations, n_rows, passed)`, ordered by check name
    * (`check` itself is an SQL reserved word — the column name keeps
    * the report queryable everywhere).
    * Row-local checks share one aggregate pass over `df`; each Unique
    * adds one keyed aggregate; each RefersTo one anti join. */
  def validate(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "declare at least one expectation")
    // names key the report (and the shared aggregate's columns): two
    // same-named checks would alias silently — use Satisfies with
    // distinct labels for e.g. a second range band on one column
    val dup = checks.map(_.name).groupBy(identity)
      .collect { case (n, xs) if xs.size > 1 => n }
    require(dup.isEmpty, s"duplicate expectation names: ${dup.mkString(", ")}")
    val rowLocal = checks.flatMap(c => violation(c).map(c.name -> _))
    // Referential checks ride the SAME aggregate scan as the row-local
    // ones (optimization r20, guide §1.2): each RefersTo left-joins its
    // DISTINCT reference keys onto the fact (an equi join, never a loop;
    // distinct keys = no fanout, so every row-local count is unchanged),
    // and its dangling-key sum becomes one more column of the shared
    // aggregate — the previous shape paid one full fact scan per RefersTo
    // on top of the row-local scan. The join carries no hint: the size
    // thresholds broadcast the keys when they fit, and a large reference
    // (a fact-to-fact check) runs as a shuffle join instead of failing
    // at the broadcast limit.
    val refChecks = checks.zipWithIndex.collect {
      case (r: RefersTo, i) => (r, s"__resolved_$i")
    }
    val fused = rowLocal.map { case (name, bad) =>
      name -> sum(when(bad, 1L).otherwise(0L)).as(name)
    } ++ refChecks.map { case (r, flag) =>
      r.name -> coalesce(sum(when(col(r.col).isNotNull && col(flag).isNull,
        1L).otherwise(0L)), lit(0L)).as(r.name)
    }
    val localReport: Option[DataFrame] =
      if (fused.isEmpty) None
      else {
        val joined = refChecks.foldLeft(df) { case (f, (r, flag)) =>
          val keys = r.ref.select(col(r.refCol).as(r.col))
            .where(col(r.col).isNotNull)
            .distinct().withColumn(flag, lit(1L))
          f.join(keys, Seq(r.col), "left_outer")
        }
        val aggs = count(lit(1)).as("n_rows") +: fused.map(_._2)
        val row = joined.agg(aggs.head, aggs.tail: _*)
        // one aggregate row unpivoted to (check, violations, n_rows) —
        // |checks| columns to |checks| rows, driver-free
        Some(row.select(
          explode(map(fused.flatMap { case (name, _) =>
            Seq(lit(name), coalesce(col(s"`$name`"), lit(0L)))
          }: _*)).as(Seq("check_name", "violations")),
          col("n_rows")))
      }
    val uniqueReports = checks.collect { case u @ Unique(cols) =>
      df.groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .agg(
          lit(u.name).as("check_name"),
          coalesce(sum(when(col("__n") > 1, col("__n"))), lit(0L))
            .as("violations"),
          coalesce(sum(col("__n")), lit(0L)).as("n_rows"))
    }
    (localReport.toSeq ++ uniqueReports)
      .reduce(_ unionByName _)
      .withColumn("passed", col("violations") === 0L)
      .orderBy("check_name")
  }
}
