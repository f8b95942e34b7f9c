package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * One place for every config the engine depends on, so `Verify`, `Bench`,
  * tests, and user code all run with identical semantics:
  *
  *  - `spark.sql.session.timeZone=UTC`: all date-part derivations
  *    (hour/day/week/...) are UTC-deterministic. The reference pipeline
  *    (reference `etl.py:98-131`) inherited whatever zone the cluster ran
  *    in — we pin UTC instead (see SURVEY.md §1, "timestamp semantics").
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: a legacy generation of
  *    the `events` table carried Parquet `TIMESTAMP(NANOS)` which Spark
  *    4.x cannot represent; with the flag that column reads as `bigint`
  *    nanos and [[graft.Lake.events]] normalizes it to `TimestampType`.
  *    (The current generation is native TIMESTAMP(MICROS) — the flag is a
  *    no-op there, kept so both generations stay readable.)
  *  - `spark.sql.parquet.inferTimestampNTZ.enabled=false`: naive Parquet
  *    timestamps (isAdjustedToUTC=false, as the testdata writes) read as
  *    `TimestampType`, not NTZ — with the session pinned to UTC the two
  *    agree on every value, and one type keeps window/join/oracle
  *    comparisons cast-free.
  *  - AQE on: runtime join-strategy switching + skew-join splitting +
  *    partition coalescing. This is the engine's first line of defense at
  *    100 TB (skewed keys, misestimated build sides).
  *  - `spark.graft.rewriteOrJoin=true`: [[graft.plans.OrEquiJoinRule]]
  *    armed by default (decided round 16, the same first-line-of-defense
  *    rationale as AQE): a user-authored `LEFT JOIN ... ON a=x OR b=y` —
  *    SQL text or naive DataFrame code — plans hash-joinable branches
  *    instead of a BroadcastNestedLoopJoin, and the agg-over-OR-join
  *    consumers take the eager pre-aggregated plan. Multiset-equivalence
  *    is law-pinned (OrEquiJoinRuleSpec, randomized 1-3-predicate
  *    fixtures, rule-on ≡ rule-off), tri-scale oracle-gated
  *    (q82/q83/q84), and the reference pipeline's J2 join, written with
  *    the verbatim OR predicate, relies on it (SparkifySpec compares its
  *    output with the disarmed nested-loop run). The rule is the only
  *    OR-join implementation: `OrEquiJoin.leftOrJoin` is a wrapper that
  *    applies it whatever this conf says. Opt out per session/query with
  *    `spark.graft.rewriteOrJoin=false`.
  *  - `spark.hadoop.fs.file.impl`: [[graft.InProcessLocalFileSystem]].
  *    Without the Hadoop native library, the stock local filesystem starts
  *    a `chmod` process for every file, `.crc` file and directory it
  *    creates, and an `ls -ld` for every listed status whose permission is
  *    read; on a 4-CPU VM one start costs about 12 ms. A JFR
  *    `jdk.ProcessStart` count gave 1,629 `chmod` starts in one perfbench
  *    `sparkify_etl` run (4 passes of 102 files) and 242 starts in one
  *    `headline_floor` run, 130 of them `ls` from `Lake`'s schema-cache
  *    fingerprint listing. The bound class sets and reads the same modes
  *    in process. Only `file://` paths reach it: S3A and HDFS keep their
  *    own filesystems. Hadoop's filesystem cache does not key on
  *    `fs.file.impl`, so a JVM that created a plain `file://` filesystem
  *    before this session was built keeps using that one.
  *  - shuffle partitions default low for local runs; a real cluster
  *    deployment overrides via spark-submit conf (AQE coalescing makes the
  *    initial number mostly a ceiling).
  */
object GraftSession {

  /** Apply the engine's semantic configs to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config(graft.plans.OrEquiJoinRule.ConfKey, "true")
    // NullAwareAntiJoinRule armed for the same reason: a user-authored
    // `(a, b) NOT IN (SELECT x, y ...)` over nullable keys is stock
    // Spark's last remaining nested-loop join family; the rewrite is
    // law-pinned (NullAwareAntiJoinRuleSpec, rule-on ≡ rule-off over
    // randomized nullable fixtures) and oracle-gated (q99).
    .config(graft.plans.NullAwareAntiJoinRule.ConfKey, "true")
    // StarOrderRule armed by default: inert until a table carries
    // write-time key sketches — registered in-JVM by ZoneMapTable
    // sketchCols writes, loaded explicitly via loadStarStats, or
    // lazy-loaded from the `_starstats` sidecar on the rule's first
    // miss (so a FRESH session over a zone-mapped table reorders
    // transparently, one driver-side metadata read per table, zero
    // jobs). Writing with sketchCols is the real opt-in; the conf is
    // the per-session override. Reordering is correctness-free by join
    // commutativity (law-pinned in StarOrderRuleSpec, gated by q85).
    .config(graft.plans.StarOrderRule.ConfKey, "true")
    .config("spark.sql.parquet.compression.codec", "snappy")
    // write timestamps as annotated INT64 micros, not the legacy INT96:
    // INT96 chunks carry NO statistics, so every timestamp predicate
    // loses row-group pruning AND zone-map footer stats — at 100 TB the
    // difference between skipping a year of data and reading it
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // ObjectHashAggregate's sort-based fallback fires after this many
    // DISTINCT groups per task (default 128 — sized for KB-scale sketch
    // buffers). The engine's typed-imperative aggregates are two
    // families: scalar string min/max (tens of bytes per group — the
    // OR-join merge aggregates group by keys with thousands-to-millions
    // of distinct values, where 128 means "always sort") and
    // theta/KLL/freq sketches (KB-to-256KB per group, but only ever
    // aggregated over LOW-cardinality groups in this engine — global
    // rollups and small key sets, bounded by the sketch gates'
    // contracts). 64k raises the scalar family's hash ceiling to
    // ~MB-scale maps while the graceful sort fallback — exactly
    // today's SortAggregate behavior — still protects anything larger,
    // so the setting is scale-safe, not a local[32] tune.
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      "65536")
    // File listing stays on the driver below this many paths; above it
    // Spark lists through a job. The default of 32 is sized for object-
    // store latency. On a local disk (4-core VM, local[4]) the driver
    // stats a path in 0.065 ms, while a listing job costs 80 ms plus
    // 3.7 ms per task, one task per path up to the 10000-task cap
    // (measured over 1–4000 paths: 1 path 3 ms serial vs 82 ms as a
    // job, 4000 paths 0.26 s vs 15.2 s). The job therefore never wins
    // below the cap, and at the cap (~37 s) it costs what serial
    // listing of ~570k paths costs, hence 500k. The ETL's two 100-path
    // leaf globs each spent 0.5–0.7 s in a listing job under the
    // default. A deployment on high-latency object storage should lower
    // this back towards Spark's default.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      "500000")
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.InProcessLocalFileSystem].getName)
    .config("spark.ui.enabled", "false")

  /** Local session for tests/tools. Cores and shuffle partitions track the
    * `SPARK_GRAFT_CPUS` harness contract. */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
