package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.hadoop.fs.{FileStatus, Path}
import org.json4s.{JObject, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse, render}
import scala.collection.concurrent.TrieMap

/** Materialized-view registry + builder: the declarative end of the
  * engine's view-routing loop.
  *
  * The engine already has the two halves of materialized-view SERVING:
  * q41's mergeable-partial maintenance (how a stored aggregate absorbs a
  * delta) and q59's join IVM. What was missing is ROUTING — a user query
  * that happens to BE the view's defining aggregate should read the
  * tiny view table, not re-scan the base. [[graft.plans.MaterializedViewRule]]
  * does that rewrite; this object owns the catalog it consults:
  *
  *  - [[MvAgg]]/[[create]] declare a view as (base path, group columns,
  *    aggregate list, optional star-join chain). `create` computes the
  *    aggregate ONCE, writes it to `mvPath`, snapshots every input's
  *    file-level fingerprint, and registers the definition.
  *  - The rule rewrites a matching `Aggregate` over the base scan into a
  *    scan of `mvPath` — but only while the QUERY'S OWN scan listing
  *    matches the snapshot, so a mutated base silently falls back to the
  *    direct scan (correctness is never conditional on freshness
  *    bookkeeping; the view just stops being used until
  *    [[refresh]]/[[absorb]] catches up).
  *
  * Scale notes: the rule's staleness probe costs ZERO filesystem calls —
  * it fingerprints the query's own already-materialized file index
  * ([[fingerprintOfFiles]]), i.e. exactly the files the direct scan
  * would read. The full [[fingerprint]] walk runs only on the WRITE
  * path (create/refresh/absorb — once per maintenance event, not per
  * optimizer pass). The REWRITE is where the scale win lives: a grouped
  * aggregate over a 100 TB base becomes a scan of a |groups|-row table.
  */
object MaterializedView {

  /** One aggregate column of a view definition: `func` over `inputCol`
    * (optionally pre-cast to `castTo`, e.g. "decimal(18,6)" — the exact
    * shape the engine's decimal-sum convention produces), written as
    * `outCol`. Supported funcs: count_star, count, sum, min, max —
    * the self-maintainable aggregates (q41's merge family) — plus
    * `hll_sketch`, a mergeable DataSketches HLL over `inputCol` at
    * `lgK` (the [[Sketches]] family as STORED view state): the one way
    * a distinct-count rollup becomes algebraic, so the rule can serve
    * `hll_sketch_agg`/`hll_sketch_estimate` queries — including
    * re-unions across rolled-up dimensions — from a few KB per group
    * instead of a 100 TB re-scan. A stored (sum, count) pair over the
    * same input additionally serves the query-side `avg` — the rule
    * derives it from the partials. */
  final case class MvAgg(func: String, inputCol: String = "",
                         castTo: Option[String] = None, outCol: String,
                         /** sketch parameter: HLL lgK, or KLL k */
                         lgK: Option[Int] = None) {
    require(Set("count_star", "count", "sum", "min", "max",
      "hll_sketch", "kll")(func), s"unsupported MV aggregate: $func")
    require(lgK.isEmpty || func == "hll_sketch" || func == "kll",
      "lgK only applies to sketch aggregates")
    require(castTo.isEmpty || !Set("hll_sketch", "kll")(func),
      "sketch aggregates take the column as-is")
  }

  /** A derived grouping dimension: `sql` evaluated over the base (e.g.
    * `date_trunc('hour', ts)`), stored as column `name`. The routing
    * rule matches a query's grouping EXPRESSION against the resolved
    * template semantically (same canonical tree after remapping
    * attribute references by name), so the classic time-bucketed rollup
    * routes without the query naming the view. */
  final case class MvGroupExpr(name: String, sql: String)

  /** One link of a join-backed view's star chain: the accumulated frame
    * (base, then base ⋈ earlier links) INNER equi-joins `rightPath` on
    * pairwise `leftKeys(i) = rightKeys(i)`, where each leftKey names a
    * column of ANY already-joined input. Column names across all inputs
    * must be disjoint (validated at [[create]] — the star-schema
    * prefix convention), which is what lets the routing rule match join
    * trees by unordered column-name pairs, independent of join
    * orientation or association order. */
  final case class MvJoin(rightPath: String,
                          leftKeys: Seq[String], rightKeys: Seq[String]) {
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "MvJoin needs one or more (leftKey, rightKey) pairs")
  }

  final case class MvDef(name: String, basePath: String,
                         groupCols: Seq[String], aggs: Seq[MvAgg],
                         mvPath: String, dataDir: String,
                         baseFingerprint: String,
                         relation: LogicalRelation,
                         lastBatchId: Long = -1L,
                         groupExprs: Seq[MvGroupExpr] = Nil,
                         /** resolved template per groupExpr, built once
                           * at create/load against a base scan; the
                           * rule remaps its attribute refs by NAME onto
                           * the query's scan before comparing. */
                         groupTemplates: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
                         joins: Seq[MvJoin] = Nil,
                         joinFingerprints: Seq[String] = Nil,
                         /** base data files (absolute paths, no scheme)
                           * at the last create/refresh/absorb — the
                           * expected-set ledger that lets [[absorb]]
                           * detect base files it has NOT been fed
                           * (split micro-batches) and park routing
                           * until the feed catches up. */
                         baseFiles: Seq[String] = Nil) {
    /** Every input path with its snapshotted fingerprint. */
    def inputFingerprints: Seq[(String, String)] =
      (basePath -> baseFingerprint) +:
        joins.map(_.rightPath).zip(joinFingerprints)
  }

  /** name -> definition; process-wide (sessions share the JVM). */
  private val catalog = TrieMap.empty[String, MvDef]

  /** Full-walk fingerprints taken (diagnostics: the optimizer rule's
    * freshness probes must not show up here — spec-pinned at zero). */
  private[graft] val walkCount = new java.util.concurrent.atomic.AtomicLong

  def registered: Map[String, MvDef] = catalog.toMap

  def get(name: String): Option[MvDef] = catalog.get(name)

  def drop(name: String): Unit = catalog.remove(name)

  def dropAll(): Unit = catalog.clear()

  /** The default lgK `hll_sketch_agg` uses when none is given. */
  val DefaultLgK = 12

  /** The default k `kll_agg` uses when none is given. */
  val DefaultKllK = 200

  private def aggColumn(a: MvAgg): Column = {
    val in = a.castTo.map(t => col(a.inputCol).cast(t))
      .getOrElse(col(a.inputCol))
    val c = a.func match {
      case "count_star" => count(lit(1))
      case "count"      => count(in)
      case "sum"        => sum(in)
      case "min"        => min(in)
      case "max"        => max(in)
      case "hll_sketch" =>
        hll_sketch_agg(in, lit(a.lgK.getOrElse(DefaultLgK)))
      case "kll" =>
        expr(s"kll_agg(${a.inputCol}, ${a.lgK.getOrElse(DefaultKllK)})")
    }
    c.as(a.outCol)
  }

  /** Scheme-free absolute path — the one spelling file identities use
    * everywhere here (walked listings, file indexes, stream batch
    * input files). */
  private[graft] def normalizePath(p: String): String =
    new Path(p).toUri.getPath

  private def digestOf(parts: Seq[String]): String = {
    val joined = parts.sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(joined.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def entryOf(f: FileStatus): String =
    s"${normalizePath(f.getPath.toString)}:${f.getLen}:${f.getModificationTime}"

  /** Fingerprint of an ALREADY-LISTED file set — zero filesystem calls.
    * The routing rule feeds it the query's own materialized file index,
    * so freshness is judged against exactly the files the direct scan
    * would read (snapshot-consistent, and free at plan time). */
  def fingerprintOfFiles(files: Seq[FileStatus]): String =
    digestOf(files.filter(_.isFile).map(entryOf))

  /** Full file listing of a base path: every DATA file's (path, length,
    * modification time). Hidden entries (`_`- or `.`-prefixed segments,
    * Spark's own convention — `_SUCCESS`, staged temporaries) are
    * excluded so this walk and a scan's file index fingerprint the SAME
    * set. The WRITE-path primitive — create/refresh/absorb each take
    * one; the optimizer rule never does. */
  private def listBase(spark: SparkSession, path: String): Option[Seq[FileStatus]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    walkCount.incrementAndGet()
    val baseNorm = normalizePath(fs.makeQualified(p).toString)
    def hiddenUnderBase(f: Path): Boolean = {
      var cur = f
      var leaf = true
      while (cur != null && normalizePath(cur.toString) != baseNorm) {
        val n = cur.getName
        // Spark's own file-index convention, incl. its exception: the
        // parquet summary files `_metadata`/`_common_metadata` are KEPT
        // by InMemoryFileIndex, so a base carrying them must
        // fingerprint identically here and at plan time
        val keptMeta = leaf && (n == "_metadata" || n == "_common_metadata")
        if (!keptMeta &&
            ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".")))
          return true
        leaf = false
        cur = cur.getParent
      }
      false
    }
    val parts = Seq.newBuilder[FileStatus]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !hiddenUnderBase(f.getPath)) parts += f
    }
    Some(parts.result())
  }

  /** File-level content fingerprint of a base path: every data file's
    * (path, length, modification time), sorted, hashed. Any
    * append/overwrite/compaction changes it; a snapshot-versioned base
    * changes it through its manifest + data files. */
  def fingerprint(spark: SparkSession, path: String): String =
    listBase(spark, path).fold("absent")(fingerprintOfFiles)

  private def aggregateOf(df: DataFrame, groupings: Seq[Column],
                          aggCols: Seq[Column]): DataFrame =
    if (groupings.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
    else df.groupBy(groupings: _*).agg(aggCols.head, aggCols.tail: _*)

  private def groupingColumns(groupCols: Seq[String],
                              groupExprs: Seq[MvGroupExpr]): Seq[Column] =
    groupCols.map(col) ++ groupExprs.map(g => expr(g.sql).as(g.name))

  /** `frame` (base or a delta with the base's schema) joined through the
    * declared star chain — each link resolves its leftKeys against the
    * accumulated columns by name (disjointness is validated at create). */
  private def joinChain(spark: SparkSession, frame: DataFrame,
                        joins: Seq[MvJoin]): DataFrame =
    joins.foldLeft(frame) { (acc, j) =>
      val right = spark.read.parquet(j.rightPath)
      acc.join(right,
        j.leftKeys.zip(j.rightKeys)
          .map { case (l, r) => acc(l) === right(r) }
          .reduce(_ && _), "inner")
    }

  /** The defining aggregate as a DataFrame (what the view stores, and
    * what a routed query's answer must equal). */
  def definingQuery(spark: SparkSession, basePath: String,
                    groupCols: Seq[String], aggs: Seq[MvAgg],
                    groupExprs: Seq[MvGroupExpr] = Nil,
                    joins: Seq[MvJoin] = Nil): DataFrame =
    aggregateOf(joinChain(spark, spark.read.parquet(basePath), joins),
      groupingColumns(groupCols, groupExprs), aggs.map(aggColumn))

  /** Resolve each groupExpr against a base scan ONCE; the rule compares
    * these templates (attribute refs remapped by name) against query
    * grouping expressions. */
  private def resolveTemplates(spark: SparkSession, basePath: String,
                               groupExprs: Seq[MvGroupExpr])
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] =
    if (groupExprs.isEmpty) Nil
    else {
      val base = spark.read.parquet(basePath)
      groupExprs.map { g =>
        val analyzed = base.select(expr(g.sql).as(g.name))
          .queryExecution.analyzed
        val template = analyzed.collectFirst {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList.head match {
              case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
              case e => e
            }
        }.getOrElse(throw new IllegalArgumentException(
          s"could not resolve MV group expression '${g.sql}'"))
        g.name -> template
      }
    }

  /** Write `content` as a fresh generation under the view root through
    * the [[Generations]] protocol — claim `v=<n>`, write the data, commit
    * a manifest holding the definition ([[load]]'s recovery record) —
    * register it (the pointer swap IS the in-process commit), then
    * vacuum every generation except the newest two committed — this one
    * and the previously persisted one, which plans optimized before this
    * publish may still read — and the one the in-memory registration
    * served until now, which can differ from both when a previous
    * publish failed after its data write or another process republished
    * concurrently. Vacuuming by exclusion means an orphan generation
    * left by a crash between data write and commit can never shift the
    * window onto the generation a recovered definition serves. */
  private def publish(spark: SparkSession, name: String, basePath: String,
                      groupCols: Seq[String], aggs: Seq[MvAgg],
                      mvPath: String, baseFp: String,
                      content: DataFrame, lastBatchId: Long,
                      groupExprs: Seq[MvGroupExpr],
                      joins: Seq[MvJoin], joinFps: Seq[String],
                      baseFiles: Seq[String]): MvDef = {
    val root = new Path(mvPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // captured BEFORE catalog.put below swaps the pointer; qualified, as
    // a registered dir may be relative and the root absolute or not
    val registered = catalog.get(name).map(d => fs.makeQualified(new Path(d.dataDir)))
      .filter(_.getParent == fs.makeQualified(root))
      .flatMap(p => Generations.number(p.getName))
    val n = Generations.claim(fs, root)
    val dataDir = Generations.dir(root, n).toString
    content.write.mode("append").parquet(dataDir)
    val d = MvDef(name, basePath, groupCols, aggs, mvPath, dataDir, baseFp,
      relationOf(spark, dataDir), lastBatchId, groupExprs,
      resolveTemplates(spark, basePath, groupExprs), joins, joinFps,
      baseFiles)
    Generations.commit(fs, root, n, definitionJson(d))
    catalog.put(name, d)
    Generations.vacuum(fs, root, keepLast = 2, pinned = registered.toSet)
    d
  }

  private def relationOf(spark: SparkSession, dataDir: String): LogicalRelation =
    spark.read.parquet(dataDir).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }
      .getOrElse(throw new IllegalStateException(
        s"materialized view at $dataDir did not analyze to a file relation"))

  /** What decides whether a committed generation answers a [[create]]:
    * the definition and every input's fingerprint, as its manifest holds
    * them. */
  private def identityJson(name: String, basePath: String,
                           groupCols: Seq[String], groupExprs: Seq[MvGroupExpr],
                           joins: Seq[MvJoin], aggs: Seq[MvAgg],
                           baseFp: String, joinFps: Seq[String]): JObject = {
    import org.json4s.JsonDSL._
    ("name" -> name) ~ ("basePath" -> basePath) ~
      ("groupCols" -> groupCols) ~
      ("groupExprs" -> groupExprs.map(g => ("name" -> g.name) ~ ("sql" -> g.sql))) ~
      ("joins" -> joins.map(j => ("rightPath" -> j.rightPath) ~
        ("leftKeys" -> j.leftKeys) ~ ("rightKeys" -> j.rightKeys))) ~
      ("joinFingerprints" -> joinFps) ~
      ("aggs" -> aggs.map(a => ("func" -> a.func) ~ ("inputCol" -> a.inputCol) ~
        ("castTo" -> a.castTo) ~ ("lgK" -> a.lgK) ~ ("outCol" -> a.outCol))) ~
      ("baseFingerprint" -> baseFp)
  }

  private def definitionJson(d: MvDef): JObject = {
    import org.json4s.JsonDSL._
    identityJson(d.name, d.basePath, d.groupCols, d.groupExprs, d.joins,
      d.aggs, d.baseFingerprint, d.joinFingerprints) ~
      ("baseFiles" -> d.baseFiles) ~ ("lastBatchId" -> d.lastBatchId)
  }

  /** `j` as a manifest holds it: rendering drops absent options. */
  private def written(j: JObject): JValue = parse(compact(render(j)))

  /** Whether manifest `have` records every field of identity `want`. */
  private def answers(have: JValue, want: JObject): Boolean = {
    import org.json4s._
    written(want) match {
      case JObject(fields) => fields.forall { case (k, v) => have \ k == v }
      case _ => false
    }
  }

  /** Re-register a view from its newest committed generation (a new
    * JVM's recovery path — the in-memory catalog dies with the process,
    * the definition and data do not). Freshness is re-judged against the
    * CURRENT base on every routing decision as usual, so a base that
    * moved on while the process was down simply doesn't route until
    * refresh/absorb. */
  def load(spark: SparkSession, mvPath: String): MvDef = {
    val root = new Path(mvPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val n = Generations.committed(fs, root).lastOption.getOrElse(
      throw new java.io.FileNotFoundException(
        s"no committed materialized view under $mvPath"))
    register(spark, mvPath, n, Generations.manifest(fs, root, n))
  }

  /** Register committed generation `n` under `mvPath`, whose manifest is
    * `j`. */
  private def register(spark: SparkSession, mvPath: String, n: Long,
                       j: JValue): MvDef = {
    import org.json4s._
    def bad(what: String, v: JValue) =
      throw new java.io.IOException(s"bad view definition under $mvPath: $what $v")
    def str(v: JValue, what: String): String = v match {
      case JString(s) => s
      case other => bad(what, other)
    }
    def strs(v: JValue, what: String): Seq[String] = v match {
      case JArray(xs) => xs.map(str(_, what))
      case other => bad(what, other)
    }
    def objs(f: String): List[JValue] = j \ f match {
      case JArray(xs) => xs
      case other => bad(f, other)
    }
    def opt(v: JValue): Option[JValue] = v match {
      case JNothing | JNull => None
      case other => Some(other)
    }
    val aggs = objs("aggs").map { a =>
      MvAgg(str(a \ "func", "func"), str(a \ "inputCol", "inputCol"),
        opt(a \ "castTo").map(str(_, "castTo")),
        outCol = str(a \ "outCol", "outCol"),
        lgK = opt(a \ "lgK").map {
          case JInt(v) => v.toInt
          case other => bad("lgK", other)
        })
    }
    val lastBatchId = j \ "lastBatchId" match {
      case JInt(v) => v.toLong
      case other => bad("lastBatchId", other)
    }
    val groupExprs = objs("groupExprs").map(g =>
      MvGroupExpr(str(g \ "name", "name"), str(g \ "sql", "sql")))
    val joins = objs("joins").map(v => MvJoin(str(v \ "rightPath", "rightPath"),
      strs(v \ "leftKeys", "leftKeys"), strs(v \ "rightKeys", "rightKeys")))
    val dataDir = Generations.dir(new Path(mvPath), n).toString
    val basePath = str(j \ "basePath", "basePath")
    val d = MvDef(str(j \ "name", "name"), basePath,
      strs(j \ "groupCols", "groupCols"), aggs, mvPath, dataDir,
      str(j \ "baseFingerprint", "baseFingerprint"), relationOf(spark, dataDir),
      lastBatchId, groupExprs, resolveTemplates(spark, basePath, groupExprs),
      joins, strs(j \ "joinFingerprints", "joinFingerprints"),
      strs(j \ "baseFiles", "baseFiles"))
    catalog.put(d.name, d)
    d
  }

  /** Compute, persist and register the view, or reuse it when nothing
    * has changed. The stored table holds groupCols ++ agg outCols; the
    * registered relation is re-read AFTER the write so its file index
    * sees exactly the persisted files.
    *
    * Reuse: when the newest committed generation under `mvPath` records
    * this exact definition (name, base path, group columns and
    * expressions, aggs, joins) and the fingerprints the base and every
    * join input have now, `create` registers that generation and returns
    * it without running a job. The fingerprints are the file-level
    * (path, length, mtime) listings of [[fingerprint]], so an appended,
    * rewritten or deleted file forces a rebuild; an in-place rewrite that
    * keeps every file's name, length and mtime does not (the caveat
    * `graft.Lake`'s schema cache documents). When the in-memory
    * registration already points at that generation, it is returned as
    * is: no manifest read, no re-analysis. Any other case publishes a new
    * generation; [[refresh]] always does.
    *
    * Each publish writes a FRESH generation under `mvPath` rather than
    * overwriting in place — two lessons baked in:
    *  - self-route: the defining query is by construction EXACTLY the
    *    shape the rule rewrites, so recomputing an already-registered
    *    view with routing enabled would read the view's own files while
    *    the overwrite deletes them (FILE_NOT_EXIST mid-write; caught by
    *    RegistrySpec the first time). The registration is dropped for
    *    the duration of the recompute, and the write lands in a
    *    directory no reader has ever seen. If the recompute or write
    *    FAILS, the prior registration is restored — a failed refresh
    *    must not silently un-register a still-servable view.
    *  - reader safety: an already-optimized plan holds the PREVIOUS
    *    generation's file list; in-place overwrite would break it at
    *    execution time. Generations make recreate publish-by-pointer —
    *    the catalog swaps to the new dir, existing plans keep reading
    *    the old one (the [[Generations]] protocol; the catalog is
    *    in-memory, so for this process the pointer swap IS the commit).
    * Older generations are vacuumed, keeping the previously persisted
    * one. */
  def create(spark: SparkSession, name: String, basePath: String,
             groupCols: Seq[String], aggs: Seq[MvAgg],
             mvPath: String, groupExprs: Seq[MvGroupExpr] = Nil,
             joins: Seq[MvJoin] = Nil): MvDef =
    define(spark, name, basePath, groupCols, aggs, mvPath, groupExprs, joins,
      reuse = true)

  private def define(spark: SparkSession, name: String, basePath: String,
                     groupCols: Seq[String], aggs: Seq[MvAgg],
                     mvPath: String, groupExprs: Seq[MvGroupExpr],
                     joins: Seq[MvJoin], reuse: Boolean): MvDef = {
    require(aggs.nonEmpty, "a view needs at least one aggregate column")
    require(joins.isEmpty || groupExprs.isEmpty,
      "join-backed views with derived grouping dimensions are not supported")
    val baseListing = listBase(spark, basePath).getOrElse(
      throw new java.io.FileNotFoundException(s"MV base absent: $basePath"))
    val fp = fingerprintOfFiles(baseListing)
    val joinFps = joins.map(jn => fingerprint(spark, jn.rightPath))
    val identity = identityJson(name, basePath, groupCols, groupExprs, joins,
      aggs, fp, joinFps)
    (if (reuse) current(spark, name, mvPath, identity) else None).getOrElse {
      if (joins.nonEmpty) validateJoinChain(spark, basePath, joins)
      // a refresh carries the replay guard forward: the recomputed view
      // already CONTAINS every absorbed batch's rows (they are in the
      // base), so a crash-replayed batch arriving after the refresh must
      // still be recognized as absorbed
      val prior = catalog.get(name)
      catalog.remove(name) // the defining query must never route to itself
      try publish(spark, name, basePath, groupCols, aggs, mvPath, fp,
        definingQuery(spark, basePath, groupCols, aggs, groupExprs, joins),
        prior.map(_.lastBatchId).getOrElse(-1L), groupExprs, joins, joinFps,
        baseListing.map(f => normalizePath(f.getPath.toString)))
      catch {
        case t: Throwable =>
          // restore the prior (still-servable) generation's registration
          prior.foreach(p => catalog.put(name, p))
          throw t
      }
    }
  }

  /** The newest committed generation under `mvPath`, registered, if its
    * manifest records `identity`; the registration itself when it
    * already points there. */
  private def current(spark: SparkSession, name: String, mvPath: String,
                      identity: JObject): Option[MvDef] = {
    val root = new Path(mvPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Generations.committed(fs, root).lastOption.flatMap { n =>
      val newest = fs.makeQualified(Generations.dir(root, n))
      catalog.get(name).filter(d => fs.makeQualified(new Path(d.dataDir)) == newest) match {
        case Some(d) => Some(d).filter(d => answers(written(definitionJson(d)), identity))
        case None =>
          val j = Generations.manifest(fs, root, n)
          if (answers(j, identity)) Some(register(spark, mvPath, n, j)) else None
      }
    }
  }

  /** The star-schema convention the routing rule's name-based matching
    * leans on, made a fail-fast contract: every input's column names
    * disjoint from every other's, and each chain link's leftKeys
    * resolvable among the columns joined so far. */
  private def validateJoinChain(spark: SparkSession, basePath: String,
                                joins: Seq[MvJoin]): Unit = {
    var seen = spark.read.parquet(basePath).columns.toSeq
    joins.foreach { j =>
      val right = spark.read.parquet(j.rightPath).columns.toSeq
      val shared = seen.toSet.intersect(right.toSet)
      require(shared.isEmpty,
        s"join input ${j.rightPath} shares column names ${shared.mkString(", ")} " +
          "with an earlier input — name-based view matching would be " +
          "ambiguous; prefix the columns (star-schema convention)")
      val unresolved = j.leftKeys.filterNot(seen.contains)
      require(unresolved.isEmpty,
        s"leftKeys ${unresolved.mkString(", ")} not found among the " +
          s"columns joined before ${j.rightPath}")
      val missingRight = j.rightKeys.filterNot(right.contains)
      require(missingRight.isEmpty,
        s"rightKeys ${missingRight.mkString(", ")} not in ${j.rightPath}")
      seen = seen ++ right
    }
  }

  /** Delta-cost maintenance — q41's merge family wired to routing. The
    * caller has ALREADY appended `delta` to the base; absorb folds the
    * delta's partials into the stored view at |delta| + |groups| cost
    * (the base is never re-read) and publishes a new generation whose
    * fingerprint snapshots the post-append base, so routing re-arms
    * without a full recompute. The supported aggregate family is
    * self-maintainable under APPEND by construction: counts and sums
    * merge by summing partials, min/max by min/max. Each merged column
    * is cast back to its STORED type — re-aggregating a decimal sum
    * widens the precision, and the stored type is the routing
    * contract. merge ≡ recompute is law-pinned in MaterializedViewSpec.
    *
    * JOIN-BACKED views absorb a BASE-side (fact) delta via the q59
    * delta algebra ([[IncrementalJoin.joinDelta]] with ΔR = ∅): with
    * every dimension side unchanged — verified against the snapshotted
    * fingerprints — the joined view's delta is exactly
    * `Δfact ⋈ dims`, aggregated and merged like any other partials, at
    * |Δ| ⋈ |dims| cost (Catalyst broadcasts small dims). A CHANGED
    * dimension cannot be absorbed from a fact delta (it rewrites
    * already-stored groups) — absorb refuses and [[refresh]] is the
    * remedy.
    *
    * `deltaFiles`, when provided (the streaming path passes the
    * micro-batch's actual input files), closes the split-batch
    * freshness hole: the post-absorb base listing is compared against
    * the EXPECTED set — the files snapshotted at the last
    * create/refresh/absorb plus this delta's files. Base files outside
    * that set (a later batch's rows, already on disk but not yet fed)
    * make the published fingerprint DELIBERATELY STALE — computed over
    * the expected subset only, so it cannot equal any live listing —
    * and routing stays off until the feed catches up. Without
    * `deltaFiles` the caller's exactly-the-appended-rows contract is
    * trusted as before.
    *
    * `batchId >= 0` makes a SUCCESSFUL absorb replay-safe for streaming
    * maintenance ([[graft.streaming.MvStream]]): the id persists with
    * the definition, and an absorb at or below it is a no-op — absorb
    * is NOT idempotent by itself (replaying a delta double-counts), the
    * guard is what makes exactly-once hold across crash-replays. Leave
    * -1 for one-shot batch use. */
  def absorb(spark: SparkSession, name: String, delta: DataFrame,
             batchId: Long = -1L,
             deltaFiles: Option[Seq[String]] = None): MvDef = {
    val d = catalog.getOrElse(name,
      throw new NoSuchElementException(s"no materialized view named $name"))
    if (batchId >= 0 && d.lastBatchId >= batchId) return d // replayed
    // a join-backed view's dimension sides must be exactly as
    // snapshotted — a fact delta cannot repair a changed dimension
    val joinFps = d.joins.map(jn => fingerprint(spark, jn.rightPath))
    if (joinFps != d.joinFingerprints)
      throw new IllegalStateException(
        s"absorb on join-backed view '$name': a dimension input changed " +
          "since the last create/refresh — the fact-delta algebra cannot " +
          "absorb dimension updates; use refresh")
    val live = listBase(spark, d.basePath).getOrElse(Seq.empty)
    val liveNames = live.map(f => normalizePath(f.getPath.toString))
    val (fp, files) = deltaFiles match {
      case None =>
        (fingerprintOfFiles(live), liveNames)
      case Some(dfs) =>
        val expected = d.baseFiles.toSet ++ dfs.map(normalizePath)
        val (known, extras) = live.partition(f =>
          expected(normalizePath(f.getPath.toString)))
        // files the view HAS absorbed but the base no longer holds — a
        // deletion/compaction happened underneath; the stored
        // aggregates still contain those rows, so routing must stay
        // parked until a refresh recomputes against the live base
        val missing = d.baseFiles.filterNot(liveNames.toSet)
        if (extras.isEmpty && missing.isEmpty)
          (fingerprintOfFiles(live), liveNames)
        else
          // PARK routing: the sentinel prefix can never equal a real
          // listing digest, so the view reads direct no matter how the
          // base evolves from here (an extras-only park that digested
          // the known subset could collide with a future live listing
          // after a deletion). The ledger keeps the missing files too —
          // their rows are still IN the view, so every later absorb
          // re-detects them and stays parked until a refresh.
          ("parked-" + fingerprintOfFiles(known),
            known.map(f => normalizePath(f.getPath.toString)) ++ missing)
    }
    catalog.remove(name) // no routing against the view mid-republish
    try {
      val storedTypes = d.relation.output.map(a => a.name -> a.dataType).toMap
      val stored = spark.read.parquet(d.dataDir)
      val deltaAgg = aggregateOf(joinChain(spark, delta, d.joins),
        groupingColumns(d.groupCols, d.groupExprs), d.aggs.map(aggColumn))
      val mergeCols = d.aggs.map { a =>
        val c = a.func match {
          case "count_star" | "count" | "sum" => sum(col(a.outCol))
          case "min"                          => min(col(a.outCol))
          case "max"                          => max(col(a.outCol))
          // idempotent register-max union: a replayed partial is a
          // state-level no-op, same-lgK enforced (false = fail loud)
          case "hll_sketch" => hll_union_agg(col(a.outCol), lit(false))
          // KLL merge is associative (quantiles stay within the rank
          // bound under any schedule; exact below k retained values)
          case "kll" =>
            expr(s"kll_merge_agg(${a.outCol}, ${a.lgK.getOrElse(DefaultKllK)})")
        }
        c.cast(storedTypes(a.outCol)).as(a.outCol)
      }
      // the stored table holds every grouping DIMENSION as a plain
      // column (groupCols and groupExpr names alike), so the merge
      // re-groups on names — no expression re-evaluation
      val mergeKeys = (d.groupCols ++ d.groupExprs.map(_.name)).map(col)
      val merged = aggregateOf(stored.unionByName(deltaAgg),
        mergeKeys, mergeCols)
      publish(spark, name, d.basePath, d.groupCols, d.aggs, d.mvPath, fp,
        merged, math.max(d.lastBatchId, batchId), d.groupExprs, d.joins,
        joinFps, files)
    } catch {
      case t: Throwable =>
        catalog.put(name, d) // failed absorb keeps serving the old gen
        throw t
    }
  }

  /** Recompute the view against the CURRENT base and re-arm routing
    * (fresh fingerprint). Full recompute — the incremental path is
    * [[absorb]] applied to a delta feed; composing the two is the
    * maintenance pipeline's job, not the catalog's. */
  def refresh(spark: SparkSession, name: String): MvDef = {
    val d = catalog.getOrElse(name,
      throw new NoSuchElementException(s"no materialized view named $name"))
    define(spark, name, d.basePath, d.groupCols, d.aggs, d.mvPath,
      d.groupExprs, d.joins, reuse = false)
  }

  /** One advisor recommendation: a single view definition whose
    * dimensions are the UNION of the clustered queries' groupings —
    * rollup routing serves every subset/coarser grouping from it — and
    * whose aggregates are the union of their servable shapes (an avg
    * contributes its (sum, count) pair; a distinct-count its sketch).
    * `nQueries` = workload aggregates this one view would serve;
    * `viewRows` = EXACT stored group count; `baseRows` = input rows —
    * their ratio is the scan-reduction factor routing buys. */
  final case class Advice(basePath: String, joins: Seq[MvJoin],
                          groupCols: Seq[String],
                          groupExprs: Seq[MvGroupExpr],
                          aggs: Seq[MvAgg],
                          nQueries: Int, viewRows: Long, baseRows: Long)

  /** Recommend materialized views for a WORKLOAD: extract each query's
    * servable aggregate shape ([[graft.plans.MaterializedViewRule
    * .workloadShapes]]), cluster by input (base path + ordered star
    * chain), union each cluster's dimensions and aggregates into one
    * definition, and score it with exact counts (one distinct-count
    * aggregate per recommendation over the base — joined through its
    * chain for star shapes — run once at advice time, not per query).
    * The output is directly feedable to [[create]]; the
    * advise→create→routes loop is law-pinned in MaterializedViewSpec.
    * Queries the rule could never serve (distinct/filtered aggregates,
    * non-declarable groupings, pre-aggregation filters) contribute
    * nothing rather than poisoning a cluster. */
  def advise(spark: SparkSession,
             workload: Seq[DataFrame]): Seq[Advice] = {
    import graft.plans.MaterializedViewRule
    val shapes = workload.flatMap(MaterializedViewRule.workloadShapes)
    shapes.groupBy(s => (s.basePath, s.joins)).toSeq
      .sortBy { case ((p, js), _) => (p, js.map(_.rightPath).mkString(",")) }
      .map { case ((path, joins), ss) =>
        val groupCols = ss.flatMap(_.groupCols).distinct
        val groupExprs = ss.flatMap(_.groupExprs).distinct
        val aggs = ss.flatMap(_.aggs).distinct
        val frame = joinChain(spark, spark.read.parquet(path), joins)
        val dims = groupCols.map(col) ++
          groupExprs.map(g => expr(g.sql).as(g.name))
        val counts =
          (if (dims.isEmpty) frame.agg(lit(1L).as("view_rows"),
            count(lit(1)).as("base_rows"))
          else frame.agg(
            count_distinct(struct(dims: _*)).as("view_rows"),
            count(lit(1)).as("base_rows"))).head()
        Advice(path, joins, groupCols, groupExprs, aggs, ss.size,
          counts.getLong(0), counts.getLong(1))
      }
  }

  /** One [[advise]] recommendation placed under a storage budget:
    * `rank` is 1-based priority order, `benefit` the integer score it
    * ranked on, `selected` whether it fits the budget. */
  final case class RankedAdvice(advice: Advice, rank: Int, benefit: Long,
                                selected: Boolean)

  /** Budgeted multi-view selection: rank every [[advise]]
    * recommendation by modelled benefit and admit them in rank order
    * while the CUMULATIVE stored size fits `budgetRows`.
    *
    * Benefit = nQueries · (baseRows − viewRows): the scan rows routing
    * saves per workload pass — each served query reads viewRows stored
    * rows instead of baseRows base rows. Integer arithmetic on exact
    * counts, so an oracle recomputes it bit-for-bit; ties break on
    * (basePath, chain) so the ranking is deterministic.
    *
    * Selection is PREFIX-budget, not knapsack-with-skips: the rank
    * order is the priority order, and a recommendation is admitted iff
    * every recommendation ranked at or above it fits together. A skip
    * rule ("rank 1 is too big, take ranks 2+3 instead") would admit a
    * strictly-lower-benefit set whenever the skipped view's benefit
    * dominates — and its selected-set is not expressible as a running
    * sum, so the oracle could not independently recompute it. The
    * budget is STORED rows (the resource a view catalog meters), not
    * bytes: row width is known to the caller, not the advisor. */
  def adviseBudgeted(spark: SparkSession, workload: Seq[DataFrame],
                     budgetRows: Long): Seq[RankedAdvice] = {
    require(budgetRows >= 0, s"budgetRows must be >= 0, got $budgetRows")
    val ranked = advise(spark, workload)
      .map(a => (a, a.nQueries.toLong * (a.baseRows - a.viewRows)))
      .sortBy { case (a, b) =>
        (-b, a.basePath, a.joins.map(_.rightPath).mkString(",")) }
    var cum = 0L
    ranked.zipWithIndex.map { case ((a, b), i) =>
      cum += a.viewRows
      RankedAdvice(a, i + 1, b, cum <= budgetRows)
    }
  }

  /** True while routing to `name` is sound: every input unchanged since
    * the last create/refresh/absorb (a join-backed view checks EVERY
    * side — a dimension update invalidates the rollup too). This is the
    * WALKING probe for diagnostics and direct callers; the optimizer
    * rule instead fingerprints the query's own file index
    * ([[fingerprintOfFiles]]) at zero filesystem cost. */
  def isFresh(spark: SparkSession, name: String): Boolean =
    catalog.get(name).exists(_.inputFingerprints.forall {
      case (path, fp) => fingerprint(spark, path) == fp
    })
}
