package graft.operators

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** The one commit protocol of the engine's persisted state: snapshot
  * versions, zone-map manifests and versioned zone-mapped tables, the
  * vector index and materialized views all land as GENERATIONS under a
  * root, `root/v=<n>/` (the Delta/Iceberg snapshot idea with
  * plain-Parquet machinery).
  *
  *  1. [[claim]]: allocate n = max over ALL `v=` directories + 1 —
  *     committed or torn — so a partial directory is never written over,
  *     and own it by atomically creating `v=<n>/_claim`
  *     (create-fail-if-exists, the one primitive that serializes
  *     writers). A loser re-lists and retries on the next number, so
  *     concurrent writers land on DISTINCT generations, none lost or
  *     mixed;
  *  2. the writer lands its files inside `v=<n>` (append mode: the
  *     directory exists, it holds the claim). The generation is
  *     INVISIBLE to [[committed]] — a crash here leaves garbage, never a
  *     readable-but-torn generation;
  *  3. [[commit]]: PUBLISH a JSON manifest by writing a hidden temp file
  *     and renaming it to `_graft_manifest.json` — the one atomic step
  *     (rename atomicity is the primitive every file-listing table format
  *     leans on; object stores without atomic rename or create need their
  *     usual log shim). A generation whose claim is gone is refused.
  *
  * Readers read only the newest committed generation (or a pinned
  * committed one) and, where the manifest carries a file list, scan
  * exactly those files after [[validate]]. [[vacuum]] retires expired
  * generations and clears torn ones below the newest commit. Every
  * function takes a Hadoop `FileSystem` and a root, never a session, so
  * the driver-side readers an optimizer rule runs can use it too.
  * The leading underscores keep Spark's file index from reading the
  * claim and the manifest as data. */
object Generations {

  /** The manifest whose PRESENCE commits a generation. */
  val ManifestName = "_graft_manifest.json"

  private val ClaimName = "_claim"

  /** Generation `n`'s directory under `root`. */
  def dir(root: Path, n: Long): Path = new Path(root, s"v=$n")

  /** The generation number a `v=<n>` directory name spells, if any. */
  def number(name: String): Option[Long] = name match {
    case s"v=$n" if n.nonEmpty && n.forall(_.isDigit) => Some(n.toLong)
    case _ => None
  }

  /** Every generation under `root`, committed or torn, ascending —
    * allocation must see all of them. */
  private def all(fs: FileSystem, root: Path): Seq[Long] =
    try fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(s => number(s.getPath.getName)).sorted
    catch { case _: FileNotFoundException => Seq.empty }

  /** COMMITTED generations under `root`, ascending: one listing plus one
    * existence probe per generation. */
  def committed(fs: FileSystem, root: Path): Seq[Long] =
    all(fs, root).filter(n => fs.exists(new Path(dir(root, n), ManifestName)))

  /** Claim the next generation number (step 1 of the protocol); the
    * caller writes into [[dir]] and then [[commit]]s. */
  def claim(fs: FileSystem, root: Path, maxAttempts: Int = 20): Long = {
    require(maxAttempts >= 1)
    var attempt = 0
    while (true) {
      attempt += 1
      val n = all(fs, root).lastOption.getOrElse(0L) + 1
      val d = dir(root, n)
      fs.mkdirs(d)
      val won =
        try { fs.create(new Path(d, ClaimName), false).close(); true }
        catch { case _: IOException => false }
      if (won) return n
      if (attempt >= maxAttempts)
        throw new IOException(
          s"could not claim a generation under $root after $maxAttempts attempts")
      // lost the claim race: the winner's directory is now visible to
      // allocation, so the retry lands on the next number
    }
    -1L // unreachable
  }

  /** Publish claimed generation `n` with `manifest` (step 3). */
  def commit(fs: FileSystem, root: Path, n: Long, manifest: JObject): Unit = {
    val d = dir(root, n)
    // a concurrent vacuum that took this generation for a dead writer's
    // deleted the claim with the directory: publishing now would commit
    // whatever survived — nothing, or a file list the disk no longer holds
    if (!fs.exists(new Path(d, ClaimName)))
      throw new IOException(s"v=$n under $root lost its claim before commit")
    val tmp = new Path(d, s".$ManifestName.tmp")
    val out = fs.create(tmp, true)
    try out.write(compact(render(manifest)).getBytes(UTF_8)) finally out.close()
    val target = new Path(d, ManifestName)
    if (!fs.rename(tmp, target))
      throw new IOException(s"commit of v=$n under $root lost the publish rename: $target")
  }

  /** Committed generation `n`'s manifest. */
  def manifest(fs: FileSystem, root: Path, n: Long): JValue = {
    val in = fs.open(new Path(dir(root, n), ManifestName))
    try parse(in) finally in.close()
  }

  /** Generation `n`'s data files, recursively, or those of its
    * subdirectory `sub`: (path relative to `root` → byte length). Claims,
    * manifests, success markers, CRCs and hidden subdirectories (`_x/…`)
    * below the listed directory are not data. */
  def dataFiles(fs: FileSystem, root: Path, n: Long, sub: String = ""): Map[String, Long] = {
    def prefix(p: Path) = fs.makeQualified(p).toUri.getPath.stripSuffix("/") + "/"
    val from = if (sub.isEmpty) dir(root, n) else new Path(dir(root, n), sub)
    val (base, listed) = (prefix(root), prefix(from))
    val it = fs.listFiles(from, true)
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val f = it.next()
      val path = f.getPath.toUri.getPath
      if (path.stripPrefix(listed).split('/')
            .forall(s => !s.startsWith("_") && !s.startsWith(".")))
        out += path.stripPrefix(base) -> f.getLen
    }
    out.result()
  }

  /** A file list as a manifest field, in name order. */
  def filesJson(files: Map[String, Long]): JObject =
    JObject(files.toList.sorted.map { case (k, len) => k -> JInt(len) })

  /** The file list a manifest's `field` (by default `files`) holds. */
  def filesOf(manifest: JValue, field: String = "files"): Map[String, Long] =
    manifest \ field match {
      case JObject(fields) => fields.collect { case (k, JInt(len)) => k -> len.toLong }.toMap
      case other => throw new IOException(s"malformed manifest file list $field: $other")
    }

  /** Refuse a manifested file list (paths relative to `root`) that the
    * disk no longer matches — a lost or truncated file must fail the read
    * loudly, never serve a subset. One listing per parent directory. */
  def validate(fs: FileSystem, root: Path, files: Map[String, Long], what: String): Unit = {
    val broken = files.toSeq.groupBy { case (rel, _) => new Path(root, rel).getParent }
      .toSeq.flatMap { case (parent, entries) =>
        val onDisk =
          try fs.listStatus(parent).map(s => s.getPath.getName -> s.getLen).toMap
          catch { case _: FileNotFoundException => Map.empty[String, Long] }
        entries.collect {
          case (rel, len) if !onDisk.get(new Path(rel).getName).contains(len) =>
            s"$rel (manifest $len bytes, on disk " +
              s"${onDisk.get(new Path(rel).getName).fold("missing")(_.toString)})"
        }
      }.sorted
    if (broken.nonEmpty)
      throw new IOException(
        s"$what under $root failed manifest validation: ${broken.mkString(", ")}")
  }

  /** Retention: keep the newest `keepLast` committed generations, retire
    * every older one (its manifest goes first, so a crash mid-vacuum
    * leaves a torn directory, never a half-deleted committed one), and
    * clear torn generations below the newest commit — allocation is
    * monotone, so those are taken for dead writers' leftovers (a racing
    * writer's in-flight one is cleared too, and its commit then fails). A
    * torn generation ABOVE the newest commit may be a writer mid-flight
    * and is left alone. `pinned` generations keep their directories (a live
    * reader or a kept manifest still uses their files). Returns the
    * retired and cleared numbers, ascending. */
  def vacuum(fs: FileSystem, root: Path, keepLast: Int,
             pinned: Long => Boolean = _ => false): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val live = committed(fs, root)
    if (live.isEmpty) return Seq.empty
    val retired = live.dropRight(keepLast)
    val torn = all(fs, root).filter(n => n < live.last && !live.contains(n))
    retired.foreach(n => fs.delete(new Path(dir(root, n), ManifestName), false))
    val doomed = (retired ++ torn).sorted
    doomed.filterNot(pinned).foreach(n => fs.delete(dir(root, n), true))
    doomed
  }
}
