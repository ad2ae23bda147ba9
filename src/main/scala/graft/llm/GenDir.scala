package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Generation-directory protocol: crash-safe index compaction whose
  * rewrites are CONCURRENT WITH READS (no rename-aside window, so no
  * read quiesce). Every slice of every persisted index family compacts
  * through this protocol, called only by [[IndexStore]].
  *
  * Layout for an artifact base path `P` (e.g. `dir/postings`):
  *
  *  - the plain directory `P` is generation 0 (the fresh-build layout,
  *    and what pre-generation indexes already look like on disk);
  *  - a compaction writes generation N+1 to `P.gen-(N+1)` and, only
  *    after the write completes, creates the `_GEN_COMMITTED` marker
  *    file inside it (single-file create = atomic visibility; the
  *    leading underscore keeps parquet readers from treating it as
  *    data);
  *  - readers [[resolve]] to the HIGHEST committed generation — a
  *    reader racing a compaction sees either N (marker not yet there)
  *    or N+1 (marker landed), both complete and row-identical, never a
  *    half state;
  *  - after committing, the compactor garbage-collects all but the two
  *    newest committed generations (the previous one stays on disk so
  *    in-flight readers that resolved it finish their scans).
  *
  * Crash points: a compactor dying before the marker leaves an
  * uncommitted `P.gen-*` directory that readers never resolve and
  * [[recover]] deletes; dying between marker and GC leaves extra old
  * generations that the next compaction's GC sweeps. No crash window
  * ever leaves the resolvable state incomplete — and unlike the rename
  * protocol there is no moment when NO live directory exists.
  *
  * Writer contract: ONE writer at a time. Reads are what this protocol
  * makes concurrent.
  *
  * FILESYSTEM REQUIREMENT: commit atomicity rests on single-file
  * `create` being all-or-nothing and instantly visible — the contract
  * HDFS and local filesystems give. Object-store connectors (s3a, gcs)
  * generally honor single-object PUT atomicity but NOT rename
  * atomicity ([[IncLog]]'s marker commit uses temp-then-rename); point
  * these protocols at an HDFS-semantics filesystem, or route commits
  * through a connector-aware committer before making an object store a
  * serving target.
  */
private[graft] object GenDir {

  private val Marker = "_GEN_COMMITTED"

  /** Per-write committer override for IN-PLACE APPENDS (`mode("append")`
    * into an already-committed directory). The session default is
    * committer v2 (task commits rename straight into the destination —
    * half the rename traffic of every marker-protected overwrite /
    * increment / generation write, whose torn states their own markers
    * make invisible). A plain append has NO marker of its own: the
    * prior job's `_SUCCESS` and generation markers stay valid while v2
    * task commits land partial batch rows, so a mid-job crash would
    * leave a torn append that [[existsLiveComplete]]/readers bless as
    * complete. Under v1 every new row stays in `_temporary` until the
    * single job commit, so a crashed append leaves the directory
    * row-identical to its pre-append state. No index writes in place
    * ([[IndexStore]] appends are marker-committed increments); the
    * pipeline's append sinks apply it with
    * `.options(GenDir.V1AppendCommitter)`. */
  val V1AppendCommitter: Map[String, String] =
    Map("mapreduce.fileoutputcommitter.algorithm.version" -> "1")

  /** Committed generations of `base`, ascending (gen, path); the plain
    * base directory, when present, is generation 0. */
  private def committed(fs: FileSystem, base: Path): Seq[(Long, Path)] = {
    val parent = base.getParent
    val prefix = base.getName + ".gen-"
    val gens =
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
          .flatMap { st =>
            st.getPath.getName.stripPrefix(prefix).toLongOption
              .filter(_ => fs.exists(new Path(st.getPath, Marker)))
              .map(_ -> st.getPath)
          }
      else Nil
    val legacy = if (fs.exists(base)) Seq(0L -> base) else Nil
    (legacy ++ gens).sortBy(_._1)
  }

  /** Path readers should scan: the highest committed generation, or
    * the plain base when no generation exists (fresh build / missing —
    * the caller's existence checks keep their meaning). */
  def resolve(fs: FileSystem, base: Path): Path =
    committed(fs, base).lastOption.map(_._2).getOrElse(base)

  /** Target directory for the NEXT generation's write (not yet
    * committed — call [[commitGen]] after the write completes). */
  def nextGenPath(fs: FileSystem, base: Path): Path = {
    val cur = committed(fs, base).lastOption.map(_._1).getOrElse(0L)
    new Path(base.toString + ".gen-" + (cur + 1))
  }

  /** Make a fully-written generation visible to readers. */
  def commitGen(fs: FileSystem, genPath: Path): Unit =
    fs.create(new Path(genPath, Marker), true).close()

  /** Drop all but the two newest committed generations (the previous
    * generation stays for in-flight readers) plus any uncommitted
    * leftovers OLDER than the newest — run by the compactor after its
    * commit. */
  def gc(fs: FileSystem, base: Path): Unit = {
    val done = committed(fs, base)
    done.dropRight(2).foreach { case (_, p) => fs.delete(p, true) }
    uncommitted(fs, base).foreach(fs.delete(_, true))
  }

  private def uncommitted(fs: FileSystem, base: Path): Seq[Path] = {
    val parent = base.getParent
    val prefix = base.getName + ".gen-"
    if (parent != null && fs.exists(parent))
      fs.listStatus(parent).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
        .map(_.getPath)
        .filter(p => !fs.exists(new Path(p, Marker)))
    else Nil
  }

  /** Heal crash leftovers: delete uncommitted generation directories
    * (a compactor died mid-write; readers never resolved them).
    * Committed generations are complete by construction and stay. */
  def recover(fs: FileSystem, base: Path): Unit =
    uncommitted(fs, base).foreach(fs.delete(_, true))

  /** Remove every generation of `base` (committed or not) — a fresh
    * build starting the artifact over at generation 0. */
  def reset(fs: FileSystem, base: Path): Unit = {
    committed(fs, base).foreach { case (_, p) => fs.delete(p, true) }
    uncommitted(fs, base).foreach(fs.delete(_, true))
  }

  // ---- Spark-level conveniences shared by every index family ---------

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Live (highest committed generation) path of an index artifact as a
    * string — what every index read resolves before scanning. Fresh
    * builds and pre-generation indexes resolve to the plain directory
    * (generation 0) unchanged. */
  def live(spark: SparkSession, path: String): String = {
    val (fs, p) = fsOf(spark, path)
    resolve(fs, p).toString
  }

  /** True when the artifact's live generation exists and its writing
    * job FINISHED: a committed generation proves it by its own marker;
    * the plain generation-0 directory by Spark's `_SUCCESS` (a build
    * that crashed mid-write leaves the directory with `_temporary`
    * debris and no `_SUCCESS`, which bare existence would bless). */
  def existsLiveComplete(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(spark, path)
    val live = resolve(fs, p)
    if (live != p) fs.exists(live) // a committed generation
    else fs.exists(p) && fs.exists(new Path(p, "_SUCCESS"))
  }

  /** Crash-safe concurrent-read rewrite of one artifact: heal stale
    * attempts, hand `write` the live generation's path and the next
    * generation's target directory, commit the new generation once the
    * write returns, then GC all but the two newest (in-flight readers
    * of the previous generation finish their scans). Readers resolving
    * mid-rewrite see the old generation; after the commit marker lands
    * they see the new one — never a half state. */
  def rewriteGen(spark: SparkSession, path: String)(
      write: (String, String) => Unit): Unit = {
    val (fs, p) = fsOf(spark, path)
    recover(fs, p)
    val liveP = resolve(fs, p)
    val next = nextGenPath(fs, p)
    write(liveP.toString, next.toString)
    commitGen(fs, next)
    gc(fs, p)
  }
}
