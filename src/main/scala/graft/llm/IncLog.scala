package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Batch-increment log: the EXACTLY-ONCE upgrade for streaming index
  * ingest, layered on [[GenDir]].
  *
  * Structured Streaming's `foreachBatch` is at-least-once: a batch
  * whose side effect completed but whose checkpoint commit did not is
  * REDELIVERED after restart, and an unkeyed additive append would apply
  * its counts twice. This object closes that window with batchId-keyed
  * staging plus an atomic commit, and it is the ONLY way a batch joins
  * a built index ([[IndexStore.appendBatch]], driven by
  * [[graft.streaming.IndexIngest]] or called directly):
  *
  *  - a batch's count deltas land under `slice.inc/batch-<id>[_<stream>]/`
  *    (full-directory overwrite, so REDELIVERY IS IDEMPOTENT — the
  *    second write produces byte-equivalent content);
  *  - the batch becomes visible only when its marker file
  *    `model/_commits/batch-<id>[_<stream>]` lands (written to a temp
  *    name and renamed — single-file rename is the atomic commit); the
  *    marker body carries the batch's meta deltas (total tokens, doc
  *    count) so model totals never need a read-modify-write;
  *  - readers fold `live generation ∪ committed increments above the
  *    generation's fold watermark` — a half-written increment is
  *    invisible, a committed one is complete;
  *  - compaction folds committed increments into the next [[GenDir]]
  *    generation of each slice, recording the fold watermark as a
  *    `_FOLDED_THROUGH` file INSIDE the new generation (readers of
  *    that generation skip the folded increments; readers still
  *    scanning the previous generation keep using them — increments
  *    are garbage-collected one compaction LATER, the same
  *    two-generation retention window GenDir gives generations);
  *  - the `_commits/_folded` summary file (watermarks + cumulative
  *    folded deltas, written via temp-and-rename) lets marker files be
  *    GC'd as well: "applied" = id ≤ summary watermark OF ITS STREAM
  *    OR marker present, so a redelivered long-ago batch is still
  *    skipped after its marker is gone.
  *
  * STREAM-SCOPED MARKERS (the Delta `txnAppId` discipline): batch ids
  * are Structured Streaming's monotonically increasing `batchId`,
  * which is unique only WITHIN one checkpoint lineage. Every marker
  * therefore carries a caller-supplied stream id, and all watermarks
  * are per-stream maps — so restarting ingest with a FRESH checkpoint
  * (batchId restarts at 0) under a FRESH stream id appends correctly
  * instead of colliding with the old lineage's markers and silently
  * skipping real batches. Redelivery detection stays per-stream:
  * batch 3 of stream A is independent of batch 3 of stream B. The
  * empty stream id is a lineage like any other; its markers are named
  * `batch-<id>`, with no stream token. The single-writer
  * contract (appends and compactions from one thread at a time) is
  * unchanged — the ingest loops still run one stream; the stream id
  * exists so SUCCESSIVE lineages (restart with fresh checkpoint)
  * compose, not to add concurrent writers.
  *
  * FILESYSTEM REQUIREMENT: the marker commit is temp-write +
  * single-file rename, and the summary fold is the same — atomic on
  * HDFS and local filesystems (the targets this protocol is specified
  * against), NOT a guaranteed contract on object-store connectors
  * (s3a rename is copy+delete). Serving a standing index off an
  * object store needs a connector-aware committer for these markers;
  * until then treat HDFS semantics as a prerequisite, like Delta's
  * LogStore does.
  *
  * Crash windows (all heal without double counting): dying before the
  * marker leaves an invisible increment that redelivery overwrites;
  * dying after some slice folds but before the summary leaves those
  * generations' watermarks ahead of the summary — counts stay exact
  * because each generation skips exactly the increments it folded, and
  * totals stay exact because un-summarized markers still carry their
  * deltas; dying after the summary but before GC leaves folded
  * increments that the watermark already hides.
  */
private[graft] object IncLog {

  private val FoldedFile = "_folded"
  private val BootstrapFile = "_bootstrap"
  private val SliceFoldMarker = "_FOLDED_THROUGH"
  private val BatchPrefix = "batch-"
  /** Token for the empty stream id in watermark files (a bare "" would
    * break whitespace tokenizing). */
  private val EmptyTok = "-"

  /** Per-stream watermarks: streamId -> highest folded batch id.
    * Absent stream = -1 (nothing folded for that lineage). */
  type Marks = Map[String, Long]

  def markOf(m: Marks, streamId: String): Long = m.getOrElse(streamId, -1L)

  /** One committed-but-maybe-unfolded batch: (stream, id, tDelta,
    * nDelta). */
  case class Commit(stream: String, id: Long, t: Long, n: Long)

  private def checkStreamId(streamId: String): Unit =
    require(!streamId.contains("_") && !streamId.contains("/") &&
      !streamId.exists(_.isWhitespace) && streamId != EmptyTok,
      s"stream id must not contain '_', '/', whitespace or be '$EmptyTok': " +
        s"'$streamId' (UUIDs and hyphenated names are fine)")

  /** Marker / increment-directory name of a (stream, batch) pair.
    * Empty stream: `batch-<id>`. Stream-scoped:
    * `batch-<id>_<stream>` — batch ids are digits and stream ids may
    * not contain '_', so the first underscore splits unambiguously. */
  private def markerName(streamId: String, batchId: Long): String = {
    checkStreamId(streamId)
    if (streamId.isEmpty) s"$BatchPrefix$batchId"
    else s"$BatchPrefix${batchId}_$streamId"
  }

  /** Inverse of [[markerName]]: (stream, id), None for foreign files. */
  private def parseMarker(name: String): Option[(String, Long)] =
    if (!name.startsWith(BatchPrefix)) None
    else {
      val rest = name.stripPrefix(BatchPrefix)
      val i = rest.indexOf('_')
      if (i < 0) rest.toLongOption.map(id => ("", id))
      else rest.take(i).toLongOption.map(id => (rest.drop(i + 1), id))
    }

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Increment directory of `batchId` for one slice artifact. */
  def incPath(sliceBase: String, batchId: Long, streamId: String = ""): String =
    s"$sliceBase.inc/${markerName(streamId, batchId)}"

  private def commitsPath(modelDir: String) = s"$modelDir/_commits"

  /** True when the batch's effects are already durable IN ITS STREAM:
    * folded into that stream's summary watermark, or committed by a
    * live marker. The ingest loop checks this FIRST and skips
    * redelivered batches. A different stream's identical batch id is
    * unrelated and reports false. */
  def isApplied(spark: SparkSession, modelDir: String, batchId: Long,
                streamId: String = ""): Boolean = {
    val (fs, c) = fsOf(spark, commitsPath(modelDir))
    batchId <= markOf(foldedSummary(spark, modelDir).marks, streamId) ||
      fs.exists(new Path(c, markerName(streamId, batchId)))
  }

  /** Atomically commit a batch: write its marker (body = "tDelta
    * nDelta") via a temp name + rename. After this returns, readers
    * fold the batch's increments and totals include its deltas. */
  def commitBatch(spark: SparkSession, modelDir: String, batchId: Long,
                  tDelta: Long, nDelta: Long,
                  streamId: String = ""): Unit = {
    // replacing an existing marker keeps redelivery of the commit
    // itself idempotent
    writeCommitFile(spark, modelDir, markerName(streamId, batchId), s"$tDelta $nDelta")
  }

  /** Writes `_commits/<name>` via a temp name + rename, replacing it. */
  private def writeCommitFile(spark: SparkSession, modelDir: String, name: String,
                              body: String): Unit = {
    val (fs, c) = fsOf(spark, commitsPath(modelDir))
    fs.mkdirs(c)
    val tmp = new Path(c, s".$name.tmp")
    val out = fs.create(tmp, true)
    out.write(body.getBytes("UTF-8"))
    out.close()
    val dst = new Path(c, name)
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"commit rename failed for $dst")
  }

  /** Commit a stream's FIRST batch as the exactly-once bootstrap: record
    * its marker name in `_commits/_bootstrap` (temp + rename), then
    * commit it with zero deltas like any batch. [[bootstrapOnly]]
    * requires this record, so a plain build followed by one append —
    * also a single marker — is never taken for a bootstrap. */
  def commitBootstrap(spark: SparkSession, modelDir: String, batchId: Long,
                      streamId: String = ""): Unit = {
    writeCommitFile(spark, modelDir, BootstrapFile, markerName(streamId, batchId))
    commitBatch(spark, modelDir, batchId, 0L, 0L, streamId)
  }

  /** Committed batches above their stream's watermark in `after`,
    * ascending by (stream, id). Driver-side listing of tiny marker
    * files — bounded by the compaction cadence, not the stream's
    * lifetime. */
  def committedAfter(spark: SparkSession, modelDir: String,
                     after: Marks): Seq[Commit] = {
    val (fs, c) = fsOf(spark, commitsPath(modelDir))
    if (!fs.exists(c)) return Nil
    fs.listStatus(c).toSeq
      .flatMap { st =>
        parseMarker(st.getPath.getName)
          .filter { case (stream, id) => id > markOf(after, stream) }
          .map { case (stream, id) =>
            val in = fs.open(st.getPath)
            val body = try scala.io.Source.fromInputStream(in, "UTF-8")
              .mkString finally in.close()
            val Array(t, n) = body.trim.split(" ")
            Commit(stream, id, t.toLong, n.toLong)
          }
      }
      .sortBy(cm => (cm.stream, cm.id))
  }

  /** The folded summary: per-stream watermarks + cumulative folded
    * deltas. Empty marks / zero deltas before the first fold. Model
    * totals = base meta + summary deltas + [[committedAfter]] the
    * watermarks. */
  case class FoldSummary(marks: Marks, t: Long, n: Long)

  /** Serialize marks as "tok w" lines (the "" stream as
    * [[EmptyTok]]); inverse of [[parseMarkLines]]. */
  private def markLines(m: Marks): Seq[String] =
    m.toSeq.sortBy(_._1).map { case (s, w) =>
      s"${if (s.isEmpty) EmptyTok else s} $w"
    }

  private def parseMarkLines(lines: Seq[String]): Marks =
    lines.filter(_.nonEmpty).map { ln =>
      val Array(tok, w) = ln.trim.split(" ")
      (if (tok == EmptyTok) "" else tok) -> w.toLong
    }.toMap

  def foldedSummary(spark: SparkSession, modelDir: String): FoldSummary = {
    val (fs, c) = fsOf(spark, commitsPath(modelDir))
    val f = new Path(c, FoldedFile)
    if (!fs.exists(f)) return FoldSummary(Map.empty, 0L, 0L)
    val in = fs.open(f)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    // "v2 t n", then one "stream w" line per lineage
    val lines = body.split("\n").toSeq.map(_.trim)
    val head = lines.head.split(" ")
    require(head.length == 3 && head(0) == "v2",
      s"unknown fold-summary format in $f")
    FoldSummary(parseMarkLines(lines.tail), head(1).toLong, head(2).toLong)
  }

  /** True when the log's state is provably an exactly-once BOOTSTRAP's
    * own: exactly one commit marker (over ALL streams), the one
    * [[commitBootstrap]] recorded, and nothing folded yet. Recover paths
    * use this to disambiguate torn meta over complete slices — the
    * bootstrap commits its marker BEFORE writing meta, so a crash
    * during that first meta write leaves this exact state, and
    * redelivery can safely rebuild (a full overwrite of one batch).
    * Appends never rewrite meta, so any other torn meta is damage: a
    * build without a marker shows no bootstrap record (even after one
    * append, whose marker is the only one), and a bootstrap followed by
    * an append shows >= 2 markers or an advanced fold watermark. */
  def bootstrapOnly(spark: SparkSession, modelDir: String): Boolean = {
    val (fs, c) = fsOf(spark, commitsPath(modelDir))
    val record = new Path(c, BootstrapFile)
    foldedSummary(spark, modelDir).marks.isEmpty && fs.exists(record) && {
      val in = fs.open(record)
      val name = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      committedAfter(spark, modelDir, Map.empty) match {
        case Seq(only) => markerName(only.stream, only.id) == name
        case _ => false
      }
    }
  }

  /** Advance the folded summary (temp-and-rename atomic). */
  def writeFoldedSummary(spark: SparkSession, modelDir: String, m: Marks,
                         t: Long, n: Long): Unit =
    writeCommitFile(spark, modelDir, FoldedFile, (s"v2 $t $n" +: markLines(m)).mkString("\n"))

  /** Fold watermarks of one slice GENERATION (the `_FOLDED_THROUGH`
    * file inside it): readers of this generation skip increments at or
    * below their stream's mark. Empty when absent (a generation that
    * folded nothing). */
  def sliceFoldedThrough(spark: SparkSession, genPath: String): Marks = {
    val (fs, p) = fsOf(spark, genPath)
    val f = new Path(p, SliceFoldMarker)
    if (!fs.exists(f)) return Map.empty
    val in = fs.open(f)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    // "v2", then one "stream w" line per lineage
    val lines = body.split("\n").toSeq.map(_.trim)
    require(lines.head == "v2", s"unknown fold-watermark format in $genPath")
    parseMarkLines(lines.tail)
  }

  /** Record the fold watermarks inside a new generation directory —
    * call AFTER the generation's parquet lands and BEFORE it commits
    * (the underscore name keeps parquet readers from treating it as
    * data, like `_SUCCESS`). */
  def writeSliceFoldedThrough(spark: SparkSession, genPath: String,
                              m: Marks): Unit = {
    val (fs, p) = fsOf(spark, genPath)
    val body = ("v2" +: markLines(m)).mkString("\n")
    val out = fs.create(new Path(p, SliceFoldMarker), true)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  // ---- per-operation snapshot + the fold machinery shared by every
  // family's read and compact paths ------------------------------------

  /** One listing of the increment log, taken ONCE per operation (one
    * `_commits` listing + one read per marker) and threaded through
    * every slice read and totals computation of that operation — a
    * standing scorer on an object store pays one listing per query
    * batch, not one per slice. `commits` holds every committed batch
    * above its stream's summary watermark, ascending. */
  case class IncView(summary: FoldSummary, commits: Seq[Commit]) {
    /** Cumulative (first, second) marker deltas: folded summary plus
      * every committed-but-unfolded batch. */
    def deltas: (Long, Long) =
      (summary.t + commits.map(_.t).sum, summary.n + commits.map(_.n).sum)
  }

  def view(spark: SparkSession, modelDir: String): IncView = {
    val s = foldedSummary(spark, modelDir)
    IncView(s, committedAfter(spark, modelDir, s.marks))
  }

  /** One slice's full row set: the live generation unioned with the
    * view's committed increments above the generation's fold
    * watermarks. With `schema` the union survives EMPTY increments (a
    * batch with no rows for this slice — schema inference would fail);
    * without it, increments holding no data files are skipped at the
    * listing. An index that took no appends has no increments and
    * reads exactly as a bare parquet read of the live path. */
  def readSlice(spark: SparkSession, modelDir: String, base: String,
                v: IncView, schema: Option[String] = None): org.apache.spark
      .sql.DataFrame = {
    val live = GenDir.live(spark, base)
    val w = sliceFoldedThrough(spark, live)
    val (fs, _) = fsOf(spark, base)
    def rd(p: String) =
      schema.fold(spark.read)(s => spark.read.schema(s)).parquet(p)
    v.commits.filter(cm => cm.id > markOf(w, cm.stream))
      .map(cm => incPath(base, cm.id, cm.stream))
      .filter(p => fs.exists(new Path(p)))
      .filter(p => schema.isDefined || hasDataFiles(spark, p))
      .foldLeft(rd(live))((df, p) => df.unionByName(rd(p)))
  }

  /** True when `path` holds any non-underscore entry — an increment
    * with actual data files (an empty write leaves only `_SUCCESS`). */
  def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(spark, path)
    fs.exists(p) && fs.listStatus(p).exists(!_.getPath.getName.startsWith("_"))
  }

  /** Per-stream max over two mark maps. */
  private def maxMarks(a: Marks, b: Marks): Marks =
    (a.keySet ++ b.keySet).map(k =>
      k -> math.max(markOf(a, k), markOf(b, k))).toMap

  /** Fold prologue shared by every compact: (m0 = the summary
    * watermarks as they stood, mNew = with the newest committed id per
    * stream this fold absorbs, mGen = the watermarks the new
    * generations must carry — monotone across crash-interrupted
    * reruns). */
  def foldBounds(spark: SparkSession, modelDir: String, primaryBase: String,
                 v: IncView): (Marks, Marks, Marks) = {
    val m0 = v.summary.marks
    val mNew = maxMarks(m0,
      v.commits.groupBy(_.stream).view.mapValues(_.map(_.id).max).toMap)
    val mGen = maxMarks(
      sliceFoldedThrough(spark, GenDir.live(spark, primaryBase)), mNew)
    (m0, mNew, mGen)
  }

  /** Fold one slice: hand `write` the slice's live rows unioned with
    * the committed increments in (its generation's watermarks, mGen],
    * landing as the next generation stamped with mGen. */
  def foldSliceGen(spark: SparkSession, modelDir: String, base: String,
                   mGen: Marks, v: IncView, schema: Option[String] = None)(
      write: (org.apache.spark.sql.DataFrame, String) => Unit): Unit = {
    val (fs, _) = fsOf(spark, base)
    def rd(p: String) =
      schema.fold(spark.read)(s => spark.read.schema(s)).parquet(p)
    GenDir.rewriteGen(spark, base) { (live, next) =>
      val sliceW = sliceFoldedThrough(spark, live)
      val rows = v.commits
        .filter(cm => cm.id > markOf(sliceW, cm.stream) &&
          cm.id <= markOf(mGen, cm.stream))
        .map(cm => incPath(base, cm.id, cm.stream))
        .filter(p => fs.exists(new Path(p)))
        .filter(p => schema.isDefined || hasDataFiles(spark, p))
        .foldLeft(rd(live))((df, p) => df.unionByName(rd(p)))
      write(rows, next)
      writeSliceFoldedThrough(spark, next, mGen)
    }
  }

  /** Fold epilogue: advance the summary past `mNew` with the view's
    * cumulative deltas, then GC increments and markers the PREVIOUS
    * summary already covered (one compaction late — the GenDir
    * retention window applied to increments). */
  def finishFold(spark: SparkSession, modelDir: String,
                 sliceBases: Seq[String], v: IncView, m0: Marks,
                 mNew: Marks): Unit = {
    if (mNew != m0) {
      val (d1, d2) = v.deltas
      writeFoldedSummary(spark, modelDir, mNew, d1, d2)
    }
    gcThrough(spark, modelDir, sliceBases, m0)
  }

  /** Drop increment directories and marker files whose id is at or
    * below THEIR STREAM's watermark in `through`. The compactor calls
    * this with the summary watermarks as they stood BEFORE the current
    * fold, so increments a still-scanning reader of the previous
    * generation needs survive one more compaction — the GenDir
    * two-generation retention window, applied to increments. */
  def gcThrough(spark: SparkSession, modelDir: String,
                sliceBases: Seq[String], through: Marks): Unit = {
    val (fs, c) = fsOf(spark, commitsPath(modelDir))
    def stale(name: String): Boolean =
      parseMarker(name).exists { case (s, id) => id <= markOf(through, s) }
    sliceBases.foreach { base =>
      val incRoot = new Path(s"$base.inc")
      if (fs.exists(incRoot))
        fs.listStatus(incRoot).toSeq
          .filter(st => stale(st.getPath.getName))
          .foreach(st => fs.delete(st.getPath, true))
    }
    if (fs.exists(c))
      fs.listStatus(c).toSeq
        .filter(st => stale(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, false))
  }

  /** Start the increment log over (fresh build): delete every slice's
    * `.inc` tree and the `_commits` directory. */
  def reset(spark: SparkSession, modelDir: String,
            sliceBases: Seq[String]): Unit = {
    val (fs, c) = fsOf(spark, commitsPath(modelDir))
    sliceBases.foreach(base => fs.delete(new Path(s"$base.inc"), true))
    fs.delete(c, true)
  }
}
