package graft.llm

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one persisted-index protocol. All eight index families (BM25,
  * phrase, order-k LM, LSH, span, IVF, IVFADC, digest) are a [[Layout]]
  * declaration plus their search code; this object is the only caller
  * of [[GenDir]] (generations) and [[IncLog]] (batch increments), and it
  * owns every write, commit, fold and heal.
  *
  * Layout of an index under `dir`:
  *  - `meta/`: the family's meta rows (parameters and totals). It is
  *    written LAST by a build, into a `.stage-*` directory that is then
  *    renamed into place, so it is the one commit rule of every family:
  *    an index without `meta` is no index, and a crash never leaves a
  *    torn `meta`;
  *  - one directory per slice: the PRIMARY slice holds what a batch adds
  *    (postings, positions, grams, shingles, windows, cells, codes,
  *    digests); a DERIVED slice is written from the same rows by its own
  *    writer. A slice with a fold (every primary, the LSH bands)
  *    compacts its own increments; one without (BM25 and phrase stats)
  *    is regenerated from the compacted primary;
  *  - `<slice>.gen-N/`: compacted generations ([[GenDir]]), readers scan
  *    the highest committed one;
  *  - `<slice>.inc/batch-<id>[_<stream>]/` and `_commits/`: batch
  *    increments and their commit markers ([[IncLog]]).
  *
  * Operations:
  *  - [[build]]: drop `meta` (un-commit), reset every generation and the
  *    increment log, write every slice, record the bootstrap marker when
  *    the build is a stream's first batch, then commit `meta`;
  *  - [[appendBatch]]: exactly once per (batch id, stream id) — a batch
  *    whose marker (or fold watermark) is present is skipped; otherwise
  *    every slice's increment is written (full overwrite, so a
  *    redelivered half-write is replaced) and the marker lands last,
  *    carrying the batch's two meta deltas. Nothing is ever appended to
  *    a live directory;
  *  - [[compact]]: fold each folding slice's live generation and
  *    committed increments into its next generation, then regenerate
  *    the other slices from the compacted primary, then advance the fold
  *    summary and collect what the previous summary covered;
  *  - [[recover]]: delete `.stage-*` leftovers and uncommitted
  *    generations, then report completeness (committed `meta` and every
  *    slice's live generation finished). Torn `meta` over a complete
  *    primary slice is damage and fails loudly, except in the one state
  *    a stream's bootstrap can leave ([[IncLog.bootstrapOnly]]);
  *  - [[read]]: a slice's live generation plus the committed increments
  *    above its fold watermark.
  *
  * Every write lands in a directory no reader trusts until a marker says
  * so (`meta`, a batch marker, a generation marker), so the session's
  * default file committer is safe for all of them. Writers are single:
  * one build, append or compact at a time per index; reads run
  * concurrently with all three. */
private[graft] object IndexStore {

  /** Hash buckets of every bucketed slice (postings, positions, grams,
    * shingles, digests): a query's keys touch at most this many
    * directories however large the index. */
  val Buckets = 256

  /** The bucket of a key column: `pmod(xxhash64(key), Buckets)`. */
  def bucket(key: Column): Column = pmod(xxhash64(key), lit(Buckets)).cast("int")

  /** One slice: `write` lays the slice's rows down under a directory
    * (overwrite); a build or append writes `derive` of the batch's rows.
    * `fold` maps the slice's live rows unioned with its increments to
    * the compacted rows; None regenerates the slice from the compacted
    * primary instead. `schema` reads an empty increment as zero rows
    * instead of failing inference. */
  final case class Slice(name: String, write: (DataFrame, String) => Unit,
                         fold: Option[DataFrame => DataFrame] = Some(identity),
                         derive: DataFrame => DataFrame = identity,
                         schema: Option[String] = None)

  /** A family's slices: the primary one and those derived from its
    * rows. `totals` says the meta row and the batch deltas are computed
    * from the rows (BM25, LM), so the rows are read twice. */
  final case class Layout(primary: Slice, derived: Seq[Slice] = Nil,
                          totals: Boolean = false) {
    require(primary.fold.isDefined, s"primary slice ${primary.name} needs a fold")
    def slices: Seq[Slice] = primary +: derived
  }

  /** One listing of the increment log, taken once per read operation. */
  type View = IncLog.IncView

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def base(dir: String, s: Slice): String = s"$dir/${s.name}"

  /** Write every slice of `layout` from `rows` into `dest`, overlapped,
    * and return `after(rows)`. Rows read more than once (several slices,
    * or totals) are persisted DISK_ONLY first, and the persist is
    * released whatever happens. */
  private def writeSlices[T](layout: Layout, rows: DataFrame, dest: Slice => String)(
      after: DataFrame => T): T = {
    def write(r: DataFrame): T = {
      Par.run(layout.slices.map(s => () => s.write(s.derive(r), dest(s))))
      after(r)
    }
    if (layout.derived.isEmpty && !layout.totals) write(rows)
    else {
      val p = rows.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      try write(p) finally p.unpersist()
    }
  }

  /** Fresh build of `dir` from `rows` (the primary slice's rows).
    * `meta` receives the persisted rows and returns the meta frame; it
    * must compute what it needs eagerly. `bootstrap` (batch id, stream
    * id) makes the build a stream's exactly-once first batch: a
    * redelivery of that batch is then skipped by [[appendBatch]]. */
  def build(dir: String, layout: Layout, rows: DataFrame,
            bootstrap: Option[(Long, String)] = None)(
      meta: DataFrame => DataFrame): Unit = {
    val spark = rows.sparkSession
    val (fs, d) = fsOf(spark, dir)
    fs.delete(new Path(d, "meta"), true)
    layout.slices.foreach(s => GenDir.reset(fs, new Path(base(dir, s))))
    IncLog.reset(spark, dir, layout.slices.map(base(dir, _)))
    val m = writeSlices(layout, rows, base(dir, _))(meta)
    bootstrap.foreach { case (id, stream) => IncLog.commitBootstrap(spark, dir, id, stream) }
    val stage = new Path(d, s".stage-${java.util.UUID.randomUUID()}")
    m.coalesce(1).write.parquet(stage.toString)
    require(fs.rename(stage, new Path(d, "meta")), s"meta commit failed at $dir")
  }

  /** Append one batch EXACTLY ONCE: false (and nothing written) when the
    * batch is already applied in its stream. `deltas` receives the
    * persisted rows and returns the two totals the marker carries. */
  def appendBatch(spark: SparkSession, dir: String, layout: Layout,
                  batchId: Long, streamId: String)(rows: => DataFrame)(
      deltas: DataFrame => (Long, Long)): Boolean = {
    if (IncLog.isApplied(spark, dir, batchId, streamId)) return false
    val (t, n) = writeSlices(layout, rows,
      s => IncLog.incPath(base(dir, s), batchId, streamId))(deltas)
    IncLog.commitBatch(spark, dir, batchId, t, n, streamId)
    true
  }

  /** Fold the committed increments into the next generation of every
    * slice. Readers see each slice flip on its own generation marker;
    * every generation skips exactly the increments it folded. */
  def compact(spark: SparkSession, dir: String, layout: Layout): Unit = {
    val v = IncLog.view(spark, dir)
    val p = layout.primary
    val (m0, mNew, mGen) = IncLog.foldBounds(spark, dir, base(dir, p), v)
    val (folding, regenerated) = layout.slices.partition(_.fold.isDefined)
    Par.run(folding.map(s => () =>
      IncLog.foldSliceGen(spark, dir, base(dir, s), mGen, v, s.schema)(
        (rows, next) => s.write(s.fold.get(rows), next))))
    regenerated.foreach { s =>
      GenDir.rewriteGen(spark, base(dir, s)) { (_, next) =>
        s.write(s.derive(readLive(spark, base(dir, p), p.schema)), next)
        IncLog.writeSliceFoldedThrough(spark, next, mGen)
      }
    }
    IncLog.finishFold(spark, dir, layout.slices.map(base(dir, _)), v, m0, mNew)
  }

  private def readLive(spark: SparkSession, path: String, schema: Option[String]) =
    schema.fold(spark.read)(spark.read.schema).parquet(GenDir.live(spark, path))

  /** Heal crash leftovers and report whether `dir` holds a complete
    * index. Run it from the single writer, never beside one. */
  def recover(spark: SparkSession, dir: String, layout: Layout): Boolean = {
    val (fs, d) = fsOf(spark, dir)
    Option(fs.globStatus(new Path(d, ".stage-*"))).toSeq.flatten
      .foreach(st => fs.delete(st.getPath, true))
    layout.slices.foreach(s => GenDir.recover(fs, new Path(base(dir, s))))
    def complete(s: Slice) = GenDir.existsLiveComplete(spark, base(dir, s))
    val meta = new Path(d, "meta")
    if (fs.exists(meta) && !fs.exists(new Path(meta, "_SUCCESS"))) {
      // rebuilding over a complete primary would discard every appended
      // batch; only a stream's own bootstrap state is safe to rebuild
      if (complete(layout.primary) && !IncLog.bootstrapOnly(spark, dir))
        throw new IllegalStateException(
          s"torn meta over a complete ${layout.primary.name} slice at $dir: " +
            "rebuilding would discard appended batches; restore meta or " +
            "delete the index directory to rebuild from scratch")
      return false
    }
    fs.exists(meta) && layout.slices.forall(complete)
  }

  /** The meta of a family that keeps no parameters or totals: one
    * constant row, there for the commit rule only. */
  def commitOnly(spark: SparkSession): DataFrame = spark.range(1).toDF("committed")

  /** The committed meta rows. */
  def meta(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/meta")

  def view(spark: SparkSession, dir: String): View = IncLog.view(spark, dir)

  /** A slice's rows: live generation plus committed increments. */
  def read(spark: SparkSession, dir: String, s: Slice, v: View): DataFrame =
    IncLog.readSlice(spark, dir, base(dir, s), v, s.schema)

  def read(spark: SparkSession, dir: String, s: Slice): DataFrame =
    read(spark, dir, s, view(spark, dir))
}
