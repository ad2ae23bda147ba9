package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FilterFileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory span recorder. Spans nest on the driver thread that opens
  * them; they are written out once, when the run ends. */
object Spans {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Runs `body` as span `name` (driver thread only); returns its value
    * and wall seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val v = body
      (v, (System.nanoTime() - t0) / 1e9)
    } finally {
      stack = stack.tail
      synchronized(spans += Span(id, parent, name, t0, System.nanoTime()))
    }
  }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Per span name: mean over its spans of the wall its child spans do
    * not cover. */
  def selfSeconds: Map[String, Double] = {
    val s = all
    val childSum = s.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    s.groupBy(_.name).view.mapValues { xs =>
      xs.map(x => x.seconds - childSum.getOrElse(x.id, 0.0)).sum / xs.size
    }.toMap
  }

  def write(path: String): Unit = {
    val lines = all.map { x =>
      s"""{"run":"$runId","id":${x.id},"parent":${x.parent},"name":"${x.name}",""" +
        s""""start_ns":${x.startNs},"end_ns":${x.endNs}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Aggregates Spark job, task, shuffle and spill metrics per timed call.
  * A call labels its jobs through a local property, which threads the
  * call starts inherit. */
class CallListener extends SparkListener {
  final class Agg {
    var jobs = 0
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var taskMs = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val aggs = mutable.Map.empty[String, Agg]
  private val stageLabel = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(CallListener.Key))).foreach { l =>
      aggs.getOrElseUpdate(l, new Agg).jobs += 1
      jobStart(e.jobId) = (l, e.time)
      e.stageIds.foreach(stageLabel(_) = l)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (l, t0) => aggs(l).jobSpans += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (l <- stageLabel.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = aggs(l)
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.taskMs += e.taskInfo.duration
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  def get(label: String): Option[Agg] = synchronized(aggs.get(label))

  def reset(label: String): Unit = synchronized(aggs.remove(label))
}

object CallListener {
  val Key = "perfbench.call"

  /** Largest max/median task time over the call's stages of 2+ tasks. */
  def skew(a: CallListener#Agg): Double = {
    val ratios = a.stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Wall of [t0, t1] (epoch ms) not covered by any of the call's jobs. */
  def driverGapMs(a: CallListener#Agg, t0: Long, t1: Long): Long = {
    var covered = 0L
    var cur = t0
    a.jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cur) { covered += e - math.max(s, cur); cur = e }
      }
    math.max(0L, (t1 - t0) - covered)
  }
}

/** file:// with every metadata call counted. Installed only in the traced
  * run, through spark.hadoop.fs.file.impl. */
class CountingFs extends FilterFileSystem(new LocalFileSystem()) {
  import CountingFs._
  override def rename(src: Path, dst: Path): Boolean = { mutations.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { mutations.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { mutations.incrementAndGet(); super.mkdirs(f, permission) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    mutations.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: org.apache.hadoop.util.Progressable) = {
    mutations.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path) = { reads.incrementAndGet(); super.listLocatedStatus(f) }
  override def exists(f: Path): Boolean = { reads.incrementAndGet(); fs.exists(f) }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
}

object CountingFs {
  val mutations = new AtomicLong()
  val reads = new AtomicLong()
  def snapshot: (Long, Long) = (mutations.get(), reads.get())
}

/** One timed call into a layer: its span, and in the traced run its Spark
  * and file-system counters. */
final class Calls(spark: => SparkSession, listener: CallListener) {
  var tracing = false
  val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val counters = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]

  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(CallListener.Key, name)
    val fs0 = CountingFs.snapshot
    val t0 = System.currentTimeMillis()
    val (v, s) = try Spans.timed(name)(body) finally sc.setLocalProperty(CallListener.Key, null)
    val t1 = System.currentTimeMillis()
    walls.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    System.err.println(f"[perfbench] $name%s $s%.3f s")
    if (tracing) {
      org.apache.spark.PerfbenchBus.drain(sc)
      val fs1 = CountingFs.snapshot
      val c = counters.getOrElseUpdate(name, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      listener.get(name).foreach { a =>
        c("jobs") += a.jobs
        c("driver_gap_s") += CallListener.driverGapMs(a, t0, t1) / 1000.0
        c("shuffle_write_mb") += a.shuffleWriteBytes / 1e6
        c("spill_mb") += a.spillBytes / 1e6
        c("task_time_s") += a.taskMs / 1000.0
        c("task_skew") = math.max(c("task_skew"), CallListener.skew(a))
      }
      c("fs_mutations") += fs1._1 - fs0._1
      c("fs_reads") += fs1._2 - fs0._2
      // label reuse across iterations: a fresh aggregate per call
      listener.reset(name)
    }
    v
  }

  def total(name: String): Double = walls.get(name).map(_.sum).getOrElse(0.0)
}
