package graft.llm

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FilterFileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The local file system with a kill switch: it counts the mutating
  * operations (create, rename, delete, mkdirs) under a watched directory
  * and, once armed at N, fails the Nth and every later one there, so the
  * files under it are exactly what a process killed before its Nth
  * mutation leaves. Each watched directory counts on its own, so
  * operations on different directories can run side by side. Installed
  * for `file:` paths through `fs.file.impl` with the file-system cache
  * off (the way perfbench's `CountingFs` is installed), and removed
  * again with [[CrashFs.uninstall]]. */
class CrashFs extends FilterFileSystem(new LocalFileSystem()) {
  import CrashFs.mutation

  override def rename(src: Path, dst: Path): Boolean = { mutation(src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { mutation(f); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { mutation(f); super.mkdirs(f, permission) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: org.apache.hadoop.util.Progressable) = {
    mutation(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: org.apache.hadoop.util.Progressable) = {
    mutation(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
}

object CrashFs {
  /** A watched directory: the mutations made under it so far and the
    * one it fails at. */
  private final class Watch(val armedAt: Long) { val ops = new AtomicLong() }
  private val watched = new ConcurrentHashMap[String, Watch]()

  private def mutation(p: Path): Unit = {
    val path = p.toUri.getPath
    watched.forEach { (root, w) =>
      if ((path == root || path.startsWith(root + "/")) && w.ops.incrementAndGet() >= w.armedAt)
        throw new java.io.IOException(s"injected crash at mutation ${w.ops.get()} under $root")
    }
  }

  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CrashFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }

  def uninstall(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.unset("fs.file.impl")
    conf.unset("fs.file.impl.disable.cache")
  }

  private def watching[T](root: String, armedAt: Long)(body: Watch => T): T = {
    val w = new Watch(armedAt)
    watched.put(root, w)
    try body(w) finally watched.remove(root)
  }

  /** Run `body` unarmed and return the mutations it made under `root`. */
  def count(root: String)(body: => Unit): Long =
    watching(root, Long.MaxValue) { w => body; w.ops.get() }

  /** Run `body` with the crash armed at mutation `n` under `root`; true
    * when it was killed (it threw). A killed body's Spark jobs run under
    * `root` as their job group, and the crash stays armed until their
    * last task has ended: a killed process makes no later mutation. */
  def crashAt(spark: SparkSession, root: String, n: Long)(body: => Unit): Boolean = {
    val sc = spark.sparkContext
    watching(root, n) { _ =>
      sc.setJobGroup(root, s"crash at mutation $n")
      try { body; false }
      catch { case scala.util.control.NonFatal(_) => settle(sc, root); true }
      finally sc.clearJobGroup()
    }
  }

  private def settle(sc: org.apache.spark.SparkContext, group: String): Unit = {
    val t = sc.statusTracker
    def running = t.getJobIdsForGroup(group).exists(j => t.getJobInfo(j).exists(
      _.stageIds.exists(s => t.getStageInfo(s).exists(_.numActiveTasks > 0))))
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }
}
