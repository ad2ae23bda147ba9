package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.SparkSpec

/** [[CheckpointFiles]]: Spark picks it up from the session conf, and on
  * local paths its atomic writes land whole, never overwrite unless
  * asked, and leave no temp file behind. */
class CheckpointFilesSpec extends SparkSpec {

  private def manager(dir: java.nio.file.Path): CheckpointFileManager = {
    val conf = new Configuration()
    conf.set("spark.sql.streaming.checkpointFileManagerClass", classOf[CheckpointFiles].getName)
    CheckpointFileManager.create(new Path(dir.toUri), conf)
  }

  private def write(m: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(body.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
    finally s.close()
  }

  test("an atomic local write lands whole and never overwrites unless asked") {
    val dir = Files.createTempDirectory("graft-ckpt-files-")
    val m = manager(dir)
    assert(m.isInstanceOf[CheckpointFiles])
    val p = new Path(dir.resolve("0").toUri)
    write(m, p, "v1", overwrite = false)
    assert(new String(Files.readAllBytes(dir.resolve("0")), StandardCharsets.UTF_8) == "v1")
    intercept[FileAlreadyExistsException](write(m, p, "v2", overwrite = false))
    assert(new String(Files.readAllBytes(dir.resolve("0")), StandardCharsets.UTF_8) == "v1")
    write(m, p, "v3", overwrite = true)
    assert(new String(Files.readAllBytes(dir.resolve("0")), StandardCharsets.UTF_8) == "v3")
    assert(names(dir) == Set("0"), "a temp or checksum file was left behind")
    val cancelled = m.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    cancelled.write(Array[Byte](1, 2, 3))
    cancelled.cancel()
    cancelled.close()
    assert(names(dir) == Set("0"), "cancel left a file behind")
  }

  test("a streaming query commits its logs through the session's manager") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val in = Files.createTempDirectory("graft-ckpt-files-in-").toString
    import spark.implicits._
    Seq(1L, 2L).toDF("id").write.mode("overwrite").parquet(in)
    val ckpt = Files.createTempDirectory("graft-ckpt-files-q-")
    spark.conf.set(key, classOf[CheckpointFiles].getName)
    try {
      var rows = 0L
      Streams.runForeachBatch(
        Streams.fileSource(spark, in, spark.read.parquet(in).schema),
        (b, _) => rows += b.count(), ckpt.toString)
      assert(rows == 2L)
    } finally spark.conf.unset(key)
    // FileContext leaves a .crc beside each log file; this manager none
    assert(names(ckpt.resolve("commits")) == Set("0"))
    assert(names(ckpt.resolve("offsets")) == Set("0"))
  }
}
