package graft.llm

import graft.SparkSpec

/** The committer split the session runs under: v2 (task commits land
  * directly) for marker-protected writes, v1 per write for the
  * pipeline's in-place append sinks ([[GenDir.V1AppendCommitter]]).
  * Index crash states are enumerated by IndexStoreCrashSpec. */
class CommitterCrashSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(pfx: String): String =
    java.nio.file.Files.createTempDirectory(pfx).toString

  test("the per-write committer option reaches the Hadoop committer") {
    // FileOutputCommitter rejects any algorithm version outside 1..2 at
    // job setup — so an impossible version failing the write PROVES the
    // DataFrameWriter option is merged into the write's Hadoop conf,
    // the mechanism V1AppendCommitter rides
    val df = Seq((1L, "a")).toDF("id", "v")
    val ok = tmp("graft-commopt-") + "/out"
    df.write.option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(ok)
    assert(spark.read.parquet(ok).count() == 1L)
    val e = intercept[Throwable] {
      df.write.option("mapreduce.fileoutputcommitter.algorithm.version", "0")
        .parquet(tmp("graft-commopt-") + "/bad")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.toLowerCase.contains("algorithm")))
  }
}
