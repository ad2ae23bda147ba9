package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming building blocks: the file-drop source and the
  * drain runners.
  *
  * Every operator in the engine is a DataFrame->DataFrame function, so the
  * same transformations compose under spark.read (batch) and
  * spark.readStream (these helpers) — the batch/streaming duality SURVEY
  * §1.2 commits to, and the core design argument of the Structured
  * Streaming model (Armbrust et al., "Structured Streaming: A Declarative
  * API for Real-Time Applications in Apache Spark", SIGMOD 2018):
  * incrementalize declarative queries instead of exposing a separate
  * stream-operator vocabulary.
  */
object Streams {

  /** File-drop source: the streaming analog of the reference's network
    * receivers for this environment (SURVEY §2.1 maps tcp/udp/unix/http
    * receivers to a DSv2/file transport; file is the one the test harness
    * can exercise hermetically). */
  def fileSource(spark: SparkSession, path: String, schema: StructType,
                 format: String = "parquet", maxFilesPerTrigger: Option[Int] = None)
      : DataFrame = {
    val r = spark.readStream.format(format).schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.load(path)
  }

  /** Run a streaming DF to an in-memory table with Trigger.AvailableNow,
    * block until drained, and return the result as a batch DF. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  outputMode: String = "append"): DataFrame = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Run a streaming DF through foreachBatch with Trigger.AvailableNow. */
  def runForeachBatch(df: DataFrame, fn: (DataFrame, Long) => Unit): StreamingQuery =
    runForeachBatch(df, fn, newCheckpointDir())

  /** [[runForeachBatch]] under a CALLER-OWNED checkpoint — the restart
    * form: a second run with the same dir resumes from the committed
    * offsets (the replayable-ingest specs drive kill/restart with it). */
  def runForeachBatch(df: DataFrame, fn: (DataFrame, Long) => Unit,
                      checkpointDir: String): StreamingQuery = {
    val q = df.writeStream
      .foreachBatch(fn)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  def newCheckpointDir(): String =
    Files.createTempDirectory("graft-ckpt-").toString
}
