package graft

import org.apache.spark.sql.functions._

/** Scale soak for [[graft.streaming.StreamingSpanCut]]: a sequence of
  * micro-batches flows through the cut-and-admit loop against one
  * growing on-disk window index, and the observable that matters is the
  * per-batch wall trend — flat (batch-sized work + one index scan), not
  * rising with history. Every batch plants the SAME run family in its
  * even docs: batch 0 admits one copy (intra-batch min-id keeper) and
  * every later batch must cut it from the index alone; odd docs are
  * globally unique and must pass intact.
  *
  * {{{ runMain graft.SoakStreamSpans [nBatches] [docsPerBatch] }}}
  */
object SoakStreamSpans {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 8
    val perBatch = if (args.length > 1) args(1).toLong else 50000L
    val tokens = 60
    val spark = GraftSession.get()
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-soak-sspan-").toString

    // seed the index with a tiny corpus so batch 0 has a meta to read
    graft.llm.Dedup.spanBuildIndex(
      Seq((0L, (1 to tokens).map(i => s"seed_$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/index", w = 8)

    // one parquet file per micro-batch, written in order
    (0 until nBatches).foreach { b =>
      spark.range(perBatch)
        .selectExpr(s"id + ${b * 1000000L} AS doc_id",
          s"""CASE WHEN id % 2 = 0 THEN concat_ws(' ',
             |    concat_ws(' ', transform(sequence(1, 20), i -> concat('p', $b, '_', id, '_', i))),
             |    concat_ws(' ', transform(sequence(1, 20), i -> concat('shared_', i))),
             |    concat_ws(' ', transform(sequence(1, 20), i -> concat('q', $b, '_', id, '_', i))))
             |  ELSE concat_ws(' ', transform(sequence(1, $tokens), i ->
             |    concat('f', $b, '_', id, '_', i)))
             |END AS text""".stripMargin)
        .coalesce(1)
        .write.mode("append").parquet(s"$dir/src")
    }

    val schema = spark.read.parquet(s"$dir/src").schema
    val src = graft.streaming.Streams.fileSource(spark, s"$dir/src", schema,
      maxFilesPerTrigger = Some(1))
    val stats = scala.collection.mutable.ArrayBuffer.empty[String]
    var last = System.nanoTime()
    graft.streaming.StreamingSpanCut.run(src, "text", "doc_id", s"$dir/index",
      (clean, batchId) => {
        val n = clean.count()
        val cut40 = clean
          .filter(length(trim(col("text"))) > 0)
          .filter(size(split(col("text"), "\\s+")) === 40).count()
        val sec = (System.nanoTime() - last) / 1e9
        last = System.nanoTime()
        stats += f"""{"batch":$batchId,"sec":$sec%.1f,"rows":$n,"docs_cut_to_40":$cut40}"""
      })
    val indexRows = graft.llm.IndexStore.read(spark, s"$dir/index",
      graft.llm.Dedup.Windows).count()
    println(s"""{"soak":"stream_spans","n_batches":$nBatches,""" +
      s""""docs_per_batch":$perBatch,"index_rows":$indexRows,""" +
      s""""batches":[${stats.mkString(",")}]}""")
    spark.stop()
  }
}
