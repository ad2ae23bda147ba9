package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC/WET container front door (ISO 28500): the raw-crawl reader a
  * pretraining pipeline starts from — CommonCrawl ships crawl data as
  * WARC (response records carrying HTTP payloads) and WET (conversion
  * records carrying pre-extracted text), and this source turns either
  * into a DataFrame that feeds [[graft.llm.Extract]] and the curation
  * operators directly.
  *
  * Spark-first scale design: the container is parsed by a STREAMING
  * per-file kernel over `sparkContext.binaryFiles` — each task opens
  * its file as an `InputStream` (gzip-decoded on the fly, including
  * the per-record multi-member gzip CommonCrawl uses: JDK
  * `GZIPInputStream` concatenates members) and emits records from an
  * iterator, so a 1 GB WARC file never materializes in memory; peak
  * per-task footprint is one record body, itself capped by
  * `maxBodyBytes` (oversized bodies are truncated and flagged, never
  * buffered whole). Files are the parallelism unit — exactly how a
  * 1000-executor cluster consumes a 100 TB crawl of ~100k segment
  * files; record splitting cannot be parallelized WITHIN a gzip
  * member, so per-file sequential scan is the correct (and standard)
  * kernel shape, the [[graft.llm.Multimodal]] `parseMp4` discipline
  * applied to a length-framed text container.
  *
  * Record grammar (ISO 28500 §4): a version line `WARC/1.x`, header
  * lines `Name: value` to an empty line, `Content-Length` octets of
  * body, then two CRLFs. Malformed tails fail LOUDLY (a corrupt
  * segment should surface, not silently truncate the corpus); the
  * parser tolerates the benign variations real crawls contain (LF
  * line ends, header continuation lines, trailing garbage-free EOF).
  */
object Warc {

  /** One WARC record. `body` is the raw record block (for `response`
    * records: HTTP headers + payload; for WET `conversion` records:
    * the extracted text), truncated at `maxBodyBytes` with
    * `truncated` set. */
  case class WarcRecord(
      file: String,
      rec_index: Long,
      warc_type: String,
      record_id: String,
      target_uri: String,
      content_type: String,
      payload_digest: String,
      content_length: Long,
      truncated: Boolean,
      body: Array[Byte])

  /** Read every record of every file matching `path` (glob ok; `.gz`
    * decoded transparently). One task per file (or per
    * `minPartitions` hint when files outnumber cores). */
  def records(spark: SparkSession, path: String,
              maxBodyBytes: Int = 16 << 20,
              minPartitions: Int = 0): DataFrame = {
    val mp =
      if (minPartitions > 0) minPartitions
      else spark.sparkContext.defaultParallelism
    val rows = spark.sparkContext.binaryFiles(path, mp)
      .flatMap { case (name, pds) =>
        val raw = pds.open()
        val in = new BufferedInputStream(
          if (name.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16)
          else raw, 1 << 16)
        // A consumer that stops early (limit/take) never reaches the
        // iterator's clean-EOF close — release the handle at task end.
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try in.close() catch { case _: java.io.IOException => () }))
        recordIterator(name, in, maxBodyBytes)
      }
    spark.createDataFrame(rows)
  }

  /** The streaming per-file kernel: parse records off `in` lazily,
    * closing the stream at EOF. Package-visible for direct spec
    * coverage without a Spark job. */
  private[graft] def recordIterator(file: String, in: InputStream,
                                    maxBodyBytes: Int)
      : Iterator[WarcRecord] = new Iterator[WarcRecord] {
    private var nextRec: WarcRecord = _
    private var done = false
    private var idx = 0L

    /** One header/version line, CRLF or LF terminated, ISO-8859-1
      * (ISO 28500 headers are ASCII; 8859-1 is the lossless superset).
      * None at EOF. */
    private def readLine(): Option[String] = {
      val sb = new java.lang.StringBuilder(64)
      var c = in.read()
      if (c < 0) return None
      while (c >= 0 && c != '\n') {
        sb.append(c.toChar)
        c = in.read()
      }
      val s = sb.toString
      Some(if (s.endsWith("\r")) s.substring(0, s.length - 1) else s)
    }

    private def readFully(buf: Array[Byte], n: Int): Unit = {
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new EOFException(
          s"$file: record $idx body truncated at $off of $n bytes")
        off += r
      }
    }

    private def skipFully(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val r = in.skip(left)
        if (r > 0) left -= r
        else if (in.read() >= 0) left -= 1 // skip() can return 0 mid-stream
        else throw new EOFException(
          s"$file: record $idx body truncated (skipping $left of $n bytes)")
      }
    }

    /** Parse the next record; on ANY parse failure close the stream
      * before rethrowing (the loud-failure contract must not leak the
      * file handle for the rest of the task). */
    private def advance(): Unit =
      try advanceInner()
      catch {
        case e: Throwable =>
          done = true
          try in.close() catch { case _: java.io.IOException => () }
          throw e
      }

    private def advanceInner(): Unit = {
      if (done) return
      // skip inter-record blank lines (the two CRLFs after each body)
      var line = readLine()
      while (line.exists(_.isEmpty)) line = readLine()
      line match {
        case None =>
          done = true
          in.close()
        case Some(version) =>
          if (!version.startsWith("WARC/"))
            throw new IllegalStateException(
              s"$file: expected WARC version line at record $idx, got: " +
                version.take(80))
          // headers to the empty line; continuation lines (leading
          // whitespace) fold into the previous value per the spec
          val headers = scala.collection.mutable.Map.empty[String, String]
          var lastKey: String = null
          var h = readLine().getOrElse(throw new EOFException(
            s"$file: EOF inside record $idx headers"))
          while (h.nonEmpty) {
            if ((h.head == ' ' || h.head == '\t') && lastKey != null)
              headers(lastKey) = headers(lastKey) + " " + h.trim
            else {
              val i = h.indexOf(':')
              if (i > 0) {
                lastKey = h.substring(0, i).trim.toLowerCase
                headers(lastKey) = h.substring(i + 1).trim
              }
            }
            h = readLine().getOrElse(throw new EOFException(
              s"$file: EOF inside record $idx headers"))
          }
          val len = headers.get("content-length").map(_.toLong)
            .getOrElse(throw new IllegalStateException(
              s"$file: record $idx has no Content-Length"))
          val keep = math.min(len, maxBodyBytes.toLong).toInt
          val body = new Array[Byte](keep)
          readFully(body, keep)
          skipFully(len - keep)
          nextRec = WarcRecord(
            file, idx,
            headers.getOrElse("warc-type", ""),
            headers.getOrElse("warc-record-id", ""),
            headers.getOrElse("warc-target-uri", ""),
            headers.getOrElse("content-type", ""),
            headers.getOrElse("warc-payload-digest", ""),
            len, len > keep, body)
          idx += 1
      }
    }

    advance()

    override def hasNext: Boolean = !done
    override def next(): WarcRecord = {
      if (done) throw new NoSuchElementException
      val r = nextRec
      advance()
      r
    }
  }

  /** A GZIPOutputStream whose native Deflater can be released without
    * closing the underlying stream — one member per record needs
    * finish()+end(), never close(). (`def` is the protected Deflater
    * field; it's a Scala keyword, hence the backticks.) */
  private[graft] class MemberGzip(out: java.io.OutputStream)
      extends java.util.zip.GZIPOutputStream(out) {
    def endDeflater(): Unit = `def`.end()
  }

  /** UTF-8 text of a record body column. */
  def bodyText(body: Column): Column = decode(body, "UTF-8")

  /** HTTP payload of a `response` record's body text: everything
    * after the first blank line (status line + headers precede it).
    * Bodies with no header block (WET conversion records, raw
    * resources) pass through whole. Codegen expression — no UDF. */
  def httpPayload(bodyText: Column): Column =
    regexp_replace(bodyText, "(?s)\\A(?:HTTP/[0-9.]+ .*?\\r?\\n\\r?\\n)", "")

  /** Write a documents frame OUT as WET conversion records — the
    * inverse of [[documents]], for handing curated text back to crawl
    * tooling in its interchange format (ISO 28500 conversion records,
    * one multi-member-gzip `.warc.wet.gz` file per partition — each
    * record its own gzip member, the CommonCrawl layout, so downstream
    * readers can split members without parsing). Expects the
    * [[documents]] schema (doc_id, url, text); executors write through
    * the Hadoop filesystem of `dir` (conf entries ship as a plain
    * broadcast map), so the sink works wherever parquet would. */
  def writeWet(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    val confMap = {
      val c = spark.sparkContext.hadoopConfiguration
      val it = c.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    val confBc = spark.sparkContext.broadcast(confMap)
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(path)
    docs.select(col("doc_id").cast("string"), col("url").cast("string"),
        col("text").cast("string"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val conf = new org.apache.hadoop.conf.Configuration(false)
          confBc.value.foreach { case (k, vv) => conf.set(k, vv) }
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val p = new org.apache.hadoop.fs.Path(
            dir, f"part-$pid%05d.warc.wet.gz")
          val out = new java.io.BufferedOutputStream(
            p.getFileSystem(conf).create(p, true), 1 << 16)
          try it.foreach { row =>
            val body = Option(row.getString(2)).getOrElse("")
              .getBytes("UTF-8")
            val hdr = Seq(
              "WARC/1.0",
              "WARC-Type: conversion",
              s"WARC-Record-ID: ${row.getString(0)}",
              s"WARC-Target-URI: ${Option(row.getString(1)).getOrElse("")}",
              "Content-Type: text/plain",
              s"Content-Length: ${body.length}",
              "", "").mkString("\r\n")
            // One gzip member per record (the CommonCrawl layout).
            // finish() flushes the member but keeps the native
            // Deflater alive; end() it explicitly or millions of
            // records pile up un-released native memory until GC.
            val gz = new Warc.MemberGzip(out)
            try {
              gz.write(hdr.getBytes("UTF-8"))
              gz.write(body)
              gz.write("\r\n\r\n".getBytes("UTF-8"))
              gz.finish()
            } finally gz.endDeflater()
          } finally out.close()
        }
      }
  }

  /** Crawl-level exact dedup by `WARC-Payload-Digest` — the dedup
    * CommonCrawl itself performs across recrawls (a `revisit` record
    * replaces the repeated payload; response records still repeat
    * within and across segments). Keeps the FIRST copy of each digest
    * in (file, rec_index) order — deterministic however the scan is
    * partitioned — and passes digest-less rows through untouched (a
    * missing header must never collapse unrelated records).
    *
    * Scale shape: one shuffle of the record rows keyed on the digest
    * — the same cost class as [[graft.llm.Dedup.dedupExact]]'s md5
    * shuffle (bodies ride the exchange either way because downstream
    * needs them). What the digest buys is no body hashing and dedup
    * BEFORE the decode + extraction chain, which is where the per-row
    * cost actually lives; digest-less rows bypass the exchange on a
    * narrow leg. */
  def dedupByDigest(recs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("payload_digest"))
      .orderBy(col("file"), col("rec_index"))
    val withDigest = recs.filter(col("payload_digest") =!= "")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    recs.filter(col("payload_digest") === "").unionByName(withDigest)
  }

  // ---- persisted digest-dedup index (the seventh index family) -------
  //
  // [[dedupByDigest]] dedups WITHIN the loaded batch only; real crawls
  // dedup each monthly snapshot against ALL prior snapshots without
  // reloading them. The payload-digest SET is the smallest possible
  // index payload (one short string per unique document body), carried
  // under the same GenDir build/append/compact/recover
  // discipline as the other six families.
  //
  // Layout under `dir`:
  //  - `digests/` partitioned by `d_pt` = pmod(xxhash64(digest), 256):
  //    (digest, snapshot) rows — snapshot is provenance only, dedup
  //    keys on digest. Partition pruning lets a small batch read only
  //    the buckets its own digests hash into.

  private val DigestIdBuckets = 256

  private def digestBucket(d: Column): Column =
    pmod(xxhash64(d), lit(DigestIdBuckets)).cast("int")

  /** Distinct non-empty digests of a record frame, bucketed for the
    * partitioned layout. */
  private def digestRows(recs: DataFrame, snapshot: String): DataFrame =
    recs.filter(col("payload_digest") =!= "")
      .select(col("payload_digest").as("digest"))
      .distinct()
      .select(col("digest"), lit(snapshot).as("snapshot"),
        digestBucket(col("digest")).as("d_pt"))

  /** Fresh-build the digest index from a snapshot's records. */
  def digestIndexBuild(recs: DataFrame, dir: String,
                       snapshot: String): Unit = {
    val spark = recs.sparkSession
    graft.llm.GenDir.resetAll(spark, s"$dir/digests")
    digestRows(recs, snapshot)
      .repartition(spark.sparkContext.defaultParallelism, col("d_pt"))
      .write.mode("overwrite").partitionBy("d_pt")
      .parquet(s"$dir/digests")
  }

  /** Append a new snapshot's digests into the live generation —
    * normally the SURVIVORS of [[dedupByDigestIndexed]], so the index
    * stays a set; cross-append repeats (two snapshots appended without
    * dedup between) are tolerated and collapsed by the next
    * [[digestIndexCompact]], and never change dedup semantics (an
    * anti-join treats 1 and 2 copies alike). */
  def digestIndexAppend(recs: DataFrame, dir: String,
                        snapshot: String): Unit = {
    val spark = recs.sparkSession
    digestRows(recs, snapshot)
      .repartition(spark.sparkContext.defaultParallelism, col("d_pt"))
      // committer v1 on in-place appends — a crashed append must leave
      // the slice row-identical (see [[graft.llm.GenDir.V1AppendCommitter]])
      .write.options(graft.llm.GenDir.V1AppendCommitter)
      .mode("append").partitionBy("d_pt")
      .parquet(graft.llm.GenDir.live(spark, s"$dir/digests"))
  }

  /** Rewrite the digest slice into the next generation, collapsing
    * append-accumulated duplicate digests (keep the FIRST snapshot by
    * sort — deterministic) and re-clustering small append files. A
    * layout rewrite only: the digest SET is unchanged. */
  def digestIndexCompact(spark: SparkSession, dir: String): Unit = {
    val base = s"$dir/digests"
    graft.llm.GenDir.recover(spark, base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = graft.llm.GenDir.live(spark, base)
    val next = graft.llm.GenDir.nextGenPath(fs,
      new org.apache.hadoop.fs.Path(base))
    spark.read.parquet(live)
      .groupBy(col("digest"), col("d_pt"))
      .agg(min(col("snapshot")).as("snapshot"))
      .select(col("digest"), col("snapshot"), col("d_pt"))
      .repartition(spark.sparkContext.defaultParallelism, col("d_pt"))
      .write.mode("overwrite").partitionBy("d_pt").parquet(next.toString)
    graft.llm.GenDir.commitGen(fs, next)
    graft.llm.GenDir.gc(fs, new org.apache.hadoop.fs.Path(base))
  }

  /** Heal crash leftovers (uncommitted generations) — call before
    * trusting the index after a restart. */
  def digestIndexRecover(spark: SparkSession, dir: String): Unit =
    graft.llm.GenDir.recover(spark, s"$dir/digests")

  /** [[dedupByDigest]] against the PERSISTED index: within-batch
    * first-copy dedup, then an anti-join that drops every record whose
    * digest any prior snapshot already carries. Digest-less rows pass
    * through on the narrow bypass leg, exactly like [[dedupByDigest]].
    *
    * Scale shape: the batch's distinct `d_pt` buckets (≤ 256, a
    * bounded collect) prune the index read to the partitions the batch
    * can possibly collide with — a small daily batch against a
    * billion-digest warehouse reads only its own buckets' slices; the
    * anti-join is one digest-keyed shuffle of (pruned index slice +
    * batch), the same cost class as the in-batch window. The caller
    * appends the survivors' digests ([[digestIndexAppend]]) to close
    * the admission loop. */
  def dedupByDigestIndexed(recs: DataFrame, dir: String): DataFrame = {
    val spark = recs.sparkSession
    val inBatch = dedupByDigest(recs)
    val withDigest = inBatch.filter(col("payload_digest") =!= "")
    val live = graft.llm.GenDir.live(spark, s"$dir/digests")
    // bounded by construction: <= DigestIdBuckets distinct values
    val pts = withDigest.select(digestBucket(col("payload_digest")))
      .distinct().collect().map(_.getInt(0))
    val idx = spark.read.parquet(live)
      .filter(col("d_pt").isin(pts.toIndexedSeq: _*))
      .select(col("digest"))
    val survivors = withDigest.join(idx,
      withDigest("payload_digest") === idx("digest"), "left_anti")
    inBatch.filter(col("payload_digest") === "").unionByName(survivors)
  }

  /** The assembled front door: WARC/WET files → one row per document
    * with `doc_id` (record id), `url`, and `text` — HTML responses are
    * CHARSET-AWARE decoded ([[graft.functions.HttpBodyText]]: HTTP
    * `Content-Type` header → BOM → `<meta charset>` prescan → UTF-8,
    * so the ~quarter of a real crawl that isn't UTF-8 enters the
    * pipeline as text, not mojibake) then run through
    * [[graft.llm.Extract.extractText]]; WET conversion records are
    * UTF-8 by the WET spec and pass their pre-extracted text straight
    * through. This output is schema-compatible with the `documents`
    * table the whole curation surface operates on. */
  def documents(spark: SparkSession, path: String,
                maxBodyBytes: Int = 16 << 20): DataFrame =
    documentsMeta(spark, path, maxBodyBytes).drop("digest")

  /** [[documents]] plus crawl metadata (`digest` =
    * `WARC-Payload-Digest`, empty when absent) and optional
    * digest-level dedup: `dedupDigest = true` routes through
    * [[dedupByDigest]] BEFORE extraction, so repeated payloads are
    * dropped from the header columns alone and never pay the decode +
    * extraction chain. `revisit` records (CommonCrawl's own recrawl
    * markers) are excluded here like every non-response type — they
    * carry no payload to extract. */
  def documentsMeta(spark: SparkSession, path: String,
                    maxBodyBytes: Int = 16 << 20,
                    dedupDigest: Boolean = false,
                    digestIndexPath: Option[String] = None): DataFrame = {
    val recs0 = records(spark, path, maxBodyBytes)
      .filter(col("warc_type").isin("response", "conversion"))
    val recs = digestIndexPath match {
      case Some(ip) => dedupByDigestIndexed(recs0, ip) // subsumes in-batch
      case None if dedupDigest => dedupByDigest(recs0)
      case None => recs0
    }
    recs.select(
      col("record_id").as("doc_id"),
      col("target_uri").as("url"),
      when(col("warc_type") === "response",
        graft.llm.Extract.extractText(
          graft.functions.HttpBodyText(col("body"))))
        .otherwise(bodyText(col("body"))).as("text"),
      col("payload_digest").as("digest"))
  }
}
