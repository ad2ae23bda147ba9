package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.llm.Extract

/** WARC/WET container front door: record framing (plain + the
  * multi-member gzip CommonCrawl ships), body truncation, loud
  * malformed-tail failures, and the documents() assembly feeding the
  * curation surface (HTML extraction on responses, pass-through on
  * WET conversion records). */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private val html =
    """<html><head><title>Title</title><style>p { color: red; }</style>
      |</head><body><h1>Heading</h1>
      |<script type="text/javascript">var x = 1 < 2; // <p>not text</p>
      |</script><!-- hidden <div>comment markup</div> -->
      |<p>First &amp; second &lt;escaped&gt; &quot;quoted&quot;&nbsp;and &amp;lt;double&amp;gt;.</p>
      |<div>Block two</div><ul><li>item one</li><li>item two</li></ul>
      |</body></html>""".stripMargin

  private def record(warcType: String, uri: String, body: Array[Byte],
                     contentType: String = "text/plain",
                     eol: String = "\r\n",
                     extraHeaders: Seq[String] = Nil): Array[Byte] = {
    // plain concatenation: triple-quoted strings leave \r as two chars
    val headers = (Seq(
      "WARC/1.0",
      s"WARC-Type: $warcType",
      s"WARC-Record-ID: <urn:uuid:$warcType-${uri.hashCode.toHexString}>",
      s"WARC-Target-URI: $uri",
      s"Content-Type: $contentType",
      s"Content-Length: ${body.length}") ++ extraHeaders ++
      Seq("", "")).mkString(eol)
    headers.getBytes(UTF_8) ++ body ++ (eol + eol).getBytes(UTF_8)
  }

  private def httpResponse(payload: String): Array[Byte] =
    (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      s"Content-Length: ${payload.getBytes(UTF_8).length}\r\n\r\n" + payload)
      .getBytes(UTF_8)

  private def warcinfo = record("warcinfo", "",
    "software: graft-test\r\n".getBytes(UTF_8),
    "application/warc-fields")

  private def sampleWarc: Array[Byte] =
    warcinfo ++
      record("response", "http://example.com/a", httpResponse(html),
        "application/http; msgtype=response") ++
      record("conversion", "http://example.com/b",
        "Pre-extracted text.\nSecond line of it.".getBytes(UTF_8)) ++
      record("response", "http://example.com/c",
        httpResponse("<p>tiny</p>"), "application/http; msgtype=response")

  private def gzipMembers(parts: Array[Byte]*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    parts.foreach { p =>
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(p); gz.finish(); gz.close()
    }
    bos.toByteArray
  }

  private def tmpFile(name: String, bytes: Array[Byte]): String = {
    val dir = Files.createTempDirectory("graft-warc-")
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  test("record iterator frames plain WARC records with exact bodies") {
    val recs = Warc.recordIterator("f",
      new ByteArrayInputStream(sampleWarc), 16 << 20).toSeq
    assert(recs.map(_.warc_type) ==
      Seq("warcinfo", "response", "conversion", "response"))
    assert(recs.map(_.rec_index) == Seq(0L, 1L, 2L, 3L))
    assert(recs(1).target_uri == "http://example.com/a")
    assert(recs(1).content_length == httpResponse(html).length)
    assert(new String(recs(2).body, UTF_8) ==
      "Pre-extracted text.\nSecond line of it.")
    assert(recs.forall(!_.truncated))
    // LF-only HEADER line endings (tolerated variation) frame
    // identically — bodies unchanged so Content-Length stays truthful
    val lf = record("warcinfo", "", "software: graft-test\r\n".getBytes(UTF_8),
      "application/warc-fields", eol = "\n") ++
      record("conversion", "http://example.com/b",
        "Pre-extracted text.".getBytes(UTF_8), eol = "\n")
    val lfRecs = Warc.recordIterator("f",
      new ByteArrayInputStream(lf), 16 << 20).toSeq
    assert(lfRecs.map(_.warc_type) == Seq("warcinfo", "conversion"))
    assert(new String(lfRecs(1).body, UTF_8) == "Pre-extracted text.")
  }

  test("oversized bodies truncate at maxBodyBytes and flag it; framing " +
      "of later records survives") {
    val recs = Warc.recordIterator("f",
      new ByteArrayInputStream(sampleWarc), 64).toSeq
    assert(recs.size == 4)
    val big = recs(1)
    assert(big.truncated && big.body.length == 64 &&
      big.content_length > 64)
    assert(recs(3).warc_type == "response") // framing intact after skip
  }

  test("malformed containers fail loudly, not silently") {
    val noVersion = "NOT-WARC/1.0\r\n\r\n".getBytes(UTF_8)
    intercept[IllegalStateException] {
      Warc.recordIterator("f", new ByteArrayInputStream(noVersion),
        1 << 20).toSeq
    }
    val cut = sampleWarc.take(sampleWarc.length - 40) // body cut mid-record
    intercept[java.io.EOFException] {
      Warc.recordIterator("f", new ByteArrayInputStream(cut), 1 << 20).toSeq
    }
  }

  test("records() reads plain and multi-member-gzip files identically") {
    val plain = tmpFile("crawl.warc", sampleWarc)
    val gz = tmpFile("crawl.warc.gz", gzipMembers(
      warcinfo,
      record("response", "http://example.com/a", httpResponse(html),
        "application/http; msgtype=response"),
      record("conversion", "http://example.com/b",
        "Pre-extracted text.\nSecond line of it.".getBytes(UTF_8)),
      record("response", "http://example.com/c",
        httpResponse("<p>tiny</p>"), "application/http; msgtype=response")))
    def shape(path: String) = Warc.records(spark, path)
      .select($"rec_index", $"warc_type", $"target_uri", $"content_length")
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toSeq
    val a = shape(plain)
    assert(a.map(_._2) == Seq("warcinfo", "response", "conversion", "response"))
    assert(shape(gz) == a)
  }

  test("YAML pipeline: warc receiver -> quality gate -> memory sink " +
      "(the raw-crawl front door composes with the curation actors)") {
    val path = tmpFile("crawl.warc", sampleWarc)
    val yaml =
      s"""actors:
        |  crawl: {module: core.receiver, params: {path: "$path", format: warc}}
        |  gate:  {module: llm.quality_filter, params: {column: text, min_quality: 0.0}}
        |  docs:  {module: core.sink, params: {format: memory}}
        |pipeline:
        |  crawl: {connect: [gate]}
        |  gate:  {connect: [docs]}
        |""".stripMargin
    val cfg = graft.pipeline.PipelineConfig.parse(yaml)
    val counts = new graft.pipeline.PipelineCompiler(spark, cfg).runBatch()
    assert(counts("docs") == 3L)
    val out = spark.table("docs")
    assert(out.columns.toSet == Set("doc_id", "url", "text", "quality"))
    assert(out.filter($"url" === "http://example.com/a")
      .select($"text").as[String].head().contains("First & second"))
    // llm.extract actor: same chain over an html column mid-pipeline
    val htmlIn =
      Files.createTempDirectory("graft-warc-html-").toString + "/in"
    Seq((1L, html)).toDF("id", "page").write.parquet(htmlIn)
    val yaml2 =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$htmlIn"}}
        |  ex:  {module: llm.extract, params: {column: page, text_column: text, min_line_chars: 8}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  src: {connect: [ex]}
        |  ex:  {connect: [out]}
        |""".stripMargin
    val cfg2 = graft.pipeline.PipelineConfig.parse(yaml2)
    new graft.pipeline.PipelineCompiler(spark, cfg2).runBatch()
    val txt = spark.table("out").select($"text").as[String].head()
    assert(txt.contains("First & second") && !txt.contains("var x"))
    assert(txt.split("\n").forall(_.length >= 8))
  }

  test("writeWet round-trips: documents out as WET conversion records, " +
      "read back identically") {
    val docs = Seq(
      ("<urn:a>", "http://example.com/a", "First extracted document.\nTwo lines."),
      ("<urn:b>", "http://example.com/b", "Zweites Dokument, ü und ß intakt."),
      ("<urn:c>", "http://example.com/c", "")) // empty body survives
      .toDF("doc_id", "url", "text")
    val out = Files.createTempDirectory("graft-wet-out-").toString + "/wet"
    Warc.writeWet(docs.repartition(2), out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".warc.wet.gz"))
    assert(files.nonEmpty)
    val back = Warc.documents(spark, s"$out/*.warc.wet.gz")
      .select($"doc_id", $"url", $"text")
      .as[(String, String, String)].collect().toSet
    assert(back == docs.as[(String, String, String)].collect().toSet)
    // records() sees proper conversion records with exact lengths
    val recs = Warc.records(spark, s"$out/*.warc.wet.gz")
    assert(recs.count() == 3 &&
      recs.filter($"warc_type" === "conversion").count() == 3)
  }

  test("YAML wet sink: warc receiver through extraction back out as WET") {
    val in = tmpFile("crawl.warc", sampleWarc)
    val out = Files.createTempDirectory("graft-wet-sink-").toString + "/wet"
    val yaml =
      s"""actors:
        |  crawl: {module: core.receiver, params: {path: "$in", format: warc}}
        |  wet:   {module: core.sink, params: {format: wet, path: "$out"}}
        |pipeline:
        |  crawl: {connect: [wet]}
        |""".stripMargin
    val counts = new graft.pipeline.PipelineCompiler(spark,
      graft.pipeline.PipelineConfig.parse(yaml)).runBatch()
    assert(counts("wet") == 3L)
    val back = Warc.documents(spark, s"$out/*.warc.wet.gz")
    assert(back.count() == 3)
    assert(back.filter($"url" === "http://example.com/a")
      .select($"text").as[String].head().contains("First & second"))
  }

  test("crawl-to-index composition: manifest-driven WARC drain feeds " +
      "exactly-once BM25 ingest under a stream id") {
    val root = Files.createTempDirectory("graft-crawl2idx-")
    val idx = root.resolve("index").toString
    val seg = tmpFile("seg.warc", sampleWarc)
    // hand the extracted documents to the xo index loop (numeric ids
    // derived deterministically from the record ids)
    val extracted = Warc.documents(spark, seg.toString)
      .select(xxhash64($"doc_id").as("doc_id"), $"text")
    val schema = extracted.schema
    val staged = root.resolve("staged").toString
    extracted.write.parquet(staged)
    val src = graft.streaming.Streams.fileSource(spark, staged, schema,
      maxFilesPerTrigger = Some(1))
    graft.streaming.IndexIngest.run(src, "text", "doc_id", idx,
      graft.streaming.IndexIngest.Bm25, streamId = "crawl-a")
    // query on whitespace-clean tokens of the extracted page (bm25
    // tokenizes on whitespace; "<escaped>" keeps its brackets)
    val hits = graft.llm.Retrieval.bm25SearchIndex(
      Seq((1L, "First second")).toDF("query_id", "qtext"), idx, k = 5)
    assert(hits.count() >= 1) // the extracted response page matches
    // redelivered crawl batch (same stream id): nothing doubles
    val before = graft.llm.Retrieval.bm25IndexTotals(spark, idx)
    assert(!graft.llm.Retrieval.bm25IndexAppendBatch(extracted, "text",
      "doc_id", idx, 0L, "crawl-a"))
    assert(graft.llm.Retrieval.bm25IndexTotals(spark, idx) == before)
  }

  test("llm_crawl example: gzip WARC through extraction, quality gate " +
      "and exact dedup") {
    val dir = java.nio.file.Paths.get("/tmp/graft-example-crawl")
    Files.createDirectories(dir)
    // two distinct responses + an exact duplicate of the first
    Files.write(dir.resolve("crawl.warc.gz"), gzipMembers(
      warcinfo,
      record("response", "http://example.com/a", httpResponse(html),
        "application/http; msgtype=response"),
      record("response", "http://example.com/a2", httpResponse(html),
        "application/http; msgtype=response"),
      record("conversion", "http://example.com/b",
        "Pre-extracted text from a WET record, long enough to keep."
          .getBytes(UTF_8))))
    val yaml = Files.readString(
      java.nio.file.Paths.get("examples/llm_crawl.yml"))
    val counts = new graft.pipeline.PipelineCompiler(spark,
      graft.pipeline.PipelineConfig.parse(yaml)).runBatch()
    assert(counts("crawl_out") == 2L) // dup page collapsed
    val texts = spark.table("crawl_out").select($"text")
      .as[String].collect().toSet
    assert(texts.exists(_.contains("First & second")))
    assert(texts.exists(_.startsWith("Pre-extracted text")))
  }

  test("documents(): HTML responses extract, WET conversions pass " +
      "through, and the frame feeds the curation surface") {
    val path = tmpFile("crawl.warc", sampleWarc)
    val docs = Warc.documents(spark, path).orderBy($"url")
      .select($"url", $"text").as[(String, String)].collect().toSeq
    assert(docs.map(_._1) == Seq("http://example.com/a",
      "http://example.com/b", "http://example.com/c"))
    val extracted = docs.head._2
    // structure: title/heading/paragraph lines, script+style+comment gone
    assert(extracted.startsWith("Title\nHeading\n"))
    assert(!extracted.contains("var x") && !extracted.contains("color") &&
      !extracted.contains("comment markup"))
    // entities: one decode pass only (&amp;lt; -> &lt;, never <)
    assert(extracted.contains(
      "First & second <escaped> \"quoted\" and &lt;double&gt;."))
    assert(extracted.contains("item one\nitem two"))
    assert(docs(1)._2 == "Pre-extracted text.\nSecond line of it.")
    assert(docs(2)._2 == "tiny")
    // boilerplate heuristic drops the short nav-like lines
    val main = Warc.documents(spark, path)
      .select(Extract.mainContent($"text", 20).as("m"))
      .as[String].collect()
    assert(main.exists(_.contains("First & second")))
    assert(!main.exists(_.split("\n").exists(l => l.nonEmpty && l.length < 20)))
    // composes with the existing curation actors end-to-end
    val gated = Warc.documents(spark, path)
      .withColumn("q", graft.functions.TextFunctions.qualityScore($"text"))
    assert(gated.count() == 3 && gated.schema("q").dataType.typeName == "double")
  }

  test("documents() decodes non-UTF-8 responses via Content-Type " +
      "charset, <meta charset> prescan, BOM, and UTF-8 default") {
    def response(payload: String, cs: String,
                 declare: Boolean): Array[Byte] = {
      val body = payload.getBytes(java.nio.charset.Charset.forName(cs))
      val ct = if (declare) s"text/html; charset=$cs" else "text/html"
      (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
    }
    val ru = "<p>Привет, мир — кодировка</p>"
    val zh = "<html><head><meta charset=\"gbk\"></head>" +
      "<body><p>今天天气很好</p></body></html>"
    val de = "<p>Größe läßt grüßen</p>"
    val bomText = "\uFEFF<p>utf-8 with BOM §</p>"
    val warc =
      record("response", "http://ru.example/1",
        response(ru, "windows-1251", declare = true),
        "application/http; msgtype=response") ++
      record("response", "http://zh.example/2",
        response(zh, "GBK", declare = false), // header silent, meta decides
        "application/http; msgtype=response") ++
      record("response", "http://de.example/3",
        response(de, "ISO-8859-1", declare = true),
        "application/http; msgtype=response") ++
      record("response", "http://bom.example/4",
        response(bomText, "UTF-8", declare = false), // BOM decides
        "application/http; msgtype=response") ++
      record("response", "http://plain.example/5",
        response("<p>plain ascii</p>", "UTF-8", declare = false),
        "application/http; msgtype=response")
    val path = tmpFile("charset.warc", warc)
    val docs = Warc.documents(spark, path).orderBy($"url")
      .select($"url", $"text").as[(String, String)].collect().toMap
    assert(docs("http://ru.example/1") == "Привет, мир — кодировка")
    assert(docs("http://zh.example/2") == "今天天气很好")
    assert(docs("http://de.example/3") == "Größe läßt grüßen")
    assert(docs("http://bom.example/4") == "utf-8 with BOM §")
    assert(docs("http://plain.example/5") == "plain ascii")
    // a UTF-8-hard-coded decode would have produced mojibake for all
    // three single-byte/GBK pages — pin that the OLD path really differs
    val mojibake = new String(ru.getBytes(
      java.nio.charset.Charset.forName("windows-1251")), UTF_8)
    assert(mojibake != ru) // the planted fixture is genuinely non-UTF-8
  }

  test("HttpBodyText is lenient: truncated multi-byte tails replace, " +
      "unknown charset labels fall back to UTF-8, non-HTTP bodies " +
      "decode whole") {
    import graft.functions.HttpBodyText
    val cut = ("HTTP/1.1 200 OK\r\n\r\nab" + "é").getBytes(UTF_8)
      .dropRight(1) // é is 2 UTF-8 bytes; keep the first — malformed tail
    val unknown = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
      "charset=x-no-such-cs\r\n\r\nplain").getBytes(UTF_8)
    val raw = "no header block at all".getBytes(UTF_8)
    val out = Seq(cut, unknown, raw).toDF("body")
      .select(HttpBodyText($"body").as("t")).as[String].collect()
    assert(out(0) == "ab�")
    assert(out(1) == "plain")
    assert(out(2) == "no header block at all")
  }

  test("llm_fineweb example: the whole crawl-to-curated recipe — digest " +
      "dedup, URL gates, word gate, langid, gopher, c4, exact dedup") {
    val prose = "The committee released its final report on Tuesday " +
      "and the findings were consistent with earlier research across " +
      "the field. Reviewers noted that the methods were sound and " +
      "that the data had been collected carefully over three years. " +
      "Further work is planned for the coming months and a public " +
      "summary will follow shortly. Questions from the public are " +
      "welcome at any time."
    def page(text: String) = httpResponse(
      s"<html><body><p>$text</p></body></html>")
    val rt = "application/http; msgtype=response"
    val dir = java.nio.file.Paths.get("/tmp/graft-example-fineweb")
    Files.createDirectories(dir)
    Files.write(dir.resolve("crawl.warc.gz"), gzipMembers(
      warcinfo,
      // the keeper
      record("response", "http://news.example.com/story", page(prose),
        rt, extraHeaders = Seq("WARC-Payload-Digest: sha1:KEEP")),
      // same digest elsewhere -> dropped before decode
      record("response", "http://mirror.example.com/story", page(prose),
        rt, extraHeaders = Seq("WARC-Payload-Digest: sha1:KEEP")),
      // blocklisted domain (as a subdomain) and a keyword URL
      record("response", "http://x.spam-tracker.net/page", page(prose), rt),
      record("response", "http://ok.example.com/casino/promo",
        page(prose), rt),
      // word-list gate: otherwise-clean prose with a planted hit
      record("response", "http://ok.example.com/promo",
        page(prose + " Also try our jackpot tonight."), rt),
      // language gate
      record("response", "http://es.example.com/nota",
        page("el informe fue publicado el martes por la comision y " +
          "los resultados fueron consistentes con los estudios " +
          "anteriores segun las personas cerca del proceso"), rt),
      // same TEXT, different digest -> survives to the text dedup,
      // which collapses it into the keeper
      record("response", "http://copy.example.com/story", page(prose),
        rt, extraHeaders = Seq("WARC-Payload-Digest: sha1:OTHER"))))
    val yaml = Files.readString(
      java.nio.file.Paths.get("examples/llm_fineweb.yml"))
    val counts = new graft.pipeline.PipelineCompiler(spark,
      graft.pipeline.PipelineConfig.parse(yaml)).runBatch()
    assert(counts("fineweb_out") == 1L, s"got $counts")
    val kept = spark.table("fineweb_out")
      .select($"url", $"text").as[(String, String)].collect()
    // the exact-dedup keeper is min record-id (a uri-hash string), so
    // either story URL may represent the pair — the CONTENT is pinned
    assert(Set("http://news.example.com/story",
      "http://copy.example.com/story")(kept.head._1), s"got ${kept.head._1}")
    assert(kept.head._2.contains("committee released its final report"))
  }

  test("payload-digest dedup keeps the first copy per digest, every " +
      "digest-less record, and skips extraction for the dropped copies") {
    val dupBody = httpResponse("<p>same payload both times</p>")
    val warc =
      record("response", "http://a.com/1", dupBody,
        "application/http; msgtype=response",
        extraHeaders = Seq("WARC-Payload-Digest: sha1:AAA")) ++
      record("response", "http://a.com/2", dupBody,
        "application/http; msgtype=response",
        extraHeaders = Seq("WARC-Payload-Digest: sha1:AAA")) ++
      record("response", "http://a.com/3",
        httpResponse("<p>unique payload</p>"),
        "application/http; msgtype=response",
        extraHeaders = Seq("WARC-Payload-Digest: sha1:BBB")) ++
      record("response", "http://a.com/4",
        httpResponse("<p>no digest header</p>"),
        "application/http; msgtype=response") ++
      record("response", "http://a.com/5",
        httpResponse("<p>also digest-less</p>"),
        "application/http; msgtype=response")
    val path = tmpFile("digests.warc", warc)
    // records(): digest surfaces; dedupByDigest keeps first-by-
    // (file, rec_index) of AAA, BBB, and BOTH digest-less rows
    val kept = Warc.dedupByDigest(Warc.records(spark, path))
      .select($"target_uri").as[String].collect().toSet
    assert(kept == Set("http://a.com/1", "http://a.com/3",
      "http://a.com/4", "http://a.com/5"), s"got $kept")
    // documentsMeta(dedupDigest = true): same keeper set, digest rides
    val docs = Warc.documentsMeta(spark, path, dedupDigest = true)
      .select($"url", $"digest").as[(String, String)].collect().toMap
    assert(docs.keySet == kept)
    assert(docs("http://a.com/1") == "sha1:AAA" &&
      docs("http://a.com/4") == "")
    // documents() stays 3-column and un-deduped (compat surface)
    assert(Warc.documents(spark, path).columns.toSeq ==
      Seq("doc_id", "url", "text"))
    assert(Warc.documents(spark, path).count() == 5)
    // digestIndexPath: a prior snapshot carrying AAA drops BOTH copies
    // of it here (cross-snapshot dedup), BBB and the digest-less rows
    // survive — the warc receiver's digest_index_path contract
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-warc-digidx-").toString + "/idx"
    val prior = Seq(("p0", 0L, "sha1:AAA")).toDF(
      "file", "rec_index", "payload_digest")
    Warc.digestIndexBuild(prior, idxDir, "prior")
    val crossKept = Warc.documentsMeta(spark, path,
      digestIndexPath = Some(idxDir))
      .select($"url").as[String].collect().toSet
    assert(crossKept == Set("http://a.com/3", "http://a.com/4",
      "http://a.com/5"), s"got $crossKept")
  }

  test("dedupByDigest's window-top1 rewrites to TopKPerKey under the " +
      "graft extensions (map-side partial cap before the digest " +
      "exchange); without them Spark's own WindowGroupLimit caps") {
    val recs = (0L until 40L).map(i =>
      (s"f${i % 4}", i, s"d${i % 10}")).toDF(
      "file", "rec_index", "payload_digest")
    // extensions absent: vanilla Spark 4 inserts WindowGroupLimit —
    // a map-side group cap of its own, so the shape is never a full
    // window sort even on a stock session
    val vanilla = Warc.dedupByDigest(recs).queryExecution
      .optimizedPlan.toString
    assert(vanilla.contains("WindowGroupLimit") ||
      vanilla.contains("TopKPerKey"), vanilla)
    graft.plans.GraftExtensions.install(spark)
    val q = Warc.dedupByDigest(recs)
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("PartialTopK") &&
      physical.contains("FinalTopK"),
      s"RewriteWindowTopK did not fire:\n$physical")
    assert(q.count() == 10)
  }

  test("persisted digest index: snapshot B dedups against snapshot A " +
      "without reloading it; append closes the admission loop; compact " +
      "rewrites layout without changing the set; crash leftovers heal") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-digidx-").toString + "/idx"
    def recs(ids: Seq[Long], digestOf: Long => String) =
      ids.map(i => (s"f${i % 3}", i, digestOf(i))).toDF(
        "file", "rec_index", "payload_digest")
    // snapshot A: digests d0..d4 (with in-snapshot repeats)
    val snapA = recs(0L until 10L, i => s"d${i % 5}")
    Warc.digestIndexBuild(snapA, dir, "2026-07")
    // snapshot B: d3..d7 overlap d3,d4; plus two digest-less rows
    val snapB = recs(100L until 110L,
      i => if (i % 9 == 0) "" else s"d${3 + (i % 5)}")
    val s1 = Warc.dedupByDigestIndexed(snapB, dir)
    val kept1 = s1.select($"rec_index", $"payload_digest")
      .as[(Long, String)].collect().toMap
    // survivors: first copy of each NEW digest d5,d6,d7 + digest-less
    assert(kept1.values.filter(_.nonEmpty).toSet == Set("d5", "d6", "d7"),
      s"got $kept1")
    assert(kept1.count(_._2 == "") == 1) // rec 108 (the only i%9==0)
    // append survivors; re-running the same snapshot now drops every
    // digest-carrying row (exactly-once admission)
    assert(Warc.digestIndexAppendBatch(s1, dir, "2026-08", batchId = 0L))
    val s2 = Warc.dedupByDigestIndexed(snapB, dir)
    assert(s2.filter($"payload_digest" =!= "").count() == 0)
    assert(s2.filter($"payload_digest" === "").count() == 1)
    // compact: a layout rewrite only — the dedup outcome is unchanged
    Warc.digestIndexCompact(spark, dir)
    assert(Warc.dedupByDigestIndexed(snapB, dir)
      .filter($"payload_digest" =!= "").count() == 0)
    val snapC = recs(200L until 204L, i => s"d${i % 12}")
    val keptC = Warc.dedupByDigestIndexed(snapC, dir)
      .select($"payload_digest").as[String].collect().toSet
    assert(keptC == Set("d8", "d9", "d10", "d11"), s"got $keptC")
    // crash-heal: a torn uncommitted generation (compactor died
    // mid-write) is swept by recover and readers never resolve it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = new org.apache.hadoop.fs.Path(s"$dir/digests.gen-99")
    fs.mkdirs(torn)
    assert(Warc.digestIndexRecover(spark, dir))
    assert(!fs.exists(torn))
    assert(Warc.dedupByDigestIndexed(snapC, dir)
      .select($"payload_digest").as[String].collect().toSet == keptC)
  }
}
