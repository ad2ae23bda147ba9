package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** e2e for the YAML `bind://` transport surface — the reference's primary
  * entry point (receiver_factory.go:10-37 / sink_head_factory.go:17-46
  * dispatch on the bind URI scheme; examples/tcp2stdout-config.yml is the
  * hello-world): a YAML pipeline opens a real TCP port, live sockets push
  * records through the DAG, and bind sinks write back out over sockets. */
class BindPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def sendLines(port: Int, lines: Seq[String], expectAck: Boolean): Unit = {
    val sock = new Socket("127.0.0.1", port)
    try {
      val out = sock.getOutputStream
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      lines.foreach { l =>
        out.write(s"$l\r\n".getBytes(StandardCharsets.UTF_8)); out.flush()
        if (expectAck) assert(in.readLine() == "OK")
      }
    } finally sock.close()
  }

  private def pollCount(path: String, want: Long, timeoutMs: Long = 30000): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var n = -1L
    while (n != want && System.currentTimeMillis() < deadline) {
      n = scala.util.Try(spark.read.parquet(path).count()).getOrElse(-1L)
      if (n != want) Thread.sleep(100)
    }
    n
  }

  test("tcp bind receiver streams live socket records through the DAG (follow mode)") {
    val out = Files.createTempDirectory("graft-bind-out-").toString + "/sink"
    val yaml =
      s"""actors:
        |  rcv: {module: core.receiver, params: {bind: "tcp://:0", channel: bind-e2e-tcp}}
        |  enc: {module: core.encoder_base64, params: {column: body}}
        |  out: {module: core.sink, params: {format: parquet, path: "$out"}}
        |pipeline:
        |  rcv: {connect: [enc]}
        |  enc: {connect: [out]}
        |""".stripMargin
    graft.sources.PushReceiver.clear("bind-e2e-tcp")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    // port 0 = ephemeral: startReceivers reports the real bound port
    val ports = compiler.startReceivers()
    assert(ports.keySet == Set("rcv") && ports("rcv") > 0, ports.toString)
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      sendLines(ports("rcv"), Seq("alpha", "beta", "gamma"), expectAck = true)
      assert(pollCount(out, 3) == 3)
      // bodies round-trip through the DAG (base64 of the socket lines)
      val got = spark.read.parquet(out)
        .select($"body".cast("string")).as[String].collect().toSet
      val want = Seq("alpha", "beta", "gamma")
        .map(s => java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8")))
        .toSet
      assert(got == want)
    } finally {
      queries.values.foreach(_.stop())
      queries.values.foreach(_.awaitTermination(30000))
      compiler.close()
    }
  }

  test("the shipped tcp2console example runs live end-to-end at an ephemeral port") {
    // the example as shipped, with its fixed port swapped for :0 so the
    // suite never collides with a busy port
    val yaml = Files.readString(Paths.get("examples/tcp2console.yml"))
      .replace("tcp://:7071", "tcp://:0")
    val cfg = PipelineConfig.parse(yaml)
    graft.sources.PushReceiver.clear("tcp_rcv")
    val compiler = new PipelineCompiler(spark, cfg)
    val ports = compiler.startReceivers()
    assert(ports("tcp_rcv") > 0)
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      sendLines(ports("tcp_rcv"), Seq("hello", "world"), expectAck = true)
      // file://STDOUT shows per batch; assert delivery via the channel
      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        done = queries("dumper").lastProgress != null &&
          queries("dumper").recentProgress.map(_.numInputRows).sum >= 2
        if (!done) Thread.sleep(100)
      }
      assert(done, "console sink never observed the 2 socket records")
    } finally {
      queries.values.foreach(_.stop())
      queries.values.foreach(_.awaitTermination(30000))
      compiler.close()
    }
  }

  private def httpPost(port: Int, path: String, body: String): (Int, String) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path").openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    if (body.nonEmpty) conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    (code, text)
  }

  test("http bind receiver streams POST bodies with query-param meta (follow mode)") {
    val out = Files.createTempDirectory("graft-bind-http-out-").toString + "/sink"
    val yaml =
      s"""actors:
        |  rcv: {module: core.receiver, params: {bind: "http://:0", channel: bind-e2e-http}}
        |  out: {module: core.sink, params: {format: parquet, path: "$out"}}
        |pipeline:
        |  rcv: {connect: [out]}
        |""".stripMargin
    graft.sources.PushReceiver.clear("bind-e2e-http")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val port = compiler.startReceivers()("rcv")
    assert(port > 0)
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      // reference status map (receiver_http.go:24-33): accepted -> 200 OK
      Seq("alpha", "beta").foreach { b =>
        val (code, text) = httpPost(port, "/v1alpha1?source=curl&attempt=1", b)
        assert(code == 200 && text == "OK", s"$code $text")
      }
      // empty body -> 400 Invalid message, and it must NOT enter the DAG
      val (badCode, badText) = httpPost(port, "/v1alpha1", "")
      assert(badCode == 400 && badText == "Invalid message")
      assert(pollCount(out, 2) == 2)
      val rows = spark.read.parquet(out)
        .select($"body".cast("string").as("b"), $"meta")
        .as[(String, Map[String, String])].collect().toMap
      assert(rows.keySet == Set("alpha", "beta"))
      // URL query params ride along as message meta
      rows.values.foreach(m =>
        assert(m == Map("source" -> "curl", "attempt" -> "1"), m.toString))
    } finally {
      queries.values.foreach(_.stop())
      queries.values.foreach(_.awaitTermination(30000))
      compiler.close()
    }
  }

  test("the shipped http2console example runs live end-to-end at an ephemeral port") {
    val yaml = Files.readString(Paths.get("examples/http2console.yml"))
      .replace("http://:7071", "http://:0")
    graft.sources.PushReceiver.clear("http_rcv")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val port = compiler.startReceivers()("http_rcv")
    assert(port > 0)
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      Seq("hello", "world").foreach { b =>
        assert(httpPost(port, "/v1alpha1?source=test", b)._1 == 200)
      }
      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        done = queries("dumper").lastProgress != null &&
          queries("dumper").recentProgress.map(_.numInputRows).sum >= 2
        if (!done) Thread.sleep(100)
      }
      assert(done, "console sink never observed the 2 POSTed records")
    } finally {
      queries.values.foreach(_.stop())
      queries.values.foreach(_.awaitTermination(30000))
      compiler.close()
    }
  }

  test("unix bind receiver streams socket lines through the DAG (follow mode)") {
    val sock = Files.createTempDirectory("graft-bind-unix-").resolve("listen.sock")
    val out = Files.createTempDirectory("graft-bind-unix-out-").toString + "/sink"
    val yaml =
      s"""actors:
        |  rcv: {module: core.receiver, params: {bind: "unix://$sock", channel: bind-e2e-unix}}
        |  enc: {module: core.encoder_base64, params: {column: body}}
        |  out: {module: core.sink, params: {format: parquet, path: "$out"}}
        |pipeline:
        |  rcv: {connect: [enc]}
        |  enc: {connect: [out]}
        |""".stripMargin
    graft.sources.PushReceiver.clear("bind-e2e-unix")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    // unix sockets have no port: startReceivers reports 0 but must bind
    assert(compiler.startReceivers() == Map("rcv" -> 0))
    assert(Files.exists(sock), s"socket file $sock not bound")
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      val ch = java.nio.channels.SocketChannel.open(
        java.net.StandardProtocolFamily.UNIX)
      ch.connect(java.net.UnixDomainSocketAddress.of(sock))
      ch.write(java.nio.ByteBuffer.wrap(
        "alpha\nbeta\ngamma\n".getBytes(StandardCharsets.UTF_8)))
      ch.close()
      assert(pollCount(out, 3) == 3)
      val got = spark.read.parquet(out)
        .select($"body".cast("string")).as[String].collect().toSet
      val want = Seq("alpha", "beta", "gamma")
        .map(s => java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8")))
        .toSet
      assert(got == want)
    } finally {
      queries.values.foreach(_.stop())
      queries.values.foreach(_.awaitTermination(30000))
      compiler.close()
    }
    // close() unlinks the socket file (receiver_unix.go:49-62 discipline)
    assert(!Files.exists(sock), "close() must unlink the socket file")
  }

  test("batch mode: receivers bound up front snapshot what sockets pushed") {
    val yaml =
      s"""actors:
        |  rcv: {module: core.receiver, params: {bind: "udp://:0", channel: bind-e2e-udp}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  rcv: {connect: [out]}
        |""".stripMargin
    graft.sources.PushReceiver.clear("bind-e2e-udp")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val port = compiler.startReceivers()("rcv")
    try {
      val sock = new java.net.DatagramSocket()
      val payload = "one\ntwo\n".getBytes(StandardCharsets.UTF_8)
      sock.send(new java.net.DatagramPacket(payload, payload.length,
        java.net.InetAddress.getLoopbackAddress, port))
      sock.close()
      // datagram delivery is async: wait for the channel, then run batch
      val deadline = System.currentTimeMillis() + 10000
      while (graft.sources.PushReceiver.size("bind-e2e-udp") < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val counts = compiler.runBatch()
      assert(counts("out") == 2L, counts.toString)
      val got = spark.table("out")
        .select($"body".cast("string")).as[String].collect().toSet
      assert(got == Set("one", "two"))
    } finally compiler.close()
  }

  /** A live server collecting CRLF-framed lines from every connection. */
  private def lineServer(): (java.net.ServerSocket, java.util.List[String]) = {
    val server = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val received = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val acceptor = new Thread(() => {
      try {
        while (!server.isClosed) {
          val s = server.accept()
          val r = new BufferedReader(
            new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
          var line = r.readLine()
          while (line != null) { received.add(line); line = r.readLine() }
          s.close()
        }
      } catch { case _: Exception => /* closing */ }
    })
    acceptor.setDaemon(true)
    acceptor.start()
    (server, received)
  }

  test("tcp bind sink writes each row back over a live socket") {
    val in = Files.createTempDirectory("graft-bind-sink-in-").toString
    Seq("r1", "r2", "r3").toDF("body").coalesce(1)
      .write.mode("overwrite").parquet(in)
    val (server, received) = lineServer()
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  out: {module: core.sink, params: {bind: "tcp://127.0.0.1:${server.getLocalPort}"}}
        |pipeline:
        |  src: {connect: [out]}
        |""".stripMargin
    try {
      val counts = new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
      assert(counts("out") == 3L)
      val deadline = System.currentTimeMillis() + 10000
      while (received.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      assert(received.asScala.toSet == Set("r1", "r2", "r3"))
    } finally server.close()
  }

  test("base64-encoded bodies reach a tcp bind sink as one line per message") {
    val in = Files.createTempDirectory("graft-bind-b64-in-").toString
    // 1-2 KiB bodies: chunked base64 would wrap each into 19-37 lines
    val bodies = (1 to 3).map(i => s"m$i-" + ("x" * (600 * i)))
    bodies.toDF("body").coalesce(1).write.mode("overwrite").parquet(in)
    val (server, received) = lineServer()
    val yaml =
      s"""actors:
        |  src: {module: core.receiver, params: {path: "$in"}}
        |  enc: {module: core.encoder_base64}
        |  out: {module: core.sink, params: {bind: "tcp://127.0.0.1:${server.getLocalPort}"}}
        |pipeline:
        |  src: {connect: [enc]}
        |  enc: {connect: [out]}
        |""".stripMargin
    try {
      val counts = new PipelineCompiler(spark, PipelineConfig.parse(yaml)).runBatch()
      assert(counts("out") == 3L)
      val deadline = System.currentTimeMillis() + 10000
      while (received.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(200) // a wrapped body would still be arriving as extra lines
      import scala.jdk.CollectionConverters._
      val lines = received.asScala.toList
      assert(lines.size == 3, s"${lines.size} lines for 3 messages")
      assert(lines.map(l => new String(java.util.Base64.getDecoder.decode(l),
        StandardCharsets.UTF_8)).toSet == bodies.toSet)
    } finally server.close()
  }

  test("an unrecognised bind protocol fails loudly with the scheme named") {
    val yaml =
      """actors:
        |  rcv: {module: core.receiver, params: {bind: "carrier-pigeon://:1"}}
        |  out: {module: core.sink, params: {format: memory}}
        |pipeline:
        |  rcv: {connect: [out]}
        |""".stripMargin
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val e = intercept[RuntimeException](compiler.startReceivers())
    assert(e.getMessage.contains("carrier-pigeon"), e.getMessage)
  }

  /** Line-collecting TCP server that can be killed and rebound on the
    * SAME port — the peer-restart half of the sink reconnect e2e. */
  private final class RestartableLineServer {
    private val received = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    @volatile private var server: java.net.ServerSocket = _
    def start(port: Int = 0): Int = {
      server = new java.net.ServerSocket()
      server.setReuseAddress(true)
      server.bind(new java.net.InetSocketAddress(
        java.net.InetAddress.getLoopbackAddress, port), 50)
      val bound = server
      val acceptor = new Thread(() => {
        try {
          while (!bound.isClosed) {
            val s = bound.accept()
            val worker = new Thread(() => {
              val r = new BufferedReader(
                new InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
              var line = r.readLine()
              while (line != null) { received.add(line); line = r.readLine() }
              s.close()
            })
            worker.setDaemon(true)
            worker.start()
          }
        } catch { case _: Exception => /* closing */ }
      })
      acceptor.setDaemon(true)
      acceptor.start()
      bound.getLocalPort
    }
    def kill(): Unit = server.close()
    def size: Int = received.size
    def lines: Seq[String] = {
      import scala.jdk.CollectionConverters._
      received.asScala.toSeq
    }
  }

  private def await(want: => Boolean, timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!want && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  test("a killed tcp sink peer gets the backlog after restart (reconnect discipline)") {
    val peer = new RestartableLineServer
    val port = peer.start()
    val yaml =
      s"""actors:
        |  rcv: {module: core.receiver, params: {bind: "tcp://:0", channel: bind-e2e-reconn, silent: true}}
        |  out: {module: core.sink, params: {bind: "tcp://127.0.0.1:$port"}}
        |pipeline:
        |  rcv: {connect: [out]}
        |""".stripMargin
    graft.sources.PushReceiver.clear("bind-e2e-reconn")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val rcvPort = compiler.startReceivers()("rcv")
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      sendLines(rcvPort, Seq("pre-1", "pre-2", "pre-3"), expectAck = false)
      await(peer.size == 3)
      assert(peer.lines.toSet == Set("pre-1", "pre-2", "pre-3"), peer.lines.toString)
      // kill the peer BETWEEN batches, push more records: the sink's
      // write fails connect, ReliableSink backs off and re-attempts with
      // a fresh connection each time (sink.go:80-110 discipline)
      peer.kill()
      Thread.sleep(300)
      sendLines(rcvPort, Seq("post-1", "post-2"), expectAck = false)
      Thread.sleep(500) // let at least one connect-refused attempt happen
      peer.start(port)  // peer returns on the SAME port
      await(peer.size == 5)
      // exact delivery: the backlog lands once, nothing dead-lettered
      assert(peer.lines.sorted ==
        Seq("post-1", "post-2", "pre-1", "pre-2", "pre-3"), peer.lines.toString)
      assert(compiler.deadLetterCounts.isEmpty, compiler.deadLetterCounts.toString)
      assert(queries("out").isActive)
    } finally {
      queries.values.foreach(_.stop())
      queries.values.foreach(_.awaitTermination(30000))
      compiler.close()
    }
  }

  test("an unreachable sink peer dead-letters the batch and the stream survives") {
    // nothing ever listens on the peer port; a tight retry budget makes
    // the exhaustion path fast
    val deadPort = { val s = new java.net.ServerSocket(0); val p = s.getLocalPort; s.close(); p }
    val yaml =
      s"""actors:
        |  rcv: {module: core.receiver, params: {bind: "tcp://:0", channel: bind-e2e-dlq, silent: true}}
        |  out: {module: core.sink, params: {bind: "tcp://127.0.0.1:$deadPort", max_attempts: 2, min_backoff_ms: 1}}
        |pipeline:
        |  rcv: {connect: [out]}
        |""".stripMargin
    graft.sources.PushReceiver.clear("bind-e2e-dlq")
    val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
    val rcvPort = compiler.startReceivers()("rcv")
    val queries = compiler.startStreaming(Map.empty,
      Trigger.ProcessingTime("100 milliseconds"))
    try {
      sendLines(rcvPort, Seq("doomed-1", "doomed-2"), expectAck = false)
      await(compiler.deadLetterCounts.get("out").exists(_._2 >= 2))
      val (batches, rows) = compiler.deadLetterCounts("out")
      assert(batches >= 1 && rows == 2, compiler.deadLetterCounts.toString)
      // the exhausted batch must NOT kill the daemon query
      assert(queries("out").isActive)
    } finally {
      queries.values.foreach(_.stop())
      queries.values.foreach(_.awaitTermination(30000))
      compiler.close()
    }
  }

  test("every shipped bind:// example starts as a streaming daemon; the " +
      "throttled one relays one copy per body") {
    import scala.jdk.CollectionConverters._
    val (server, received) = lineServer()
    val tmp = Files.createTempDirectory("graft-bind-examples-")
    val names = {
      val s = Files.list(Paths.get("examples"))
      try s.iterator.asScala.map(_.getFileName.toString).toList.sorted
      finally s.close()
    }.filter(n => n.endsWith(".yml") &&
      "bind: \"\\w+://".r.findFirstIn(
        Files.readString(Paths.get(s"examples/$n"))).isDefined)
    assert(names.contains("unix2tcp_throttled.yml"), names.toString)
    try names.foreach { name =>
      // receivers on ephemeral ports / a temp socket, tcp sinks on the
      // live line server
      val sock = tmp.resolve(name.stripSuffix(".yml") + ".sock")
      val yaml = Files.readString(Paths.get(s"examples/$name"))
        .replaceAll("unix://[^\"]+", s"unix://$sock")
        .replaceAll("(tcp|udp|http)://:\\d+", "$1://:0")
        .replaceAll("tcp://127\\.0\\.0\\.1:\\d+",
          s"tcp://127.0.0.1:${server.getLocalPort}")
      val cfg = PipelineConfig.parse(yaml)
      cfg.receivers.foreach(graft.sources.PushReceiver.clear)
      val compiler = new PipelineCompiler(spark, cfg)
      try {
        compiler.startReceivers()
        val queries = compiler.startStreaming(Map.empty,
          Trigger.ProcessingTime("100 milliseconds"))
        try {
          Thread.sleep(500)
          queries.foreach { case (sink, q) =>
            assert(q.isActive && q.exception.isEmpty, s"$name: $sink stopped")
          }
          if (name == "unix2tcp_throttled.yml") {
            val ch = java.nio.channels.SocketChannel.open(
              java.net.StandardProtocolFamily.UNIX)
            ch.connect(java.net.UnixDomainSocketAddress.of(sock))
            ch.write(java.nio.ByteBuffer.wrap(
              "dup\ndup\nsolo\n".getBytes(StandardCharsets.UTF_8)))
            ch.close()
            await(received.size >= 2)
            Thread.sleep(500) // a second "dup" would still be arriving
            assert(received.asScala.toList.sorted == List("dup", "solo"),
              received.toString)
          }
        } finally {
          queries.values.foreach(_.stop())
          queries.values.foreach(_.awaitTermination(30000))
        }
      } finally compiler.close()
    } finally server.close()
  }
}
