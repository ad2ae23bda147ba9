package graft.pipeline

import java.io.{BufferedReader, InputStreamReader}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Runs the shipped network-transport examples end-to-end over LIVE
  * sockets — the reference's fanout / replicator / throttled relay
  * shapes (examples/udp2fanout-tcp-config.yml,
  * udp2tcp_replicator-config.yml, unix2tcp-throttled-config.yml):
  * datagrams in, a routing stage, CRLF-framed records out over real
  * TCP connections. Fixed example ports are rewritten to ephemeral
  * ones so the suite never collides with a busy port. */
class NetExamplesSpec extends SparkSpec {

  /** Live loopback TCP server collecting newline-framed lines. */
  private final class LineServer {
    private val server =
      new ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    private val received = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    private val acceptor = new Thread(() => {
      try {
        while (!server.isClosed) {
          val s = server.accept()
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
    def port: Int = server.getLocalPort
    def size: Int = received.size
    def lines: Seq[String] = {
      import scala.jdk.CollectionConverters._
      received.asScala.toSeq
    }
    def close(): Unit = server.close()
  }

  private def awaitAtLeast(want: Long, timeoutMs: Long = 10000)(size: => Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (size < want && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  private def sendUdp(port: Int, payload: String): Unit = {
    val sock = new java.net.DatagramSocket()
    val bytes = payload.getBytes(StandardCharsets.UTF_8)
    sock.send(new java.net.DatagramPacket(bytes, bytes.length,
      java.net.InetAddress.getLoopbackAddress, port))
    sock.close()
  }

  /** Load an example, swap its fixed tcp sink ports for the live
    * servers' ephemeral ones and its receiver bind for `recvBind`. */
  private def rewrite(name: String, recvFrom: String, recvTo: String,
                      sinks: Seq[(String, LineServer)]): String =
    sinks.foldLeft(
      Files.readString(Paths.get(s"examples/$name")).replace(recvFrom, recvTo)) {
      case (y, (p, s)) => y.replace(s"tcp://127.0.0.1:$p", s"tcp://127.0.0.1:${s.port}")
    }

  test("udp2fanout_tcp example splits datagrams across three live tcp sinks") {
    val servers = Seq.fill(3)(new LineServer)
    try {
      val yaml = rewrite("udp2fanout_tcp.yml", "udp://:3101", "udp://:0",
        Seq("7222", "7223", "7224").zip(servers))
      graft.sources.PushReceiver.clear("udp_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      val port = compiler.startReceivers()("udp_rcv")
      try {
        val lines = (1 to 9).map(i => s"msg-$i")
        sendUdp(port, lines.mkString("", "\n", "\n"))
        // datagram delivery is async: wait for the channel, then snapshot
        awaitAtLeast(9)(graft.sources.PushReceiver.size("udp_rcv"))
        val counts = compiler.runBatch()
        assert(counts.values.sum == 9L, counts.toString)
        awaitAtLeast(9)(servers.map(_.size).sum)
        // fanout: every record delivered exactly once, split across peers
        val all = servers.flatMap(_.lines)
        assert(all.size == 9 && all.toSet == lines.toSet, all.toString)
      } finally compiler.close()
    } finally servers.foreach(_.close())
  }

  test("udp2tcp_replicator example places 2 content-hash copies on 3 live sinks") {
    val servers = Seq.fill(3)(new LineServer)
    try {
      val yaml = rewrite("udp2tcp_replicator.yml", "udp://:3101", "udp://:0",
        Seq("7222", "7223", "7224").zip(servers))
      graft.sources.PushReceiver.clear("udp_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      val port = compiler.startReceivers()("udp_rcv")
      try {
        val lines = (1 to 6).map(i => s"payload-$i")
        sendUdp(port, lines.mkString("", "\n", "\n"))
        awaitAtLeast(6)(graft.sources.PushReceiver.size("udp_rcv"))
        val counts = compiler.runBatch()
        // ncopy n=2 over 3 peers: exactly two copies of every message
        assert(counts.values.sum == 12L, counts.toString)
        awaitAtLeast(12)(servers.map(_.size).sum)
        lines.foreach { l =>
          val on = servers.filter(_.lines.contains(l))
          assert(on.size == 2, s"$l must land on exactly 2 distinct peers")
          on.foreach(s => assert(s.lines.count(_ == l) == 1,
            s"$l must appear once per chosen peer"))
        }
      } finally compiler.close()
    } finally servers.foreach(_.close())
  }

  test("unix2tcp_throttled example admits quota per body and relays over tcp") {
    val server = new LineServer
    val sock = Files.createTempDirectory("graft-ex-unix-").resolve("flowd.sock")
    try {
      val yaml = rewrite("unix2tcp_throttled.yml",
        "unix:///tmp/graft-flowd.sock", s"unix://$sock",
        Seq("7222" -> server))
      graft.sources.PushReceiver.clear("unix_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      compiler.startReceivers()
      try {
        val ch = java.nio.channels.SocketChannel.open(
          java.net.StandardProtocolFamily.UNIX)
        ch.connect(java.net.UnixDomainSocketAddress.of(sock))
        val payload = (Seq.fill(5)("dup") ++ Seq("solo-1", "solo-2"))
          .mkString("", "\n", "\n")
        ch.write(java.nio.ByteBuffer.wrap(
          payload.getBytes(StandardCharsets.UTF_8)))
        ch.close()
        awaitAtLeast(7)(graft.sources.PushReceiver.size("unix_rcv"))
        val counts = compiler.runBatch()
        // GCRA at 1 rps per body: 1 of the 5 same-instant dups + both solos
        assert(counts("tcp_sink") == 3L, counts.toString)
        awaitAtLeast(3)(server.size)
        assert(server.lines.count(_ == "dup") == 1, server.lines.toString)
        assert(server.lines.count(_.startsWith("solo-")) == 2, server.lines.toString)
      } finally compiler.close()
    } finally server.close()
  }

  /** Live loopback UDP collector — one received datagram, one line. */
  private final class UdpServer {
    private val sock = new java.net.DatagramSocket(new java.net.InetSocketAddress(
      java.net.InetAddress.getLoopbackAddress, 0))
    private val received = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    private val t = new Thread(() => {
      val buf = new Array[Byte](65536)
      try while (!sock.isClosed) {
        val pkt = new java.net.DatagramPacket(buf, buf.length)
        sock.receive(pkt)
        received.add(new String(pkt.getData, pkt.getOffset, pkt.getLength,
          StandardCharsets.UTF_8))
      } catch { case _: Exception => /* closing */ }
    })
    t.setDaemon(true)
    t.start()
    def port: Int = sock.getLocalPort
    def size: Int = received.size
    def lines: Seq[String] = {
      import scala.jdk.CollectionConverters._
      received.asScala.toSeq
    }
    def close(): Unit = sock.close()
  }

  private def sendTcp(port: Int, lines: Seq[String]): Unit = {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = sock.getOutputStream
      val in = new BufferedReader(
        new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      lines.foreach { l =>
        out.write(s"$l\r\n".getBytes(StandardCharsets.UTF_8)); out.flush()
        assert(in.readLine() == "OK")
      }
    } finally sock.close()
  }

  private def sendUnix(path: java.nio.file.Path, payload: String): Unit = {
    val ch = java.nio.channels.SocketChannel.open(
      java.net.StandardProtocolFamily.UNIX)
    ch.connect(java.net.UnixDomainSocketAddress.of(path))
    ch.write(java.nio.ByteBuffer.wrap(payload.getBytes(StandardCharsets.UTF_8)))
    ch.close()
  }

  private def httpPost(port: Int, body: String): Int = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port/v1alpha1")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
    val code = conn.getResponseCode
    conn.getInputStream.readAllBytes()
    code
  }

  test("http2tcp example replicates each POST to a live tcp sink and the console") {
    val server = new LineServer
    try {
      val yaml = Files.readString(Paths.get("examples/http2tcp.yml"))
        .replace("http://:8081/v1alpha1", "http://:0/v1alpha1")
        .replace("tcp://127.0.0.1:7071", s"tcp://127.0.0.1:${server.port}")
      graft.sources.PushReceiver.clear("http_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      val port = compiler.startReceivers()("http_rcv")
      try {
        val bodies = Seq("alpha", "beta", "gamma")
        bodies.foreach(b => assert(httpPost(port, b) == 200))
        val counts = compiler.runBatch()
        // mode=each: every record on BOTH branches
        assert(counts == Map("tcp_sink" -> 3L, "dumper" -> 3L), counts.toString)
        awaitAtLeast(3)(server.size)
        assert(server.lines.toSet == bodies.toSet, server.lines.toString)
      } finally compiler.close()
    } finally server.close()
  }

  test("udp2udp example relays datagrams one-in one-out") {
    val collector = new UdpServer
    try {
      val yaml = Files.readString(Paths.get("examples/udp2udp.yml"))
        .replace("udp://:3101", "udp://:0")
        .replace("udp://127.0.0.1:7722", s"udp://127.0.0.1:${collector.port}")
      graft.sources.PushReceiver.clear("udp_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      val port = compiler.startReceivers()("udp_rcv")
      try {
        val lines = (1 to 5).map(i => s"dgram-$i")
        sendUdp(port, lines.mkString("", "\n", "\n"))
        awaitAtLeast(5)(graft.sources.PushReceiver.size("udp_rcv"))
        val counts = compiler.runBatch()
        assert(counts == Map("udp_sink" -> 5L), counts.toString)
        awaitAtLeast(5)(collector.size)
        assert(collector.lines.toSet == lines.toSet, collector.lines.toString)
      } finally compiler.close()
    } finally collector.close()
  }

  test("unix2udp example demuxes each record to a udp sink and the console") {
    val collector = new UdpServer
    val sock = Files.createTempDirectory("graft-ex-u2u-").resolve("flow.sock")
    try {
      val yaml = Files.readString(Paths.get("examples/unix2udp.yml"))
        .replace("unix:///tmp/graft-flow.sock", s"unix://$sock")
        .replace("udp://127.0.0.1:7722", s"udp://127.0.0.1:${collector.port}")
      graft.sources.PushReceiver.clear("unix_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      compiler.startReceivers()
      try {
        val lines = (1 to 4).map(i => s"rec-$i")
        sendUnix(sock, lines.mkString("", "\n", "\n"))
        awaitAtLeast(4)(graft.sources.PushReceiver.size("unix_rcv"))
        val counts = compiler.runBatch()
        assert(counts == Map("udp_sink" -> 4L, "dumper" -> 4L), counts.toString)
        awaitAtLeast(4)(collector.size)
        assert(collector.lines.toSet == lines.toSet, collector.lines.toString)
      } finally compiler.close()
    } finally collector.close()
  }

  test("tcp2fanout example splits acked tcp records across six live sinks") {
    val servers = Seq.fill(6)(new LineServer)
    try {
      val yaml = rewrite("tcp2fanout.yml", "tcp://:3110", "tcp://:0",
        (7222 to 7227).map(_.toString).zip(servers))
      graft.sources.PushReceiver.clear("tcp_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      val port = compiler.startReceivers()("tcp_rcv")
      try {
        val lines = (1 to 12).map(i => s"msg-$i")
        sendTcp(port, lines)
        awaitAtLeast(12)(graft.sources.PushReceiver.size("tcp_rcv"))
        val counts = compiler.runBatch()
        assert(counts.values.sum == 12L, counts.toString)
        awaitAtLeast(12)(servers.map(_.size).sum)
        val all = servers.flatMap(_.lines)
        assert(all.size == 12 && all.toSet == lines.toSet, all.toString)
      } finally compiler.close()
    } finally servers.foreach(_.close())
  }

  test("unix2fanout example splits unix-socket records across six live sinks") {
    val servers = Seq.fill(6)(new LineServer)
    val sock = Files.createTempDirectory("graft-ex-ufan-").resolve("flowd-fan.sock")
    try {
      val yaml = rewrite("unix2fanout.yml",
        "unix:///tmp/graft-flowd-fan.sock", s"unix://$sock",
        (7222 to 7227).map(_.toString).zip(servers))
      graft.sources.PushReceiver.clear("unix_rcv")
      val compiler = new PipelineCompiler(spark, PipelineConfig.parse(yaml))
      compiler.startReceivers()
      try {
        val lines = (1 to 12).map(i => s"urec-$i")
        sendUnix(sock, lines.mkString("", "\n", "\n"))
        awaitAtLeast(12)(graft.sources.PushReceiver.size("unix_rcv"))
        val counts = compiler.runBatch()
        assert(counts.values.sum == 12L, counts.toString)
        awaitAtLeast(12)(servers.map(_.size).sum)
        val all = servers.flatMap(_.lines)
        assert(all.size == 12 && all.toSet == lines.toSet, all.toString)
      } finally compiler.close()
    } finally servers.foreach(_.close())
  }
}
