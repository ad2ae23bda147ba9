package graft.streaming

import java.io.BufferedOutputStream
import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket, StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.SocketChannel
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{ForeachWriter, Row}

/** Socket sink heads — the reference's sink transport family
  * (sink_head_tcp.go / sink_head_udp.go / sink_head_unix.go): each
  * ForeachWriter holds one connection per partition-task, writes the
  * configured column's bytes with CRLF framing (TCP/Unix; one datagram
  * per row for UDP), and reconnects per epoch (Structured Streaming
  * re-opens writers per partition per batch — the reconnect loop of
  * sink.go:80-110 maps onto writer lifecycle + ReliableSink retries).
  */
object NetSinks {

  /** TCP writer: rows go through one 64 KiB buffer per partition-task,
    * flushed only when the task closes cleanly — an errored task sends
    * nothing more, and the batch's retry resends it whole. */
  def tcpWriter(host: String, port: Int, column: String = "body"): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var socket: Socket = _
      @transient private var out: BufferedOutputStream = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        socket = new Socket(host, port)
        socket.setTcpNoDelay(true)
        out = new BufferedOutputStream(socket.getOutputStream, 1 << 16)
        true
      }
      override def process(row: Row): Unit = {
        out.write(valueBytes(row, column)); out.write('\r'); out.write('\n')
      }
      override def close(errorOrNull: Throwable): Unit =
        if (socket != null)
          try if (errorOrNull == null) out.flush() finally socket.close()
    }

  def udpWriter(host: String, port: Int, column: String = "body"): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var socket: DatagramSocket = _
      @transient private var addr: InetAddress = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        socket = new DatagramSocket(); addr = InetAddress.getByName(host); true
      }
      override def process(row: Row): Unit = {
        val bytes = valueBytes(row, column)
        socket.send(new DatagramPacket(bytes, bytes.length, addr, port))
      }
      override def close(errorOrNull: Throwable): Unit =
        if (socket != null) socket.close()
    }

  def unixWriter(path: String, column: String = "body"): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var ch: SocketChannel = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        ch = SocketChannel.open(StandardProtocolFamily.UNIX)
        ch.connect(UnixDomainSocketAddress.of(java.nio.file.Paths.get(path)))
        true
      }
      override def process(row: Row): Unit = {
        val bytes = valueBytes(row, column)
        val buf = ByteBuffer.allocate(bytes.length + 2)
        buf.put(bytes).put('\r'.toByte).put('\n'.toByte).flip()
        while (buf.hasRemaining) ch.write(buf)
      }
      override def close(errorOrNull: Throwable): Unit = if (ch != null) ch.close()
    }

  /** bind:// scheme dispatch for sink heads (the reference's
    * sink_head_factory.go:17-46: tcp/udp/unix resolved by URI prefix;
    * file:// is handled by the pipeline compiler, not a socket writer). */
  def writerFor(bind: String, column: String = "body"): ForeachWriter[Row] = bind match {
    case s if s.startsWith("tcp://") =>
      val (h, p) = hostPort(s.drop(6)); tcpWriter(h, p, column)
    case s if s.startsWith("udp://") =>
      val (h, p) = hostPort(s.drop(6)); udpWriter(h, p, column)
    case s if s.startsWith("unix://") => unixWriter(s.drop(7), column)
    case other => sys.error(s"unrecognised sink bind protocol: '$other' " +
      "(expected tcp:// udp:// unix:// file://)")
  }

  private def hostPort(s: String): (String, Int) = {
    val i = s.lastIndexOf(':')
    require(i > 0, s"sink bind needs host:port, got '$s'")
    (s.take(i), s.drop(i + 1).toInt)
  }

  /** Batch rendering of a ForeachWriter: one connection per partition
    * task, the same open/process/close lifecycle Structured Streaming
    * gives the writer per micro-batch epoch. */
  def writeBatch(df: org.apache.spark.sql.DataFrame, writer: ForeachWriter[Row]): Unit =
    df.foreachPartition { (rows: Iterator[Row]) =>
      val pid = Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0)
      if (writer.open(pid.toLong, 0L)) {
        try { rows.foreach(writer.process); writer.close(null) }
        catch { case e: Throwable => writer.close(e); throw e }
      }
    }

  private def valueBytes(row: Row, column: String): Array[Byte] =
    row.get(row.fieldIndex(column)) match {
      case b: Array[Byte] => b
      case s: String => s.getBytes(StandardCharsets.UTF_8)
      case other => String.valueOf(other).getBytes(StandardCharsets.UTF_8)
    }
}
