package graft.sources.mqtt

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, EOFException,
  IOException, InputStream}
import java.lang.management.ManagementFactory
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The MQTT codec on bytes no well-behaved peer sends: remaining-length
  * varints longer than the 4 bytes §2.2.3 allows (overflowing or endless
  * continuation runs) and lengths claimed far ahead of the bytes that
  * follow. Each is checked through [[MqttCodec.readPacket]] and then over
  * real loopback sockets, against [[MiniMqttServer]] (hostile client) and
  * [[SocketMqttTransport]] (hostile broker): the malformed frame is
  * rejected, the connection is closed, and nothing waits on bytes that will
  * never make a valid packet.
  */
class MqttHostileBytesSpec extends AnyFunSuite {

  import MqttCodec._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Remaining-length varint of `n`, without the 4-byte cap. */
  private def varint(n: Long): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var v = n
    var more = true
    while (more) {
      val b = (v & 0x7F).toInt
      v >>>= 7
      more = v > 0
      out += (if (more) b | 0x80 else b)
    }
    out.result()
  }

  private def allocatedByThisThread: Long =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
      .getCurrentThreadAllocatedBytes

  // ---- readPacket --------------------------------------------------------

  test("a 5-byte remaining length is rejected at its 5th byte") {
    val in = new ByteArrayInputStream(bytes(0x30, 0x81, 0x80, 0x80, 0x80, 0x00, 0x41))
    val e = intercept[IOException](readPacket(in))
    assert(!e.isInstanceOf[EOFException], e.toString)
    assert(in.available() == 2, "read past the 4th length byte")
  }

  test("an overflowing 5th length byte is an IOException, never a negative array size") {
    val in = new ByteArrayInputStream(bytes(0x30, 0xFF, 0xFF, 0xFF, 0xFF, 0x0F))
    val e = intercept[IOException](readPacket(in))
    assert(!e.isInstanceOf[EOFException], e.toString)
  }

  test("a run of 0xFF continuation bytes is rejected at byte 5, not read to EOF") {
    val in = new ByteArrayInputStream(Array(0x30.toByte) ++ Array.fill(1000)(0xFF.toByte))
    val e = intercept[IOException](readPacket(in))
    assert(!e.isInstanceOf[EOFException], e.toString)
    assert(in.available() == 996)
  }

  test("the longest 4-byte remaining length is legal and waits for its body") {
    val in = new ByteArrayInputStream(bytes(0x30 +: varint(MaxRemainingLength): _*))
    val e = intercept[EOFException](readPacket(in))
    assert(e.getMessage.contains("mid-body"), e.getMessage)
  }

  test("a claimed length allocates only what arrives: 200 MB claimed, 3 bytes sent") {
    val frame = bytes((0x30 +: varint(200L * 1024 * 1024)) ++ Seq(1, 2, 3): _*)
    val before = allocatedByThisThread
    intercept[EOFException](readPacket(new ByteArrayInputStream(frame)))
    val allocated = allocatedByThisThread - before
    assert(allocated < (1L << 20), s"allocated $allocated bytes for a 3-byte body")
  }

  test("a body that trickles in a few bytes per read arrives whole") {
    val body = Array.tabulate[Byte](100000)(i => (i * 31).toByte)
    val out = new ByteArrayOutputStream()
    writePacket(out, PUBLISH, 0, body)
    val wire = new ByteArrayInputStream(out.toByteArray)
    val trickle = new InputStream {
      override def read(): Int = wire.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        wire.read(b, off, math.min(len, 7))
    }
    assert(java.util.Arrays.equals(readPacket(trickle).body, body))
  }

  // ---- MiniMqttServer facing a hostile client ----------------------------

  /** A raw client socket past CONNECT/CONNACK, reads bounded by a timeout. */
  private def connectedRaw(server: MiniMqttServer): (Socket, InputStream) = {
    val sock = new Socket(server.host, server.port)
    sock.setSoTimeout(5000)
    writePacket(sock.getOutputStream, CONNECT, 0,
      connectBody("hostile", cleanSession = true, 0, None, None))
    val in = new BufferedInputStream(sock.getInputStream)
    assert(readPacket(in).ptype == CONNACK)
    (sock, in)
  }

  private def eventually(ms: Long = 5000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + ms
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(10)
    cond
  }

  private def serverClosesOn(frame: Array[Byte], thenCloseOutput: Boolean): Unit = {
    val server = new MiniMqttServer()
    try {
      val (sock, in) = connectedRaw(server)
      try {
        assert(eventually()(server.clientCount == 1))
        sock.getOutputStream.write(frame)
        sock.getOutputStream.flush()
        if (thenCloseOutput) sock.shutdownOutput()
        // EOF, not a reply and not a read timeout
        assert(in.read() == -1, "server answered a malformed frame")
        assert(eventually()(server.clientCount == 0))
      } finally sock.close()
    } finally server.close()
  }

  test("server closes a connection whose PINGREQ carries a 5-byte remaining length") {
    serverClosesOn(bytes(0xC0, 0x80, 0x80, 0x80, 0x80, 0x00), thenCloseOutput = false)
  }

  test("server drops a 0xFF length run at byte 5 without waiting for more") {
    serverClosesOn(bytes(0x30, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF), thenCloseOutput = false)
  }

  test("server closes when a 200 MB claim is cut off after 3 bytes") {
    serverClosesOn(bytes((0x30 +: varint(200L * 1024 * 1024)) ++ Seq(1, 2, 3): _*),
      thenCloseOutput = true)
  }

  // ---- SocketMqttTransport facing a hostile broker -----------------------

  test("transport reports CONN_LOST and closes its socket on a malformed frame") {
    val broker = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    @volatile var sawClose = false
    // the broker waits longer for the close than the client is given to
    // report CONN_LOST, so a client still reading cannot pass on the
    // broker's own timeout
    val peer = new Thread(() => {
      val s = broker.accept()
      try {
        s.setSoTimeout(10000)
        val in = new BufferedInputStream(s.getInputStream)
        readPacket(in) // CONNECT
        writePacket(s.getOutputStream, CONNACK, 0, connackBody(sessionPresent = false, 0))
        s.getOutputStream.write(bytes(0x30, 0xFF, 0xFF, 0xFF, 0xFF, 0xFF))
        s.getOutputStream.flush()
        sawClose = in.read() == -1
      } catch { case _: IOException => () } finally s.close()
    }, "hostile-broker")
    peer.setDaemon(true)
    peer.start()
    val transport = new SocketMqttTransport()
    try {
      val acks = new AtomicInteger(0)
      val delivered = new AtomicInteger(0)
      transport.connect(
        MqttConfig.Endpoint("mqtt", "127.0.0.1", broker.getLocalPort, None, None, None, tls = false),
        "victim", cleanSession = true, keepaliveSec = 0, tls = None,
        new MqttTransport.Listener {
          override def onConnack(returnCode: Int): Unit = acks.incrementAndGet()
          override def onMessage(topic: String, payload: Array[Byte], qos: Int,
              retain: Boolean): Unit = delivered.incrementAndGet()
        })
      assert(eventually()(transport.loop() == MqttTransport.ErrConnLost),
        "reader still waiting on a malformed frame")
      assert(acks.get() == 1 && delivered.get() == 0)
      peer.join(11000)
      assert(sawClose, "the broker never saw the client close")
    } finally {
      transport.disconnect()
      broker.close()
    }
  }
}
