package graft.sources.mqtt

import java.io.{BufferedInputStream, BufferedOutputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.util.concurrent.atomic.AtomicInteger

import javax.net.ssl.{SSLContext, SSLSocketFactory, X509TrustManager}

import scala.util.control.NonFatal

/** [[MqttTransport]] over a REAL TCP (or TLS) socket — the live-network
  * front door the reference drives through paho
  * (/root/reference/mqtt2sql.py:843-897 dial + :899-924 loop), previously a
  * documented non-goal behind the scripted-fake seam. The [[MqttClient]]
  * state machine above this class is byte-for-byte unchanged: this is only
  * the wire.
  *
  * Shape (paho parity):
  *  - `connect` dials, sends CONNECT, and starts a daemon READER thread;
  *    CONNACK/PUBLISH arrive asynchronously through the listener while the
  *    client polls its connected flag (the reference's wait_for_connect) —
  *    exactly paho's network-thread-dispatches-callbacks model;
  *  - `loop()` is the health pump: returns ErrSuccess while the reader is
  *    alive, ErrConnLost once the peer drops (EOF/IO error on the reader),
  *    and owes the PINGREQ keepalive duty (sent at half the keepalive
  *    interval, §3.1.2.10);
  *  - `reconnect()` re-dials the remembered endpoint and re-sends CONNECT;
  *    re-SUBSCRIBE happens in the client's onConnack callback, as the
  *    reference does it (clean-session reconnects lose subscriptions,
  *    mqtt2sql.py:737-760 resubscribes from on_connect);
  *  - writes are synchronized (SUBSCRIBE from the reader-thread CONNACK
  *    callback can interleave with PINGREQ from the loop thread).
  *
  * TLS: engaged when options are present — default JSSE verification, or an
  * all-trusting context with `insecure` (the reference's tls_insecure_set,
  * mqtt2sql.py:875; same security caveat applies).
  */
final class SocketMqttTransport(
    connectTimeoutMs: Int = 5000,
    nowMs: () => Long = () => System.currentTimeMillis())
  extends MqttTransport {

  import MqttCodec._
  import MqttTransport._

  private final case class Session(endpoint: MqttConfig.Endpoint, clientId: String,
      cleanSession: Boolean, keepaliveSec: Int, tls: Option[TlsOptions],
      listener: Listener)

  @volatile private var status = ErrSuccess
  @volatile private var closing = false
  private var session: Session = _
  private var socket: Socket = _
  private var out: OutputStream = _
  private var lastWriteMs = 0L
  private val packetIds = new AtomicInteger(0)
  // dial generation: a reader whose socket dies may only flip the status if
  // ITS dial is still the current one — otherwise the dying gasp of the
  // pre-reconnect reader would mark a fresh connection CONN_LOST
  private val epoch = new AtomicInteger(0)

  override def connect(endpoint: MqttConfig.Endpoint, clientId: String,
      cleanSession: Boolean, keepaliveSec: Int, tls: Option[TlsOptions],
      listener: Listener): Unit = synchronized {
    session = Session(endpoint, clientId, cleanSession, keepaliveSec, tls, listener)
    dial()
  }

  override def reconnect(): Unit = synchronized {
    require(session != null, "reconnect before connect")
    closeQuietly()
    dial()
  }

  private def dial(): Unit = {
    val s = session
    socket = openSocket(s.endpoint, s.tls)
    closing = false
    status = ErrSuccess
    val myEpoch = epoch.incrementAndGet()
    out = new BufferedOutputStream(socket.getOutputStream)
    writeSync(CONNECT, 0, connectBody(s.clientId, s.cleanSession, s.keepaliveSec,
      s.endpoint.username, s.endpoint.password))
    val sock = socket
    val reader = new Thread(() => readLoop(sock, s.listener, myEpoch),
      s"graft-mqtt-reader-${s.clientId}")
    reader.setDaemon(true)
    reader.start()
  }

  private def openSocket(ep: MqttConfig.Endpoint, tls: Option[TlsOptions]): Socket =
    tls match {
      case None =>
        val sock = new Socket()
        sock.connect(new InetSocketAddress(ep.host, ep.port), connectTimeoutMs)
        sock
      case Some(t) =>
        val factory: SSLSocketFactory =
          if (t.insecure) {
            // reference parity: tls_insecure_set skips verification
            val trustAll = new X509TrustManager {
              override def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
              override def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
              override def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
            }
            val ctx = SSLContext.getInstance("TLS")
            ctx.init(null, Array(trustAll), new java.security.SecureRandom())
            ctx.getSocketFactory
          } else SSLContext.getDefault.getSocketFactory
        val plain = new Socket()
        plain.connect(new InetSocketAddress(ep.host, ep.port), connectTimeoutMs)
        factory.createSocket(plain, ep.host, ep.port, true)
    }

  /** Reader thread: dispatch inbound packets to the listener until the
    * socket dies; a non-orderly death flips the status [[loop]] reports to
    * CONN_LOST (paho's network-loop error surface).
    */
  private def readLoop(sock: Socket, listener: Listener, myEpoch: Int): Unit =
    try {
      val in = new BufferedInputStream(sock.getInputStream)
      while (!closing) {
        val p = readPacket(in)
        p.ptype match {
          case CONNACK => listener.onConnack(parseConnack(p.body))
          case PUBLISH =>
            val pub = parsePublish(p.flags, p.body)
            listener.onMessage(pub.topic, pub.payload, pub.qos, pub.retain)
          case SUBACK | PINGRESP => () // acknowledged; nothing to track at QoS 0
          case _ => ()
        }
      }
    } catch {
      case NonFatal(_) =>
        if (!closing && epoch.get() == myEpoch) status = ErrConnLost
        // a malformed frame leaves the stream unframeable: drop the socket
        // so the peer sees the close, not a connection that went quiet
        try sock.close() catch { case NonFatal(_) => () }
    }

  override def subscribe(topicFilter: String, qos: Int): Unit = {
    val id = (packetIds.incrementAndGet() & 0xFFFF) max 1
    writeSync(SUBSCRIBE, 0x02, subscribeBody(id, topicFilter, qos))
  }

  /** Health pump: paho's loop(timeout) analog. Blocks briefly (the caller
    * spins on it), honors the PINGREQ keepalive duty, and reports the
    * reader's verdict.
    */
  override def loop(): Int = {
    if (status != ErrSuccess) return status
    val s = session
    if (s != null && s.keepaliveSec > 0 &&
        nowMs() - lastWriteMs >= s.keepaliveSec * 1000L / 2) {
      try writeSync(PINGREQ, 0, Array.emptyByteArray)
      catch { case NonFatal(_) => if (!closing) status = ErrConnLost }
    }
    if (status == ErrSuccess) Thread.sleep(5L)
    status
  }

  override def disconnect(): Unit = synchronized {
    closing = true
    try writeSync(DISCONNECT, 0, Array.emptyByteArray)
    catch { case NonFatal(_) => () }
    closeQuietly()
  }

  private def writeSync(ptype: Int, flags: Int, body: Array[Byte]): Unit =
    out.synchronized {
      writePacket(out, ptype, flags, body)
      lastWriteMs = nowMs()
    }

  private def closeQuietly(): Unit = {
    epoch.incrementAndGet() // retire the current reader's verdict rights
    closing = true
    if (socket != null) {
      try socket.close() catch { case NonFatal(_) => () }
    }
  }
}
