package graft.streaming

import java.io.{DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong

/** Embedded MQTT 3.1.1 transport leg — SURVEY §2.1 S1 (reference:
  * MyDatacollector/lib/MyMQTTclient.py:431-604, the TTN MQTT
  * subscription that is the reference's front door). The sandbox is
  * zero-egress and carries no MQTT/Kafka jars, so the live-subscribe leg
  * is proven with a REAL protocol round trip instead of a stub: a
  * minimal in-process broker + publisher + subscriber speaking actual
  * MQTT 3.1.1 control packets over TCP (wire format per the public
  * OASIS MQTT 3.1.1 standard: fixed header with varint Remaining
  * Length; CONNECT/CONNACK, SUBSCRIBE/SUBACK with +/# topic filters,
  * QoS-0 PUBLISH, PINGREQ/PINGRESP, DISCONNECT).
  *
  * The subscriber side is [[MqttSubscriberBridge]]: it SUBSCRIBEs like
  * the reference client and forwards each received message as one
  * `topic payload` line to a localhost line server that Spark's socket
  * source reads — so the telegram stream enters the IDENTICAL parse
  * pipeline through [[Transport.Socket]], which is exactly the
  * reference's on_message → record-import handoff
  * (MyMQTTclient.py:560-604). A production deployment replaces this
  * in-process pair with a managed broker + the Kafka bridge
  * ([[Transport.Kafka]]); the subscribe/decode/forward state machine is
  * the same.
  *
  * Dev/test grade on purpose: QoS 0 only (the reference subscribes at
  * QoS 0 — MyMQTTclient.py:549), no retained messages, no session
  * resumption. Everything is daemon threads; `close()` is idempotent.
  */
object Mqtt {

  // ---- MQTT 3.1.1 wire codec -------------------------------------------

  private[streaming] object Codec {
    val CONNECT = 1; val CONNACK = 2; val PUBLISH = 3; val SUBSCRIBE = 8
    val SUBACK = 9; val PINGREQ = 12; val PINGRESP = 13; val DISCONNECT = 14

    /** One control packet: (type, flags, body). */
    final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

    def readPacket(in: DataInputStream): Packet = {
      val h = in.read()
      if (h < 0) throw new EOFException("connection closed")
      // Remaining Length: 7-bit varint, little-endian groups, ≤ 4 bytes
      var len = 0; var shift = 0; var more = true
      while (more) {
        val b = in.read()
        if (b < 0) throw new EOFException("truncated remaining length")
        len |= (b & 0x7f) << shift
        shift += 7
        more = (b & 0x80) != 0
        if (shift > 28) throw new IllegalStateException("bad remaining length")
      }
      val body = new Array[Byte](len)
      in.readFully(body)
      Packet((h >> 4) & 0xf, h & 0xf, body)
    }

    def writePacket(out: DataOutputStream, ptype: Int, flags: Int,
                    body: Array[Byte]): Unit = out.synchronized {
      out.write((ptype << 4) | flags)
      var len = body.length
      do {
        var b = len & 0x7f
        len >>= 7
        if (len > 0) b |= 0x80
        out.write(b)
      } while (len > 0)
      out.write(body)
      out.flush()
    }

    def str(s: String): Array[Byte] = {
      val b = s.getBytes(UTF_8)
      val o = new Array[Byte](b.length + 2)
      o(0) = ((b.length >> 8) & 0xff).toByte; o(1) = (b.length & 0xff).toByte
      System.arraycopy(b, 0, o, 2, b.length)
      o
    }

    /** Reads the length-prefixed UTF-8 string at `off`; returns (s, next). */
    def readStr(b: Array[Byte], off: Int): (String, Int) = {
      val n = ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
      (new String(b, off + 2, n, UTF_8), off + 2 + n)
    }

    def concat(parts: Array[Byte]*): Array[Byte] = {
      val o = new Array[Byte](parts.map(_.length).sum)
      var p = 0
      parts.foreach { a => System.arraycopy(a, 0, o, p, a.length); p += a.length }
      o
    }

    /** MQTT topic-filter match: '+' one level, '#' all remaining
      * (spec 4.7.1). */
    def topicMatches(filter: String, topic: String): Boolean = {
      val f = filter.split("/", -1); val t = topic.split("/", -1)
      var i = 0
      while (i < f.length) {
        if (f(i) == "#") return true
        if (i >= t.length) return false
        if (f(i) != "+" && f(i) != t(i)) return false
        i += 1
      }
      i == t.length
    }
  }

  // ---- broker ------------------------------------------------------------

  /** In-process QoS-0 broker. `new MqttBroker().port` is ephemeral. */
  final class MqttBroker {
    import Codec._
    private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
    val port: Int = server.getLocalPort
    val host: String = InetAddress.getLoopbackAddress.getHostAddress
    private val nextId = new AtomicLong()
    // connId -> (subscribed filters, guarded output stream)
    private val subs = new ConcurrentHashMap[Long, (java.util.List[String], DataOutputStream)]()
    @volatile private var open = true

    private val acceptor = daemon("mqtt-broker-accept") {
      while (open) {
        try {
          val sock = server.accept()
          val id = nextId.incrementAndGet()
          daemon(s"mqtt-broker-conn-$id")(serve(id, sock))
        } catch { case _: Exception => () }
      }
    }

    private def serve(id: Long, sock: Socket): Unit = {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      try {
        val c = readPacket(in)
        require(c.ptype == CONNECT, s"expected CONNECT, got ${c.ptype}")
        // session-present 0, return code 0 (accepted)
        writePacket(out, CONNACK, 0, Array[Byte](0, 0))
        val filters = new java.util.concurrent.CopyOnWriteArrayList[String]()
        subs.put(id, (filters, out))
        var live = true
        while (live) {
          val p = readPacket(in)
          p.ptype match {
            case SUBSCRIBE =>
              val pid = p.body.take(2)
              var off = 2
              val codes = scala.collection.mutable.ArrayBuffer[Byte]()
              while (off < p.body.length) {
                val (f, next) = readStr(p.body, off)
                filters.add(f)
                codes += 0 // granted QoS 0
                off = next + 1 // skip requested-QoS byte
              }
              writePacket(out, SUBACK, 0, concat(pid, codes.toArray))
            case PUBLISH =>
              val (topic, off) = readStr(p.body, 0)
              val payload = java.util.Arrays.copyOfRange(p.body, off, p.body.length)
              route(topic, payload)
            case PINGREQ => writePacket(out, PINGRESP, 0, Array.emptyByteArray)
            case DISCONNECT => live = false
            case _ => () // QoS>0 acks etc. — outside the dev-grade contract
          }
        }
      } catch { case _: Exception => () } finally {
        subs.remove(id)
        scala.util.Try(sock.close())
      }
    }

    /** Fan a QoS-0 PUBLISH out to every matching subscriber. */
    private def route(topic: String, payload: Array[Byte]): Unit = {
      val body = concat(str(topic), payload)
      subs.forEach { (_, entry) =>
        val (filters, out) = entry
        if (filters.stream().anyMatch(f => topicMatches(f, topic)))
          try writePacket(out, PUBLISH, 0, body)
          catch { case _: Exception => () } // dead conn reaped by its reader
      }
    }

    def close(): Unit = { open = false; scala.util.Try(server.close()) }
  }

  // ---- publisher -----------------------------------------------------------

  /** QoS-0 publishing client (the fixture feeder in tests; in the
    * reference this role is TTN's cloud MQTT endpoint). */
  final class MqttPublisher(host: String, port: Int, clientId: String = "graft-pub") {
    import Codec._
    private val sock = new Socket(host, port)
    private val in = new DataInputStream(sock.getInputStream)
    private val out = new DataOutputStream(sock.getOutputStream)
    connect()

    private def connect(): Unit = {
      val vh = concat(str("MQTT"), Array[Byte](4, 2 /* clean session */, 0, 60))
      writePacket(out, CONNECT, 0, concat(vh, str(clientId)))
      val ack = readPacket(in)
      require(ack.ptype == CONNACK && ack.body(1) == 0, "CONNACK refused")
    }

    def publish(topic: String, payload: String): Unit =
      writePacket(out, PUBLISH, 0,
        concat(str(topic), payload.getBytes(UTF_8)))

    def close(): Unit = {
      scala.util.Try(writePacket(out, DISCONNECT, 0, Array.emptyByteArray))
      scala.util.Try(sock.close())
    }
  }

  // ---- collecting subscriber ----------------------------------------------

  /** Collecting QoS-0 subscriber — the ASSERTION end of the K6 live
    * republish leg (and any test that must see what a downstream broker
    * consumer would): SUBSCRIBEs like a real client and exposes every
    * received (topic, payload) pair. */
  final class MqttCollector(host: String, port: Int, topicFilter: String,
                            clientId: String = "graft-col") {
    private val sock = new Socket(host, port)
    private val queue = new LinkedBlockingQueue[(String, String)]()
    private val subscribed = new CountDownLatch(1)
    @volatile private var open = true

    subscribe("mqtt-collector", sock, clientId, topicFilter, subscribed, open) {
      (topic, payload) => queue.put((topic, payload))
    }

    def awaitSubscribed(): Unit = subscribed.await()

    /** Blocks until `n` messages arrived or `timeoutMs` elapsed; returns
      * what arrived (order = broker delivery order). */
    def take(n: Int, timeoutMs: Long): Seq[(String, String)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
      val deadline = System.currentTimeMillis() + timeoutMs
      while (out.size < n && System.currentTimeMillis() < deadline) {
        val m = queue.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (m != null) out += m
      }
      out.toSeq
    }

    def close(): Unit = { open = false; scala.util.Try(sock.close()) }
  }

  // ---- subscriber bridge ---------------------------------------------------

  /** MQTT subscriber that forwards every received message as one
    * `topic payload` line to a localhost line server — the feed for
    * [[Transport.Socket]]. Lines received before the socket source
    * connects are buffered, so publish/subscribe ordering races with
    * Spark's query start are benign. The subscriber thread appends each
    * line to that history; writers hold its lock only to read a line,
    * never while writing to a socket.
    *
    * Reconnect contract (ADVICE r12): the line server accepts in a LOOP
    * and serves every connection on a writer thread of its own, which
    * replays the full line history from the start —
    * a socket-source reconnect (query restart, task retry) therefore
    * re-reads the whole feed instead of silently losing everything after
    * the first connection (and broken pipes are detected via
    * `PrintWriter.checkError()`, which println alone swallows). History
    * is unbounded by design: this is the dev/test-grade transport (the
    * production path is a managed broker + Kafka bridge), and replay-
    * from-zero matches the socket source's no-offset-tracking recovery
    * semantics. */
  final class MqttSubscriberBridge(brokerHost: String, brokerPort: Int,
                                   topicFilter: String,
                                   clientId: String = "graft-sub") {
    private val lineServer = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val linePort: Int = lineServer.getLocalPort
    val lineHost: String = InetAddress.getLoopbackAddress.getHostAddress
    private val history = new java.util.ArrayList[String]()
    private val subscribed = new CountDownLatch(1)
    @volatile private var open = true

    private val sock = new Socket(brokerHost, brokerPort)

    subscribe("mqtt-bridge-sub", sock, clientId, topicFilter, subscribed, open) {
      (topic, payload) => history.synchronized {
        history.add(s"$topic $payload"); history.notifyAll()
      }
    }

    // one writer per connection: a socket source that hung up leaves its
    // writer waiting for the next line, which must not block the reconnect
    daemon("mqtt-bridge-lines") {
      while (open) {
        try {
          val client = lineServer.accept() // a Spark socket source (re)connect
          daemon("mqtt-bridge-writer")(writeHistory(client))
        } catch { case _: Exception => () } // server closed / accept raced
      }
    }

    /** Writes every line from the first on to `client`, until the bridge
      * closes or a write fails (the client hung up). */
    private def writeHistory(client: Socket): Unit = {
      try {
        val w = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(client.getOutputStream, UTF_8), false)
        var idx = 0
        var live = true
        while (open && live) {
          val line = history.synchronized {
            while (open && history.size() <= idx) history.wait(500)
            if (history.size() > idx) history.get(idx) else null
          }
          if (line != null) {
            idx += 1
            w.println(line)
            w.flush()
            // println/flush swallow IOExceptions: checkError ends this
            // connection's writer
            if (w.checkError()) live = false
          }
        }
      } catch { case _: Exception => () }
      finally scala.util.Try(client.close())
    }

    /** Blocks until the broker granted the subscription — publish after
      * this and no message can be missed. */
    def awaitSubscribed(): Unit = subscribed.await()

    def close(): Unit = {
      open = false
      history.synchronized { history.notifyAll() } // release waiting writers
      scala.util.Try(sock.close())
      scala.util.Try(lineServer.close())
    }
  }

  /** The QoS-0 subscriber loop of [[MqttCollector]] and
    * [[MqttSubscriberBridge]], on daemon thread `name`: CONNECT →
    * CONNACK, SUBSCRIBE `topicFilter` (packet id 1, QoS 0) → SUBACK, then
    * counts down `subscribed` and hands every received PUBLISH to
    * `onMessage(topic, payload)` until `open` turns false or the
    * connection drops. */
  private def subscribe(name: String, sock: Socket, clientId: String,
      topicFilter: String, subscribed: CountDownLatch, open: => Boolean)(
      onMessage: (String, String) => Unit): Thread = daemon(name) {
    import Codec._
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      val vh = concat(str("MQTT"), Array[Byte](4, 2, 0, 60))
      writePacket(out, CONNECT, 0, concat(vh, str(clientId)))
      require(readPacket(in).ptype == CONNACK, "no CONNACK")
      writePacket(out, SUBSCRIBE, 2,
        concat(Array[Byte](0, 1), str(topicFilter), Array[Byte](0)))
      require(readPacket(in).ptype == SUBACK, "no SUBACK")
      subscribed.countDown()
      while (open) {
        val p = readPacket(in)
        if (p.ptype == PUBLISH) {
          val (topic, off) = readStr(p.body, 0)
          onMessage(topic, new String(p.body, off, p.body.length - off, UTF_8))
        }
      }
    } catch { case _: Exception => () }
  }

  private def daemon(name: String)(f: => Unit): Thread = {
    val t = new Thread(() => f, name)
    t.setDaemon(true)
    t.start()
    t
  }
}
