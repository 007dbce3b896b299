package graft.http

import graft.conditions.Condition
import graft.ir.{Edn, PushPlans, StreamResult}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, struct, to_json}

import java.io.{BufferedOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64
import scala.jdk.CollectionConverters._

/** WebSocket transport for pubsub subscribers — the analog of the
  * reference's `transport/websocket.clj:47-119`: a client opens
  * `GET /channel/<name>?query=<base64 condition>`, the connection
  * upgrades, and every event subsequently published to that channel that
  * matches the condition arrives as one JSON text frame. `query` defaults
  * to `true` (everything), mirroring the Riemann-style default; the
  * encoded condition is the reference's EDN vocabulary (e.g.
  * `[:> :metric 100]`), read by [[Edn.parse]] and compiled by
  * [[Condition.parse]] — the same engine path `StreamResult.subscribe`
  * uses, so the wire transport adds zero new filtering semantics.
  *
  * The frame layer is hand-rolled RFC 6455 (like the repo's other wire
  * codecs): SHA-1 key accept on upgrade, unmasked server text frames,
  * masked client frames handled for close (echoed, then unregistered) and
  * ping (ponged with the same payload). No permessage extensions are
  * negotiated; binary/text frames from subscribers are ignored — this is
  * a fan-out endpoint, not an ingest one (ingest is the HTTP routes).
  *
  * Scale note: like the reference's, this is a driver-edge component —
  * events leaving through a socket are inherently collected; the bound is
  * whatever the subscriber could receive anyway, and the filtering runs
  * distributed (the condition filter is a Spark plan; only matching rows
  * are collected for the send).
  */
final class WebSocketHub(port: Int = 0,
                         drainGraceMs: Long = WebSocketHub.DefaultDrainGraceMs) {

  /** One subscriber. Outbound frames go through a bounded queue drained
    * by a per-connection writer thread, so a subscriber that stops
    * reading (TCP window full) can never block the publisher — the
    * publish path is called synchronously from the control plane's push
    * handler. A full queue means a slow consumer: the subscriber is
    * dropped, matching the reference's drop-on-backpressure transport
    * behavior rather than stalling ingest.
    */
  private final class Sub(val channel: String, val condition: Condition,
                          val socket: Socket, out: OutputStream) {
    private val queue = new java.util.concurrent.LinkedBlockingQueue[Array[Byte]](1024)
    @volatile private var closed = false
    // The writer owns the socket's end of life: it drains every frame
    // queued before close() (RFC 6455 close-handshake echoes included),
    // then — and only then — closes the socket and unregisters. Closing
    // anywhere else races the drain and drops the close echo on the floor.
    private val writer = new Thread(() => {
      try {
        var frame = queue.take()
        while (frame.length > 0) { out.write(frame); out.flush(); frame = queue.take() }
      } catch { case _: java.io.IOException => }
      finally {
        subs.remove(Sub.this)
        try socket.close() catch { case _: java.io.IOException => }
      }
    }, "graft-ws-writer")
    writer.setDaemon(true)
    writer.start()

    /** Enqueue one wire frame; false = closed or queue full (slow consumer). */
    def offer(frame: Array[Byte]): Boolean = !closed && queue.offer(frame)

    def isClosed: Boolean = closed

    /** Graceful close: stop accepting new frames and poison the queue
      * WITHOUT clearing it, so the writer drains what is already queued
      * (the close-handshake echo in particular) before closing the
      * socket. Falls back to [[abort]] if the queue is too full to take
      * the poison (slow consumer). The drain gets a bounded grace
      * period: a subscriber that initiated close but stopped reading
      * would otherwise leave the writer blocked in `write` on a full TCP
      * window forever (socket + thread leak until hub stop), so a timer
      * escalates to [[abort]] if the writer hasn't finished by then.
      * Idempotent.
      */
    def close(): Unit = {
      closed = true
      if (!queue.offer(Array.emptyByteArray)) abort()
      else try closeTimer.schedule(new java.util.TimerTask {
        def run(): Unit = if (writer.isAlive) abort()
      }, drainGraceMs)
      catch {
        // hub stop() cancelled the timer concurrently: no grace period
        // left to arbitrate, drop hard (stop() aborts every sub anyway)
        case _: IllegalStateException => abort()
      }
    }

    /** Hard drop (slow consumer / poisoned condition / hub shutdown):
      * discard queued frames and close the socket immediately — the
      * socket close also unblocks a writer stuck on a full TCP window.
      */
    def abort(): Unit = {
      closed = true
      queue.clear()
      queue.offer(Array.emptyByteArray)
      try socket.close() catch { case _: java.io.IOException => }
    }
  }

  private val server = new ServerSocket()
  private val subs = new java.util.concurrent.CopyOnWriteArrayList[Sub]()
  private val closeTimer = new java.util.Timer("graft-ws-close", true)
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  @volatile private var running = false

  def boundPort: Int = server.getLocalPort
  def subscriberCount: Int = subs.size()

  def start(): WebSocketHub = {
    server.bind(new InetSocketAddress("127.0.0.1", port))
    running = true
    val t = new Thread(() => acceptLoop(), "graft-ws-accept")
    t.setDaemon(true)
    t.start()
    this
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: java.io.IOException => }
    closeTimer.cancel()
    subs.asScala.foreach(dropSub) // CoW list: safe to remove while iterating
    subs.clear()
  }

  /** Fan a stream result's published channels out to matching
    * subscribers: for each subscriber on a channel this result published
    * to, the events passing its condition are sent as JSON text frames
    * (one frame per event, in the channel frame's deterministic
    * (time, eventId) order, see [[WebSocketHub.channelJson]]; a channel
    * frame pushed through a compiled stream runs that stream's kept plan
    * for the (channel, condition) pair, on the calling thread). Subscribers
    * sharing a (channel, condition) pair share one collect (conditions are
    * case classes, so identical queries group structurally); a condition
    * that fails analysis (e.g. referencing a field the frame lacks) is
    * deterministic poison — those subscribers are dropped — while any
    * other per-group failure is logged and skipped so one bad group can
    * never abort fan-out or bubble into the synchronous push handler.
    */
  def publish(result: StreamResult): Unit = {
    val channels = result.channels.keySet
    subs.asScala.filter(s => channels.contains(s.channel))
      .groupBy(s => (s.channel, s.condition)).foreach { case ((channel, cond), group) =>
        try {
          val frames = WebSocketHub.channelJson(result, channel, cond)
            .map(j => frameBytes(0x1, j.getBytes(UTF_8)))
          // a false offer on an already-closing sub is the graceful path
          // doing its job, not a slow consumer — don't abort the drain
          group.foreach(sub => if (!frames.forall(sub.offer) && !sub.isClosed) dropSub(sub))
        } catch {
          case e: org.apache.spark.sql.AnalysisException =>
            log.warn(s"[ws] dropping ${group.size} subscriber(s) on '$channel': " +
              s"condition failed analysis: ${e.getMessage}")
            group.foreach(dropSub)
          case scala.util.control.NonFatal(e) =>
            log.warn(s"[ws] publish to '$channel' failed: ${e.getMessage}")
        }
      }
  }

  def publishAll(results: Iterable[StreamResult]): Unit = results.foreach(publish)

  // ------------------------------------------------------------ accept

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), "graft-ws-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: java.io.IOException => // closed during accept: loop exits via `running`
      }
    }

  private def serve(sock: Socket): Unit = {
    val in = sock.getInputStream
    val out = new BufferedOutputStream(sock.getOutputStream)
    try {
      val (path, query, headers) = readRequest(in)
      val key = headers.getOrElse("sec-websocket-key", "")
      val channel = path.split("/").toList.filter(_.nonEmpty) match {
        case List("channel", name) => name
        case _ => null
      }
      if (channel == null || key.isEmpty) {
        // the reference closes unknown paths after logging
        out.write(("HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n").getBytes(UTF_8))
        out.flush(); sock.close(); return
      }
      val condition =
        try parseQueryCondition(query)
        catch {
          case _: Exception =>
            out.write(("HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n").getBytes(UTF_8))
            out.flush(); sock.close(); return
        }
      val accept = Base64.getEncoder.encodeToString(
        MessageDigest.getInstance("SHA-1").digest(
          (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
      out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
      out.flush()
      val sub = new Sub(channel, condition, sock, out)
      subs.add(sub)
      controlLoop(in, sub) // blocks until close/EOF
    } catch {
      case _: java.io.IOException => // dropped connection
      case _: IllegalArgumentException =>
        // pre-upgrade decode failure (bad percent-encoding / base64 / EDN)
        try {
          out.write(("HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n").getBytes(UTF_8))
          out.flush()
        } catch { case _: java.io.IOException => }
    } finally {
      // graceful: the writer drains queued frames (close echo included),
      // closes the socket itself and unregisters; only a connection that
      // never reached upgrade is closed here directly
      subs.asScala.find(_.socket eq sock) match {
        case Some(sub) => sub.close()
        case None      => try sock.close() catch { case _: java.io.IOException => }
      }
    }
  }

  /** `query` param: base64 EDN condition; absent or `"true"` means
    * always-true (the reference maps `"true"` to `[:always-true]`).
    */
  private def parseQueryCondition(query: Map[String, String]): Condition =
    query.get("query").filter(_ != "true") match {
      case None => Condition.AlwaysTrue
      case Some(b64) =>
        Edn.parse(new String(Base64.getDecoder.decode(b64), UTF_8)) match {
          case Seq("always-true") => Condition.AlwaysTrue
          case form               => Condition.parse(form)
        }
    }

  private def readRequest(in: InputStream): (String, Map[String, String], Map[String, String]) = {
    val lines = scala.collection.mutable.ListBuffer[String]()
    val sb = new StringBuilder
    var total = 0
    var prev = -1
    var c = in.read()
    while (c >= 0) {
      total += 1
      // handshake cap, matching the bounded-body rule on every other
      // ingest edge (a client that never sends CRLF-CRLF must not grow
      // the heap)
      if (total > WebSocketHub.MaxHandshakeBytes)
        throw new java.io.IOException(s"ws handshake exceeds ${WebSocketHub.MaxHandshakeBytes} bytes")
      if (prev == '\r' && c == '\n') {
        val line = sb.toString.stripSuffix("\r")
        if (line.isEmpty) { c = -1 } // end of headers
        else { lines += line; sb.clear(); prev = -1; c = in.read() }
      } else { sb += c.toChar; prev = c; c = in.read() }
    }
    val requestLine = lines.headOption.getOrElse(throw new java.io.IOException("empty request"))
    val target = requestLine.split(" ").lift(1).getOrElse("/")
    val (path, qs) = target.indexOf('?') match {
      case -1 => (target, "")
      case i  => (target.substring(0, i), target.substring(i + 1))
    }
    val query = qs.split("&").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => URLDecoder.decode(k, UTF_8) -> URLDecoder.decode(v, UTF_8)
        case Array(k)    => URLDecoder.decode(k, UTF_8) -> ""
      }
    }.toMap
    val headers = lines.drop(1).flatMap { l =>
      l.indexOf(':') match {
        case -1 => None
        case i  => Some(l.substring(0, i).trim.toLowerCase -> l.substring(i + 1).trim)
      }
    }.toMap
    (path, query, headers)
  }

  // ------------------------------------------------------------ frames

  /** Reads client frames until close/EOF: close is echoed (1000), ping is
    * ponged with the same payload, data frames are ignored.
    */
  private def controlLoop(in: InputStream, sub: Sub): Unit = {
    var open = true
    while (open) {
      readFrame(in) match {
        case None => open = false
        case Some((opcode, payload)) => opcode match {
          case 0x8 => // close: echo and finish
            sub.offer(frameBytes(0x8, payload))
            open = false
          case 0x9 => // ping → pong, same payload
            sub.offer(frameBytes(0xA, payload))
          case _ => // pong / text / binary / continuation: ignored
        }
      }
    }
  }

  /** One client frame (masked per RFC 6455 §5.3); None on EOF, including
    * EOF that lands mid-header (extended length / mask bytes).
    */
  private def readFrame(in: InputStream): Option[(Int, Array[Byte])] = {
    def byte(): Int = {
      val v = in.read()
      if (v < 0) throw new java.io.EOFException("ws: EOF mid-frame")
      v
    }
    try {
      val b0 = in.read(); if (b0 < 0) return None
      val b1 = byte()
      val opcode = b0 & 0x0F
      val masked = (b1 & 0x80) != 0
      var len: Long = b1 & 0x7F
      if (len == 126) len = (byte().toLong << 8) | byte().toLong
      else if (len == 127) {
        len = 0
        var i = 0
        while (i < 8) { len = (len << 8) | byte().toLong; i += 1 }
      }
      if (len > (1L << 20)) throw new java.io.IOException(s"ws frame too large: $len")
      val mask = if (masked) Array.fill(4)(byte().toByte) else Array.emptyByteArray
      val payload = new Array[Byte](len.toInt)
      var off = 0
      while (off < payload.length) {
        val n = in.read(payload, off, payload.length - off)
        if (n < 0) return None
        off += n
      }
      if (masked) {
        var i = 0
        while (i < payload.length) { payload(i) = (payload(i) ^ mask(i & 3)).toByte; i += 1 }
      }
      Some((opcode, payload))
    } catch { case _: java.io.EOFException => None }
  }

  /** One server frame as wire bytes (unmasked, RFC 6455 §5.1). */
  private def frameBytes(opcode: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(payload.length + 10)
    out.write(0x80 | opcode)
    val n = payload.length
    if (n < 126) out.write(n)
    else if (n < 65536) { out.write(126); out.write(n >> 8); out.write(n & 0xFF) }
    else {
      out.write(127)
      var i = 7
      while (i >= 0) { out.write(((n.toLong >> (8 * i)) & 0xFF).toInt); i -= 1 }
    }
    out.write(payload, 0, n)
    out.toByteArray
  }

  private def dropSub(sub: Sub): Unit = {
    subs.remove(sub)
    sub.abort()
  }
}

object WebSocketHub {
  /** The frame's rows as JSON text (what `toJSON` writes), in the order of
    * `orderBy("time", "eventId")`: ascending, nulls first. The rows are
    * collected for the send anyway, so they are sorted on the driver; a
    * frame that only filters a pushed local relation then runs no Spark
    * job at all (Catalyst evaluates it in `ConvertToLocalRelation`). A
    * frame without `time` or `eventId` fails analysis, as the sort did.
    */
  private[graft] def orderedJson(df: DataFrame): Array[String] = sortedJson(jsonRows(df).collect())

  /** The events of `channel` in `result` that pass `cond`, as
    * [[orderedJson]] writes them. A channel frame pushed through a
    * compiled stream runs that stream's kept plan for (channel, `cond`) on
    * the driver: no Catalyst phase and no code generation per push
    * (`graft.ir.PushPlans`). Any other frame, or one whose plan cannot be
    * kept, goes through [[orderedJson]]. A condition that fails analysis
    * throws either way, and is not kept.
    */
  private[graft] def channelJson(result: StreamResult, channel: String, cond: Condition): Array[String] =
    result.channels.get(channel)
      .flatMap(PushPlans.run(_, (channel, cond))(df => jsonRows(df.filter(cond.column)))(
        (plan, rows) => sortedJson(plan.collect(rows))))
      .getOrElse(orderedJson(result.subscribe(channel, cond)))

  /** (time, eventId, JSON text) per row. */
  private def jsonRows(df: DataFrame): DataFrame =
    df.select(col("time"), col("eventId"), to_json(struct(col("*"))))

  private def sortedJson(rows: Array[Row]): Array[String] =
    rows.sortWith((a, b) => sortKeyCompare(a, b) < 0).map(_.getString(2))

  /** Spark's ascending, nulls-first order on the (time, eventId) prefix. */
  private def sortKeyCompare(a: Row, b: Row): Int = {
    def cmp(x: Any, y: Any): Int = (x, y) match {
      case (null, null)           => 0
      case (null, _)              => -1
      case (_, null)              => 1
      // Spark orders NaN last and -0.0 equal to 0.0
      case (p: Double, q: Double) => if (p == q) 0 else java.lang.Double.compare(p, q)
      case (p: Comparable[Any] @unchecked, q) => p.compareTo(q)
    }
    val t = cmp(a.get(0), b.get(0))
    if (t != 0) t else cmp(a.get(1), b.get(1))
  }

  /** Upper bound on the HTTP upgrade request (request line + headers). */
  val MaxHandshakeBytes: Int = 16 * 1024

  /** How long a graceful close may spend draining queued frames before
    * the subscriber is force-dropped (see `Sub.close`).
    */
  val DefaultDrainGraceMs: Long = 5000L
}
