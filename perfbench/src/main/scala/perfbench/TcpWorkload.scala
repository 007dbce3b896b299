package perfbench

import java.io.{BufferedOutputStream, DataInputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Riemann-TCP ingest through a server started by `Serve.bootAll`.
  *
  * Two default streams run: an alert stream (`where metric > 50 → by host →
  * fixed-time-window 10 s → coll-mean → output!`, the output writing with
  * `FileSink.write` into one shared directory) and a firehose stream
  * (`publish! "firehose"`) with one WebSocket subscriber on
  * `state = critical`. Each connection is a closed loop: write a
  * pre-encoded frame, block on its ack, send the next.
  */
object TcpWorkload {
  /** `warmFrames` per connection warm the JIT before the window; the
    * frame pool holds `poolPerSecond` frames per connection and second of
    * the window.
    */
  final case class Shape(conns: Int, eventsPerFrame: Int, frameSpanS: Int,
                         readdEvery: Int, warmFrames: Int, poolPerSecond: Int)

  /** One client: the program serves it with no concurrent sink append. */
  val Small = Shape(conns = 1, eventsPerFrame = 10, frameSpanS = 20, readdEvery = 100,
    warmFrames = 60, poolPerSecond = 60)
  /** Kept out of `BENCHMARK.json` (see README): four clients push at once,
    * their `FileSink.write` appends to the one sink directory collide, and
    * the check fails on every run.
    */
  val Small4 = Small.copy(conns = 4, warmFrames = 20)
  /** Kept out of `BENCHMARK.json` (see README): a 50 000-event frame
    * holds about 2 500 critical events, more than the WebSocket hub queues
    * for a subscriber, so the hub drops it.
    */
  val Bulk = Shape(conns = 2, eventsPerFrame = 50000, frameSpanS = 40, readdEvery = 0,
    warmFrames = 3, poolPerSecond = 2)

  val OutputName = "alerts-file"
  val MarkAction = "perfbench-mark"

  /** Stream documents; the traced run adds identity `custom` nodes that
    * mark where each stream's interpretation starts and ends.
    */
  def alertDoc(traced: Boolean): String = {
    val body =
      s"""{"action":"where","params":[[">","metric",50]],"children":[
         |  {"action":"by","params":[["host"]],"children":[
         |    {"action":"fixed-time-window","params":[{"duration":10}],"children":[
         |      {"action":"coll-mean","children":[
         |        {"action":"output!","params":["$OutputName"]}]}]}]}]}""".stripMargin
    val pipeline =
      if (traced) s"""{"action":"custom","params":["$MarkAction","begin"],"children":[$body]}""" else body
    s"""{"action":"stream","params":[{"name":"alerts","default":true}],"children":[$pipeline]}"""
  }

  def firehoseDoc(traced: Boolean): String = {
    val end = if (traced) s""","children":[{"action":"custom","params":["$MarkAction","end"]}]""" else ""
    s"""{"action":"stream","params":[{"name":"firehose","default":true}],"children":[
       |  {"action":"publish!","params":["firehose"]$end}]}""".stripMargin
  }

  /** Outcome of one frame push on a connection; `error` is the nack reason. */
  final case class Op(conn: Int, frame: Gen.Frame, sendNs: Long, endNs: Long,
                      ok: Boolean, answered: Boolean, error: String)

  /** A marker hit: stream interpretation reached `tag` on `thread`. */
  final case class Mark(tag: String, thread: Long, ns: Long)

  // ---------------------------------------------------------------- clients

  /** WebSocket subscriber on channel `firehose`, filtering state = critical;
    * collects the `time` of every event frame it receives.
    */
  final class WsSubscriber(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    private val in = new DataInputStream(sock.getInputStream)
    val times = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    @volatile var error: String = null
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    locally {
      val q = java.util.Base64.getEncoder.encodeToString("[:= :state \"critical\"]".getBytes(UTF_8))
      sock.getOutputStream.write((s"GET /channel/firehose?query=${java.net.URLEncoder.encode(q, UTF_8)} HTTP/1.1\r\n" +
        "Host: localhost\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
      sock.getOutputStream.flush()
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) {
        val c = in.read()
        require(c >= 0, "websocket: connection closed during handshake")
        head += c.toChar
      }
      require(head.startsWith("HTTP/1.1 101"), s"websocket: handshake refused: $head")
    }

    private val reader = new Thread(() => {
      try {
        var open = true
        while (open) {
          val b0 = in.read()
          if (b0 < 0) open = false
          else {
            val b1 = in.readUnsignedByte()
            var n = (b1 & 0x7F).toLong
            if (n == 126) n = in.readUnsignedShort().toLong
            else if (n == 127) n = in.readLong()
            val payload = new Array[Byte](n.toInt)
            in.readFully(payload)
            (b0 & 0x0F) match {
              case 0x1 => times.add(mapper.readTree(payload).get("time").asLong())
              case 0x8 => open = false
              case _   =>
            }
          }
        }
      } catch {
        case e: java.io.IOException => if (!sock.isClosed) error = s"websocket read: ${e.getMessage}"
      }
    }, "perfbench-ws")
    reader.setDaemon(true)
    reader.start()

    def close(): Unit = { try sock.close() catch { case _: java.io.IOException => }; reader.join(5000) }
  }

  /** One Riemann TCP connection, used by one thread at a time. */
  final class Conn(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(150000)
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    private val in = new DataInputStream(sock.getInputStream)

    /** Send one frame and block on its ack: (ok, answered, error, sendNs, ackNs). */
    def push(f: Gen.Frame): (Boolean, Boolean, String, Long, Long) = {
      val t0 = System.nanoTime()
      try {
        out.write(f.bytes); out.flush()
        val buf = new Array[Byte](in.readInt())
        in.readFully(buf)
        val (ok, err) = Gen.decodeAck(buf)
        (ok, true, err, t0, System.nanoTime())
      } catch {
        case e: java.io.IOException => (false, false, s"no ack: ${e.getMessage}", t0, System.nanoTime())
      }
    }
    def close(): Unit = try sock.close() catch { case _: java.io.IOException => }
  }

  /** Control-plane `POST /api/v1/stream/<name>`; returns (ok, startNs, endNs). */
  def readd(httpPort: Int, name: String, doc: String): (Boolean, String, Long, Long) = {
    val t0 = System.nanoTime()
    val body = s"""{"config":"${java.util.Base64.getEncoder.encodeToString(doc.getBytes(UTF_8))}","default":true}"""
    val c = new java.net.URL(s"http://127.0.0.1:$httpPort/api/v1/stream/$name")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    try {
      c.setRequestMethod("POST"); c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      c.getOutputStream.write(body.getBytes(UTF_8)); c.getOutputStream.close()
      val code = c.getResponseCode
      val s = Option(if (code == 200) c.getInputStream else c.getErrorStream).map(drain).getOrElse("")
      (code == 200, if (code == 200) null else s"HTTP $code $s", t0, System.nanoTime())
    } catch {
      case e: java.io.IOException => (false, e.getMessage, t0, System.nanoTime())
    } finally c.disconnect()
  }

  private def drain(in: InputStream): String = try new String(in.readAllBytes(), UTF_8) finally in.close()

  // ---------------------------------------------------------------- checks

  /** A sink row as written by the alert stream. */
  final case class Row(host: String, windowStart: Long, mean: Double, timeNs: Long, service: String)

  def readSinkRows(dir: Path): Seq[Row] = {
    if (!Files.exists(dir)) return Nil
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val files = Files.walk(dir).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.startsWith("part-") && !n.endsWith(".crc") &&
        !dir.relativize(p).iterator().asScala.exists(_.toString.startsWith("_"))
    }.toSeq
    files.flatMap { p =>
      Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
        val j = mapper.readTree(line)
        Row(j.get("host").asText(), j.get("window_start").asLong(), j.get("metric").asDouble(),
          j.get("time").asLong(), j.get("service").asText())
      }
    }
  }

  /** Sink rows against the generator's own computation: each acked frame
    * contributes exactly its expected rows, a frame that was not acked
    * contributes none, and no row belongs to an unknown frame.
    */
  def checkAlerts(ops: Seq[Op], rows: Seq[Row]): Seq[String] = {
    val frames = ops.sortBy(_.frame.startNs)
    val starts = frames.map(_.frame.startNs).toArray
    def owner(t: Long): Option[Op] = {
      val i = java.util.Arrays.binarySearch(starts, t)
      val k = if (i >= 0) i else -i - 2
      if (k >= 0 && t < frames(k).frame.endNs) Some(frames(k)) else None
    }
    val byFrame = rows.groupBy(r => owner(r.timeNs))
    val orphans = byFrame.getOrElse(None, Nil).map(r => s"sink row of no sent frame: $r")
    val perFrame = frames.flatMap { op =>
      val got = byFrame.getOrElse(Some(op), Nil)
      if (!op.ok) {
        if (got.isEmpty) Nil else Seq(s"frame ${op.frame.id} was not acked but left ${got.size} sink rows")
      } else {
        val want = Gen.expectedAlerts(op.frame)
        val gotByKey = got.groupBy(r => (r.host, r.windowStart))
        val dup = gotByKey.collect { case (k, rs) if rs.size > 1 => s"frame ${op.frame.id}: ${rs.size} rows for $k" }
        val missing = want.filterNot(a => gotByKey.contains((a.host, a.windowStart)))
          .map(a => s"frame ${op.frame.id}: missing row $a")
        val wrong = want.flatMap { a =>
          gotByKey.get((a.host, a.windowStart)).map(_.head).filter { r =>
            math.abs(r.mean - a.mean) > 1e-9 * math.max(1.0, math.abs(a.mean)) ||
              r.timeNs != a.latestTimeNs || r.service != a.latestService
          }.map(r => s"frame ${op.frame.id}: row $r != expected $a")
        }
        val extra = gotByKey.keySet.diff(want.map(a => (a.host, a.windowStart)).toSet)
          .map(k => s"frame ${op.frame.id}: unexpected row for $k")
        dup ++ missing ++ wrong ++ extra
      }
    }
    orphans ++ perFrame
  }

  /** The subscriber must have received exactly the critical events of the
    * acked frames, each once.
    */
  def checkWebSocket(ops: Seq[Op], got: Seq[Long]): Seq[String] = {
    val want = ops.filter(_.ok).flatMap(o => Gen.criticalTimes(o.frame))
    val w = want.groupBy(identity).map { case (k, v) => k -> v.size }
    val g = got.groupBy(identity).map { case (k, v) => k -> v.size }
    if (w == g) Nil
    else {
      val missing = w.keySet.diff(g.keySet).size
      val extra = g.keySet.diff(w.keySet).size
      val dup = g.count { case (k, n) => w.get(k).exists(_ != n) }
      Seq(s"websocket: expected ${want.size} critical events, got ${got.size} " +
        s"($missing missing, $extra unexpected, $dup with a wrong count)")
    }
  }
}
