package graft

import graft.http.{ControlPlane, WebSocketHub}
import graft.ir.{EngineCtx, Node, StreamRegistry}
import org.scalatest.funsuite.AnyFunSuite

import java.io.{InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** WebSocket pubsub transport (reference `transport/websocket.clj`):
  * upgrade handshake, per-subscriber EDN condition filtering, JSON text
  * frames, ping/pong and close semantics — driven through a raw-socket
  * client so the whole RFC 6455 path is exercised on the wire.
  */
class WebSocketSpec extends AnyFunSuite {
  import TestSpark._

  /** Minimal RFC 6455 client for the tests: handshake + masked frames. */
  private final class WsClient(port: Int, channel: String, query: Option[String] = None) {
    val socket = new Socket("127.0.0.1", port)
    val in: InputStream = socket.getInputStream
    val out: OutputStream = socket.getOutputStream
    val acceptHeader: String = {
      val q = query.map(c => "?query=" +
        java.net.URLEncoder.encode(Base64.getEncoder.encodeToString(c.getBytes(UTF_8)), UTF_8)).getOrElse("")
      out.write((s"GET /channel/$channel$q HTTP/1.1\r\nHost: localhost\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
      out.flush()
      val head = readHead()
      assert(head.startsWith("HTTP/1.1 101"), s"expected 101, got: $head")
      head.linesIterator.find(_.toLowerCase.startsWith("sec-websocket-accept:"))
        .map(_.split(":", 2)(1).trim).getOrElse("")
    }

    private def readHead(): String = {
      val sb = new StringBuilder
      while (!sb.endsWith("\r\n\r\n")) {
        val c = in.read()
        require(c >= 0, s"EOF during handshake: $sb")
        sb += c.toChar
      }
      sb.toString
    }

    /** Read one server frame (unmasked): (opcode, payload). */
    def readFrame(): (Int, String) = {
      val b0 = in.read(); val b1 = in.read()
      require(b0 >= 0 && b1 >= 0, "EOF")
      var len = b1 & 0x7F
      if (len == 126) len = (in.read() << 8) | in.read()
      val buf = new Array[Byte](len)
      var off = 0
      while (off < len) { val n = in.read(buf, off, len - off); require(n >= 0); off += n }
      (b0 & 0x0F, new String(buf, UTF_8))
    }

    /** Send a masked client frame. */
    def sendFrame(opcode: Int, payload: Array[Byte] = Array.emptyByteArray): Unit = {
      out.write(0x80 | opcode)
      out.write(0x80 | payload.length) // mask bit + small length
      val mask = Array[Byte](0x1, 0x2, 0x3, 0x4)
      out.write(mask)
      out.write(payload.zipWithIndex.map { case (b, i) => (b ^ mask(i & 3)).toByte })
      out.flush()
    }

    def close(): Unit = socket.close()
  }

  private def awaitSubs(hub: WebSocketHub, n: Int): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (hub.subscriberCount != n && System.nanoTime() < deadline) Thread.sleep(10)
    assert(hub.subscriberCount == n, s"expected $n subscribers, got ${hub.subscriberCount}")
  }

  test("handshake computes the RFC 6455 accept key; unknown path is refused") {
    val hub = new WebSocketHub().start()
    try {
      val c = new WsClient(hub.boundPort, "my-channel")
      // RFC 6455 §1.3 worked example for "dGhlIHNhbXBsZSBub25jZQ=="
      assert(c.acceptHeader == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
      c.close()
      val bad = new Socket("127.0.0.1", hub.boundPort)
      bad.getOutputStream.write(("GET /nope HTTP/1.1\r\nHost: x\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n\r\n").getBytes(UTF_8))
      bad.getOutputStream.flush()
      val line = new StringBuilder
      var ch = bad.getInputStream.read()
      while (ch >= 0 && ch != '\n') { line += ch.toChar; ch = bad.getInputStream.read() }
      assert(line.toString.startsWith("HTTP/1.1 404"))
      bad.close()
    } finally hub.stop()
  }

  test("published channel events reach subscribers as JSON frames, filtered per-subscriber") {
    val hub = new WebSocketHub().start()
    try {
      val all = new WsClient(hub.boundPort, "my-channel") // default query=true
      val filtered = new WsClient(hub.boundPort, "my-channel", Some("[:> :metric 100]"))
      awaitSubs(hub, 2)
      val df = events(ev(200, 1 * S, id = 1), ev(80, 2 * S, id = 2))
      val node = Node.fromJson(
        """{"action":"publish!","params":["my-channel"]}""")
      val res = graft.ir.Engine.run(node, df, EngineCtx(testMode = false))
      hub.publish(res)
      val a1 = all.readFrame(); val a2 = all.readFrame()
      assert(a1._1 == 0x1 && a2._1 == 0x1)
      assert(a1._2.contains("\"eventId\":1") && a2._2.contains("\"eventId\":2"))
      val f1 = filtered.readFrame()
      assert(f1._2.contains("\"eventId\":1") && f1._2.contains("\"metric\":200.0"))
      all.close(); filtered.close()
    } finally hub.stop()
  }

  test("ping is ponged with the same payload; close unregisters the subscriber") {
    val hub = new WebSocketHub().start()
    try {
      val c = new WsClient(hub.boundPort, "ch")
      awaitSubs(hub, 1)
      c.sendFrame(0x9, "hi".getBytes(UTF_8))
      val (op, payload) = c.readFrame()
      assert(op == 0xA && payload == "hi")
      c.sendFrame(0x8)
      val (closeOp, _) = c.readFrame()
      assert(closeOp == 0x8)
      awaitSubs(hub, 0)
      c.close()
    } finally hub.stop()
  }

  test("a condition failing analysis drops only its subscribers; healthy ones still receive; publish never throws") {
    val hub = new WebSocketHub().start()
    try {
      // parses fine ([:> :bogus 1] is valid vocabulary) but col("bogus")
      // cannot resolve against the event frame — deterministic poison
      val poisoned = new WsClient(hub.boundPort, "my-channel", Some("[:> :bogus 1]"))
      val healthy = new WsClient(hub.boundPort, "my-channel")
      awaitSubs(hub, 2)
      val df = events(ev(200, 1 * S, id = 1))
      val node = Node.fromJson("""{"action":"publish!","params":["my-channel"]}""")
      val res = graft.ir.Engine.run(node, df, EngineCtx(testMode = false))
      hub.publish(res) // must not throw into the (synchronous) push path
      val (op, json) = healthy.readFrame()
      assert(op == 0x1 && json.contains("\"eventId\":1"))
      awaitSubs(hub, 1) // poisoned subscriber was dropped, healthy remains
      poisoned.close(); healthy.close()
    } finally hub.stop()
  }

  test("EOF mid-frame-header unregisters the subscriber cleanly") {
    val hub = new WebSocketHub().start()
    try {
      val c = new WsClient(hub.boundPort, "ch")
      awaitSubs(hub, 1)
      // first two bytes of a frame declaring a 16-bit extended length,
      // then a hard disconnect: the reader must treat it as EOF
      c.out.write(Array[Byte](0x81.toByte, 0xFE.toByte))
      c.out.flush()
      c.close()
      awaitSubs(hub, 0)
    } finally hub.stop()
  }

  test("an invalid base64 query is a 400 before any upgrade") {
    val hub = new WebSocketHub().start()
    try {
      val s = new Socket("127.0.0.1", hub.boundPort)
      s.getOutputStream.write(("GET /channel/ch?query=%%%bad HTTP/1.1\r\nHost: x\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\n\r\n").getBytes(UTF_8))
      s.getOutputStream.flush()
      val line = new StringBuilder
      var ch = s.getInputStream.read()
      while (ch >= 0 && ch != '\n') { line += ch.toChar; ch = s.getInputStream.read() }
      assert(line.toString.startsWith("HTTP/1.1 400"))
      s.close()
    } finally hub.stop()
  }

  test("graceful close escalates to abort when the drain stalls on a non-reading subscriber") {
    // short grace so the test is fast; big frames + a tiny client receive
    // window wedge the writer in write() mid-drain
    val hub = new WebSocketHub(drainGraceMs = 300).start()
    try {
      val sock = new Socket()
      sock.setReceiveBufferSize(4096) // advertise a tiny window (pre-connect)
      sock.connect(new java.net.InetSocketAddress("127.0.0.1", hub.boundPort))
      val out = sock.getOutputStream
      out.write(("GET /channel/big HTTP/1.1\r\nHost: localhost\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
      out.flush()
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) { val c = sock.getInputStream.read(); require(c >= 0); head += c.toChar }
      awaitSubs(hub, 1)

      // queue ~32 MB of frames the client will never read
      val big = "x" * (4 * 1024 * 1024)
      val df = events((1 to 8).map(i =>
        ev(1, i * S, id = i).copy(description = Some(big))): _*)
      val res = graft.ir.Engine.run(
        Node.fromJson("""{"action":"publish!","params":["big"]}"""),
        df, EngineCtx(testMode = false))
      hub.publish(res)

      // client initiates close but never reads: the drain cannot finish
      out.write(Array[Byte](0x88.toByte, 0x80.toByte, 0x1, 0x2, 0x3, 0x4)) // masked close
      out.flush()
      // without the grace deadline this would leak the subscriber until
      // hub.stop(); with it, the writer is force-dropped
      awaitSubs(hub, 0)
      sock.close()
    } finally hub.stop()
  }

  test("control-plane push fans out to websocket subscribers end to end") {
    val reg = new StreamRegistry(EngineCtx(testMode = false))
    reg.add("pub", Node.fromJson(
      """{"action":"where","params":[[">","metric",50]],
        | "children":[{"action":"publish!","params":["alerts"]}]}""".stripMargin),
      default = true)
    val hub = new WebSocketHub().start()
    val cp = new ControlPlane(reg, spark, websockets = Some(hub)).start()
    try {
      val c = new WsClient(hub.boundPort, "alerts")
      awaitSubs(hub, 1)
      val url = new java.net.URI(s"http://127.0.0.1:${cp.boundPort}/api/v1/stream/pub").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("PUT"); conn.setDoOutput(true)
      conn.getOutputStream.write(
        """{"events":[{"metric":99.0,"time":1,"service":"a","eventId":7},
          |           {"metric":10.0,"time":2,"service":"b","eventId":8}]}""".stripMargin.getBytes(UTF_8))
      assert(conn.getResponseCode == 200)
      val (op, json) = c.readFrame()
      assert(op == 0x1 && json.contains("\"eventId\":7"))
      c.close()
    } finally { cp.stop(); hub.stop() }
  }

  test("publish frames and order are orderBy(time, eventId).toJSON's; a filtered pushed frame runs no Spark job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val schema = StructType(graft.model.Event.schema.fields.map(_.copy(nullable = true)))
    def row(metric: java.lang.Double, time: java.lang.Long, id: java.lang.Long,
            tags: Seq[String] = null, attrs: Map[String, String] = null): Row =
      Row("h", "s", null, "critical", metric, time, 60.0, null, tags, attrs, id)
    val df = spark.createDataFrame(java.util.Arrays.asList(
      row(1.0, 30L, 1L, tags = Seq("a", "b")),
      row(2.0, 10L, 5L, attrs = Map("k" -> "v", "x" -> "y")),
      row(3.0, 10L, 2L),
      row(null, 10L, null, tags = Nil),
      row(5.0, null, 9L, attrs = Map.empty),
      row(6.0, 20L, 3L),
      row(7.0, -5L, 4L)), schema)
    val expected = df.orderBy("time", "eventId").toJSON.collect().toSeq
    assert(WebSocketHub.orderedJson(df).toSeq == expected)
    val filtered = df.filter(graft.conditions.Condition.parse(Seq(">", "metric", 1)).column)
    assert(WebSocketHub.orderedJson(filtered).toSeq ==
      filtered.orderBy("time", "eventId").toJSON.collect().toSeq)

    // jobs by group; a later fence job orders the listener's view
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    def inGroup[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
    }
    try {
      inGroup("ws-sorted")(filtered.orderBy("time", "eventId").toJSON.collect())
      inGroup("ws-publish")(WebSocketHub.orderedJson(filtered))
      inGroup("ws-fence")(spark.range(1).count())
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains("ws-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("ws-fence"))
      assert(groups.contains("ws-sorted")) // the old sort did run a job
      assert(!groups.contains("ws-publish"))
    } finally sc.removeSparkListener(listener)

    // a frame without the sort columns still fails analysis
    intercept[org.apache.spark.sql.AnalysisException](WebSocketHub.orderedJson(df.drop("eventId")))
  }
}
