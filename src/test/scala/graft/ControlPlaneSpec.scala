package graft

import graft.http.ControlPlane
import graft.ir.{EngineCtx, StreamRegistry}
import org.scalatest.funsuite.AnyFunSuite

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Integration test for the HTTP control plane: drives the stream API
  * routes end-to-end over a real socket, the analog of the reference's
  * `test/mirabelle/integration_test.clj:19` add/push/get/remove cycle.
  */
class ControlPlaneSpec extends AnyFunSuite {
  import TestSpark._

  private def withServer(ctx: EngineCtx = EngineCtx(testMode = true),
                         maxBodyBytes: Int = ControlPlane.DefaultMaxBodyBytes)(
      f: (ControlPlane, String) => Unit): Unit = {
    val registry = new StreamRegistry(ctx)
    val cp = new ControlPlane(registry, spark, maxBodyBytes = maxBodyBytes).start()
    try f(cp, s"http://127.0.0.1:${cp.boundPort}")
    finally cp.stop()
  }

  private val client = HttpClient.newHttpClient()

  private def send(method: String, url: String, body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(url))
    val req = (method match {
      case "GET"    => b.GET()
      case "DELETE" => b.DELETE()
      case m        => b.method(m, HttpRequest.BodyPublishers.ofString(body))
    }).build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def unb64(s: String): String = new String(Base64.getDecoder.decode(s), UTF_8)

  test("healthz / list / add / get / remove cycle over HTTP") {
    withServer() { (_, base) =>
      assert(send("GET", s"$base/healthz") == (200, """{"message":"ok"}"""))
      assert(send("GET", s"$base/api/v1/stream") == (200, """{"streams":[]}"""))

      val pipeline = """{"action":"where","params":[[">","metric",100]],"children":[{"action":"tap","params":["out"]}]}"""
      val (addCode, _) = send("POST", s"$base/api/v1/stream/alerts",
        s"""{"config":"${b64(pipeline)}","default":true}""")
      assert(addCode == 200)
      assert(send("GET", s"$base/api/v1/stream")._2 == """{"streams":["alerts"]}""")

      // get-stream round-trips the stored config through base64
      val (getCode, getBody) = send("GET", s"$base/api/v1/stream/alerts")
      assert(getCode == 200)
      val cfg = getBody.replaceAll(""".*"config":"([^"]+)".*""", "$1")
      val doc = unb64(cfg)
      assert(doc.contains(""""action":"stream""""))
      assert(doc.contains(""""name":"alerts""""))
      assert(doc.contains(""""default":true"""))
      assert(doc.contains(""""where""""))

      assert(send("DELETE", s"$base/api/v1/stream/alerts")._1 == 200)
      assert(send("GET", s"$base/api/v1/stream")._2 == """{"streams":[]}""")
      assert(send("GET", s"$base/api/v1/stream/alerts")._1 == 404)
    }
  }

  test("PUT pushes events through the named stream (push-event)") {
    // real (non-test) ctx: the file sink must actually fire on push
    withServer(EngineCtx()) { (_, base) =>
      // pipeline writing matching events to a file sink via output-file
      val outDir = TestSpark.tempDir("cp_push").toString
      val pipeline =
        s"""{"action":"where","params":[[">","metric",100]],
           | "children":[{"action":"output-file","params":[{"path":"$outDir/out"}]}]}""".stripMargin
      assert(send("POST", s"$base/api/v1/stream/push-test",
        s"""{"config":"${b64(pipeline)}"}""")._1 == 200)

      val events =
        """{"events":[
          |  {"host":"a","metric":150.0,"time":1000000000,"eventId":1},
          |  {"host":"b","metric":50.0,"time":2000000000,"eventId":2},
          |  {"host":"c","metric":300.0,"time":3000000000,"eventId":3}]}""".stripMargin
      assert(send("PUT", s"$base/api/v1/stream/push-test", events) == (200, """{"message":"ok"}"""))

      val written = spark.read.json(s"$outDir/out")
      assert(written.select("eventId").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    }
  }

  private def sendBytes(url: String, body: Array[Byte]): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .method("POST", HttpRequest.BodyPublishers.ofByteArray(body)).build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def addFileSinkStream(base: String, name: String): String = {
    val outDir = TestSpark.tempDir(s"cp_$name").toString
    val pipeline =
      s"""{"action":"sdo","params":[],
         | "children":[{"action":"output-file","params":[{"path":"$outDir/out"}]}]}""".stripMargin
    assert(send("POST", s"$base/api/v1/stream/$name",
      s"""{"config":"${b64(pipeline)}"}""")._1 == 200)
    outDir
  }

  test("prometheus remote-write route: snappy+protobuf body lands as events") {
    import graft.sources.WireCodecs
    import graft.sources.WireCodecs._
    withServer(EngineCtx()) { (_, base) =>
      val outDir = addFileSinkStream(base, "prw")
      val body = org.xerial.snappy.Snappy.compress(
        WireCodecs.encodePromWriteRequest(PromWriteRequest(Seq(PromSeries(
          Seq(PromLabel("__name__", "cpu_seconds"), PromLabel("job", "api")),
          Seq(PromSample(0.75, 1700000000000L)))))))
      assert(sendBytes(s"$base/api/v1/prometheus/remote-write/prw", body)._1 == 200)
      val written = spark.read.json(s"$outDir/out")
      val r = written.selectExpr("name", "metric", "time", "attributes.job").collect().head
      assert(r.getString(0) == "cpu_seconds" && r.getDouble(1) == 0.75)
      assert(r.getLong(2) == 1700000000000L * 1000000L && r.getString(3) == "api")
    }
  }

  test("OTLP traces route: protobuf spans land as events") {
    import graft.sources.WireCodecs
    import graft.sources.WireCodecs._
    withServer(EngineCtx()) { (_, base) =>
      val outDir = addFileSinkStream(base, "otlp")
      val body = WireCodecs.encodeOtlpTraceRequest(OtlpTraceRequest(Seq(OtlpResourceSpans(
        OtlpResource(Seq(OtlpKV("service.name", "checkout"))),
        Seq(OtlpScopeSpans(Seq(OtlpSpan(
          "0102030405060708090a0b0c0d0e0f10", "0102030405060708", "",
          "GET /cart", 2, 1700000000000000000L, 1700000000123000000L,
          OtlpStatus(2, "boom"), Seq(OtlpKV("http.status_code", "500"))))))))))
      assert(sendBytes(s"$base/api/v1/opentelemetry/v1/traces/otlp", body)._1 == 200)
      val r = spark.read.json(s"$outDir/out")
        .selectExpr("service", "name", "state", "metric", "description",
          "attributes.trace_id", "attributes.kind").collect().head
      assert(r.getString(0) == "checkout" && r.getString(1) == "GET /cart")
      assert(r.getString(2) == "error" && r.getDouble(3) == 123000000.0)
      assert(r.getString(4) == "boom")
      assert(r.getString(5) == "0102030405060708090a0b0c0d0e0f10")
      assert(r.getString(6) == "server")
    }
  }

  test("OTLP metrics route: all five point families land as events; summaries fan out per quantile") {
    import graft.sources.WireCodecs
    import graft.sources.WireCodecs._
    withServer(EngineCtx()) { (_, base) =>
      val outDir = addFileSinkStream(base, "omet")
      val body = WireCodecs.encodeOtlpMetricsRequest(OtlpMetricsRequest(Seq(OtlpResourceMetrics(
        OtlpResource(Seq(OtlpKV("service.name", "api"))),
        Seq(OtlpScopeMetrics(Seq(
          OtlpMetric("lat", "ms",
            OtlpGauge(Seq(OtlpNumPoint(1L, 2L, 3.5, Nil))),
            OtlpSum(Nil, isMonotonic = false),
            OtlpHistogram(Seq(OtlpHistPoint(1L, 4L, 10L, 55.0, Seq(5L, 5L), Seq(1.0), Nil))),
            OtlpExpHistogram(Nil),
            OtlpSummary(Seq(OtlpSummaryPoint(1L, 6L, 20L, 100.0,
              Seq(OtlpQuantileValue(0.5, 2.0), OtlpQuantileValue(0.99, 9.0)), Nil)))))))))))
      assert(sendBytes(s"$base/api/v1/opentelemetry/v1/metrics/omet", body)._1 == 200)
      val rows = spark.read.json(s"$outDir/out")
        .selectExpr("name", "service", "metric", "time", "attributes.mtype",
          "attributes.count", "attributes.quantile")
        .collect().map(r => (r.getString(4), r.getDouble(2), r.getString(5),
          Option(r.getString(6)))).toSet
      assert(rows == Set(
        ("gauge", 3.5, "1", None),
        ("histogram", 55.0, "10", None),
        ("summary", 2.0, "20", Some("0.5")),
        ("summary", 9.0, "20", Some("0.99"))), s"got $rows")
    }
  }

  test("OTLP logs route: protobuf log records land as events with severity-range states") {
    import graft.sources.WireCodecs
    import graft.sources.WireCodecs._
    withServer(EngineCtx()) { (_, base) =>
      val outDir = addFileSinkStream(base, "olog")
      val body = WireCodecs.encodeOtlpLogsRequest(OtlpLogsRequest(Seq(OtlpResourceLogs(
        OtlpResource(Seq(OtlpKV("service.name", "checkout"))),
        Seq(OtlpScopeLogs(Seq(OtlpLogRecord(
          1700000000000000000L, 1700000000005000000L, 17L, "ERROR",
          "connection refused", "0102030405060708090a0b0c0d0e0f10",
          "0102030405060708", Seq(OtlpKV("pod", "p-1"))))))))))
      assert(sendBytes(s"$base/api/v1/opentelemetry/v1/logs/olog", body)._1 == 200)
      val r = spark.read.json(s"$outDir/out")
        .selectExpr("service", "state", "metric", "description", "time",
          "attributes.trace_id", "attributes.pod", "attributes.severity_text")
        .collect().head
      assert(r.getString(0) == "checkout" && r.getString(1) == "error")
      assert(r.getDouble(2) == 17.0 && r.getString(3) == "connection refused")
      assert(r.getLong(4) == 1700000000000000000L)
      assert(r.getString(5) == "0102030405060708090a0b0c0d0e0f10")
      assert(r.getString(6) == "p-1" && r.getString(7) == "ERROR")
    }
  }

  test("fluentbit route: JSON logs land as events; extras become attributes") {
    withServer(EngineCtx()) { (_, base) =>
      val outDir = addFileSinkStream(base, "flb")
      val body =
        """[{"date":1700000000.5,"log":"oom-killed","host":"web-1","pod":"p-42"}]"""
      assert(sendBytes(s"$base/api/v1/fluentbit/flb", body.getBytes(UTF_8))._1 == 200)
      val r = spark.read.json(s"$outDir/out")
        .selectExpr("time", "description", "host", "attributes.pod").collect().head
      assert(r.getLong(0) == 1700000000500000000L)
      assert(r.getString(1) == "oom-killed" && r.getString(2) == "web-1")
      assert(r.getString(3) == "p-42")
    }
  }

  test("fluentbit route keeps sub-microsecond date fractions (ns-exact split)") {
    withServer(EngineCtx()) { (_, base) =>
      val outDir = addFileSinkStream(base, "flbns")
      // 0.25 s is exactly representable; (1700000000.25 * 1e9).toLong would
      // land on a multiple-of-256 neighbor (~250 ns ulp at this magnitude),
      // while the seconds/fraction split is ns-exact
      val body = """[{"date":1700000000.25,"log":"x","host":"h"}]"""
      assert(sendBytes(s"$base/api/v1/fluentbit/flbns", body.getBytes(UTF_8))._1 == 200)
      val t = spark.read.json(s"$outDir/out").select("time").collect().head.getLong(0)
      assert(t == 1700000000250000000L)
    }
  }

  test("oversized bodies are rejected with 413, not buffered") {
    withServer(maxBodyBytes = 1024 * 1024) { (_, base) =>
      // declared Content-Length over the cap: refused before reading
      val big = "x" * (2 * 1024 * 1024)
      val (code, resp) = send("PUT", s"$base/api/v1/stream/any", big)
      assert(code == 413 && resp.contains("exceeds limit"))
      // snappy decompression bomb: wire bytes fit the cap (zeros compress
      // ~21:1 → ~380 KB), but the declared uncompressed size (8 MB) blows
      // the 4× budget — rejected by the header check, before allocation
      val bomb = org.xerial.snappy.Snappy.compress(new Array[Byte](8 * 1024 * 1024))
      assert(bomb.length <= 1024 * 1024)
      val (bc, bresp) = sendBytes(s"$base/api/v1/prometheus/remote-write/any", bomb)
      assert(bc == 413 && bresp.contains("exceeds limit"))
      // a small body still goes through to normal request handling
      assert(send("POST", s"$base/api/v1/stream/x", """{"nope":1}""")._1 == 400)
    }
  }

  test("Serve.boot loads a streams dir and serves it over HTTP") {
    val dir = TestSpark.tempDir("serve_streams")
    java.nio.file.Files.writeString(dir.resolve("alerts.json"),
      """{"action":"stream","params":[{"name":"alerts","default":true}],
        | "children":[{"action":"where","params":[[">","metric",100]],
        |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
    val (registry, cp) = Serve.boot(spark, dir.toString, 0,
      EngineCtx(testMode = true))
    try {
      assert(registry.list == Seq("alerts"))
      val (code, body) = send("GET", s"http://127.0.0.1:${cp.boundPort}/api/v1/stream")
      assert(code == 200 && body == """{"streams":["alerts"]}""")
    } finally cp.stop()
  }

  test("bootAll wires TCP ingest through streams to websocket fan-out end to end") {
    import graft.sources.RiemannCodec
    val dir = TestSpark.tempDir("serve_full")
    java.nio.file.Files.writeString(dir.resolve("alerts.json"),
      """{"action":"stream","params":[{"name":"alerts","default":true}],
        | "children":[{"action":"where","params":[[">","metric",100]],
        |   "children":[{"action":"publish!","params":["firehose"]}]}]}""".stripMargin)
    val b = Serve.bootAll(spark, dir.toString, 0, EngineCtx(testMode = false),
      tcpPort = Some(0), wsPort = Some(0))
    try {
      // websocket subscriber on the published channel
      val ws = new java.net.Socket("127.0.0.1", b.websockets.get.boundPort)
      val out = ws.getOutputStream
      out.write(("GET /channel/firehose HTTP/1.1\r\nHost: localhost\r\n" +
        "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
        "Sec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\nSec-WebSocket-Version: 13\r\n\r\n").getBytes(UTF_8))
      out.flush()
      val head = new StringBuilder
      while (!head.endsWith("\r\n\r\n")) { val c = ws.getInputStream.read(); assert(c >= 0); head += c.toChar }
      val deadline = System.nanoTime + 5000000000L
      while (b.websockets.get.subscriberCount != 1 && System.nanoTime < deadline) Thread.sleep(10)

      // riemann frame over TCP: one passing, one filtered event
      val tcp = new java.net.Socket("127.0.0.1", b.tcp.get.boundPort)
      tcp.getOutputStream.write(RiemannCodec.frame(RiemannCodec.encodeMsg(Seq(
        RiemannCodec.RiemannEvent(Some(1000000000L), Some("ok"), Some("svc"), None,
          Nil, None, Some(500.0), Map("host" -> "h1")),
        RiemannCodec.RiemannEvent(Some(2000000000L), Some("ok"), Some("svc"), None,
          Nil, None, Some(5.0), Map("host" -> "h2"))))))
      tcp.getOutputStream.flush()
      val ack = new java.io.DataInputStream(tcp.getInputStream)
      val buf = new Array[Byte](ack.readInt()); ack.readFully(buf)
      assert(RiemannCodec.decodeAck(buf)._1.contains(true))

      // the passing event arrives as a websocket JSON frame
      val in = ws.getInputStream
      val b0 = in.read(); val b1 = in.read()
      assert((b0 & 0x0F) == 0x1)
      var len = b1 & 0x7F
      if (len == 126) len = (in.read() << 8) | in.read()
      val payload = new Array[Byte](len)
      var off = 0
      while (off < len) { val n = in.read(payload, off, len - off); assert(n >= 0); off += n }
      val json = new String(payload, UTF_8)
      assert(json.contains("\"metric\":500.0") && json.contains("\"host\":\"h1\""))
      tcp.close(); ws.close()
    } finally b.stop()
  }

  test("SIGHUP triggers a diff-reload of the streams directory (core.clj:136-143)") {
    val dir = TestSpark.tempDir("serve_hup")
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      """{"action":"stream","params":[{"name":"a"}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val registry = new graft.ir.StreamRegistry(EngineCtx(testMode = true))
    registry.loadFrom(dir.toString)
    assert(registry.list == Seq("a"))
    // installReloadHandler reports false both on platforms without
    // sun.misc.Signal AND when SIGHUP was SIG_IGN at JVM start (a
    // nohup'd/daemonized sbt — the kernel then discards every HUP, which
    // was the real cause of the r8/r10 "flakes": the 0-completions runs
    // were launched from nohup'd parents, not slow boxes)
    assume(Serve.installReloadHandler(registry, dir.toString),
      "SIGHUP delivery unavailable in this launch context")
    // add a file, then poke the process: the handler must pick it up
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      """{"action":"stream","params":[{"name":"b"}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    // wait on handler COMPLETION (observable counter), not on a fixed
    // wall-clock window: under box load the signal thread may run late,
    // and a short poll deadline reds a deterministic handler (r8 flake).
    // Re-raise periodically: under full-suite contention a single raise
    // has been observed to go undispatched for >30s (r10 flake) — HUP
    // deliveries coalesce, so extra raises are harmless.
    val before = Serve.reloadCount.get()
    val deadline = System.nanoTime + 120000000000L
    var lastRaise = 0L
    while (Serve.reloadCount.get() == before && System.nanoTime < deadline) {
      if (System.nanoTime - lastRaise > 5000000000L) {
        sun.misc.Signal.raise(new sun.misc.Signal("HUP"))
        lastRaise = System.nanoTime
      }
      Thread.sleep(20)
    }
    assert(Serve.reloadCount.get() > before, "SIGHUP handler never completed within 120s")
    assert(registry.list == Seq("a", "b"))
  }

  test("metrics route: Prometheus text scrape with push counters") {
    withServer() { (_, base) =>
      val (code, text) = send("GET", s"$base/metrics")
      assert(code == 200)
      assert(text.contains("graft_http_pushes_total") && text.contains("graft_streams"))
    }
  }

  test("metrics route: graft_stream_compiles_total is one compile per stream registration pushed to") {
    withServer() { (_, base) =>
      def compiles(): Long = {
        val (code, text) = send("GET", s"$base/metrics")
        assert(code == 200 && text.contains("# TYPE graft_stream_compiles_total counter"))
        text.linesIterator.collectFirst {
          case l if l.startsWith("graft_stream_compiles_total ") => l.stripPrefix("graft_stream_compiles_total ").toLong
        }.get
      }
      val pipeline = """{"action":"where","params":[[">","metric",1]],"children":[{"action":"tap","params":["out"]}]}"""
      def add(): Unit =
        assert(send("POST", s"$base/api/v1/stream/s", s"""{"config":"${b64(pipeline)}"}""")._1 == 200)
      def push(n: Int): Unit = (1 to n).foreach { i =>
        assert(send("PUT", s"$base/api/v1/stream/s", s"""{"events":[{"metric":$i.5,"time":$i}]}""")._1 == 200)
      }
      assert(compiles() == 0)
      add()
      push(5)
      assert(compiles() == 1)
      add()
      assert(compiles() == 1) // compiled at the first push, not at registration
      push(3)
      assert(compiles() == 2)
    }
  }

  test("metrics route: graft_push_plans_total counts kept sink plans and stays flat across pushes") {
    withServer(EngineCtx(testMode = false)) { (_, base) =>
      def built(): Long = {
        val (code, text) = send("GET", s"$base/metrics")
        assert(code == 200 && text.contains("# TYPE graft_push_plans_total counter"))
        text.linesIterator.collectFirst {
          case l if l.startsWith("graft_push_plans_total ") => l.stripPrefix("graft_push_plans_total ").toLong
        }.get
      }
      val out = tempDir("cp_push_plans").resolve("out")
      val pipeline = s"""{"action":"where","params":[[">","metric",1]],"children":[
                        |  {"action":"output-file","params":[{"path":"$out"}]}]}""".stripMargin
      def add(): Unit =
        assert(send("POST", s"$base/api/v1/stream/s", s"""{"config":"${b64(pipeline)}"}""")._1 == 200)
      def push(n: Int): Unit = (1 to n).foreach { i =>
        assert(send("PUT", s"$base/api/v1/stream/s", s"""{"events":[{"metric":$i.5,"time":$i}]}""")._1 == 200)
      }
      assert(built() == 0)
      add()
      push(1)
      assert(built() == 1)
      push(10)
      assert(built() == 1)
      add()
      push(3)
      assert(built() == 2) // the re-added stream keeps its own plan
    }
  }

  test("error shapes: bad config is 400, unknown stream push is 400+, unknown route 404") {
    withServer() { (_, base) =>
      assert(send("POST", s"$base/api/v1/stream/x", """{"nope":1}""")._1 == 400)
      val (pushCode, _) = send("PUT", s"$base/api/v1/stream/ghost",
        """{"events":[{"metric":1.0,"time":1}]}""")
      assert(pushCode >= 400) // reference: "Stream %s not found"
      assert(send("GET", s"$base/api/v1/nothing")._1 == 404)
      // path-traversal stream names are refused by the registry guard
      assert(send("POST", s"$base/api/v1/stream/..%2Fescape",
        s"""{"config":"${b64("""{"action":"sdo"}""")}"}""")._1 >= 400)
    }
  }
}
