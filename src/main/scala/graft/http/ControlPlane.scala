package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.ir.{Node, StreamRegistry}
import graft.model.Event
import graft.sources.WireCodecs
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

/** Thin HTTP control plane over [[StreamRegistry]] — the analog of the
  * reference's stream API (`src/clojure/mirabelle/handler.clj:117-135`
  * router):
  *
  *  - `GET    /api/v1/stream`        → `{"streams":[...]}`   (list-streams)
  *  - `GET    /api/v1/stream/:name`  → `{"config": b64}`     (get-stream)
  *  - `POST   /api/v1/stream/:name`  ← `{"config": b64, "default"?: bool}`
  *                                                            (add-stream)
  *  - `DELETE /api/v1/stream/:name`  → remove                 (remove-stream)
  *  - `PUT    /api/v1/stream/:name`  ← `{"events":[{...}]}`   (push-event)
  *  - `POST   /api/v1/fluentbit/:name`               ← JSON log array
  *  - `POST   /api/v1/prometheus/remote-write/:name` ← snappy+protobuf
  *                                                     `WriteRequest`
  *  - `POST   /api/v1/opentelemetry/v1/traces/:name`  ← protobuf
  *  - `POST   /api/v1/opentelemetry/v1/metrics/:name` ← protobuf
  *  - `POST   /api/v1/opentelemetry/v1/logs/:name`    ← protobuf
  *                                                     `ExportTraceServiceRequest`
  *  - `GET    /metrics`              → Prometheus text scrape
  *  - `GET    /healthz` | `/health`  → `{"message":"ok"}`
  *
  * The three ingestion routes decode on the driver (one HTTP body is one
  * request-sized payload, exactly like the reference handler) through the
  * hand-rolled wire codecs ([[graft.sources.WireCodecs]]) and push typed
  * events; their field mappings mirror the gated Column decodes
  * ([[graft.sources.Decode]]), which remain the bulk/scan path.
  *
  * The config transport is base64 like the reference's (`b64/from-base64`
  * on add, `b64/to-base64` on get, `handler.clj:45-72`), wrapping the IR's
  * JSON documents instead of EDN. The registry IS the engine's control
  * surface; this layer only speaks HTTP — built on the JDK's HttpServer so
  * the library adds no dependency.
  *
  * Scale note: the control plane is a driver-side singleton managing
  * pipeline METADATA (add/remove/list are TrieMap operations). The
  * data-plane `PUT` route exists for reference parity and smoke pushes —
  * bulk ingestion should arrive through the real sources (files, Kafka,
  * the decode flatMaps), not per-request HTTP bodies.
  */
final class ControlPlane(registry: StreamRegistry, spark: SparkSession, port: Int = 0,
                         maxBodyBytes: Int = ControlPlane.DefaultMaxBodyBytes,
                         websockets: Option[WebSocketHub] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val eventSeq = new java.util.concurrent.atomic.AtomicLong()
  private val pushesTotal = new java.util.concurrent.atomic.AtomicLong()
  private val eventsTotal = new java.util.concurrent.atomic.AtomicLong()

  def boundPort: Int = server.getAddress.getPort

  def start(): ControlPlane = {
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // small pool: a slow data-plane push must not block health checks;
    // registry ops are TrieMap-safe and the event counter is atomic
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    this
  }

  def stop(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ =>
    }
  }

  // ------------------------------------------------------------------

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripSuffix("/")
    val method = ex.getRequestMethod
    try {
      (method, path.split("/").toList.filter(_.nonEmpty)) match {
        case ("GET", List("healthz")) | ("GET", List("health")) =>
          respond(ex, 200, """{"message":"ok"}""")
        case ("GET", List("api", "v1", "stream")) =>
          respond(ex, 200,
            registry.list.map(jstr).mkString("""{"streams":[""", ",", "]}"))
        case ("GET", List("api", "v1", "stream", name)) =>
          registry.getJson(name) match {
            case Some(doc) =>
              val b64 = Base64.getEncoder.encodeToString(doc.getBytes(UTF_8))
              respond(ex, 200, s"""{"config":${jstr(b64)}}""")
            case None => respond(ex, 404, s"""{"error":"stream not found"}""")
          }
        case ("POST", List("api", "v1", "stream", name)) =>
          val body = parse(readBody(ex))
          val config = body.get("config") match {
            case Some(c: String) => new String(Base64.getDecoder.decode(c), UTF_8)
            case _ => throw new IllegalArgumentException("missing base64 'config'")
          }
          val default = body.get("default").contains(true)
          addDecoded(name, config, default)
          respond(ex, 200, """{"message":"stream added"}""")
        case ("DELETE", List("api", "v1", "stream", name)) =>
          registry.remove(name)
          respond(ex, 200, """{"message":"stream removed"}""")
        case ("PUT", List("api", "v1", "stream", name)) =>
          val body = parse(readBody(ex))
          val events = body.get("events") match {
            case Some(xs: Seq[_]) => xs.map(e => toEvent(e.asInstanceOf[Map[String, Any]]))
            case _ => throw new IllegalArgumentException("missing 'events' array")
          }
          pushEvents(name, events)
          respond(ex, 200, """{"message":"ok"}""")
        case ("POST", List("api", "v1", "fluentbit", name)) =>
          // reference handler.clj:89-95: each log's `date` (seconds,
          // possibly fractional) becomes the event time; `log` is the line
          val logs = Node.anyOf(org.json4s.jackson.JsonMethods.parse(readBody(ex))) match {
            case xs: Seq[_] => xs.map(_.asInstanceOf[Map[String, Any]])
            case other => throw new IllegalArgumentException(s"expected a JSON array, got $other")
          }
          val std = Set("host", "service", "name", "state", "metric", "time",
            "ttl", "description", "tags", "attributes", "eventId", "date", "log")
          pushEvents(name, logs.map { m =>
            val date = m.get("date").collect {
              case d: Double => d
              case l: Long   => l.toDouble
              case i: Int    => i.toDouble
            }
            // non-standard log fields survive as attributes (the reference
            // keeps them as free map keys; Event is fixed-schema)
            val extra = m.collect {
              case (k, v) if !std(k) && v != null => k -> v.toString
            }
            val attrs = m.get("attributes").collect {
              case mm: Map[_, _] => mm.map { case (k, v) => k.toString -> v.toString }
            }.getOrElse(Map.empty) ++ extra
            // split whole seconds from the fraction before scaling: at
            // current epoch magnitudes a double's ulp is ~256 ns, so
            // (d * 1e9).toLong would silently round sub-microsecond
            // fractions; scaling only the fraction keeps error ≤ 1 ns
            toEvent(m - "date" - "log" +
              ("time" -> date.map { d =>
                val secs = math.floor(d).toLong
                secs * 1000000000L + math.round((d - secs) * 1e9)
              }.getOrElse(System.currentTimeMillis() * 1000000L)) +
              ("attributes" -> attrs) ++
              m.get("log").map("description" -> _))
          })
          respond(ex, 200, """{"message":"ok"}""")
        case ("POST", List("api", "v1", "prometheus", "remote-write", name)) =>
          val raw = readBodyBytes(ex)
          val req = WireCodecs.decodePromWriteRequest(uncompressBounded(raw))
          // prometheus.clj:11-29: per sample, name from __name__, other
          // labels → attributes, ms timestamp → ns
          pushEvents(name, req.timeseries.flatMap { s =>
            val labels = s.labels.map(l => l.name -> l.value).toMap
            s.samples.map { sm =>
              Event(host = None, service = None,
                name = labels.get("__name__"), state = None,
                metric = Some(sm.value), time = sm.timestamp * 1000000L,
                ttl = None, description = None, tags = Nil,
                attributes = labels - "__name__",
                eventId = eventSeq.incrementAndGet())
            }
          })
          respond(ex, 200, """{"message":"ok"}""")
        case ("POST", List("api", "v1", "opentelemetry", "v1", "traces", name)) =>
          val req = WireCodecs.decodeOtlpTraceRequest(readBodyBytes(ex))
          // mirror Decode.otlpSpans' span→event mapping; ids/kind land in
          // attributes (Event is fixed-schema where the reference is free-map)
          val kinds = Vector("unspecified", "internal", "server", "client", "producer", "consumer")
          pushEvents(name, req.resourceSpans.flatMap { rs =>
            val res = rs.resource.attributes.map(kv => kv.key -> kv.value).toMap
            rs.scopeSpans.flatMap(_.spans.map { sp =>
              Event(host = None, service = res.get("service.name"),
                name = Option(sp.name),
                state = Some(sp.status.code match {
                  case 2 => "error"; case 1 => "ok"; case _ => "unset"
                }),
                metric = Some((sp.endTimeUnixNano - sp.startTimeUnixNano).toDouble),
                time = sp.endTimeUnixNano, ttl = None,
                description = Option(sp.status.message), tags = Nil,
                attributes = sp.attributes.map(kv => kv.key -> kv.value).toMap ++
                  Map("trace_id" -> sp.traceId, "span_id" -> sp.spanId,
                    "parent_span_id" -> sp.parentSpanId,
                    "kind" -> kinds.lift(sp.kind.toInt).getOrElse("unrecognized"),
                    "start_time" -> sp.startTimeUnixNano.toString),
                eventId = eventSeq.incrementAndGet())
            })
          })
          respond(ex, 200, """{"message":"ok"}""")
        case ("POST", List("api", "v1", "opentelemetry", "v1", "metrics", name)) =>
          val req = WireCodecs.decodeOtlpMetricsRequest(readBodyBytes(ex))
          // mirror Decode.otlpMetrics' point→event mapping: value points
          // carry the value (count 1), histogram families the (sum,
          // count) reduction, summaries one event per φ-quantile with φ
          // as a `quantile` attribute
          pushEvents(name, req.resourceMetrics.flatMap { rm =>
            val res = rm.resource.attributes.map(kv => kv.key -> kv.value).toMap
            val svc = res.get("service.name")
            def ev(mName: String, mtype: String, time: Long, value: Double,
                   count: Long, attrs: Seq[WireCodecs.OtlpKV],
                   extra: Map[String, String] = Map.empty): Event =
              Event(host = None, service = svc, name = Option(mName),
                state = None, metric = Some(value), time = time, ttl = None,
                description = None, tags = Nil,
                attributes = attrs.map(kv => kv.key -> kv.value).toMap ++
                  Map("mtype" -> mtype, "count" -> count.toString) ++ extra,
                eventId = eventSeq.incrementAndGet())
            rm.scopeMetrics.flatMap(_.metrics.flatMap { m =>
              m.gauge.dataPoints.map(p =>
                ev(m.name, "gauge", p.timeUnixNano, p.asDouble, 1L, p.attributes)) ++
              m.sum.dataPoints.map(p =>
                ev(m.name, "sum", p.timeUnixNano, p.asDouble, 1L, p.attributes)) ++
              m.histogram.dataPoints.map(p =>
                ev(m.name, "histogram", p.timeUnixNano, p.sum, p.count, p.attributes)) ++
              m.expHistogram.dataPoints.map(p =>
                ev(m.name, "exponential_histogram", p.timeUnixNano, p.sum,
                  p.count, p.attributes)) ++
              m.summary.dataPoints.flatMap(p => p.quantileValues.map(q =>
                ev(m.name, "summary", p.timeUnixNano, q.value, p.count,
                  p.attributes, Map("quantile" -> q.quantile.toString))))
            })
          })
          respond(ex, 200, """{"message":"ok"}""")
        case ("POST", List("api", "v1", "opentelemetry", "v1", "logs", name)) =>
          val req = WireCodecs.decodeOtlpLogsRequest(readBodyBytes(ex))
          // mirror Decode.otlpLogs' record→event mapping: severity range
          // name as state, body as description, severity number as the
          // metric, correlation ids in attributes
          def sevName(n: Long): String =
            if (n >= 1 && n <= 4) "trace"
            else if (n <= 8 && n >= 5) "debug"
            else if (n <= 12 && n >= 9) "info"
            else if (n <= 16 && n >= 13) "warn"
            else if (n <= 20 && n >= 17) "error"
            else if (n <= 24 && n >= 21) "fatal"
            else "unspecified"
          pushEvents(name, req.resourceLogs.flatMap { rl =>
            val res = rl.resource.attributes.map(kv => kv.key -> kv.value).toMap
            rl.scopeLogs.flatMap(_.logRecords.map { rec =>
              Event(host = None, service = res.get("service.name"),
                name = None,
                state = Some(sevName(rec.severityNumber)),
                metric = Some(rec.severityNumber.toDouble),
                time = rec.timeUnixNano, ttl = None,
                description = Option(rec.body), tags = Nil,
                attributes = rec.attributes.map(kv => kv.key -> kv.value).toMap ++
                  Map("trace_id" -> rec.traceId, "span_id" -> rec.spanId,
                    "severity_text" -> rec.severityText,
                    "observed_time" -> rec.observedTimeUnixNano.toString),
                eventId = eventSeq.incrementAndGet())
            })
          })
          respond(ex, 200, """{"message":"ok"}""")
        case ("GET", List("metrics")) =>
          val text =
            s"""# TYPE graft_http_pushes_total counter
               |graft_http_pushes_total ${pushesTotal.get()}
               |# TYPE graft_http_events_total counter
               |graft_http_events_total ${eventsTotal.get()}
               |# TYPE graft_streams gauge
               |graft_streams ${registry.list.size}
               |# TYPE graft_stream_compiles_total counter
               |graft_stream_compiles_total ${registry.compiles}
               |# TYPE graft_push_plans_total counter
               |graft_push_plans_total ${registry.pushPlans}
               |""".stripMargin
          respondPlain(ex, 200, text)
        case _ => respond(ex, 404, """{"error":"not found"}""")
      }
    } catch {
      case e: ControlPlane.PayloadTooLarge =>
        // drain (stream-discard, bounded) whatever the client is still
        // sending before responding: answering 413 mid-upload makes the
        // built-in server reset the connection and the client never sees
        // the status. Memory stays O(buffer); a client pushing past the
        // drain cap gets the abrupt close it deserves.
        drainQuietly(ex, 64L * 1024 * 1024)
        respond(ex, 413, s"""{"error":${jstr(e.getMessage)}}""")
      case e: IllegalArgumentException =>
        respond(ex, 400, s"""{"error":${jstr(Option(e.getMessage).getOrElse("bad request"))}}""")
      case e: Throwable =>
        respond(ex, 500, s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.getClass.getName))}}""")
    }
  }

  /** Accept either a full `{"action":"stream",...}` document or a bare
    * pipeline node as the decoded config; like the reference, the path
    * name wins over any name inside the document.
    */
  private def addDecoded(name: String, configJson: String, default: Boolean): Unit = {
    val node = Node.fromJson(configJson)
    val (pipeline, isDefault) =
      if (node.action == "stream") {
        val flagged = node.params.headOption match {
          case Some(m: Map[_, _]) =>
            m.asInstanceOf[Map[String, Any]].get("default").contains(true)
          case _ => false
        }
        val pipe = node.children match {
          case Seq(single) => single
          case many        => Node("sdo", Nil, many)
        }
        (pipe, default || flagged)
      } else (node, default)
    registry.add(name, pipeline, isDefault)
  }

  private def pushEvents(name: String, events: Seq[Event]): Unit = {
    pushesTotal.incrementAndGet()
    eventsTotal.addAndGet(events.size.toLong)
    val results = registry.push(Event.frame(spark, events), name)
    // pubsub fan-out: channels the pushed streams published to reach any
    // attached websocket subscribers (reference websocket.clj:47-119)
    websockets.foreach(h => results.values.foreach(h.publish))
  }

  /** JSON event → typed [[Event]]; absent `time` gets the wall clock like
    * the reference's `time/default-time` (`handler.clj:51-57`).
    */
  private def toEvent(m: Map[String, Any]): Event = {
    def str(k: String): Option[String] = m.get(k).collect { case s: String => s }
    def dbl(k: String): Option[Double] = m.get(k).collect {
      case d: Double => d
      case l: Long   => l.toDouble
      case i: Int    => i.toDouble
    }
    def lng(k: String): Option[Long] = m.get(k).collect {
      case l: Long   => l
      case i: Int    => i.toLong
      case d: Double => d.toLong
    }
    val id = lng("eventId").getOrElse {
      eventSeq.incrementAndGet()
    }
    Event(
      host = str("host"), service = str("service"), name = str("name"),
      state = str("state"), metric = dbl("metric"),
      time = lng("time").getOrElse(System.currentTimeMillis() * 1000000L),
      ttl = dbl("ttl"), description = str("description"),
      tags = m.get("tags").collect { case xs: Seq[_] => xs.map(_.toString) }.getOrElse(Nil),
      attributes = m.get("attributes").collect {
        case mm: Map[_, _] => mm.map { case (k, v) => k.toString -> v.toString }
      }.getOrElse(Map.empty),
      eventId = id)
  }

  // ---- minimal JSON plumbing (json4s is already on the classpath) ----

  private def parse(body: String): Map[String, Any] =
    Node.anyOf(org.json4s.jackson.JsonMethods.parse(body)) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(s"expected a JSON object, got $other")
    }

  private def jstr(s: String): String =
    org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(org.json4s.JString(s)))

  /** Bounded body read: streams at most `maxBodyBytes`+1 and rejects with
    * 413 instead of buffering an unbounded payload on the driver. The
    * Content-Length header (when present) short-circuits before any read.
    */
  private def readBodyBytes(ex: HttpExchange): Array[Byte] = {
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    if (declared.exists(_ > maxBodyBytes))
      throw new ControlPlane.PayloadTooLarge(
        s"request body ${declared.get} bytes exceeds limit $maxBodyBytes")
    val in = ex.getRequestBody
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n >= 0) {
      if (out.size() + n > maxBodyBytes)
        throw new ControlPlane.PayloadTooLarge(
          s"request body exceeds limit $maxBodyBytes bytes")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** Snappy payloads additionally declare their uncompressed size in the
    * frame header; check it BEFORE uncompressing so a decompression bomb
    * is rejected without allocating its output.
    */
  private def uncompressBounded(raw: Array[Byte]): Array[Byte] = {
    val uncompressed = org.xerial.snappy.Snappy.uncompressedLength(raw)
    if (uncompressed > maxBodyBytes * 4L)
      throw new ControlPlane.PayloadTooLarge(
        s"uncompressed payload $uncompressed bytes exceeds limit ${maxBodyBytes * 4L}")
    org.xerial.snappy.Snappy.uncompress(raw)
  }

  private def drainQuietly(ex: HttpExchange, cap: Long): Unit =
    try {
      val in = ex.getRequestBody
      val buf = new Array[Byte](64 * 1024)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0 && total <= cap) { total += n; n = in.read(buf) }
    } catch { case _: java.io.IOException => () }

  private def readBody(ex: HttpExchange): String =
    new String(readBodyBytes(ex), UTF_8)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit =
    respondBytes(ex, status, body.getBytes(UTF_8), "application/json")

  private def respondPlain(ex: HttpExchange, status: Int, body: String): Unit =
    respondBytes(ex, status, body.getBytes(UTF_8), "text/plain")

  private def respondBytes(ex: HttpExchange, status: Int, bytes: Array[Byte],
                           contentType: String): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object ControlPlane {
  /** Cap on a single request body (compressed bytes for snappy routes;
    * uncompressed payloads get 4× this). Control-plane documents are KBs
    * and even bulk remote-write frames are single-digit MBs, so 32 MiB is
    * generous without letting one request exhaust driver memory.
    */
  val DefaultMaxBodyBytes: Int = 32 * 1024 * 1024

  private[http] final class PayloadTooLarge(msg: String) extends RuntimeException(msg)
}
