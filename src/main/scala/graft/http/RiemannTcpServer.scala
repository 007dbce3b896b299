package graft.http

import graft.ir.StreamRegistry
import graft.model.Event
import graft.sources.RiemannCodec
import org.apache.spark.sql.SparkSession

import java.io.{BufferedOutputStream, DataInputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket}

/** Riemann-protocol TCP ingestion — the reference's primary (and
  * documented-fastest) transport (`transport/tcp.clj:28-35` int32-framed
  * protobuf `Msg`, `site/.../production/_index.md:17` "TCP is *way*
  * better than HTTP"): length-prefixed `Msg` frames decode through the
  * hand-rolled wire codec ([[RiemannCodec]]), push through the default
  * streams (the reference's `push!` routing), and each frame is answered
  * with a sync `Msg{ok:true}` ACK only after the streams have applied —
  * the Riemann backpressure/delivery model (`transport.clj:149-159`). A
  * frame that fails to decode or apply is answered `Msg{ok:false,
  * error:...}` on the same connection (the client keeps its pipeline).
  *
  * Scale note: like the reference's TCP server this is a driver-edge
  * ingest point for clients speaking the Riemann protocol — request-sized
  * batches, metadata-rate traffic. Bulk ingestion belongs to the
  * distributed decode path ([[RiemannCodec.decodeStreams]], the gated
  * `riemann_decode` scan) over files/queues, which never touches the
  * driver.
  */
final class RiemannTcpServer(registry: StreamRegistry, spark: SparkSession,
                             port: Int = 0,
                             maxFrameBytes: Int = RiemannTcpServer.DefaultMaxFrameBytes,
                             websockets: Option[WebSocketHub] = None,
                             tls: Option[Tls.Config] = None) {

  // TLS when key/cert/cacert are configured, with client certs REQUIRED —
  // mutual TLS exactly like the reference (`tcp.clj:110-117,176-182`)
  private val server: ServerSocket = tls match {
    case Some(cfg) =>
      val s = Tls.sslContext(cfg).getServerSocketFactory.createServerSocket()
      s.asInstanceOf[javax.net.ssl.SSLServerSocket].setNeedClientAuth(true)
      s
    case None => new ServerSocket()
  }
  private val eventSeq = new java.util.concurrent.atomic.AtomicLong()
  @volatile private var running = false

  def boundPort: Int = server.getLocalPort

  def start(): RiemannTcpServer = {
    server.bind(new InetSocketAddress("127.0.0.1", port))
    running = true
    val t = new Thread(() => acceptLoop(), "graft-riemann-accept")
    t.setDaemon(true)
    t.start()
    this
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: java.io.IOException => }
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), "graft-riemann-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => /* closed: exit via running */ }
    }

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new BufferedOutputStream(sock.getOutputStream)
    def ack(ok: Boolean, error: Option[String] = None): Unit = {
      out.write(RiemannCodec.frame(RiemannCodec.encodeMsg(Nil, ok = Some(ok), error = error)))
      out.flush()
    }
    try {
      var open = true
      while (open) {
        val len = try in.readInt() catch { case _: EOFException => open = false; 0 }
        if (open) {
          if (len < 0 || len > maxFrameBytes)
            throw new java.io.IOException(s"riemann frame length $len out of bounds (max $maxFrameBytes)")
          val payload = new Array[Byte](len)
          in.readFully(payload)
          try {
            val events = RiemannCodec.decodeMsg(payload).map(toEvent)
            pushDefault(events)
            ack(ok = true) // sync ack AFTER stream apply: the Riemann delivery model
          } catch {
            // ANY decode or stream-apply failure (bad wire bytes, a sink
            // erroring at runtime, ...) must still answer the frame —
            // clients in the sync-ack delivery model block on the reply.
            // The only exceptions that escape are socket-level (the ack
            // itself failing), handled by the outer connection catch.
            case scala.util.control.NonFatal(e) =>
              ack(ok = false, error = Option(e.getMessage).orElse(Some(e.getClass.getName)))
          }
        }
      }
    } catch {
      case _: java.io.IOException => // dropped/overflowing connection: close
    } finally {
      try sock.close() catch { case _: java.io.IOException => }
    }
  }

  /** Riemann wire event → canonical event. `host` folds back out of the
    * attribute map (the codec keeps it there, mirroring
    * `codec.clj:40-53`); absent time gets the wall clock like the
    * reference's `default-time` on ingest.
    */
  private def toEvent(r: RiemannCodec.RiemannEvent): Event =
    Event(
      host = r.attributes.get("host"),
      service = r.service, name = None, state = r.state,
      metric = r.metric,
      time = r.time.getOrElse(System.currentTimeMillis() * 1000000L),
      ttl = r.ttl.map(_.toDouble), description = r.description,
      tags = r.tags,
      attributes = r.attributes - "host",
      eventId = eventSeq.incrementAndGet())

  private def pushDefault(events: Seq[Event]): Unit = {
    val results = registry.push(Event.frame(spark, events), "default")
    // same fan-out as the HTTP push route: publish! channels reach
    // attached websocket subscribers regardless of the ingest transport
    websockets.foreach(h => results.values.foreach(h.publish))
  }
}

object RiemannTcpServer {
  /** One `Msg` frame is a client batch (the reference's clients send
    * request-sized batches); 32 MiB matches the control plane's body cap.
    */
  val DefaultMaxFrameBytes: Int = 32 * 1024 * 1024
}
