package perfbench

import graft.Serve
import graft.ir.EngineCtx
import org.apache.spark.sql.{DataFrame, SparkSession}
import perfbench.TcpWorkload._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One run of a TCP workload: boot, warm up, drive the closed loop for
  * the measured window, then check every output.
  */
final class TcpRun(spark: SparkSession, shape: Shape, seed: Long, seconds: Int,
                   traced: Boolean, outDir: Path, tracer: Tracer, probe: SparkProbe) {
  private val sinkDir = outDir.resolve("alerts-sink")
  private val streamsDir = outDir.resolve("streams")
  private val marks = new java.util.concurrent.ConcurrentLinkedQueue[Mark]()

  /** The registered output: `FileSink.write` into one shared directory,
    * as the program's own `:type :file` output does. Concurrent pushes
    * append concurrently (see README for what that does).
    */
  private def sink(df: DataFrame): Unit =
    if (!traced) graft.sinks.FileSink.write(df, sinkDir.toString)
    else tracer.span("file_sink.write", "engine.push")(graft.sinks.FileSink.write(df, sinkDir.toString))

  private def mark(params: Seq[Any])(df: DataFrame): DataFrame = {
    val (tag, t, now) = (params.head.toString, Thread.currentThread().getId, System.nanoTime())
    if (tag == "begin") spark.sparkContext.setLocalProperty(SparkProbe.PushKey, s"$t:$now")
    marks.add(Mark(tag, t, now))
    df
  }

  private val ctx = EngineCtx(
    outputs = Map(OutputName -> (sink _)),
    custom = if (traced) Map(MarkAction -> (mark _)) else Map.empty)

  Files.createDirectories(streamsDir)
  Files.writeString(streamsDir.resolve("alerts.json"), alertDoc(traced))
  Files.writeString(streamsDir.resolve("firehose.json"), firehoseDoc(traced))

  final class Server(val booted: Serve.Booted, val ws: WsSubscriber, val conns: IndexedSeq[Conn]) {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    def stop(): Unit = { conns.foreach(_.close()); ws.close(); booted.stop() }
  }

  private def boot(): Server = {
    val b = Serve.bootAll(spark, streamsDir.toString, 0, ctx, tcpPort = Some(0), wsPort = Some(0))
    val ws = new WsSubscriber(b.websockets.get.boundPort)
    val deadline = System.nanoTime() + 10000000000L
    while (b.websockets.get.subscriberCount < 1 && System.nanoTime() < deadline) Thread.sleep(5)
    new Server(b, ws, IndexedSeq.fill(shape.conns)(new Conn(b.tcp.get.boundPort)))
  }

  private def pushOp(s: Server, c: Int, f: Gen.Frame): Op = {
    val (ok, answered, err, t0, t1) = s.conns(c).push(f)
    val op = Op(c, f, t0, t1, ok, answered, err)
    s.ops.add(op)
    op
  }

  /** Frames of one connection for one phase; lanes keep event times of
    * every phase and connection apart.
    */
  private def frames(lane: Int, n: Int): IndexedSeq[Gen.Frame] =
    (0 until n).map(k => Gen.frame(seed, lane, k, shape.eventsPerFrame, shape.frameSpanS))

  /** Wait until the subscriber has every expected critical event (or a
    * timeout), so the check sees what the hub will ever deliver.
    */
  private def settleWs(s: Server): Unit = {
    val want = s.ops.asScala.filter(_.ok).map(o => Gen.criticalTimes(o.frame).size).sum
    val deadline = System.nanoTime() + 15000000000L
    var last = -1; var stable = 0
    while (s.ws.times.size < want && System.nanoTime() < deadline && stable < 40) {
      Thread.sleep(50)
      val n = s.ws.times.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
    Thread.sleep(100)
  }

  // ---- set-up: several boots, the last server stays up; then warm-up ----

  val cycles = 3
  private val checked = scala.collection.mutable.ListBuffer[(Seq[Op], Seq[Long], String)]()
  /** Server thread id serving each connection of the kept server. */
  private val connThread = scala.collection.mutable.Map[Int, Long]()

  /** Push `n` frames of `lane + c` on every connection, connections in parallel. */
  private def drive(s: Server, lane: Int, n: Int): Unit = {
    val fs = (0 until shape.conns).map(c => frames(lane + c, n))
    val clients = (0 until shape.conns).map { c =>
      val t = new Thread(() => fs(c).foreach(pushOp(s, c, _)), s"perfbench-warm-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
  }

  /** Each cycle boots a server and pushes one frame per connection. */
  val (server, bootSecs) = {
    var kept: Server = null
    val secs = (0 until cycles).map { i =>
      val t0 = System.nanoTime()
      val s = boot()
      drive(s, 10 + i * 8, 1)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < cycles - 1) {
        settleWs(s)
        checked += ((s.ops.asScala.toSeq, s.ws.times.asScala.map(_.longValue).toSeq, s.ws.error))
        s.stop()
      } else kept = s
      dt
    }
    (kept, secs)
  }

  // traced: one frame per connection, one connection at a time, tells
  // which server thread serves which connection
  if (traced) (0 until shape.conns).foreach { c =>
    pushOp(server, c, Gen.frame(seed, 40 + c, 0, shape.eventsPerFrame, shape.frameSpanS))
    marks.asScala.filter(_.tag == "begin").toSeq.lastOption.foreach(m => connThread(c) = m.thread)
  }

  /** A fixed amount of closed-loop traffic on the kept server, so the
    * window starts with the push path compiled.
    */
  val warmSecs: Double = {
    val t0 = System.nanoTime()
    drive(server, 50, shape.warmFrames)
    (System.nanoTime() - t0) / 1e9
  }

  /** Forced batch queries over the alert sink, read back with Spark after
    * the warm-up, when it holds the rows of a fixed number of pushes: a
    * fold over every column and a per-host mean. Each runs twice untimed,
    * then seven times; its time is the median, in seconds. Every run must
    * see the rows the check reads.
    */
  val (readBack, readBackErrors): (Seq[(String, Double)], Seq[String]) = {
    import org.apache.spark.sql.functions.{avg, count, lit}
    val want = readSinkRows(sinkDir).size.toLong
    // the schema is inferred once, untimed, as a reader of a known sink
    // would pass it
    lazy val schema = spark.read.json(sinkDir.toString).schema
    def load() = spark.read.schema(schema).json(sinkDir.toString)
    val queries: Seq[(String, () => Long)] = Seq(
      "sink_fold" -> (() => BatchWorkload.fingerprint(BatchWorkload.fold(load())).rows),
      "sink_by_host" -> (() => load().groupBy("host").agg(count(lit(1)), avg("metric"))
        .collect().map(_.getLong(1)).sum))
    if (want == 0) (queries.map(_._1 -> 0.0), Seq("read-back: the sink holds no rows"))
    else {
      val runs = (-1 to 7).flatMap(rep => queries.map { case (name, q) =>
        val t0 = System.nanoTime()
        val n = q()
        (name, rep, n, (System.nanoTime() - t0) / 1e9)
      })
      val timed = runs.filter(_._2 > 0)
      (queries.map { case (name, _) => name -> Main.pct(timed.filter(_._1 == name).map(_._4), 0.5) },
        runs.filter(_._3 != want).map(r => s"read-back ${r._1}: ${r._3} rows, the check reads $want").distinct)
    }
  }

  // ---- the measured window ----

  private val pool: IndexedSeq[IndexedSeq[Gen.Frame]] =
    (0 until shape.conns).map(c => frames(100 + c, math.max(16, shape.poolPerSecond * seconds)))
  private val alertDocText = alertDoc(traced)
  val window = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
  val readds = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, String, Long, Long)]()
  val poolExhausted = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def sinkStats(): (Double, Double) = {
    val files = if (Files.exists(sinkDir)) Files.walk(sinkDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-") &&
        !p.getFileName.toString.endsWith(".crc")).toSeq else Nil
    (files.size.toDouble, files.map(p => Files.size(p).toDouble).sum)
  }
  private val (sinkFilesBefore, sinkBytesBefore) = sinkStats()
  private val wsBefore = server.ws.times.size

  /** Operations started in the window, over all connections; one in
    * `readdEvery` re-adds the alert stream over HTTP, the first of them a
    * quarter of the way in, so that a window shorter than `readdEvery`
    * operations still holds one.
    */
  private val opCount = new java.util.concurrent.atomic.AtomicLong()

  val (windowStartNs, windowEndNs) = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    val threads = (0 until shape.conns).map { c =>
      val t = new Thread(() => {
        var k = 0
        while (System.nanoTime() < deadline && k < pool(c).size) {
          val op = opCount.getAndIncrement()
          if (shape.readdEvery > 0 && op % shape.readdEvery == shape.readdEvery / 4) {
            val r = readd(server.booted.controlPlane.boundPort, "alerts", alertDocText)
            readds.add(r)
            if (traced) tracer.add(Span("control_plane.add_stream", r._3, r._4, "", c, r._1))
          } else {
            window.add(pushOp(server, c, pool(c)(k)))
            k += 1
          }
        }
        if (k == pool(c).size) poolExhausted.set(true)
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    (t0, window.asScala.map(_.endNs).foldLeft(t0)(math.max))
  }

  // ---- checks ----

  val errors: Seq[String] = {
    settleWs(server)
    checked += ((server.ops.asScala.toSeq, server.ws.times.asScala.map(_.longValue).toSeq, server.ws.error))
    val allOps = checked.flatMap(_._1).toSeq
    val alertErrs = checkAlerts(allOps, readSinkRows(sinkDir))
    val wsErrs = checked.toSeq.flatMap { case (ops, got, err) => Option(err).toSeq ++ checkWebSocket(ops, got) }
    readBackErrors ++ alertErrs ++ wsErrs
  }

  def stop(): Unit = server.stop()

  // ---- metrics ----

  private def windowOps: Seq[Op] = window.asScala.toSeq

  def attempted: Long = windowOps.size + readds.size
  def failed: Long = windowOps.count(!_.ok) + readds.asScala.count(!_._1)

  def latenciesMs: Seq[Double] = windowOps.filter(_.answered).map(o => (o.endNs - o.sendNs) / 1e6)

  /** Median ack time of the frames sent in each quarter of the window: a
    * trend here means the run was still warming up or the host drifted.
    */
  def quarterP50s: Seq[Double] = {
    val q = (windowEndNs - windowStartNs) / 4 + 1
    windowOps.filter(_.answered).groupBy(o => (o.sendNs - windowStartNs) / q).toSeq.sortBy(_._1)
      .map { case (_, os) => Main.pct(os.map(o => (o.endNs - o.sendNs) / 1e6), 0.5) }
  }

  def eventsPerS: Double = {
    val acked = windowOps.count(_.ok).toDouble * shape.eventsPerFrame
    acked / ((windowEndNs - windowStartNs) / 1e9)
  }

  /** Per-layer metrics of the traced run; per-push values are means over
    * the frames of the measured window.
    */
  def layers(): Seq[(String, Double, String)] = {
    probe.settle()
    val ops = windowOps
    val n = math.max(1, ops.size).toDouble
    val lo = windowStartNs
    val hi = windowEndNs
    // replay the server-internal layers on the frames of the window: the
    // codec's decode, then the Event → Dataset encode the server does
    val sample = ops.filter(_.ok).map(_.frame).distinctBy(_.id)
      .take(if (shape.eventsPerFrame >= 10000) 16 else 200)
    val eventSeq = new java.util.concurrent.atomic.AtomicLong()
    val replay = sample.map { f =>
      val payload = f.payload
      val t0 = System.nanoTime()
      val decoded = graft.sources.RiemannCodec.decodeMsg(payload)
      val t1 = System.nanoTime()
      val events = decoded.map(r => graft.model.Event(
        host = r.attributes.get("host"), service = r.service, name = None, state = r.state,
        metric = r.metric, time = r.time.getOrElse(0L), ttl = r.ttl.map(_.toDouble),
        description = r.description, tags = r.tags, attributes = r.attributes - "host",
        eventId = eventSeq.incrementAndGet()))
      val t2 = System.nanoTime()
      val s = spark
      import s.implicits._
      s.createDataset(events).toDF()
      val t3 = System.nanoTime()
      tracer.add(Span("riemann_codec.decode", t0, t1, "riemann_tcp.frame", request = f.id))
      tracer.add(Span("to_frame", t2, t3, "riemann_tcp.frame", request = f.id))
      ((t1 - t0) / 1e6, (t3 - t2) / 1e6, payload.length.toDouble)
    }
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val decodeMs = mean(replay.map(_._1))
    val toFrameMs = mean(replay.map(_._2))

    // server-side spans of each frame, from the markers on its thread
    val byThread = marks.asScala.toSeq.filter(m => m.ns >= lo && m.ns <= hi).groupBy(_.thread)
    val sinkSpans = tracer.named("file_sink.write").filter(s => s.startNs >= lo && s.startNs <= hi)
    val jobs = probe.jobsIn(lo, hi)
    final case class FrameTrace(engineSelfMs: Double, sinkSelfMs: Double, publishMs: Double,
                                publishSelfMs: Double, waitMs: Double, ok: Boolean)
    def jobSpan(j: SparkProbe.Job, end: Long) = (j.startNs, if (j.endNs > 0) j.endNs else end)
    val perFrame = ops.filter(_.answered).flatMap { op =>
      connThread.get(op.conn).flatMap(byThread.get).flatMap { ms =>
        val inside = ms.filter(m => m.ns >= op.sendNs && m.ns <= op.endNs)
        for (b <- inside.find(_.tag == "begin")) yield {
          val e = inside.find(m => m.tag == "end" && m.ns >= b.ns).map(_.ns).getOrElse(op.endNs)
          val own = jobs.filter(_.push == s"${b.thread}:${b.ns}")
          val sinks = sinkSpans.filter(x => x.thread == b.thread && x.startNs >= b.ns && x.endNs <= e)
          val pushJobs = own.filter(_.startNs < e).map(jobSpan(_, e))
          val publishJobs = own.filter(_.startNs >= e).map(jobSpan(_, op.endNs))
          // self time = span length minus the part its children cover
          val engineSelf = (e - b.ns) - Tracer.covered(
            sinks.map(x => (x.startNs, x.endNs)) ++ pushJobs, b.ns, e)
          val sinkSelf = sinks.map(x => (x.endNs - x.startNs) - Tracer.covered(pushJobs, x.startNs, x.endNs)).sum
          val publishSelf = (op.endNs - e) - Tracer.covered(publishJobs, e, op.endNs)
          val id = op.frame.id
          tracer.add(Span("riemann_tcp.frame", op.sendNs, op.endNs, "", op.conn, op.ok, id))
          tracer.add(Span("engine.push", b.ns, e, "riemann_tcp.frame", b.thread, op.ok, id))
          if (op.ok) tracer.add(Span("websocket_hub.publish", e, op.endNs, "riemann_tcp.frame", b.thread, request = id))
          sinks.foreach { x => tracer.spans.remove(x); tracer.add(x.copy(request = id)) }
          pushJobs.foreach { case (a, z) => tracer.add(Span("spark.job", a, z, "engine.push", b.thread, request = id)) }
          publishJobs.foreach { case (a, z) =>
            tracer.add(Span("spark.job", a, z, "websocket_hub.publish", b.thread, request = id))
          }
          // the frame's own self time: client ack time minus every
          // server-side span of the frame, decode and encode replayed
          val waitMs = (b.ns - op.sendNs) / 1e6 - decodeMs - toFrameMs
          FrameTrace(engineSelf / 1e6, sinkSelf / 1e6, if (op.ok) (op.endNs - e) / 1e6 else 0.0,
            if (op.ok) publishSelf / 1e6 else 0.0, waitMs, op.ok)
        }
      }
    }
    val taskList = probe.tasksOf(jobs)
    val overheadMs = jobs.filter(_.endNs > 0).map { j =>
      val longest = taskList.filter(t => j.stageIds.contains(t.stageId)).map(_.ms).foldLeft(0.0)(math.max)
      (j.endNs - j.startNs) / 1e6 - longest
    }.sum
    val phases = probe.phases.asScala.toSeq.filter { case (_, a, _) => a >= lo && a <= hi }
    def phaseMs(p: String) = phases.filter(_._1 == p).map { case (_, a, b) => (b - a) / 1e6 }.sum / n
    val (sinkFiles, sinkBytes) = sinkStats()
    val readdMs = tracer.named("control_plane.add_stream").map(_.ms)
    Seq(
      ("riemann_codec.decode_ms", decodeMs, "ms"),
      ("riemann_codec.bytes", mean(replay.map(_._3)), "bytes"),
      ("to_frame.ms", toFrameMs, "ms"),
      ("engine.run_self_ms", mean(perFrame.map(_.engineSelfMs)), "ms"),
      ("catalyst.analysis_ms", phaseMs("analysis"), "ms"),
      ("catalyst.optimization_ms", phaseMs("optimization"), "ms"),
      ("catalyst.planning_ms", phaseMs("planning"), "ms"),
      ("spark.jobs", jobs.size / n, "count"),
      ("spark.stages", jobs.map(_.stageIds.size).sum / n, "count"),
      ("spark.tasks", taskList.size / n, "count"),
      ("spark.job_overhead_ms", overheadMs / n, "ms"),
      ("spark.task_ms", taskList.map(_.ms).sum / n, "ms"),
      ("spark.shuffle_bytes", taskList.map(_.shuffleBytes.toDouble).sum / n, "bytes"),
      ("spark.spill_bytes", taskList.map(_.spillBytes.toDouble).sum / n, "bytes"),
      ("file_sink.write_ms", mean(sinkSpans.map(_.ms)), "ms"),
      ("file_sink.files", (sinkFiles - sinkFilesBefore) / n, "count"),
      ("file_sink.bytes", (sinkBytes - sinkBytesBefore) / n, "bytes"),
      ("file_sink.self_ms", mean(perFrame.map(_.sinkSelfMs)), "ms"),
      ("file_sink.failed", sinkSpans.count(!_.ok).toDouble, "count"),
      ("websocket_hub.publish_ms", mean(perFrame.filter(_.ok).map(_.publishMs)), "ms"),
      ("websocket_hub.self_ms", mean(perFrame.filter(_.ok).map(_.publishSelfMs)), "ms"),
      ("websocket_hub.frames", (server.ws.times.size - wsBefore) / n, "count"),
      ("control_plane.add_stream_ms", mean(readdMs), "ms"),
      ("riemann_tcp.wait_ms", mean(perFrame.map(_.waitMs)), "ms"),
      ("riemann_tcp.traced_frames", perFrame.size.toDouble, "count"),
    )
  }
}
