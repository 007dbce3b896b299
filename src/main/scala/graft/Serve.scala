package graft

import graft.http.{ControlPlane, RiemannTcpServer, Tls, WebSocketHub}
import graft.ir.{EngineCtx, StreamRegistry}
import org.apache.spark.sql.SparkSession

/** Server entry point — the analog of the reference's boot sequence
  * (`core.clj:118-143`: read config dirs → compile streams → start the
  * TCP, HTTP, and websocket transports): load persisted stream documents
  * from a config directory into a [[StreamRegistry]], start the
  * [[ControlPlane]] (plus, when ports are configured, the Riemann TCP
  * server and the WebSocket hub, all sharing one registry and pubsub
  * fan-out), and serve until terminated. Hot reload has both of the
  * reference's surfaces: add/remove over HTTP, and SIGHUP re-reading the
  * streams directory diff-wise (`core.clj:136-143` →
  * [[StreamRegistry.reloadFrom]]); `SPARK_GRAFT_PERSIST=true` writes
  * registry changes back on shutdown.
  *
  * Environment:
  *  - `SPARK_GRAFT_STREAMS_DIR` — directory of stream JSON/EDN documents
  *    (default `./streams`, missing dir = start empty)
  *  - `SPARK_GRAFT_HTTP_PORT`   — listen port (default 5558, 0 = ephemeral)
  *  - `SPARK_GRAFT_TCP_PORT`    — Riemann TCP port (unset = transport off,
  *    0 = ephemeral); `SPARK_GRAFT_TLS_KEY`/`_CERT`/`_CACERT` (PEM paths,
  *    all three = mutual TLS on the TCP transport, `tcp.clj:150-153`)
  *  - `SPARK_GRAFT_WS_PORT`     — websocket pubsub port (unset = off)
  *  - `SPARK_GRAFT_CPUS`        — local core count (default 4)
  *  - `SPARK_GRAFT_PERSIST`     — save registry back to the streams dir on
  *    shutdown (default false). Only dynamically-added streams and the
  *    head dir's own streams are written; streams loaded from tail
  *    config dirs keep their own files as the source of truth
  *    ([[graft.ir.StreamRegistry.saveTo]]), so a multi-dir boot never
  *    duplicates a stream document across directories.
  */
object Serve {

  /** Boot, status and warning lines; the CLI commands' own output goes to stderr. */
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Everything one boot started; [[stop]] tears it down in reverse. */
  final case class Booted(registry: StreamRegistry, controlPlane: ControlPlane,
                          tcp: Option[RiemannTcpServer], websockets: Option[WebSocketHub]) {
    def stop(): Unit = {
      tcp.foreach(_.stop())
      controlPlane.stop()
      websockets.foreach(_.stop())
    }
  }

  /** Build the registry from a config dir and start the transports —
    * separated from [[main]] so tests can boot and stop it in-process.
    * `tcpPort`/`wsPort` `None` leaves that transport off (the reference
    * always binds TCP; here each transport is opt-in).
    */
  def bootAll(spark: SparkSession, streamsDir: String, port: Int,
              ctx: EngineCtx = EngineCtx(),
              tcpPort: Option[Int] = None, wsPort: Option[Int] = None,
              tls: Option[Tls.Config] = None): Booted = {
    val registry = new StreamRegistry(ctx)
    val loaded = registry.loadFrom(streamsDir)
    if (loaded.nonEmpty)
      log.info(s"[serve] loaded streams: ${loaded.mkString(", ")}")
    // a later transport failing to start (busy port, bad TLS PEM) must
    // not leak the sockets/threads of the ones already started
    var hub: Option[WebSocketHub] = None
    var cp: ControlPlane = null
    try {
      hub = wsPort.map(p => new WebSocketHub(p).start())
      cp = new ControlPlane(registry, spark, port, websockets = hub).start()
      val tcp = tcpPort.map(p =>
        new RiemannTcpServer(registry, spark, p, websockets = hub, tls = tls).start())
      Booted(registry, cp, tcp, hub)
    } catch {
      case e: Throwable =>
        if (cp != null) try cp.stop() catch { case _: Throwable => }
        hub.foreach(h => try h.stop() catch { case _: Throwable => })
        throw e
    }
  }

  /** Control-plane-only boot (the original surface; kept for callers and
    * tests that don't need the TCP/websocket transports).
    */
  def boot(spark: SparkSession, streamsDir: String, port: Int,
           ctx: EngineCtx = EngineCtx()): (StreamRegistry, ControlPlane) = {
    val b = bootAll(spark, streamsDir, port, ctx)
    (b.registry, b.controlPlane)
  }

  /** SIGHUP → diff-reload of the streams directory, exactly the
    * reference's handler (`core.clj:136-143`: log, reload, never let a
    * reload failure kill the process). Returns false where the platform
    * or JVM flags don't expose signal handling (reload stays available
    * over HTTP).
    */
  def installReloadHandler(registry: StreamRegistry, streamsDir: String): Boolean =
    installReloadHandler(registry, Seq(streamsDir))

  /** Completed SIGHUP handler invocations (success or failure). Exposed so
    * tests (and operators reading /metrics-style introspection) can await
    * handler COMPLETION instead of polling registry state on a wall-clock
    * deadline — under box load the signal thread can be scheduled late, and
    * a fixed poll window turns a deterministic handler into a flaky gate.
    */
  val reloadCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** True when SIGHUP was SIG_IGN at JVM start (a nohup'd / daemonized
    * parent): HotSpot deliberately leaves ignored-at-startup signals
    * ignored, so `Signal.handle` "succeeds" but the kernel discards every
    * HUP — the handler can never run. Detected via the SigIgn mask in
    * /proc/self/status (bit 0 = SIGHUP); non-Linux platforms report false
    * and rely on `Signal.handle` itself throwing where unsupported.
    */
  private def sighupIgnoredAtStartup: Boolean =
    try {
      val st = java.nio.file.Paths.get("/proc/self/status")
      java.nio.file.Files.exists(st) && {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(st).asScala
          .find(_.startsWith("SigIgn:"))
          .exists(l => (java.lang.Long.parseUnsignedLong(l.split("\\s+")(1), 16) & 1L) != 0L)
      }
    } catch { case _: Throwable => false }

  def installReloadHandler(registry: StreamRegistry, streamsDirs: Seq[String]): Boolean =
    try {
      if (sighupIgnoredAtStartup) {
        log.warn("[serve] SIGHUP reload unavailable: the signal was ignored " +
          "at JVM start (nohup'd parent) and the kernel will discard it — " +
          "use the HTTP reload route instead")
        return false
      }
      sun.misc.Signal.handle(new sun.misc.Signal("HUP"), (_: sun.misc.Signal) =>
        try {
          val r = registry.reloadFrom(streamsDirs)
          log.info(s"[serve] SIGHUP reload: added=${r.added.mkString(",")} " +
            s"reloaded=${r.reloaded.mkString(",")} removed=${r.removed.mkString(",")} " +
            s"unchanged=${r.unchanged.size}")
        } catch {
          case scala.util.control.NonFatal(e) =>
            log.warn(s"[serve] reload failed: ${e.getMessage}")
        } finally reloadCount.incrementAndGet())
      true
    } catch {
      case _: Throwable => false
    }

  // ---------------- CLI commands (reference `core.clj:116-128`) ----------------

  /** `compile <src-dir> <dst-dir>` — the analog of the reference's
    * `compile` command (`config/compile-config!`: `.clj` stream DSL →
    * EDN): parse every JSON/EDN stream document in `src`, statically
    * validate each pipeline, and write one canonical `<name>.json` per
    * stream into `dst`. Returns the compiled names; throws on an invalid
    * document.
    */
  def compileStreams(spark: SparkSession, src: String, dst: String,
                     ctx: EngineCtx = EngineCtx()): Seq[String] = {
    val docs = StreamRegistry.parseDirDocs(src)
    require(docs.nonEmpty, s"compile: no stream documents under '$src'")
    val d = java.nio.file.Paths.get(dst)
    java.nio.file.Files.createDirectories(d)
    docs.map { doc =>
      val (name, default, pipeline) = StreamRegistry.streamMeta(doc)
      val errs = graft.ir.Engine.validate(pipeline, spark, ctx)
      require(errs.isEmpty, s"compile: stream '$name' invalid:\n  ${errs.mkString("\n  ")}")
      // same contract as StreamRegistry persistence: a #secret serializes
      // as its MASK — the compiled copy cannot round-trip the secret
      if (StreamRegistry.hasSecret(pipeline))
        log.warn(s"[serve] compile: stream '$name' contains #secret values — " +
          "the compiled copy is REDACTED; keep the EDN source as the source of truth")
      val out = graft.ir.Node("stream",
        Seq(Map("name" -> name, "default" -> default)), Seq(pipeline))
      java.nio.file.Files.writeString(d.resolve(s"$name.json"), graft.ir.Node.toJson(out))
      name
    }
  }

  /** `test` — the analog of the reference's `test` command
    * (`test.clj:41-82`): load the streams dirs into a test-mode registry,
    * run every fixture document in the test dirs (JSON or EDN, the
    * reference's own shape incl. `tap-results`), and return the failures.
    */
  def runTests(spark: SparkSession, streamDirs: Seq[String],
               testDirs: Seq[String],
               ctx: EngineCtx = EngineCtx()): Seq[graft.ir.TapTestKit.TapFailure] = {
    val registry = new StreamRegistry(ctx.copy(testMode = true))
    streamDirs.foreach(registry.loadFrom)
    testDirs.flatMap { dir =>
      StreamRegistry.listDocFiles(dir).flatMap { p =>
        // the read/parse sits INSIDE the try: one malformed fixture file
        // is a per-file failure in the summary, not a dead test command
        try {
          val text = java.nio.file.Files.readString(p)
          val parsed =
            if (p.toString.endsWith(".edn")) graft.ir.Edn.parse(text)
            else graft.ir.Node.anyOf(org.json4s.jackson.JsonMethods.parse(text))
          graft.ir.TapTestKit.runFixtureDoc(spark, parsed, registry,
            ctx.copy(testMode = true))
        } catch {
          case scala.util.control.NonFatal(e) =>
            Seq(graft.ir.TapTestKit.TapFailure(p.getFileName.toString, "-",
              s"exception during test: ${e.getMessage}"))
        }
      }
    }
  }

  private def cliMain(spark: SparkSession, args: Array[String],
                      streamDirs: Seq[String], testDirs: Seq[String],
                      ctx: EngineCtx): Int =
    args(0) match {
      case "graphviz" =>
        require(args.length >= 2, "usage: graphviz <destination.dot>")
        val registry = new StreamRegistry(ctx.copy(testMode = true))
        streamDirs.foreach(registry.loadFrom)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(args(1)), graft.ir.Graphviz.dot(registry))
        System.err.println(s"[serve] graphviz written to ${args(1)}")
        0
      case "compile" =>
        require(args.length >= 3, "usage: compile <src-dir> <dst-dir>")
        val names = compileStreams(spark, args(1), args(2), ctx)
        System.err.println(s"[serve] compiled: ${names.mkString(", ")}")
        0
      case "test" | "compile-test" | "compile_test" =>
        if (args(0) != "test") {
          // the reference's compile! path requires both dirs — a forgotten
          // dir must fail loudly, not silently degrade to test-only
          require(args.length >= 3, "usage: compile-test <src-dir> <dst-dir>")
          compileStreams(spark, args(1), args(2), ctx)
        }
        val failures = runTests(spark, streamDirs, testDirs, ctx)
        // the reference's human summary (test.clj:20-39)
        if (failures.isEmpty) { println("All tests successful"); 0 }
        else {
          println(s"${failures.size} errors\n")
          println(failures.mkString("\n\n----\n\n"))
          1
        }
      case other =>
        System.err.println(s"unknown command '$other' " +
          "(expected: graphviz | compile | test | compile-test)")
        2
    }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the boot and status lines stay visible under the WARN root level
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      log.getName, org.apache.logging.log4j.Level.INFO)
    if (args.nonEmpty) {
      // command mode, reference `core.clj:116-128`: resolve dirs the same
      // way the server boot does, run the command, exit
      val cliConf = sys.env.get("SPARK_GRAFT_CONFIG").map(graft.ir.Config.load)
      val cliStreamDirs = cliConf.map(_.streamDirs).filter(_.nonEmpty)
        .getOrElse(Seq(sys.env.getOrElse("SPARK_GRAFT_STREAMS_DIR", "streams")))
      val cliTestDirs = cliConf.map(_.testDirs).filter(_.nonEmpty)
        .getOrElse(sys.env.get("SPARK_GRAFT_TESTS_DIR").toSeq)
      // the CLI validates with the SAME outputs the server would boot
      // with — a stream ending in a configured output! must compile
      val cliCtx = EngineCtx(outputs = cliConf.map(_.outputs).getOrElse(Map.empty))
      val rc = cliMain(spark, args, cliStreamDirs, cliTestDirs, cliCtx)
      spark.stop()
      sys.exit(rc)
    }
    // SPARK_GRAFT_CONFIG points at a reference-shaped main config.edn
    // (graft.ir.Config) and supplies ports/TLS/stream dirs/outputs;
    // the SPARK_GRAFT_* variables are the env-only alternative.
    val conf = sys.env.get("SPARK_GRAFT_CONFIG").map(graft.ir.Config.load)
    conf.foreach(_.warnings.foreach(w => log.warn(s"[serve] config: $w")))
    val dirs = conf.map(_.streamDirs).filter(_.nonEmpty)
      .getOrElse(Seq(sys.env.getOrElse("SPARK_GRAFT_STREAMS_DIR", "streams")))
    val port = conf.flatMap(_.httpPort)
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_HTTP_PORT", "5558").toInt)
    val tlsVars = Seq("SPARK_GRAFT_TLS_KEY", "SPARK_GRAFT_TLS_CERT", "SPARK_GRAFT_TLS_CACERT")
      .map(v => v -> sys.env.get(v))
    val envTls = tlsVars.map(_._2) match {
      case Seq(Some(k), Some(c), Some(ca)) => Some(Tls.Config(k, c, ca))
      case vals if vals.exists(_.isDefined) =>
        // a partial triple (typo'd var, missing file) must NEVER silently
        // fall back to a plaintext transport the operator believes is mTLS
        throw new IllegalArgumentException(
          "partial TLS config: set all of " + tlsVars.map(_._1).mkString(", ") +
            " or none (missing: " + tlsVars.collect { case (v, None) => v }.mkString(", ") + ")")
      case _ => None
    }
    val ctx = EngineCtx(outputs = conf.map(_.outputs).getOrElse(Map.empty))
    val b = bootAll(spark, dirs.head, port, ctx,
      tcpPort = conf.flatMap(_.tcpPort).orElse(sys.env.get("SPARK_GRAFT_TCP_PORT").map(_.toInt)),
      wsPort = sys.env.get("SPARK_GRAFT_WS_PORT").map(_.toInt),
      tls = conf.flatMap(_.tls).orElse(envTls))
    dirs.tail.foreach { d =>
      val extra = b.registry.loadFrom(d)
      if (extra.nonEmpty) log.info(s"[serve] loaded streams: ${extra.mkString(", ")}")
    }
    installReloadHandler(b.registry, dirs)
    // config-declared Structured Streaming queries: boot each with its
    // checkpoint so a server restart resumes state and source offsets
    val streamingQueries = conf.map(_.streaming).getOrElse(Nil).map { q =>
      val sq = graft.streaming.StreamServe.start(spark, q)
      log.info(s"[serve] streaming query '${q.name}' started (${sq.id})")
      sq
    }
    log.info(s"[serve] http on 127.0.0.1:${b.controlPlane.boundPort}" +
      b.tcp.map(t => s", riemann-tcp on ${t.boundPort}" + (if (conf.flatMap(_.tls).orElse(envTls).isDefined) " (mTLS)" else "")).getOrElse("") +
      b.websockets.map(h => s", websocket on ${h.boundPort}").getOrElse(""))
    val done = new java.util.concurrent.CountDownLatch(1)
    sys.addShutdownHook {
      if (sys.env.get("SPARK_GRAFT_PERSIST").contains("true")) b.registry.saveTo(dirs.head)
      // stop() commits the current micro-batch's offsets to the
      // checkpoint; the next boot resumes from there
      streamingQueries.foreach(q => scala.util.Try(q.stop()))
      b.stop()
      done.countDown()
    }
    done.await()
  }
}
