package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark entry point. Prints a context line, then the result line
  * `{"correct", "attempted", "failed", "metrics"}` as the last line of
  * standard output. With `--trace 0` the metrics are the end-to-end ones;
  * with `--trace 1` they are the per-layer ones.
  *
  * End-to-end metrics are defined for every workload over its operations:
  * a frame push (TCP workloads) or one forced query execution (batch).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, data: String, expected: Path, record: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("out")), req("data"), Paths.get(req("expected")), m.get("record").contains("1"))
  }

  def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) CPU jiffies so far, from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else {
      val r = p * (s.size - 1)
      val (lo, hi) = (r.floor.toInt, r.ceil.toInt)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def geomean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--selftest"))) {
      val errs = SelfTest.run()
      errs.foreach(e => System.err.println(s"[perfbench] self-test: $e"))
      println(if (errs.isEmpty) "self-test passed" else "self-test FAILED")
      sys.exit(if (errs.isEmpty) 0 else 1)
    }
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = loadAvg()
    val cpu0 = cpuJiffies()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", a.out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer
    val probe = new SparkProbe(tracer)
    if (a.trace) probe.install(spark)
    val selfTest = SelfTest.run()

    val ctx = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> nproc, "session_s" -> sessionS)
    val metrics = scala.collection.mutable.ListBuffer[(String, Double, String)]()
    var errors: Seq[String] = selfTest.map("self-test: " + _)
    var attempted = 0L
    var failed = 0L

    /** Warm forced tpch_q1, host context for the traced run. */
    def calib(): Double = {
      BatchWorkload.runOnce(spark, "tpch_q1", a.data)
      pct((1 to 3).map(_ => BatchWorkload.runOnce(spark, "tpch_q1", a.data).secs), 0.5)
    }

    a.workload match {
      case "tcp_small_frames" | "tcp_small_frames_4conn" | "tcp_bulk_frames" =>
        val shape = a.workload match {
          case "tcp_small_frames" => TcpWorkload.Small
          case "tcp_small_frames_4conn" => TcpWorkload.Small4
          case _ => TcpWorkload.Bulk
        }
        val run = new TcpRun(spark, shape, a.seed, a.seconds, a.trace, a.out, tracer, probe)
        val setupS = sessionS + pct(run.bootSecs, 0.5) + run.warmSecs
        errors ++= run.errors
        attempted = run.attempted
        failed = run.failed
        val lat = run.latenciesMs
        val eps = run.eventsPerS
        ctx ++= Seq("boot_s" -> run.bootSecs, "warm_s" -> run.warmSecs, "frames" -> lat.size,
          "read_back_s" -> run.readBack.toMap,
          "ack_p50_ms_by_quarter" -> run.quarterP50s,
          "frames_beyond_p90" -> lat.count(_ > pct(lat, 0.9)), "readds" -> run.readds.size,
          "pool_exhausted" -> run.poolExhausted.get(),
          "nack_errors" -> run.window.asScala.filterNot(_.ok).flatMap(o => Option(o.error))
            .map(_.takeWhile(_ != '\n').take(300)).toSeq.distinct.take(3))
        if (!a.trace) metrics ++= Seq(
          ("events_per_s", eps, "events/s"),
          ("ack_p50_ms", pct(lat, 0.5), "ms"),
          ("ack_p90_ms", pct(lat, 0.9), "ms"),
          ("batch_total_s", run.readBack.map(_._2).sum, "s"),
          ("batch_geomean_s", geomean(run.readBack.map(_._2)), "s"),
          ("setup_s", setupS, "s"))
        else {
          metrics ++= run.layers()
          metrics ++= Seq(("fail_ratio", failed.toDouble / math.max(1L, attempted), "ratio"),
            ("ack_samples", lat.size.toDouble, "count"),
            ("traced.events_per_s", eps, "events/s"), ("traced.ack_p50_ms", pct(lat, 0.5), "ms"))
        }
        run.stop()
        if (a.trace) metrics += (("calib_s", calib(), "s"))

      case "batch_queries" =>
        val b = new Batch(spark, a.data, a.seed, a.seconds, a.trace, tracer, probe)
        // recording takes the cold pass as the reference; the timed passes
        // are then checked against it like any run
        if (a.record) BatchWorkload.writeExpected(a.expected, Paths.get(a.data).getFileName.toString,
          BatchWorkload.Queries.map(q => q -> b.cold.find(_.name == q).get.fp))
        val expected = BatchWorkload.readExpected(a.expected)
        errors ++= (b.cold ++ b.timed).flatMap(BatchWorkload.check(_, expected)).distinct
        attempted = b.timed.size
        failed = b.timed.count(e => BatchWorkload.check(e, expected).nonEmpty)
        val perQuery = b.medians
        val times = perQuery.values.map(_ * 1000.0).toSeq
        ctx ++= Seq("passes" -> b.passes, "cold_s" -> b.coldS, "query_s" -> perQuery,
          "count_plan_kernels" -> BatchWorkload.MustRunKernels.toSeq.sorted.map(q =>
            q -> BatchWorkload.countPlanKernels(spark, q, a.data).size).toMap,
          "forced_plan_kernels" -> BatchWorkload.MustRunKernels.toSeq.sorted.map(q =>
            q -> b.cold.find(_.name == q).map(_.kernels.size).getOrElse(0)).toMap)
        // events decoded per second by the one query that decodes events
        val decodeEps = b.timed.find(_.name == "riemann_decode").get.fp.rows / perQuery("riemann_decode")
        if (!a.trace) metrics ++= Seq(
          ("events_per_s", decodeEps, "events/s"),
          ("ack_p50_ms", pct(times, 0.5), "ms"),
          ("ack_p90_ms", pct(times, 0.9), "ms"),
          ("batch_total_s", perQuery.values.sum, "s"),
          ("batch_geomean_s", geomean(perQuery.values.toSeq), "s"),
          ("setup_s", sessionS + b.coldS, "s"))
        else {
          metrics ++= b.layers()
          metrics ++= Seq(("fail_ratio", failed.toDouble / math.max(1L, attempted), "ratio"),
            ("ack_samples", times.size.toDouble, "count"),
            ("traced.events_per_s", decodeEps, "events/s"),
            ("traced.ack_p50_ms", pct(times, 0.5), "ms"), ("calib_s", calib(), "s"))
        }

      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    if (a.trace) {
      metrics ++= Seq(("load_1m_start", load0, "load"), ("load_1m_end", loadAvg(), "load"))
      val all = Layers.complete(Layers.all, metrics.toSeq)
      metrics.clear()
      metrics ++= all
      tracer.write(a.out.resolve("spans.jsonl"))
    }
    spark.stop()
    if (!a.trace) metrics += (("peak_rss_mb", peakRssMb(), "MB"))
    val cpu1 = cpuJiffies()
    ctx ++= Seq("load_1m_start" -> load0, "load_1m_end" -> loadAvg(),
      "cpu_steal_pct" -> 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2),
      "error_kinds" -> errors.groupBy(e => e.replaceAll("[0-9][0-9/.,-]*", "#").replaceAll("\\(.*", ""))
        .map { case (k, es) => k -> es.size }, "errors" -> errors.take(10),
      "self_test" -> (if (selfTest.isEmpty) "passed" else "FAILED"))
    println(Json.render(Map("context" -> ctx)))
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> errors.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.toSeq.map { case (n, v, u) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
  }
}
