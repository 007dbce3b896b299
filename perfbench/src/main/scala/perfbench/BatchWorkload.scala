package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Forced batch queries from `graft.SparkEntry.queries`.
  *
  * The timed action of a query is its construction plus a fold over its
  * full output: `count(*)` and the sum, as DECIMAL(38,0) so it cannot
  * overflow, of an xxhash64 over every output column (each column with a
  * null marker; doubles rounded to 6 places, the precision the oracle
  * gates compare at). Because the hash reads every column, Catalyst cannot
  * prune the query's projections away, which a plain `count()` allows.
  */
object BatchWorkload {
  val Queries: Seq[String] = Seq("tpch_q1", "tpch_q5_region_revenue", "sessionize", "ewma",
    "throttle", "percentiles", "riemann_decode", "text_normalize", "pii_redact",
    "dedup_minhash_lsh", "dedup_clusters_star", "bm25_persisted", "incremental_dedup",
    "ann_ivfpq_topk")

  /** Timed executions of `riemann_decode` per run, at least. */
  val DecodeRuns = 5

  /** Queries whose kernels a `count()` action elides; the forced plan must
    * still run them.
    */
  val MustRunKernels: Set[String] = Set("text_normalize", "pii_redact", "riemann_decode")

  final case class Fingerprint(rows: Long, hash: String)

  def fold(df: DataFrame): DataFrame = {
    val parts: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      val v = f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _                      => c
      }
      Seq(c.isNull, v)
    }
    df.agg(count(lit(1)).as("n"), sum(xxhash64(parts: _*).cast(DecimalType(38, 0))).as("h"))
  }

  def fingerprint(folded: DataFrame): Fingerprint = {
    val r = folded.collect().head
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("null"))
  }

  // ---- plan audit ----

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case other                    => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Expressions that only move or fold values: the fold's own operators
    * and plain column references. Anything else in the executed plan is
    * work of the query itself.
    */
  private def trivial(e: Expression): Boolean = e match {
    case _: Attribute | _: Literal | _: Alias | _: IsNull | _: XxHash64 | _: Round |
         _: Cast | _: AggregateExpression | _: Count | _: Sum | _: SortOrder => true
    case _ => false
  }

  private val plainNodes = Set("FileSourceScanExec", "BatchScanExec", "LocalTableScanExec",
    "HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec",
    "ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec", "AQEShuffleReadExec",
    "ColumnarToRowExec", "RowToColumnarExec", "InputAdapter", "WholeStageCodegenExec", "ProjectExec")

  /** Operators and expressions of the executed plan that do the query's own
    * work; empty means the action was a bare scan.
    */
  def kernels(plan: SparkPlan): Seq[String] =
    nodes(plan).flatMap { n =>
      val own = if (plainNodes(n.getClass.getSimpleName)) Nil else Seq(n.nodeName)
      val exprs = n.expressions.flatMap(_.collect { case e if !trivial(e) => e.prettyName })
      own ++ exprs
    }.distinct

  final case class Exec(name: String, secs: Double, fp: Fingerprint, kernels: Seq[String])

  /** Build, fold and collect one query; the plan is read after execution,
    * so adaptive plans are final.
    */
  def runOnce(spark: SparkSession, name: String, dataDir: String): Exec = {
    val q = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val folded = fold(q(spark, dataDir))
    val fp = fingerprint(folded)
    val secs = (System.nanoTime() - t0) / 1e9
    Exec(name, secs, fp, kernels(folded.queryExecution.executedPlan))
  }

  /** Kernels left in the plan of `Bench`'s `count()` action, for the
    * record: planned, not executed.
    */
  def countPlanKernels(spark: SparkSession, name: String, dataDir: String): Seq[String] =
    kernels(graft.SparkEntry.queries(name)(spark, dataDir).groupBy().count().queryExecution.executedPlan)

  /** Problems with one execution; empty = correct. */
  def check(e: Exec, expected: Map[String, Fingerprint]): Seq[String] = {
    val fpErr = expected.get(e.name) match {
      case None                  => Seq(s"${e.name}: no recorded fingerprint")
      case Some(x) if x != e.fp  => Seq(s"${e.name}: fingerprint ${e.fp} != recorded $x")
      case _                     => Nil
    }
    val planErr =
      if (e.kernels.isEmpty) Seq(s"${e.name}: timed plan is a bare scan") else Nil
    fpErr ++ planErr
  }

  def readExpected(path: java.nio.file.Path): Map[String, Fingerprint] = {
    val root = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files.readString(path))
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    (root \ "queries").extract[Map[String, Map[String, String]]].map { case (k, v) =>
      k -> Fingerprint(v("rows").toLong, v("hash"))
    }
  }

  def writeExpected(path: java.nio.file.Path, dataName: String, fps: Seq[(String, Fingerprint)]): Unit = {
    val body = fps.map { case (n, f) =>
      s"    ${Json.quote(n)}: {\"rows\": \"${f.rows}\", \"hash\": \"${f.hash}\"}"
    }.mkString(",\n")
    java.nio.file.Files.writeString(path,
      s"{\n  \"data\": ${Json.quote(dataName)},\n  \"queries\": {\n$body\n  }\n}\n")
  }
}

/** One run of the batch workload: a cold pass (set-up), then whole timed
  * passes, in a seeded query order, until the measured time is used.
  */
final class Batch(spark: SparkSession, dataDir: String, seed: Long, seconds: Int,
                  traced: Boolean, tracer: Tracer, probe: SparkProbe) {
  import BatchWorkload._

  private val rng = new scala.util.Random(seed)

  private def exec(name: String, pass: Int): Exec = {
    // timed executions start from a collected heap, so no query pays for
    // the garbage of the one before it
    if (pass > 0) System.gc()
    if (!traced) runOnce(spark, name, dataDir)
    else {
      spark.sparkContext.setJobGroup(s"$pass:$name", name)
      val t0 = System.nanoTime()
      try runOnce(spark, name, dataDir)
      finally {
        tracer.add(Span("batch.query", t0, System.nanoTime(), "", request = s"$pass:$name"))
        spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Set-up: every query once, cold, `nproc` at a time. */
  val (cold, coldS) = {
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    try {
      val futures = rng.shuffle(Queries).map(q => pool.submit(() => exec(q, 0)))
      val c = futures.map(_.get())
      (c, (System.nanoTime() - t0) / 1e9)
    } finally pool.shutdown()
  }

  /** Timed executions: a first full pass, then further passes for as
    * long as the measured time lasts (the last pass may stop part-way),
    * then `riemann_decode` until it ran `DecodeRuns` times: `events_per_s`
    * rests on that one query alone.
    */
  val (timed, passes) = {
    val out = scala.collection.mutable.ListBuffer[Exec]()
    val deadline = System.nanoTime() + seconds * 1000000000L
    var p = 0
    while (p == 0 || System.nanoTime() < deadline) {
      p += 1
      val order = rng.shuffle(Queries).iterator
      while (order.hasNext && (p == 1 || System.nanoTime() < deadline)) out += exec(order.next(), p)
    }
    while (out.count(_.name == "riemann_decode") < DecodeRuns) out += exec("riemann_decode", p)
    (out.toList, p)
  }

  /** Median forced time per query over the timed passes, in seconds. */
  val medians: Map[String, Double] =
    timed.groupBy(_.name).map { case (n, es) => n -> Main.pct(es.map(_.secs), 0.5) }

  /** Timed executions per query. */
  val runs: Map[String, Int] = timed.groupBy(_.name).map { case (n, es) => n -> es.size }

  def layers(): Seq[(String, Double, String)] = {
    probe.settle()
    val jobs = probe.jobs.values().asScala.toSeq.filter(j => !j.group.startsWith("0:") && j.group.nonEmpty)
    jobs.foreach(j => tracer.add(Span("spark.job", j.startNs, j.endNs, "batch.query", request = j.group)))
    Queries.flatMap { q =>
      val js = jobs.filter(_.group.endsWith(s":$q"))
      val ts = probe.tasksOf(js)
      Seq(
        (s"batch.$q.s", medians(q), "s"),
        (s"batch.$q.jobs", js.size.toDouble / runs(q), "count"),
        (s"batch.$q.task_s", ts.map(_.ms).sum / 1000.0 / runs(q), "s"),
        (s"batch.$q.shuffle_mb", ts.map(_.shuffleBytes.toDouble).sum / 1048576.0 / runs(q), "MB"))
    } :+ (("traced.batch_total_s", medians.values.sum, "s"))
  }
}
