package graft

import graft.conditions.Condition
import graft.http.WebSocketHub
import graft.ir.{Engine, EngineCtx, Node, StreamRegistry, StreamResult}
import graft.model.Event
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** A compiled stream's file sinks and subscribers run plans kept with the
  * stream: the same lines and JSON as the path that plans every frame,
  * built once per consumer (and per push running at once), with no Spark
  * job and no Catalyst phase per push; frames whose plan holds a value
  * fixed per execution or a nondeterministic expression are planned per
  * push as before.
  */
class PushPlansSpec extends AnyFunSuite {
  import TestSpark._

  private val critical = Condition.parse(Seq("=", "state", "critical"))

  /** The alert shape with three file sinks (flat, by field, by date) and a
    * firehose channel.
    */
  private def pipeline(flat: Path, byHost: Path, byDate: Path, threshold: Int = 20): Node = Node.fromJson(
    s"""{"action":"sdo","children":[
       |  {"action":"publish!","params":["firehose"]},
       |  {"action":"where","params":[[">","metric",$threshold]],"children":[
       |    {"action":"by","params":[["host"]],"children":[
       |      {"action":"fixed-time-window","params":[{"duration":10}],"children":[
       |        {"action":"coll-mean","children":[
       |          {"action":"output-file","params":[{"path":"$flat"}]},
       |          {"action":"output-file","params":[{"path":"$byHost","fields":["host"]}]},
       |          {"action":"output-file","params":[{"path":"$byDate","date-pattern":"yyyy-MM-dd"}]}]}]}]}]}]}""".stripMargin)

  /** Ten seeded random events: hosts, states, tags and times vary. */
  private def frame(seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    Event.frame(spark, (0 until 10).map { i =>
      ev(r.nextInt(100).toDouble, (seed * 40L + r.nextInt(40)) * S + r.nextInt(1000),
        host = s"h${r.nextInt(3)}", state = if (r.nextBoolean()) "critical" else "ok",
        id = seed * 10L + i, tags = if (r.nextBoolean()) Seq("a", s"t$i") else Nil)
    })
  }

  private def sinks(prefix: String): (Path, Path, Path) = {
    val d = tempDir(prefix)
    (d.resolve("flat"), d.resolve("host"), d.resolve("date"))
  }

  /** Partition directory → the contents of its data files, sorted: equal
    * for two sinks exactly when their files are equal byte for byte.
    */
  private def files(root: Path): Map[String, Seq[String]] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala.toSeq
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .groupBy(p => root.relativize(p.getParent).toString)
      .map { case (d, fs) => d -> fs.map(f => new String(Files.readAllBytes(f), "UTF-8")).sorted }

  /** Spark jobs started by `body` on this thread, counted by a job group;
    * a later fence job orders the listener's view.
    */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains(s"$group-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(s"$group-fence"))
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("kept sink lines and published JSON equal the per-frame path byte for byte over seeded frames") {
    val (kf, kh, kd) = sinks("graft-pushplans-kept")
    val (rf, rh, rd) = sinks("graft-pushplans-ref")
    val registry = new StreamRegistry(EngineCtx(testMode = false))
    registry.add("alerts", pipeline(kf, kh, kd))
    val subscribers = Seq(critical, Condition.AlwaysTrue, Condition.parse(Seq(">", "metric", 50)))
    (1 to 12).foreach { seed =>
      val kept = registry.push(frame(seed), "alerts")("alerts")
      val ref = Engine.run(pipeline(rf, rh, rd), frame(seed), EngineCtx(testMode = false))
      subscribers.foreach { cond =>
        assert(WebSocketHub.channelJson(kept, "firehose", cond).toSeq ==
          WebSocketHub.orderedJson(ref.subscribe("firehose", cond)).toSeq, s"seed $seed, $cond")
      }
    }
    Seq((kf, rf), (kh, rh), (kd, rd)).foreach { case (k, r) =>
      assert(files(k).nonEmpty)
      assert(files(k) == files(r), k)
    }
    assert(registry.pushPlans == 3 + subscribers.size)
  }

  test("50 pushes build each kept plan once, run no Spark job and no Catalyst phase; a re-add builds again") {
    val (f, h, d) = sinks("graft-pushplans-count")
    val registry = new StreamRegistry(EngineCtx(testMode = false))
    registry.add("alerts", pipeline(f, h, d))
    val phases = new ConcurrentLinkedQueue[String]()
    val executions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "FileSink.write" || funcName == "collect") {
          executions.incrementAndGet()
          phases.addAll(qe.tracker.phases.keys.asJavaCollection)
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def publish(res: Map[String, StreamResult]) = WebSocketHub.channelJson(res("alerts"), "firehose", critical)
    publish(registry.push(frame(0), "alerts")) // builds
    assert(registry.pushPlans == 4)
    def settle(n: Int): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (executions.get() < n && System.nanoTime() < deadline) Thread.sleep(10)
      assert(executions.get() == n)
    }
    spark.listenerManager.register(listener)
    try {
      assert(jobsOf("pushplans-50")((1 to 50).foreach(i => publish(registry.push(frame(i), "alerts")))) == 0)
      settle(50 * 4)
      assert(phases.isEmpty, phases.asScala.toSeq.distinct)
    } finally spark.listenerManager.unregister(listener)
    assert(registry.pushPlans == 4)

    // a re-add that changes the pipeline: one build per consumer again, and
    // the next push writes the new pipeline's rows
    registry.add("alerts", pipeline(f, h, d, threshold = 60))
    val before = files(f)
    registry.push(frame(99), "alerts")
    assert(registry.pushPlans == 7) // three sinks; the channel is not read
    val ref = tempDir("graft-pushplans-count-ref")
    Engine.run(pipeline(ref.resolve("f"), ref.resolve("h"), ref.resolve("d"), threshold = 60), frame(99),
      EngineCtx(testMode = false))
    val added = files(f).map { case (dir, fs) => dir -> fs.diff(before.getOrElse(dir, Nil)) }
    assert(added == files(ref.resolve("f")))
  }

  test("concurrent pushes of one stream: 4 threads x 25 pushes each write and publish their own rows") {
    val (f, h, d) = sinks("graft-pushplans-conc")
    val registry = new StreamRegistry(EngineCtx(testMode = false))
    registry.add("alerts", pipeline(f, h, d))
    val (threads, pushes) = (4, 25)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => (0 until pushes).foreach { k =>
        val seed = 1000 + t * pushes + k
        try {
          val res = registry.push(frame(seed), "alerts")("alerts")
          val want = frame(seed).filter(critical.column).orderBy("time", "eventId").toJSON.collect().toSeq
          assert(WebSocketHub.channelJson(res, "firehose", critical).toSeq == want, s"seed $seed")
        } catch { case e: Throwable => errors.add(e) }
      })
      th.start()
      th
    }
    ts.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("; "))
    val (rf, rh, rd) = sinks("graft-pushplans-conc-ref")
    (0 until threads * pushes).foreach(i =>
      Engine.run(pipeline(rf, rh, rd), frame(1000 + i), EngineCtx(testMode = false)))
    Seq((f, rf), (h, rh), (d, rd)).foreach { case (k, r) => assert(files(k) == files(r), k) }
    // each consumer built at most one instance per thread
    assert(registry.pushPlans >= 4 && registry.pushPlans <= 4 * threads)
  }

  test("a value fixed per execution or a nondeterministic column is computed anew on every push") {
    def stamped(out: String) = Node.fromJson(
      s"""{"action":"output!","params":["$out"]}""")
    val dir = tempDir("graft-pushplans-fallback")
    // output! functions that add the column before FileSink.write
    val outputs: Map[String, DataFrame => Unit] = Map(
      "now" -> (df => graft.sinks.FileSink.write(df.withColumn("x", current_timestamp().cast("string")),
        dir.resolve("now").toString)),
      "rand" -> (df => graft.sinks.FileSink.write(df.withColumn("x", rand()), dir.resolve("rand").toString)))
    // custom actions that add it upstream of output-file: the frames reaching
    // the sink are marked, and their plan is not kept. `rand()` draws its
    // seed when the column is made, so the action makes one per call.
    def adding(c: () => org.apache.spark.sql.Column): Seq[Any] => DataFrame => DataFrame =
      _ => _.withColumn("x", c())
    val custom = Map("stamp" -> adding(() => current_timestamp().cast("string")), "noise" -> adding(() => rand()))
    def upstream(action: String, out: String) = Node.fromJson(
      s"""{"action":"custom","params":["$action"],"children":[
         |  {"action":"output-file","params":[{"path":"${dir.resolve(out)}"}]}]}""".stripMargin)
    val registry = new StreamRegistry(EngineCtx(testMode = false, outputs = outputs, custom = custom))
    registry.add("now", stamped("now"))
    registry.add("rand", stamped("rand"))
    registry.add("stamp", upstream("stamp", "stamp"))
    registry.add("noise", upstream("noise", "noise"))
    val names = Seq("now", "rand", "stamp", "noise")
    (1 to 3).foreach { i =>
      names.foreach(n => registry.push(Event.frame(spark, Seq(ev(i, i * S, id = i))), n))
      Thread.sleep(5) // past the millisecond: current_timestamp() moves
    }
    assert(registry.pushPlans == 0)
    names.foreach { n =>
      val xs = spark.read.json(dir.resolve(n).toString).select(col("x").cast("string")).collect().map(_.getString(0))
      assert(xs.length == 3 && xs.distinct.length == 3, s"$n: ${xs.toSeq}")
    }
  }

  test("a subscriber condition naming a missing field fails on every push and is never kept") {
    val (f, h, d) = sinks("graft-pushplans-badcond")
    val registry = new StreamRegistry(EngineCtx(testMode = false))
    registry.add("alerts", pipeline(f, h, d))
    val bad = Condition.parse(Seq(">", "bogus", 1))
    (1 to 2).foreach { i =>
      val res = registry.push(frame(i), "alerts")("alerts")
      intercept[org.apache.spark.sql.AnalysisException](WebSocketHub.channelJson(res, "firehose", bad))
    }
    assert(registry.pushPlans == 3) // the three sinks
  }
}
