package graft

import graft.http.WebSocketHub
import graft.ir.{Engine, EngineCtx, Node}
import graft.model.Event
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The pushed frame: built straight against `Event.schema`, and executed
  * by its sinks as one partition, so a push's grouped pipeline runs one
  * job without a shuffle.
  */
class PushFrameSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  test("Event.frame: a bare LocalRelation whose schema and rows equal createDataset(events).toDF()") {
    val evs = Seq(
      Event(None, None, None, None, None, 0L, None, None, Nil, Map.empty, 0L),
      Event(Some("h"), Some("s"), Some("n"), Some("ok"), Some(1.5), 7L, Some(60.0), Some("d"),
        Seq("a", "b"), Map("k" -> "v", "x" -> "y"), Long.MaxValue),
      Event(Some("h2"), None, None, Some("critical"), Some(-2.0), -5L, None, None,
        Seq("only"), Map.empty, 3L),
      Event(None, Some("s2"), None, None, None, Long.MaxValue, Some(0.0), None,
        Nil, Map("one" -> "1"), Long.MinValue))
    val s = spark
    import s.implicits._
    val expected = s.createDataset(evs).toDF()
    val got = Event.frame(spark, evs)
    assert(got.queryExecution.analyzed.isInstanceOf[LocalRelation])
    assert(got.schema == expected.schema) // nullability included
    assert(got.schema == Event.schema)
    assert(got.collect().toSeq == expected.collect().toSeq)
    assert(Event.frame(spark, Nil).collect().isEmpty)
  }

  /** Spark jobs started by `body`, counted by a job group; a later fence
    * job orders the listener's view.
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

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  private val pipeline = Node.fromJson(
    """{"action":"sdo","children":[
      |  {"action":"where","params":[[">","metric",50]],"children":[
      |    {"action":"by","params":[["host"]],"children":[
      |      {"action":"fixed-time-window","params":[{"duration":10}],"children":[
      |        {"action":"coll-mean","children":[
      |          {"action":"output!","params":["alerts"]}]}]}]}]},
      |  {"action":"publish!","params":["firehose"]}]}""".stripMargin)

  /** Runs the pipeline; the output collects the frame it receives, in
    * job group `group`. Returns (that frame, its rows, the group's job
    * count, the run's result).
    */
  private def push(input: DataFrame, group: String) = {
    var sent: DataFrame = null
    var rows: Seq[String] = Nil
    var res: graft.ir.StreamResult = null
    val jobs = jobsOf(group) {
      val ctx = EngineCtx(outputs = Map("alerts" -> { (df: DataFrame) =>
        sent = df
        rows = df.toJSON.collect().toSeq.sorted
      }))
      res = Engine.run(pipeline, input, ctx)
    }
    (sent, rows, jobs, res)
  }

  private val frame = Event.frame(spark, (0 until 10).map(i =>
    ev(if (i % 3 == 0) 10.0 else 60.0 + i, (i * 3L) * S, host = s"h${i % 3}", id = i.toLong)))

  test("a pushed frame reaches output! as one partition: one job, no exchange, the rows of a parquet-backed copy") {
    val (local, localRows, localJobs, res) = push(frame, "local-push")
    assert(localJobs == 1)
    assert(shuffles(local).isEmpty, local.queryExecution.executedPlan.treeString)
    assert(localRows.nonEmpty)
    assert(res.outputSends.map(_._1) == Seq("alerts"))
    assert(!(res.outputSends.head._2 eq local)) // the recorded send keeps the original frame

    // publish! on the same push keeps the original frame: a subscriber's
    // filter still runs no Spark job
    val critical = res.channels("firehose")
      .filter(graft.conditions.Condition.parse(Seq(">", "metric", 60)).column)
    assert(jobsOf("local-publish")(WebSocketHub.orderedJson(critical)) == 0)

    // the same pipeline over a parquet-backed copy plans its exchange,
    // and writes the same rows
    val dir = TestSpark.tempDir("graft-pushframe").resolve("events").toString
    frame.write.parquet(dir)
    val (onDisk, diskRows, _, _) = push(spark.read.parquet(dir), "parquet-push")
    assert(shuffles(onDisk).nonEmpty, onDisk.queryExecution.executedPlan.treeString)
    assert(localRows == diskRows)
  }

  test("streaming and mixed local-plus-file frames are left unchanged") {
    val streaming = spark.readStream.format("rate").load()
    assert(Engine.singlePartitionIfLocal(streaming) eq streaming)
    val dir = TestSpark.tempDir("graft-pushframe-mixed").resolve("events").toString
    frame.write.parquet(dir)
    val mixed = frame.unionByName(spark.read.parquet(dir))
    assert(Engine.singlePartitionIfLocal(mixed) eq mixed)
    assert(!(Engine.singlePartitionIfLocal(frame) eq frame))
  }
}
