package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Spans recorded by the harness around calls into the program's layers;
  * spans of one frame or query execution share `request`. Spans stay in
  * memory and are written once, at exit. Times are
  * `System.nanoTime`; Spark listener times (epoch ms) are mapped onto the
  * same clock.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: String,
                      thread: Long = 0L, ok: Boolean = true, request: String = "") {
  def ms: Double = (endNs - startNs) / 1e6
}

final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def add(s: Span): Unit = spans.add(s)

  /** Time `body` as a span; a throwing body is recorded with ok = false. */
  def span[T](name: String, parent: String = "")(body: => T): T = {
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally spans.add(Span(name, t0, System.nanoTime(), parent, Thread.currentThread().getId, ok))
  }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(Json.render(Map("name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "request" -> s.request, "thread" -> s.thread, "ok" -> s.ok)))
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Spark jobs, stages and tasks, with the local properties the jobs were
  * submitted under, plus Catalyst phase times of executed actions.
  */
final class SparkProbe(tracer: Tracer) extends SparkListener {
  import SparkProbe.{Job, Task}

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** (phase, startNs, endNs) of every executed action's planning phases. */
  val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  val listenerEvents = new java.util.concurrent.atomic.AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val j = new Job(e.jobId, tracer.fromEpochMs(e.time),
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
      p.flatMap(x => Option(x.getProperty(SparkProbe.PushKey))).getOrElse(""),
      e.stageIds)
    jobs.put(e.jobId, j)
    listenerEvents.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endNs = tracer.fromEpochMs(e.time))
    listenerEvents.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = Option(e.taskMetrics)
    val shuffle = m.map(x => x.shuffleReadMetrics.totalBytesRead + x.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
    val spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)
    tasks.add(Task(e.stageId, e.taskInfo.duration.toDouble, shuffle, spill))
    listenerEvents.incrementAndGet()
  }

  /** Jobs started in [lo, hi). */
  def jobsIn(lo: Long, hi: Long): Seq[Job] =
    jobs.values().asScala.filter(j => j.startNs >= lo && j.startNs < hi).toSeq.sortBy(_.id)

  def tasksOf(js: Seq[Job]): Seq[Task] = {
    val stages = js.flatMap(_.stageIds).toSet
    tasks.asScala.filter(t => stages.contains(t.stageId)).toSeq
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, tracer.fromEpochMs(p.startTimeMs), tracer.fromEpochMs(p.endTimeMs)))
      }
      listenerEvents.incrementAndGet()
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
  }

  /** Wait until no listener event has arrived for a short while, so counts
    * read after a measured window are complete.
    */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = listenerEvents.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }
}

object SparkProbe {
  /** Local property carrying the push a job was submitted for. */
  val PushKey = "perfbench.push"

  /** A job, with the job group and push it was submitted under. */
  final class Job(val id: Int, val startNs: Long, val group: String, val push: String,
                  val stageIds: Seq[Int]) {
    @volatile var endNs: Long = -1L
  }

  final case class Task(stageId: Int, ms: Double, shuffleBytes: Long, spillBytes: Long)
}
