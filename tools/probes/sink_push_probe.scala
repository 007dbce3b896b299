// Per-push cost of the served alert-stream shape (where -> by host ->
// fixed-time-window 10 s -> coll-mean -> output!) whose output writes each
// push with FileSink.write into one shared directory, as the Riemann
// serving path does. 10-event frames built by Event.frame inside each timed
// push. Prints p50/p90 of the push, Spark jobs per timed push (counted by
// job group, with a fence job to order the listener's view), the files
// left in <sink>/_staging once every push returned (expect 0) and the lines
// of the published part files.
import graft.ir.{EngineCtx, Node, StreamRegistry}; import graft.model.Event; import graft.sinks.FileSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}; import scala.jdk.CollectionConverters._
val dir = java.nio.file.Files.createTempDirectory("sink-push-probe"); val out = dir.resolve("out")
val node = Node.fromJson("""{"action":"where","params":[[">","metric",50]],"children":[{"action":"by","params":[["host"]],"children":[{"action":"fixed-time-window","params":[{"duration":10}],"children":[{"action":"coll-mean","children":[{"action":"output!","params":["sink"]}]}]}]}]}""")
val ctx = EngineCtx(outputs = Map("sink" -> ((df: org.apache.spark.sql.DataFrame) => FileSink.write(df, out.toString))))
val registry = new StreamRegistry(ctx); registry.add("alerts", node)
def events(k: Int) = (0 until 10).map(i => Event(Some(s"h${(k + i) % 4}"), Some("svc"), None, Some("ok"), Some(((k * 7 + i * 13) % 100).toDouble), (k * 20L + i * 2L) * 1000000000L, Some(60.0), None, Nil, Map.empty, k * 10L + i))
def ms(body: => Any): Double = { val t0 = System.nanoTime; body; (System.nanoTime - t0) / 1e6 }
def pct(xs: Seq[Double], q: Double): Double = { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }
val warm = sys.env.getOrElse("PROBE_WARM", "150").toInt; val n = sys.env.getOrElse("PROBE_PUSHES", "200").toInt
(0 until warm).foreach(k => registry.push(Event.frame(spark, events(k)), "alerts"))
val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
val listener = new SparkListener { override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add) }
sc.addSparkListener(listener); sc.setJobGroup("sink-push", "timed pushes")
val timed = (warm until warm + n).map(k => ms(registry.push(Event.frame(spark, events(k)), "alerts")))
sc.setJobGroup("sink-push-fence", "fence"); spark.range(1).count(); sc.clearJobGroup()
val deadline = System.nanoTime + 10000000000L; while (!groups.contains("sink-push-fence") && System.nanoTime < deadline) Thread.sleep(10)
sc.removeSparkListener(listener)
val stagingLeft = { val s = out.resolve("_staging"); if (java.nio.file.Files.exists(s)) java.nio.file.Files.list(s).count() else 0L }
val rows = { val w = java.nio.file.Files.walk(out); try w.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")).map(p => java.nio.file.Files.readAllLines(p).size).sum finally w.close() }
println(f"[sink-push] pushes=$n p50=${pct(timed, 0.5)}%.2f ms p90=${pct(timed, 0.9)}%.2f ms | jobs/push=${groups.asScala.count(_ == "sink-push").toDouble / n}%.2f | staging_left=$stagingLeft rows=$rows")
{ val w = java.nio.file.Files.walk(dir); try w.iterator().asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p)) finally w.close() }
