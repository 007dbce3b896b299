// Per-push cost of the served streams of tcp_small_frames: the alert shape
// (where -> by host -> fixed-time-window 10 s -> coll-mean -> output!) whose
// output writes each push with FileSink.write into one shared directory,
// and a firehose stream (publish! "firehose") with one WebSocket subscriber
// filtering state = critical, as the Riemann serving path runs them.
// 10-event frames built by Event.frame inside each timed push, pushed to
// both default streams, then published through the hub. Prints p50/p90 of
// the push, p50 of the publish, Spark jobs per timed push (counted by job
// group, with a fence job to order the listener's view), kept consumer
// plans built per timed push (expect 0 once warm), the files left in
// <sink>/_staging once every push returned (expect 0), the lines of the
// published part files and the WebSocket bytes the subscriber received.
import graft.http.WebSocketHub; import graft.ir.{EngineCtx, Node, StreamRegistry}; import graft.model.Event; import graft.sinks.FileSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}; import scala.jdk.CollectionConverters._
val dir = java.nio.file.Files.createTempDirectory("sink-push-probe"); val out = dir.resolve("out")
val alerts = Node.fromJson("""{"action":"where","params":[[">","metric",50]],"children":[{"action":"by","params":[["host"]],"children":[{"action":"fixed-time-window","params":[{"duration":10}],"children":[{"action":"coll-mean","children":[{"action":"output!","params":["sink"]}]}]}]}]}""")
val firehose = Node.fromJson("""{"action":"publish!","params":["firehose"]}""")
val ctx = EngineCtx(outputs = Map("sink" -> ((df: org.apache.spark.sql.DataFrame) => FileSink.write(df, out.toString))))
val registry = new StreamRegistry(ctx); registry.add("alerts", alerts, default = true); registry.add("firehose", firehose, default = true)
val hub = new WebSocketHub().start()
// the subscriber: RFC 6455 upgrade with query [:= :state "critical"], then a reader that drains the frames
val sock = new java.net.Socket("127.0.0.1", hub.boundPort)
val query = java.net.URLEncoder.encode(java.util.Base64.getEncoder.encodeToString("""[:= :state "critical"]""".getBytes("UTF-8")), "UTF-8")
sock.getOutputStream.write(s"GET /channel/firehose?query=$query HTTP/1.1\r\nHost: localhost\r\nUpgrade: websocket\r\nConnection: Upgrade\r\nSec-WebSocket-Key: dGhlIHNhbXBsZSBub25jZQ==\r\nSec-WebSocket-Version: 13\r\n\r\n".getBytes("UTF-8"))
val received = new java.util.concurrent.atomic.AtomicLong()
val reader = new Thread(() => try { val in = sock.getInputStream; val buf = new Array[Byte](8192); var n = in.read(buf); while (n >= 0) { received.addAndGet(n); n = in.read(buf) } } catch { case _: java.io.IOException => }); reader.setDaemon(true); reader.start()
while (hub.subscriberCount < 1) Thread.sleep(10)
def events(k: Int) = (0 until 10).map(i => Event(Some(s"h${(k + i) % 4}"), Some("svc"), None, Some(if ((k + i) % 3 == 0) "critical" else "ok"), Some(((k * 7 + i * 13) % 100).toDouble), (k * 20L + i * 2L) * 1000000000L, Some(60.0), None, Nil, Map.empty, k * 10L + i))
def ms(body: => Any): Double = { val t0 = System.nanoTime; body; (System.nanoTime - t0) / 1e6 }
def pct(xs: Seq[Double], q: Double): Double = { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }
val warm = sys.env.getOrElse("PROBE_WARM", "150").toInt; val n = sys.env.getOrElse("PROBE_PUSHES", "200").toInt
(0 until warm).foreach(k => hub.publishAll(registry.push(Event.frame(spark, events(k))).values))
val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
val listener = new SparkListener { override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add) }
val builtBefore = registry.pushPlans
sc.addSparkListener(listener); sc.setJobGroup("sink-push", "timed pushes")
val timed = (warm until warm + n).map { k =>
  var res: Map[String, graft.ir.StreamResult] = null
  val push = ms { res = registry.push(Event.frame(spark, events(k))) }
  (push, ms(hub.publishAll(res.values)))
}
sc.setJobGroup("sink-push-fence", "fence"); spark.range(1).count(); sc.clearJobGroup()
val deadline = System.nanoTime + 10000000000L; while (!groups.contains("sink-push-fence") && System.nanoTime < deadline) Thread.sleep(10)
sc.removeSparkListener(listener)
val built = registry.pushPlans - builtBefore
val stagingLeft = { val s = out.resolve("_staging"); if (java.nio.file.Files.exists(s)) java.nio.file.Files.list(s).count() else 0L }
val rows = { val w = java.nio.file.Files.walk(out); try w.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-")).map(p => java.nio.file.Files.readAllLines(p).size).sum finally w.close() }
println(f"[sink-push] pushes=$n p50=${pct(timed.map(_._1), 0.5)}%.2f ms p90=${pct(timed.map(_._1), 0.9)}%.2f ms publish_p50=${pct(timed.map(_._2), 0.5)}%.2f ms | jobs/push=${groups.asScala.count(_ == "sink-push").toDouble / n}%.2f plan_builds/push=${built.toDouble / n}%.2f (total ${registry.pushPlans}) | staging_left=$stagingLeft rows=$rows ws_bytes=${received.get}")
sock.close(); hub.stop()
{ val w = java.nio.file.Files.walk(dir); try w.iterator().asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p)) finally w.close() }
