// Per-push cost of a registered stream's compiled form against
// interpreting the same frame: the alert-stream shape (where -> by host ->
// fixed-time-window 10 s -> coll-mean -> output!) with a no-op output,
// 10-event frames built by Event.frame inside each timed call. Prints
// p50/p90 of both paths and checks that both produce the same rows.
import graft.ir.{Engine, EngineCtx, Node, StreamRegistry}; import graft.model.Event
val node = Node.fromJson("""{"action":"where","params":[[">","metric",50]],"children":[{"action":"by","params":[["host"]],"children":[{"action":"fixed-time-window","params":[{"duration":10}],"children":[{"action":"coll-mean","children":[{"action":"output!","params":["noop"]}]}]}]}]}""")
val ctx = EngineCtx(outputs = Map("noop" -> ((_: org.apache.spark.sql.DataFrame) => ())))
val registry = new StreamRegistry(ctx); registry.add("alerts", node)
def events(k: Int) = (0 until 10).map(i => Event(Some(s"h${(k + i) % 4}"), Some("svc"), None, Some("ok"), Some(((k * 7 + i * 13) % 100).toDouble), (k * 20L + i * 2L) * 1000000000L, Some(60.0), None, Nil, Map.empty, k * 10L + i))
def ms(body: => Any): Double = { val t0 = System.nanoTime; body; (System.nanoTime - t0) / 1e6 }
def pct(xs: Seq[Double], q: Double): Double = { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }
val warm = sys.env.getOrElse("PROBE_WARM", "100").toInt; val n = sys.env.getOrElse("PROBE_PUSHES", "200").toInt
(0 until warm).foreach { k => registry.push(Event.frame(spark, events(k)), "alerts"); Engine.run(node, Event.frame(spark, events(k)), ctx) }
val timed = (warm until warm + n).map { k => (ms(registry.push(Event.frame(spark, events(k)), "alerts")), ms(Engine.run(node, Event.frame(spark, events(k)), ctx))) }
def rows(rs: Seq[org.apache.spark.sql.DataFrame]) = rs.map(_.collect().map(_.toString).toSeq.sorted)
val equal = (0 until 20).forall(k => rows(registry.push(Event.frame(spark, events(k)), "alerts")("alerts").outputs.toSeq) == rows(Engine.run(node, Event.frame(spark, events(k)), ctx).outputs.toSeq))
println(f"[push-plan] pushes=$n compiled p50=${pct(timed.map(_._1), 0.5)}%.2f ms p90=${pct(timed.map(_._1), 0.9)}%.2f ms | interpreted p50=${pct(timed.map(_._2), 0.5)}%.2f ms p90=${pct(timed.map(_._2), 0.9)}%.2f ms | rows equal=$equal compiles=${registry.compiles}")
