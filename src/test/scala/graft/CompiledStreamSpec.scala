package graft

import graft.ir.{Engine, EngineCtx, Node, StreamRegistry, StreamResult}
import graft.model.Event
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A registered stream is compiled once and each pushed frame is bound
  * into the kept plans: the rows, effects and their order are those of
  * `Engine.run` interpreting the same frame.
  */
class CompiledStreamSpec extends AnyFunSuite {
  import TestSpark._

  /** Frame `k`: hosts, states, tags, attributes, JSON descriptions and
    * times across several 10 s windows, all varying with `k`.
    */
  private def frame(k: Int, n: Int = 12): DataFrame = Event.frame(spark, (0 until n).map { i =>
    val j = k * 31 + i
    Event(Some(s"h${j % 3}"), Some(s"s${j % 2}"), None,
      Some(if (j % 4 == 0) "critical" else "ok"),
      if (j % 7 == 3) None else Some(((j * 37) % 100).toDouble),
      (k * 100L + i * 3L) * S, if (j % 5 == 0) None else Some(60.0),
      if (j % 3 == 0) None else Some(s"""{"x":"$j"}"""),
      if (j % 2 == 0) Seq("a", "b") else Seq("a"), Map("k" -> s"v${j % 2}"),
      k * 1000L + i)
  })

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Everything a run produced, as rows: leaf outputs, taps, channels. */
  private def produced(res: StreamResult): Seq[Seq[String]] =
    res.outputs.toSeq.map(rows) ++ res.taps.toSeq.sortBy(_._1).map(t => rows(t._2)) ++
      res.channels.toSeq.sortBy(_._1).map(c => rows(c._2))

  private def doc(json: String): Node = Node.fromJson(json)

  private val window = """{"action":"fixed-time-window","params":[{"duration":10}]"""
  private def byHost(inner: String) =
    s"""{"action":"by","params":[["host"]],"children":[$inner]}"""
  private def coll(action: String, params: String = "") =
    byHost(s"""$window,"children":[{"action":"$action"${if (params.isEmpty) "" else s""","params":$params"""}}]}""")
  private def windowed(action: String, extra: String = "") =
    byHost(s"""{"action":"$action","params":[{"duration":10$extra}]}""")
  private def one(action: String, params: String = "") =
    s"""{"action":"$action"${if (params.isEmpty) "" else s""","params":$params"""}}"""

  /** One pipeline per replayed action (routing included). */
  private val cases: Seq[(String, String)] = Seq(
    "sdo" -> """{"action":"sdo","children":[{"action":"tap","params":["a"]},{"action":"where","params":[[">","metric",50]]}]}""",
    "async-queue!" -> """{"action":"async-queue!","params":["q"],"children":[{"action":"increment"}]}""",
    "by" -> byHost(window + "}"),
    "salt" -> """{"action":"salt","params":[{"buckets":4,"fields":["host"]}],"children":[{"action":"sum","params":[{"duration":10}]}]}""",
    "split" -> """{"action":"split","params":[[">","metric",50],["=","state","ok"]],"children":[{"action":"tap","params":["hi"]},{"action":"tap","params":["ok"]},{"action":"tap","params":["rest"]}]}""",
    "exception-stream" -> """{"action":"exception-stream","params":["description"],"children":[{"action":"tap","params":["ok"]},{"action":"tap","params":["err"]}]}""",
    "io" -> """{"action":"io","children":[{"action":"where","params":[["=","state","critical"]]}]}""",
    "where" -> one("where", """[["and",[">","metric",20],["contains","tags","b"]]]"""),
    "over" -> one("over", "[40]"),
    "under" -> one("under", "[40]"),
    "tagged-all" -> one("tagged-all", """[["a","b"]]"""),
    "increment" -> one("increment"),
    "decrement" -> one("decrement"),
    "scale" -> one("scale", "[2.5]"),
    "with" -> one("with", """[{"state":"x","attributes.extra":"y"}]"""),
    "default" -> one("default", """["metric",-1.0]"""),
    "sdissoc" -> one("sdissoc", """[["ttl","attributes.k"]]"""),
    "keep-keys" -> one("keep-keys", """[["host","metric","time","eventId"]]"""),
    "rename-keys" -> one("rename-keys", """[{"service":"svc","attributes.k":"kk"}]"""),
    "tag" -> one("tag", """[["t1"]]"""),
    "untag" -> one("untag", """[["b"]]"""),
    "sformat" -> one("sformat", """["%s/%s","label",["host","service"]]"""),
    "to-string" -> one("to-string", """["metric"]"""),
    "to-base64" -> one("to-base64", """["host"]"""),
    "from-base64" -> """{"action":"to-base64","params":["host"],"children":[{"action":"from-base64","params":["host"]}]}""",
    "from-json" -> one("from-json", """["description"]"""),
    "extract" -> """{"action":"project","params":[[["=","host","h1"],["=","host","h2"]]],"children":[{"action":"extract","params":["match_0"]}]}""",
    "iterate-on" -> one("iterate-on", """["tags","tag"]"""),
    "sflatten" -> byHost(s"""$window,"children":[{"action":"sflatten","params":["events"]}]}"""),
    "fixed-time-window" -> (window + "}"),
    "sum" -> windowed("sum"),
    "mean" -> windowed("mean"),
    "rate" -> windowed("rate"),
    "top" -> windowed("top"),
    "bottom" -> windowed("bottom"),
    "ratio" -> windowed("ratio", ""","cond1":["=","state","critical"],"cond2":["=","state","ok"]"""),
    "ssort" -> windowed("ssort", ""","field":"metric""""),
    "coalesce" -> one("coalesce", """[{"duration":10,"fields":["host"]}]"""),
    "project" -> one("project", """[[["=","state","critical"],[">","metric",60]]]"""),
    "percentiles" -> windowed("percentiles", ""","quantiles":[0.5,0.99]"""),
    "coll-increase" -> windowed("coll-increase"),
    "coll-mean" -> coll("coll-mean"),
    "coll-sum" -> coll("coll-sum"),
    "coll-count" -> coll("coll-count"),
    "coll-rate" -> coll("coll-rate"),
    "coll-quotient" -> coll("coll-quotient"),
    "coll-max" -> coll("coll-max"),
    "coll-min" -> coll("coll-min"),
    "coll-top" -> coll("coll-top", "[2]"),
    "coll-bottom" -> coll("coll-bottom", "[2]"),
    "coll-sort" -> coll("coll-sort", """["metric"]"""),
    "coll-where" -> coll("coll-where", """[[">","metric",30]]"""),
    "coll-percentiles" -> coll("coll-percentiles", "[[0.5,0.99]]"))

  test("every replayed action: compiled-push rows == Engine.run rows over three frames, one compile") {
    assert(cases.map(_._1).toSet == Engine.ReplayList, "one case per replayed action")
    for (testMode <- Seq(true, false); (action, json) <- cases) {
      val ctx = EngineCtx(testMode = testMode)
      val registry = new StreamRegistry(ctx)
      registry.add("s", doc(json))
      val got = (1 to 3).map { k =>
        val pushed = produced(registry.push(frame(k), "s")("s"))
        assert(pushed == produced(Engine.run(doc(json), frame(k), ctx)), s"$action testMode=$testMode frame $k")
        pushed
      }
      assert(got.flatten.exists(_.nonEmpty) || (action == "io" && testMode), s"$action produced no rows")
      assert(registry.compiles == 1, action)
    }
  }

  test("custom actions run once per push on that push's frame, never on the placeholder") {
    val seen = new ConcurrentLinkedQueue[Seq[Long]]()
    val record: Seq[Any] => DataFrame => DataFrame = _ => df => {
      seen.add(df.select("eventId").collect().map(_.getLong(0)).toSeq.sorted); df
    }
    val ctx = EngineCtx(custom = Map("mark" -> record, "where" -> (p => (df: DataFrame) => record(p)(df))))
    val json =
      s"""{"action":"custom","params":["mark","begin"],"children":[
         |  {"action":"where","params":[[">","metric",10]],"children":[
         |    ${coll("coll-mean")}]}]}""".stripMargin
    val registry = new StreamRegistry(ctx)
    registry.add("s", doc(json))
    for (k <- 1 to 3) {
      seen.clear()
      val f = frame(k, 8 + k)
      val ids = f.select("eventId").collect().map(_.getLong(0)).toSeq.sorted
      val pushed = produced(registry.push(f, "s")("s"))
      // the marker, then the `where` it shadows: both saw exactly this frame
      assert(seen.asScala.toSeq == Seq(ids, ids), s"frame $k")
      seen.clear()
      assert(pushed == produced(Engine.run(doc(json), f, ctx)))
    }
    assert(registry.compiles == 1)
  }

  test("a custom output reading its input twice, or built anew per push, is compiled per push") {
    val ctx = EngineCtx(custom = Map(
      "twice" -> (_ => (df: DataFrame) => df.union(df)),
      "fresh" -> (_ => (df: DataFrame) => df.withColumn("seen", org.apache.spark.sql.functions.lit(1)))))
    for (name <- Seq("twice", "fresh")) {
      val json = s"""{"action":"custom","params":["$name"],"children":[${coll("coll-sum")}]}"""
      val registry = new StreamRegistry(ctx)
      registry.add("s", doc(json))
      for (k <- 1 to 3)
        assert(produced(registry.push(frame(k), "s")("s")) == produced(Engine.run(doc(json), frame(k), ctx)), name)
    }
  }

  test("reinject!: the target stream is interpreted on the reinjected frame; a cycle fails as before") {
    val ctx = EngineCtx()
    val registry = new StreamRegistry(ctx)
    val a = doc("""{"action":"sdo","children":[{"action":"where","params":[[">","metric",50]],"children":[{"action":"reinject!","params":["b"]}]},{"action":"tap","params":["a"]}]}""")
    registry.add("a", a)
    registry.add("b", doc("""{"action":"scale","params":[2.0],"children":[{"action":"reinject!","params":["c"]}]}"""))
    registry.add("c", doc(one("increment")))
    registry.add("loop", doc("""{"action":"scale","params":[2.0],"children":[{"action":"reinject!","params":["loop"]}]}"""))
    for (k <- 1 to 3) {
      assert(produced(registry.push(frame(k), "a")("a")) == produced(Engine.run(a, frame(k), ctx, registry)))
      val e1 = intercept[IllegalStateException](registry.push(frame(k), "loop"))
      val e2 = intercept[IllegalStateException](Engine.run(registry.get("loop").get, frame(k), ctx, registry))
      assert(e1.getMessage == e2.getMessage && e1.getMessage.contains("maxReinjectDepth"))
    }
  }

  test("includes expand at registration: editing the file changes nothing until the stream is re-added") {
    val dir = Files.createTempDirectory("graft-compiled-include")
    val inc = dir.resolve("inc.json")
    def threshold(t: Int) = Files.writeString(inc, s"""{"action":"where","params":[[">","metric",$t]]}""")
    threshold(50)
    val stream = doc(s"""{"action":"include","params":["$inc"],"children":[{"action":"increment"}]}""")
    val registry = new StreamRegistry()
    registry.add("s", stream)
    def pushed(k: Int) = produced(registry.push(frame(k), "s")("s"))
    val at50 = (1 to 3).map(k => produced(Engine.run(stream, frame(k))))
    assert((1 to 3).map(pushed) == at50)
    // a reinjected frame runs the target's expanded pipeline
    registry.add("r", doc("""{"action":"reinject!","params":["s"]}"""))
    assert((1 to 3).map(k => produced(registry.push(frame(k), "r")("r"))) == at50)
    threshold(90)
    val at90 = (1 to 3).map(k => produced(Engine.run(stream, frame(k))))
    assert(at90 != at50) // the one-shot path reads the file on every run
    assert((1 to 3).map(pushed) == at50)
    registry.add("s", stream)
    assert((1 to 3).map(pushed) == at90)
    assert(registry.compiles == 3) // "s" twice, "r" once
  }

  test("a failed compile is not kept: every push nacks with the interpreter's error, after the effects before it") {
    val sent = new java.util.concurrent.atomic.AtomicInteger()
    val ctx = EngineCtx(outputs = Map("count" -> (_ => { sent.incrementAndGet(); () })))
    val bad = doc("""{"action":"sdo","children":[{"action":"output!","params":["count"]},{"action":"where","params":[[">","nosuch",1]]}]}""")
    val registry = new StreamRegistry(ctx)
    registry.add("s", bad)
    // the message's first line: the rest prints the plan, with its expression ids
    def error(body: => Any): String = intercept[Exception](body).getMessage.linesIterator.next()
    val expected = error(Engine.run(bad, frame(1), ctx))
    assert(expected.contains("nosuch") && sent.get == 1)
    for (k <- 1 to 3) {
      assert(error(registry.push(frame(k), "s")) == expected)
      assert(sent.get == 1 + k)
    }
    assert(registry.compiles == 0 && registry.compiledStreams == 0)

    // a missing include fails every push until the file exists
    val inc = Files.createTempDirectory("graft-compiled-missing").resolve("later.json")
    registry.add("late", doc(s"""{"action":"include","params":["$inc"]}"""))
    intercept[java.nio.file.NoSuchFileException](registry.push(frame(1), "late"))
    Files.writeString(inc, one("increment"))
    assert(produced(registry.push(frame(1), "late")("late")) == produced(Engine.run(doc(one("increment")), frame(1))))
    assert(registry.compiles == 1 && registry.compiledStreams == 1)
    registry.remove("late")
    assert(registry.compiledStreams == 0)
  }

  test("re-add under concurrent pushes: each push runs one pipeline, pushes after a re-add run the new one") {
    final case class Push(startNs: Long, endNs: Long, ids: Set[Long])
    val current = new ThreadLocal[scala.collection.mutable.Buffer[Long]]()
    val ctx = EngineCtx(outputs = Map("sink" -> ((df: DataFrame) =>
      current.get ++= df.select("eventId").collect().map(_.getLong(0)))))
    def pipeline(t: Int) = doc(s"""{"action":"where","params":[[">","metric",$t]],"children":[{"action":"output!","params":["sink"]}]}""")
    val thresholds = Seq(10, 60)
    val registry = new StreamRegistry(ctx)
    val readds = new ConcurrentLinkedQueue[(Int, Long, Long)]() // (threshold, start, end)
    registry.add("s", pipeline(thresholds.head))
    readds.add((thresholds.head, 0L, System.nanoTime()))
    val f = Event.frame(spark, (1 to 100).map(i => ev(i.toDouble, i * S, id = i)))
    def expected(t: Int) = (t + 1 to 100).map(_.toLong).toSet
    val pushes = new ConcurrentLinkedQueue[Push]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    @volatile var running = true
    val pushers = (0 until 4).map { _ =>
      val th = new Thread(() => try while (running) {
        val got = scala.collection.mutable.ArrayBuffer[Long]()
        current.set(got)
        val t0 = System.nanoTime()
        registry.push(f, "s")
        pushes.add(Push(t0, System.nanoTime(), got.toSet))
      } catch { case e: Throwable => errors.add(e) })
      th.start()
      th
    }
    for (i <- 1 to 12) {
      Thread.sleep(60)
      val t = thresholds(i % 2)
      val t0 = System.nanoTime()
      registry.add("s", pipeline(t))
      readds.add((t, t0, System.nanoTime()))
    }
    Thread.sleep(60)
    running = false
    pushers.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("; "))
    val adds = readds.asScala.toSeq
    assert(pushes.size > 20)
    pushes.asScala.foreach { p =>
      val matches = thresholds.filter(t => p.ids == expected(t))
      assert(matches.size == 1, s"push rows match no single pipeline: ${p.ids.size} rows")
      // the last re-add that returned before the push started, and any
      // that started before the push ended
      val done = adds.filter(_._3 < p.startNs).last
      val allowed = done._1 +: adds.filter(a => a._2 > done._3 && a._2 < p.endNs).map(_._1)
      assert(allowed.contains(matches.head), s"push ran threshold ${matches.head}, allowed $allowed")
    }
    assert(registry.compiledStreams == 1)
    registry.remove("s")
    assert(registry.compiledStreams == 0)
  }
}
