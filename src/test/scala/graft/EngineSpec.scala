package graft

import graft.ir._
import graft.sinks.FileSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-layer tests: IR parsing, interpretation, routing/fan-out
  * semantics, test-mode gating, the tap/golden framework (reference
  * `test.clj:41-82`) and the file sink round-trip.
  */
class EngineSpec extends AnyFunSuite {
  import TestSpark._

  private def tapRows(res: StreamResult, tap: String): Seq[(Long, Double)] =
    res.taps(tap).select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toSeq.sortBy(_._1)

  test("IR JSON parses to the node tree") {
    val n = Node.fromJson(
      """{"action":"where","params":[[">","metric",10]],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    assert(n.action == "where")
    assert(n.params == Seq(Seq(">", "metric", 10L)))
    assert(n.children.map(_.action) == Seq("tap"))
  }

  test("interpret: where → scale → tap matches hand-written plan") {
    val df = events(ev(200, 1 * S, id = 1), ev(80, 2 * S, id = 2), ev(300, 3 * S, id = 3))
    val node = Node.fromJson(
      """{"action":"where","params":[[">","metric",100]],"children":[
        |  {"action":"scale","params":[2],
        |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    assert(tapRows(res, "out") == Seq(1L -> 400.0, 3L -> 600.0))
  }

  test("rename-keys IR pairs apply in JSON document order, past 4 entries") {
    // 5 interacting pairs: a plain Map would shuffle them (HashMap beyond
    // 4 entries); the ListMap-backed param map must preserve the chain
    val df = events(ev(1, 1 * S, id = 1, host = "web-1"))
    val node = Node.fromJson(
      """{"action":"rename-keys","params":[
        |  {"host":"h1","h1":"h2","h2":"h3","h3":"h4","h4":"h5"}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    val out = res.taps("out")
    assert(out.select("h5").collect().head.getString(0) == "web-1")
    assert(!out.columns.contains("host") && !out.columns.contains("h1"))
  }

  test("by injects grouping keys into downstream windows (stream.clj:38-44)") {
    val df = events(
      ev(1, 10 * S, host = "a", id = 1), ev(2, 20 * S, host = "a", id = 2),
      ev(5, 15 * S, host = "b", id = 3))
    val node = Node.fromJson(
      """{"action":"by","params":[["host"]],"children":[
        |  {"action":"sum","params":[{"duration":60}],
        |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    val rows = res.taps("out").select("host", "metric").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rows == Map("a" -> 3.0, "b" -> 5.0))
  }

  test("dedup-within-watermark on a batch frame: deterministic first by (time, eventId)") {
    // same host twice (later time loses), distinct host kept; the
    // streaming branch of the same action is covered in StreamingSpec
    val df = events(
      ev(1, 2 * S, host = "a", id = 2), ev(9, 1 * S, host = "a", id = 1),
      ev(3, 5 * S, host = "b", id = 5))
    val node = Node.fromJson(
      """{"action":"dedup-within-watermark","params":[{"keys":["host"],"delay":60}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    val out = res.taps("out").orderBy("eventId").collect()
      .map(r => (r.getAs[String]("host"), r.getAs[Long]("eventId")))
    assert(out.toSeq == Seq(("a", 1L), ("b", 5L)))
  }

  test("split: first matching condition wins, last child is the default") {
    val df = events(ev(200, 1 * S, id = 1), ev(80, 2 * S, id = 2), ev(5, 3 * S, id = 3))
    val node = Node.fromJson(
      """{"action":"split","params":[[">","metric",150],[">","metric",50]],
        | "children":[
        |   {"action":"tap","params":["hot"]},
        |   {"action":"tap","params":["warm"]},
        |   {"action":"tap","params":["cold"]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    assert(tapRows(res, "hot").map(_._1) == Seq(1L))
    assert(tapRows(res, "warm").map(_._1) == Seq(2L))
    assert(tapRows(res, "cold").map(_._1) == Seq(3L))
  }

  test("sdo tees to all children; leaves land in outputs") {
    val df = events(ev(1, 1 * S, id = 1))
    val node = Node.fromJson(
      """{"action":"sdo","children":[
        |  {"action":"increment"},
        |  {"action":"decrement"}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    assert(res.outputs.size == 2)
    assert(res.outputs.map(_.select("metric").collect().head.getDouble(0)).sorted == Seq(0.0, 2.0))
  }

  test("io subtree is suppressed in test mode, active otherwise (action.clj:1710-1722)") {
    val df = events(ev(1, 1 * S, id = 1))
    val node = Node.fromJson(
      """{"action":"io","children":[{"action":"tap","params":["side"]}]}""")
    assert(Engine.run(node, df, EngineCtx(testMode = true)).taps.isEmpty)
    assert(Engine.run(node, df, EngineCtx(testMode = false)).outputs.nonEmpty)
  }

  test("exception-stream routes null-marker rows to the error child") {
    val df = events(ev(1, 1 * S, id = 1), ev(2, 2 * S, id = 2))
      .withColumn("description",
        when(col("eventId") === 2, lit("not json")).otherwise(lit("""{"k":"v"}""")))
    val node = Node.fromJson(
      """{"action":"from-json","params":["description"],"children":[
        |  {"action":"exception-stream","params":["description"],"children":[
        |    {"action":"tap","params":["ok"]},
        |    {"action":"tap","params":["err"]}]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    assert(tapRows(res, "ok").map(_._1) == Seq(1L))
    assert(tapRows(res, "err").map(_._1) == Seq(2L))
    assert(res.taps("err").select("state").collect().head.getString(0) == "error")
  }

  test("custom action registry (stream.clj:29-34)") {
    val ctx = EngineCtx(testMode = true, custom = Map(
      "add-n" -> (args => df =>
        df.withColumn("metric", col("metric") + args.head.asInstanceOf[Number].doubleValue()))))
    val node = Node.fromJson(
      """{"action":"custom","params":["add-n",5],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val res = Engine.run(node, events(ev(1, 1 * S, id = 1)), ctx)
    assert(tapRows(res, "out") == Seq(1L -> 6.0))
    intercept[IllegalArgumentException] {
      Engine.run(Node.fromJson("""{"action":"custom","params":["nope"]}"""),
        events(ev(1, 1 * S)), ctx)
    }
  }

  test("reinject! pushes through the named stream; cycles hit the depth cap") {
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    reg.add("main", Node.fromJson(
      """{"action":"where","params":[[">","metric",10]],
        | "children":[{"action":"reinject!","params":["aux"]}]}""".stripMargin))
    reg.add("aux", Node.fromJson(
      """{"action":"increment","children":[{"action":"tap","params":["out"]}]}"""))
    val res = reg.run("main", events(ev(20, 1 * S, id = 1), ev(5, 2 * S, id = 2)))
    assert(tapRows(res, "out") == Seq(1L -> 21.0))

    val cyc = new StreamRegistry(EngineCtx(testMode = true))
    cyc.add("loop", Node.fromJson(
      """{"action":"increment","children":[{"action":"reinject!","params":["loop"]}]}"""))
    intercept[IllegalStateException] { cyc.run("loop", events(ev(1, 1 * S))) }
  }

  test("stream registry: streams document load, list, run, remove") {
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    val names = reg.addJson(
      """{"streams":[
        |  {"action":"stream","params":[{"name":"alpha"}],
        |   "children":[{"action":"increment","children":[{"action":"tap","params":["out"]}]}]},
        |  {"action":"stream","params":[{"name":"beta"}],
        |   "children":[{"action":"decrement","children":[{"action":"tap","params":["out"]}]}]}
        |]}""".stripMargin)
    assert(names.sorted == Seq("alpha", "beta"))
    assert(reg.list == Seq("alpha", "beta"))
    assert(reg.run("alpha", events(ev(1, 1 * S, id = 1))).taps("out")
      .select("metric").collect().head.getDouble(0) == 2.0)
    reg.remove("beta")
    assert(reg.list == Seq("alpha"))
  }

  test("EDN reader: the reference vocabulary parses to the JSON-IR value space") {
    // shapes from the reference's own stream fixtures
    // (test/resources/streams/streams.edn, dev/resources/config.edn)
    assert(Edn.parse("[:> :metric 200]") == Seq(">", "metric", 200L))
    assert(Edn.parse("{:size 200}") == Map("size" -> 200L))
    assert(Edn.parse("""{:a 1.5 :b "s" :c true :d nil :e [1 2] :f #{:x}}""") ==
      Map("a" -> 1.5, "b" -> "s", "c" -> true, "d" -> null,
        "e" -> Seq(1L, 2L), "f" -> Seq("x")))
    // comments, commas-as-whitespace, #_ discard, char literals
    assert(Edn.parse("[1, #_2 3 ; trailing\n \\a \\newline]") ==
      Seq(1L, 3L, "a", "\n"))
    // document order survives past 4 map entries (rename-keys contract)
    assert(Edn.parse("{:h :h1, :h1 :h2, :h2 :h3, :h3 :h4, :h4 :h5}").asInstanceOf[Map[String, Any]]
      .keys.toSeq == Seq("h", "h1", "h2", "h3", "h4"))
    // aero-style tags map to expandIncludes' substitution markers
    assert(Edn.parse("#mirabelle/var threshold") == Map("var" -> "threshold"))
    assert(Edn.parse("#profile {:dev 1 :default 2}") ==
      Map("profile" -> Map("dev" -> 1L, "default" -> 2L)))
    // #secret masks the value everywhere it could leak but stays
    // recoverable and diffable (config.clj:45-47)
    val sec = Edn.parse("""{:password #secret "hunter2"}""")
      .asInstanceOf[Map[String, Any]]("password").asInstanceOf[Edn.Secret]
    assert(sec.reveal == "hunter2")
    assert(!sec.toString.contains("hunter2") && !s"$sec".contains("hunter2"))
    assert(sec == Edn.Secret("hunter2") && sec != Edn.Secret("other"))
    // #secret #profile {...}: the inner profile resolves, still masked
    val doc = Edn.streamDocs(
      """{:s {:actions {:action :where
        |               :params [#secret #profile {:default "k1" :prod "k2"}]
        |               :children []}}}""".stripMargin, env = Map.empty)
    val p = doc.head.children.head.params.head.asInstanceOf[Edn.Secret]
    assert(p.reveal == "k1" && !p.toString.contains("k1"))
  }

  test("#secret params unmask at engine use sites; persistence keeps the mask") {
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    // a secret consumed by a real action via the param coercers
    reg.addEdn(
      """{:s {:actions {:action :with
        |               :params [{:token #secret "hunter2"}]
        |               :children [{:action :tap :params [:out]}]}}}""".stripMargin)
    val res = reg.run("s", events(ev(1, 1 * S, id = 1)))
    assert(res.taps("out").select("token").collect().head.getString(0) == "hunter2")
    // secrets unmask ANYWHERE in the params tree, including inside a
    // condition vector (deep unmask at the applyOp funnel)
    val reg2 = new StreamRegistry(EngineCtx(testMode = true))
    reg2.addEdn(
      """{:c {:actions {:action :where
        |               :params [[:= :host #secret "h-secret"]]
        |               :children [{:action :tap :params [:out]}]}}}""".stripMargin)
    val res2 = reg2.run("c", events(
      ev(1, 1 * S, host = "h-secret", id = 1), ev(1, 2 * S, host = "other", id = 2)))
    assert(res2.taps("out").select("eventId").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // ...and for routing ops interp handles directly (publish! channel
    // names), not only applyOp-dispatched operator params
    val reg3 = new StreamRegistry(EngineCtx(testMode = true))
    reg3.addEdn("""{:p {:actions {:action :publish! :params [#secret "chan"] :children []}}}""")
    assert(reg3.run("p", events(ev(1, 1 * S, id = 1))).channels.keySet == Set("chan"))
    // getJson (HTTP get-stream) serves the MASK, never the value — and
    // does not crash on the Secret param
    val json = reg.getJson("s").get
    assert(!json.contains("hunter2") && json.contains("REDACTED"))
    // saveTo survives a secret-bearing stream and persists the others too
    reg.addJson("""{"streams":[{"action":"stream","params":[{"name":"plain"}],
                  | "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
    val dir = TestSpark.tempDir("graft-secret").toString
    reg.saveTo(dir)
    val reloaded = new StreamRegistry(EngineCtx(testMode = true))
    assert(reloaded.loadFrom(dir).sorted == Seq("plain", "s"))
    assert(!java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/s.json")).contains("hunter2"))
  }

  test("EDN stream file runs identically to its JSON-IR twin") {
    // the reference's successful-test fixture shape
    // (test/resources/test/successful/streams/streams.edn)
    val edn =
      """{:foo
        | {:default true
        |  :actions {:action :where
        |            :params [[:and [:> :metric 10] [:< :metric 20]]]
        |            :children [{:action :tap :params [:out]}]}}
        | :bar
        | {:default true
        |  :actions {:action :where
        |            :params [[:> :metric 100]]
        |            :children [{:action :tap :params [:out]}]}}}""".stripMargin
    val json =
      """{"streams":[
        | {"action":"stream","params":[{"name":"foo","default":true}],
        |  "children":[{"action":"where","params":[["and",[">","metric",10],["<","metric",20]]],
        |               "children":[{"action":"tap","params":["out"]}]}]},
        | {"action":"stream","params":[{"name":"bar","default":true}],
        |  "children":[{"action":"where","params":[[">","metric",100]],
        |               "children":[{"action":"tap","params":["out"]}]}]}]}""".stripMargin
    val regEdn = new StreamRegistry(EngineCtx(testMode = true))
    val regJson = new StreamRegistry(EngineCtx(testMode = true))
    assert(regEdn.addEdn(edn) == Seq("foo", "bar"))
    regJson.addJson(json)
    // the parsed trees are EQUAL, not merely equivalent
    assert(regEdn.get("foo") == regJson.get("foo"))
    assert(regEdn.get("bar") == regJson.get("bar"))
    assert(regEdn.defaults == regJson.defaults)
    val df = events(ev(15, 1 * S, id = 1), ev(50, 2 * S, id = 2), ev(200, 3 * S, id = 3))
    val (outEdn, outJson) = (regEdn.push(df), regJson.push(df))
    for (s <- Seq("foo", "bar"))
      assert(tapRows(outEdn(s), "out") == tapRows(outJson(s), "out"))
    assert(tapRows(outEdn("foo"), "out").map(_._1) == Seq(1L))
    assert(tapRows(outEdn("bar"), "out").map(_._1) == Seq(3L))
  }

  test("EDN in the streams directory: loadFrom reads reference-style .edn files; #profile resolves") {
    val dir = TestSpark.tempDir("graft-edn").toString
    // verbatim reference fixture shape (test/resources/streams/streams.edn)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/streams.edn"),
      """{:bar {:actions {:action :above-dt, :params [[:> :metric 200] 200], :children []}},
        | :baz {:actions {:action :fixed-event-window, :params [{:size 200}], :children []}}}""".stripMargin)
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    assert(reg.loadFrom(dir).sorted == Seq("bar", "baz"))
    assert(reg.get("bar").get.action == "above-dt")
    assert(reg.get("bar").get.params == Seq(Seq(">", "metric", 200L), 200L))
    assert(reg.get("baz").get.params == Seq(Map("size" -> 200L)))
    // #profile with no PROFILE env resolves to :default at load time
    val docs = Edn.streamDocs(
      """{:p {:actions {:action :where
        |               :params [[:> :metric #profile {:prod 100 :default 10}]]
        |               :children []}}}""".stripMargin, env = Map.empty)
    assert(docs.head.children.head.params == Seq(Seq(">", "metric", 10L)))
    val prod = Edn.streamDocs(
      """{:p {:actions {:action :where
        |               :params [[:> :metric #profile {:prod 100 :default 10}]]
        |               :children []}}}""".stripMargin, env = Map("PROFILE" -> "prod"))
    assert(prod.head.children.head.params == Seq(Seq(">", "metric", 100L)))
    // nested #profile: the selected branch is itself profile-resolved
    val nested = Edn.streamDocs(
      """{:p {:actions {:action :where
        |               :params [[:> :metric #profile {:default #profile {:prod 5 :default 60}}]]
        |               :children []}}}""".stripMargin, env = Map.empty)
    assert(nested.head.children.head.params == Seq(Seq(">", "metric", 60L)))
  }

  test("publish! channels + subscriber condition filter (pubsub.clj:5-30)") {
    val df = events(ev(200, 1 * S, id = 1), ev(80, 2 * S, id = 2))
    val node = Node.fromJson(
      """{"action":"increment","children":[{"action":"publish!","params":["my-channel"]}]}""")
    val res = Engine.run(node, df, EngineCtx(testMode = false))
    assert(res.channels.keySet == Set("my-channel"))
    // subscriber attaches a compiled condition, exactly the websocket path
    val sub = res.subscribe("my-channel",
      graft.conditions.Condition.parse(Seq(">", "metric", 100)))
    assert(sub.select("eventId").collect().map(_.getLong(0)).toSeq == Seq(1L))
    intercept[IllegalArgumentException] {
      res.subscribe("nope", graft.conditions.Condition.AlwaysTrue)
    }
  }

  test("file sink round-trip: pipeline → JSON-lines → re-read equals memory output") {
    val dir = TestSpark.tempDir("graft-sink").toString + "/out"
    val df = events(ev(200, 1 * S, host = "a", id = 1), ev(300, 2 * S, host = "b", id = 2))
    val node = Node.fromJson(
      s"""{"action":"increment","children":[
         |  {"action":"output-file",
         |   "params":[{"path":"$dir","fields":["host"],"date-pattern":"yyyy-MM-dd"}]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = false))
    assert(res.sinks.size == 1)
    val back = spark.read.json(dir)
    assert(back.count() == 2)
    assert(back.select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap == Map(1L -> 201.0, 2L -> 301.0))
    // field templating became partition columns (partition-prunable on re-read)
    assert(back.select("host").distinct().collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    // test mode suppresses the write
    val res2 = Engine.run(node, df, EngineCtx(testMode = true))
    assert(res2.sinks.isEmpty)
  }

  test("reinject! without a target routes through the default streams, like push!") {
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    reg.addJson(
      """{"streams":[{"action":"stream","params":[{"name":"sink","default":true}],
        | "children":[{"action":"tap","params":["landed"]}]}]}""".stripMargin)
    val df = events(ev(200, 1 * S, id = 1))
    // a pipeline that reinjects everything with no named target
    val res = Engine.run(Node.fromJson("""{"action":"reinject!"}"""), df,
      EngineCtx(testMode = true), reg)
    assert(res.taps("landed").count() == 1)
    // with no default streams and no stream named "default": error
    val bare = new StreamRegistry(EngineCtx(testMode = true))
    intercept[IllegalArgumentException] {
      Engine.run(Node.fromJson("""{"action":"reinject!"}"""), df,
        EngineCtx(testMode = true), bare)
    }
  }

  test("malformed HTTP push bodies become all-null marker rows (bad-record pattern)") {
    val s = spark
    import s.implicits._
    val bodies = Seq(
      """{"events":[{"time":1,"service":"a","metric":2.0}]}""",
      "not json at all").toDF("body")
    val out = graft.sources.Decode.httpEvents(bodies)
    assert(out.count() == 2) // the bad body is a marker row, not a silent drop
    assert(out.filter(col("service").isNull).count() == 1)
    assert(out.filter(col("service") === "a").count() == 1)
  }

  test("debug/info/error log actions pass events through; disabled level leaves the plan unchanged") {
    val df = events(ev(1, 1 * S, id = 1), ev(2, 2 * S, id = 2))
    // logger default level is WARN in tests → debug disabled → identity plan
    val viaDebug = graft.operators.Stateless.logEvents("debug")(df)
    assert(viaDebug.queryExecution.logical eq df.queryExecution.logical)
    // error level is enabled: events still pass through unchanged
    val node = Node.fromJson(
      """{"action":"error","children":[{"action":"tap","params":["out"]}]}""")
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    assert(tapRows(res, "out") == Seq(1L -> 1.0, 2L -> 2.0))
    // test-action records like a tap (action.clj:391-402)
    val res2 = Engine.run(Node.fromJson(
      """{"action":"test-action","params":["buf"]}"""), df, EngineCtx(testMode = true))
    assert(res2.taps("buf").count() == 2)
  }

  test("registry persistence: save/load round-trips streams, defaults, and behavior") {
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    reg.addJson(
      """{"streams":[
        | {"action":"stream","params":[{"name":"alerts","default":true}],
        |  "children":[{"action":"where","params":[[">","metric",100]],
        |               "children":[{"action":"tap","params":["out"]}]}]},
        | {"action":"stream","params":[{"name":"audit"}],
        |  "children":[{"action":"tap","params":["all"]}]}]}""".stripMargin)
    val dir = TestSpark.tempDir("graft-streams").toString
    reg.saveTo(dir)
    val reg2 = new StreamRegistry(EngineCtx(testMode = true))
    assert(reg2.loadFrom(dir).sorted == Seq("alerts", "audit"))
    assert(reg2.list == reg.list && reg2.defaults == reg.defaults)
    val df = events(ev(200, 1 * S, id = 1), ev(50, 2 * S, id = 2))
    assert(reg2.push(df)("alerts").taps("out").select("eventId")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // Node JSON round-trip holds for the persisted document shape
    val n = reg.get("alerts").get
    assert(Node.fromJson(Node.toJson(n)) == n)
    // getJson (the HTTP get-stream analog) round-trips through addJson
    val reg3 = new StreamRegistry(EngineCtx(testMode = true))
    reg3.addJson(reg.getJson("alerts").get)
    assert(reg3.get("alerts") == reg.get("alerts") && reg3.defaults == Seq("alerts"))
  }

  test("diff-based hot reload: only changed files touch the registry (stream.clj:227-259)") {
    def streamJson(name: String, threshold: Int, default: Boolean = false) =
      s"""{"streams":[{"action":"stream","params":[{"name":"$name","default":$default}],
         |  "children":[{"action":"where","params":[[">","metric",$threshold]],
         |               "children":[{"action":"tap","params":["out"]}]}]}]}""".stripMargin
    val dir = TestSpark.tempDir("graft-reload")
    def write(file: String, text: String) =
      java.nio.file.Files.writeString(dir.resolve(file), text)
    write("a.json", streamJson("a", 100))
    write("b.json", streamJson("b", 10))
    write("c.json", streamJson("c", 1))

    val reg = new StreamRegistry(EngineCtx(testMode = true))
    assert(reg.loadFrom(dir.toString).sorted == Seq("a", "b", "c"))
    // a dynamically-added stream never came from the directory: reloads
    // must leave it alone (reference: to-remove diffs the OLD dir config)
    reg.addJson(streamJson("dyn", 5))
    val aBefore = reg.get("a").get
    val bBefore = reg.get("b").get

    // change b, delete c, add d; a and dyn untouched
    write("b.json", streamJson("b", 300))
    java.nio.file.Files.delete(dir.resolve("c.json"))
    write("d.json", streamJson("d", 7))
    val r = reg.reloadFrom(dir.toString)
    assert(r.added == Seq("d") && r.reloaded == Seq("b") &&
      r.removed == Seq("c") && r.unchanged == Seq("a"))
    assert(reg.list == Seq("a", "b", "d", "dyn"))
    // unchanged stream keeps its registered node IDENTITY, not just equality
    assert(reg.get("a").get eq aBefore)
    // changed stream was re-registered with the new document
    assert(!(reg.get("b").get eq bBefore))
    val df = events(ev(500, 1 * S, id = 1), ev(50, 2 * S, id = 2))
    assert(reg.push(df, "b")("b").taps("out").select("eventId")
      .collect().map(_.getLong(0)).toSeq == Seq(1L)) // new threshold 300 live (old 10 passed both)

    // idempotence: a second reload with no file changes is all-unchanged
    val r2 = reg.reloadFrom(dir.toString)
    assert(r2 == reg.ReloadResult(Nil, Nil, Nil, Seq("a", "b", "d")))

    // a stream removed via the API whose file still exists is re-ADDED by
    // the next reload (the directory is the source of truth for dir
    // streams — remove() forgets the dir record, so this is consistent
    // whether or not the file's bytes changed)
    reg.remove("a")
    val r3 = reg.reloadFrom(dir.toString)
    assert(r3.added == Seq("a") && r3.unchanged == Seq("b", "d"))
    assert(reg.get("a").isDefined)

    // multi-directory reload diffs the MERGED listing (the reference's
    // streams-directories is a list): the second directory's streams are
    // never mistaken for removed
    val dir2 = TestSpark.tempDir("graft-reload2")
    java.nio.file.Files.writeString(dir2.resolve("e.json"), streamJson("e", 1))
    reg.loadFrom(dir2.toString)
    val r4 = reg.reloadFrom(Seq(dir.toString, dir2.toString))
    assert(r4.removed.isEmpty && r4.unchanged.sorted == Seq("a", "b", "d", "e"))
    // ...while a single-dir reload of dir alone would consider e's file gone
    val r5 = reg.reloadFrom(dir.toString)
    assert(r5.removed == Seq("e"))
  }

  test("saveTo skips streams loaded from another directory (multi-dir persist)") {
    def streamJson(name: String) =
      s"""{"streams":[{"action":"stream","params":[{"name":"$name"}],
         |  "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin
    val head = TestSpark.tempDir("graft-phead")
    val tail = TestSpark.tempDir("graft-ptail")
    java.nio.file.Files.writeString(head.resolve("a.json"), streamJson("a"))
    java.nio.file.Files.writeString(tail.resolve("b.json"), streamJson("b"))
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    reg.loadFrom(head.toString)
    reg.loadFrom(tail.toString)
    reg.addJson(streamJson("dyn"))
    reg.saveTo(head.toString)
    // the head dir's own stream and the dynamic one persist; the tail
    // dir's stream must NOT be cloned into head (the next boot would load
    // the same name from two directories and reload diffs would attribute
    // it to whichever parsed last)
    assert(java.nio.file.Files.exists(head.resolve("a.json")))
    assert(java.nio.file.Files.exists(head.resolve("dyn.json")))
    assert(!java.nio.file.Files.exists(head.resolve("b.json")))
    // and b is still persisted when saving to its OWN directory
    reg.saveTo(tail.toString)
    assert(java.nio.file.Files.exists(tail.resolve("b.json")) &&
      !java.nio.file.Files.exists(tail.resolve("a.json")))
  }

  test("main config.edn loads verbatim: ports, dirs, file outputs, fail-soft warnings") {
    // the reference's own dev config, unchanged
    assume(RefFixtures.available("dev/resources/config.edn"),
      s"reference checkout not found under ${RefFixtures.root}")
    val c = Config.load(RefFixtures.path("dev/resources/config.edn").toString)
    assert(c.httpPort.contains(5558) && c.tcpPort.contains(5555) && c.tls.isEmpty)
    assert(c.streamDirs == Seq("dev/resources/streams") && c.testDirs == Seq("dev/resources/tests"))
    // file output wired; prometheus/custom warn instead of silently dropping
    assert(c.outputs.keySet == Set("write-file"))
    assert(c.warnings.exists(_.contains("prometheus")) &&
      c.warnings.exists(_.contains("foo-custom")) &&
      c.warnings.exists(_.contains(":actions")))

    // the wired file output actually writes through output!
    val outDir = TestSpark.tempDir("cfg_out").toString + "/o"
    val loaded = Config.parse(
      s"""{:outputs {:write-file {:type :file :config {:path "$outDir"}}}}""")
    val reg = new StreamRegistry(EngineCtx(testMode = false, outputs = loaded.outputs))
    reg.add("s", Node.fromJson(
      """{"action":"output!","params":["write-file"]}"""), default = true)
    reg.push(events(ev(7, 1 * S, id = 1)))
    assert(spark.read.json(outDir).select("eventId").collect().map(_.getLong(0)).toSeq == Seq(1L))

    // a partial TLS triple in :tcp fails loudly, never silent plaintext
    intercept[IllegalArgumentException] {
      Config.parse("""{:tcp {:port 1 :key "k.pem" :cert "c.pem"}}""")
    }
    // TLS triple parses (secrets allowed for the key path)
    val t = Config.parse(
      """{:tcp {:port 1 :key #secret "k.pem" :cert "c.pem" :cacert "ca.pem"}}""")
    assert(t.tls.contains(graft.http.Tls.Config("k.pem", "c.pem", "ca.pem")))
  }

  test("graphviz export: clusters per stream, default edges, dashed reinject cross-edges, masked secrets") {
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    reg.addJson(
      """{"streams":[
        | {"action":"stream","params":[{"name":"main","default":true}],
        |  "children":[{"action":"where","params":[[">","metric",10]],
        |   "children":[{"action":"reinject!","params":["aux"]}]}]},
        | {"action":"stream","params":[{"name":"aux"}],
        |  "children":[{"action":"increment"}]}]}""".stripMargin)
    reg.addEdn("""{:sec {:actions {:action :with :params [{:token #secret "hunter2"}] :children []}}}""")
    val dot = Graphviz.dot(reg)
    assert(dot.startsWith("digraph {"))
    assert(dot.contains("""default -> "main entrypoint";"""))
    assert(dot.contains("_main {") && dot.contains("_aux {"))
    assert(dot.contains("""-> "aux entrypoint" [style=dashed];"""))
    assert(dot.contains("<B>where</B>") && dot.contains("<B>reinject!</B>"))
    // deterministic: two renders are byte-identical
    assert(dot == Graphviz.dot(reg))
    // the #secret param prints as its mask, never the value
    assert(!dot.contains("hunter2") && dot.contains("REDACTED"))

    // a nameless reinject! mirrors the ENGINE's routing (default streams),
    // not a self-loop; name collisions after sanitizing stay distinct
    val dot2 = Graphviz.dot(Seq(
      ("a-b", Node.fromJson("""{"action":"reinject!"}"""), false),
      ("a.b", Node.fromJson("""{"action":"increment"}"""), false)))
    // ...meaning the shared `default` fan-out node (the one default
    // streams hang off), not a dangling '"default" entrypoint' node
    assert(dot2.contains("""-> default [style=dashed];"""))
    assert(!dot2.contains(""""default entrypoint""""))
    assert(dot2.contains("cluster_0_a_b") && dot2.contains("cluster_1_a_b"))
  }

  test("salt widens downstream grouping; re-aggregating recovers the unsalted result") {
    // one hot host: 40 events on "hot", 2 on "cold"
    val evs = (1 to 40).map(i => ev(1, i * S, host = "hot", id = i.toLong)) ++
      Seq(ev(5, 1 * S, host = "cold", id = 100), ev(7, 2 * S, host = "cold", id = 101))
    val node = Node.fromJson(
      """{"action":"by","params":[["host"]],"children":[
        |  {"action":"salt","params":[{"buckets":4,"fields":["eventId"]}],"children":[
        |    {"action":"sum","params":[{"duration":3600}],
        |     "children":[{"action":"tap","params":["out"]}]}]}]}""".stripMargin)
    val res = Engine.run(node, events(evs: _*), EngineCtx(testMode = true))
    val partials = res.taps("out").select("host", "metric").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
    // salted: several partials per hot host, none covering all 40 events
    assert(partials.count(_._1 == "hot") > 1)
    // two-phase: re-aggregating partials recovers the exact per-key sums
    val totals = partials.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(totals == Map("hot" -> 40.0, "cold" -> 12.0))
    assert(Engine.validate(node, spark) == Nil)
  }

  test("validate: round-11 actions are total over their declared frames") {
    val s = spark
    import s.implicits._
    val docSchema = Seq((1L, "t")).toDF("doc_id", "text").schema
    val vecSchema = Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding").schema
    val grpSchema = Seq(("a", 1.0)).toDF("grp", "v").schema
    def ok(json: String, schema: org.apache.spark.sql.types.StructType): Unit = {
      val errs = Engine.validate(Node.fromJson(json), s, schema = schema)
      assert(errs.isEmpty, s"$json -> $errs")
    }
    ok("""{"action":"shared-substring-spans","params":[{"id":"doc_id","text":"text","min-len":4}],
         | "children":[]}""".stripMargin, docSchema)
    ok("""{"action":"shared-substring-cut","params":[{"id":"doc_id","text":"text","min-len":4,"keep-first":true}],
         | "children":[]}""".stripMargin, docSchema)
    ok("""{"action":"cluster-split","params":[{"id":"doc_id","text":"text",
         |   "weights":[{"name":"train","weight":0.9},{"name":"test","weight":0.1}]}],
         | "children":[]}""".stripMargin, docSchema)
    ok("""{"action":"shrunk-group-means","params":[{"group":"grp","value":"v","pseudo-count":10}],
         | "children":[]}""".stripMargin, grpSchema)
    ok("""{"action":"feed-urls","params":[{"xml":"text"}],"children":[]}""", docSchema)
    ok("""{"action":"append-bm25-index","params":[{"id":"doc_id","text":"text","path":"/x"}],
         | "children":[]}""".stripMargin, docSchema)
    ok("""{"action":"ivfpq-append","params":[{"id":"vec_id","vec":"embedding","path":"/x"}],
         | "children":[]}""".stripMargin, vecSchema)
    // round-12 curation-chain actions
    ok("""{"action":"gopher-filter","params":["text"],"children":[]}""", docSchema)
    ok("""{"action":"near-dup-prune","params":[{"id":"doc_id","text":"text","k":8,"rows-per-band":2}],
         | "children":[]}""".stripMargin, docSchema)
    ok("""{"action":"decontam-exact","params":[{"id":"doc_id","text":"text","bench-path":"/x","min-hits":3}],
         | "children":[]}""".stripMargin, docSchema)
    // decontam-exact validates min-hits without touching the artifact
    val dxErrs = Engine.validate(Node.fromJson(
      """{"action":"decontam-exact","params":[{"id":"doc_id","text":"text","bench-path":"/x","min-hits":0}],
        | "children":[]}""".stripMargin), s, schema = docSchema)
    assert(dxErrs.nonEmpty && dxErrs.head.contains("min-hits"), dxErrs.mkString(";"))
    // bad params fail LOUDLY with the node path, not at run time
    val errs = Engine.validate(Node.fromJson(
      """{"action":"shared-substring-cut","params":[{"id":"no_such","text":"text"}],
        | "children":[]}""".stripMargin), s, schema = docSchema)
    assert(errs.nonEmpty && errs.head.contains("shared-substring-cut"), errs.mkString(";"))
  }

  test("validate: collects every problem with node paths, without executing") {
    val valid = Node.fromJson(
      """{"action":"where","params":[[">","metric",100]],"children":[
        |  {"action":"by","params":[["host"]],"children":[
        |    {"action":"fixed-time-window","params":[{"duration":60}],"children":[
        |      {"action":"coll-count","children":[{"action":"tap","params":["out"]}]}]}]}]}""".stripMargin)
    assert(Engine.validate(valid, spark) == Nil)
    // split with N conditions and N children (no default) is valid, like interp
    assert(Engine.validate(Node.fromJson(
      """{"action":"split","params":[[">","metric",1]],
        | "children":[{"action":"tap","params":["a"]}]}""".stripMargin), spark) == Nil)
    // nameless tap/reinject! are valid (runtime defaults); a schema-changing
    // custom plugin's subtree is not checked against the input schema
    assert(Engine.validate(Node.fromJson(
      """{"action":"custom","params":["enrich"],
        | "children":[{"action":"where","params":[[">","plugin_col",0]],
        |              "children":[{"action":"tap"},{"action":"reinject!"}]}]}""".stripMargin),
      spark, EngineCtx(custom = Map("enrich" -> (_ => df => df)))) == Nil)
    val broken = Node.fromJson(
      """{"action":"sdo","children":[
        |  {"action":"frobnicate"},
        |  {"action":"where","params":[[">","no_such_field",1]]},
        |  {"action":"split","params":[[">","metric",1]],
        |   "children":[{"action":"tap","params":["a"]},{"action":"tap","params":["b"]},
        |               {"action":"tap","params":["c"]}]},
        |  {"action":"custom","params":["nope"]},
        |  {"action":"fixed-time-window","params":[{}]}]}""".stripMargin)
    val errs = Engine.validate(broken, spark)
    assert(errs.size == 5, errs.mkString("; "))
    assert(errs.exists(e => e.contains("/frobnicate") && e.contains("unknown action")))
    assert(errs.exists(e => e.contains("/where") && e.contains("no_such_field")))
    assert(errs.exists(e => e.contains("/split") && e.contains("children")))
    assert(errs.exists(e => e.contains("/custom") && e.contains("nope")))
    assert(errs.exists(_.contains("/fixed-time-window")))
    // nothing was executed: validation is static analysis only
  }

  test("default-stream push routing, on the reference's shipped example config") {
    // port of /root/reference/dev/resources/streams/stream.clj: a default
    // stream `bar` = sdo → where service="bar" → publish! my-channel
    val reg = new StreamRegistry(EngineCtx(testMode = true))
    reg.addJson(
      """{"streams":[{"action":"stream","params":[{"name":"bar","default":true}],
        | "children":[
        |  {"action":"sdo","children":[
        |    {"action":"where","params":[["=","service","bar"]],
        |     "children":[{"action":"publish!","params":["my-channel"]}]}]}]},
        | {"action":"stream","params":[{"name":"other"}],
        |  "children":[{"action":"tap","params":["t"]}]}]}""".stripMargin)
    assert(reg.list == Seq("bar", "other"))
    assert(reg.defaults == Seq("bar")) // only bar is default-flagged
    val df = events(
      ev(1, 1 * S, service = "bar", id = 1), ev(2, 2 * S, service = "foo", id = 2))
    // push! to :default routes only through default streams (stream.clj:260-268)
    val results = reg.push(df)
    assert(results.keySet == Set("bar"))
    val chan = results("bar").channels("my-channel")
    assert(chan.select("eventId").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // named push runs exactly that stream; unknown name errors like push!
    assert(reg.push(df, "other")("other").taps("t").count() == 2)
    intercept[IllegalArgumentException](reg.push(df, "nope"))
  }

  test("output!: routes to a configured named output; discarded in test mode; unknown name fails") {
    val df = events(ev(200, 1 * S, id = 1), ev(80, 2 * S, id = 2))
    val captured = scala.collection.mutable.ListBuffer[Long]()
    val ctx = EngineCtx(testMode = false, outputs = Map(
      "es" -> (d => captured ++= d.select("eventId").collect().map(_.getLong(0)))))
    val node = Node.fromJson(
      """{"action":"where","params":[[">","metric",100]],
        | "children":[{"action":"output!","params":["es"]}]}""".stripMargin)
    val res = Engine.run(node, df, ctx)
    assert(captured.toSeq == Seq(1L))
    assert(res.outputSends.map(_._1).toSeq == Seq("es"))
    // test mode: output silently discarded (action.clj:692-694)
    captured.clear()
    assert(Engine.run(node, df, ctx.copy(testMode = true)).outputSends.isEmpty)
    assert(captured.isEmpty)
    // unknown output name → "Output %s not found" (action.clj:698-699)
    intercept[IllegalArgumentException] {
      Engine.run(Node.fromJson("""{"action":"output!","params":["nope"]}"""), df, ctx)
    }
  }

  test("aggr-custom: pluggable aggregation pair via typed Aggregator (action.clj:2285-2374)") {
    val df = events(ev(10, 10 * S, id = 1), ev(20, 20 * S, id = 2), ev(60, 70 * S, id = 3))
    val ctx = EngineCtx(testMode = true, aggregators = Map(
      // unit weight → plain mean; the pair is accumulate (Σwx, Σw) / finalize quotient
      "wmean" -> (_ => graft.functions.Aggregators.weightedMean(col("metric"), lit(1.0)))))
    val node = Node.fromJson(
      """{"action":"aggr-custom","params":[{"duration":60,"name":"wmean"}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val res = Engine.run(node, df, ctx)
    // window [0,60): mean(10,20)=15 lands on the latest event (id 2);
    // window [60,120): 60 on id 3 — same emit shape as the built-in mean
    assert(tapRows(res, "out") == Seq(2L -> 15.0, 3L -> 60.0))
    // unknown aggregator name is an error
    intercept[IllegalArgumentException] {
      Engine.run(Node.fromJson(
        """{"action":"aggr-custom","params":[{"duration":60,"name":"nope"}]}"""), df, ctx)
    }
  }

  test("include: templated snippet with variables + profile (action.clj:2249-2277)") {
    // shared snippet: threshold filter whose cutoff is a variable and
    // whose scale factor depends on the active profile
    val snippet =
      """{"action":"where","params":[[">","metric",{"var":"cutoff"}]],"children":[
        |  {"action":"scale","params":[{"profile":{"dev":1,"default":10}}]}]}""".stripMargin
    val node = Node.fromJson(
      """{"action":"include",
        | "params":["/snippets/alert.json",{"variables":{"cutoff":100}}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val expanded = Node.expandIncludes(node,
      load = p => { assert(p == "/snippets/alert.json"); snippet },
      env = Map.empty)
    // include splice: where → scale, tap grafted onto the snippet's leaf
    assert(expanded.action == "where")
    assert(expanded.params == Seq(Seq(">", "metric", 100L)))
    assert(expanded.children.map(_.action) == Seq("scale"))
    assert(expanded.children.head.params == Seq(10L)) // no profile → default
    assert(expanded.children.head.children.map(_.action) == Seq("tap"))
    // explicit profile wins
    val dev = Node.expandIncludes(Node.fromJson(
      """{"action":"include",
        | "params":["p",{"profile":"dev","variables":{"cutoff":5}}]}""".stripMargin),
      load = _ => snippet, env = Map.empty)
    assert(dev.children.head.params == Seq(1L))
    // PROFILE env var is the fallback (get-env-profile)
    val prod = Node.expandIncludes(Node.fromJson(
      """{"action":"include","params":["p",{"variables":{"cutoff":5}}]}"""),
      load = _ => snippet, env = Map("PROFILE" -> "dev"))
    assert(prod.children.head.params == Seq(1L))
    // undefined variable is an error, not a silent null
    intercept[IllegalArgumentException] {
      Node.expandIncludes(Node.fromJson(
        """{"action":"include","params":["p"]}"""), load = _ => snippet, env = Map.empty)
    }
  }

  test("include: a .edn snippet (reference-style, with aero tags) splices like its JSON twin") {
    val ednSnippet =
      """{:action :where :params [[:> :metric #mirabelle/var cutoff]] :children [
        |  {:action :scale :params [#profile {:dev 1 :default 10}]}]}""".stripMargin
    val expanded = Node.expandIncludes(Node.fromJson(
      """{"action":"include",
        | "params":["/snippets/alert.edn",{"variables":{"cutoff":100}}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
      load = p => { assert(p == "/snippets/alert.edn"); ednSnippet },
      env = Map.empty)
    assert(expanded.action == "where")
    assert(expanded.params == Seq(Seq(">", "metric", 100L)))
    assert(expanded.children.head.params == Seq(10L)) // no profile → default
    assert(expanded.children.head.children.map(_.action) == Seq("tap"))
  }

  test("include: a cyclic include chain fails with a clean error naming the cycle") {
    // a.json includes b.json includes a.json — mutual cycle
    val docs = Map(
      "a.json" -> """{"action":"include","params":["b.json"]}""",
      "b.json" -> """{"action":"include","params":["a.json"]}""")
    val e = intercept[IllegalArgumentException] {
      Node.expandIncludes(
        Node.fromJson("""{"action":"include","params":["a.json"]}"""),
        load = docs(_), env = Map.empty)
    }
    assert(e.getMessage.contains("include cycle"))
    assert(e.getMessage.contains("a.json") && e.getMessage.contains("b.json"))
    // direct self-include too
    intercept[IllegalArgumentException] {
      Node.expandIncludes(
        Node.fromJson("""{"action":"include","params":["a.json"]}"""),
        load = _ => """{"action":"include","params":["a.json"]}""", env = Map.empty)
    }
    // validate reports it as a config error instead of crashing
    val errs = Engine.validate(
      Node.fromJson("""{"action":"include","params":["a.json"]}"""), spark)
    // the default file loader can't find a.json → surfaced, not thrown
    assert(errs.exists(_.startsWith("/include")))
  }

  test("round-8 IR actions dispatch (normalize, boilerplate-remove, domain-blocklist, random-project)") {
    val s = spark
    import s.implicits._
    def tap(df: org.apache.spark.sql.DataFrame, json: String) =
      Engine.run(Node.fromJson(json), df, EngineCtx(testMode = true)).taps("out")

    val docs = Seq(
      (1L, "A\tB  c see https://x.spam.example.net/p"),
      (2L, "clean text here")).toDF("doc_id", "text")
    val nm = tap(docs, """{"action":"normalize","params":[{"field":"text","out":"clean","lowercase":true}],
                        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .orderBy("doc_id").collect().map(_.getString(2))
    assert(nm.head == "a b c see https://x.spam.example.net/p")

    val bl = tap(docs, """{"action":"domain-blocklist",
                        | "params":[{"id":"doc_id","text":"text","domains":["spam.example.net"]}],
                        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .collect().map(_.getLong(0))
    assert(bl.toSeq == Seq(2L))

    val bp = tap(
      Seq((1L, "a b c d"), (2L, "a b"), (3L, "a b")).toDF("doc_id", "text"),
      """{"action":"boilerplate-remove","params":[{"id":"doc_id","text":"text","line-tokens":2}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(3)))
    assert(bp.toSeq == Seq(1L -> "c d", 2L -> "", 3L -> ""))

    val vecs = Seq((1L, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val rp = tap(vecs, """{"action":"random-project",
                        | "params":[{"vec":"embedding","out":"p","dim-in":8,"dim-out":4,"seed":"t"}],
                        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .collect().head.getSeq[Double](2)
    assert(rp.length == 4)

    val sh = tap(docs, """{"action":"strip-html","params":[{"field":"text","out":"c"}],
                        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .orderBy("doc_id").collect().map(_.getString(2))
    assert(sh(1) == "clean text here")

    val up = tap(docs, """{"action":"upsample",
                        | "params":[{"domain":"text","id":"doc_id","weights":{},"default":2.0}],
                        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    assert(up.count() == 4) // 2 docs x 2 copies

    val benchPath = TestSpark.tempDir("ir-bench").toString + "/b"
    Seq((100L, "clean text here")).toDF("doc_id", "text")
      .write.parquet(benchPath)
    val ov = tap(docs, s"""{"action":"decontam-overlap",
                         | "params":[{"id":"doc_id","text":"text","bench-path":"$benchPath"}],
                         | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ov(2L) == 1.0 && ov(1L) < 1.0) // doc 2 is the verbatim bench copy
  }

  test("dedup-cluster IR action labels pair chains with the min reachable id") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val node = Node.fromJson(
      """{"action":"dedup-cluster","params":[],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val out = Engine.run(node, pairs, EngineCtx(testMode = true)).taps("out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))

    val star = Engine.run(Node.fromJson(
      """{"action":"dedup-cluster-star","params":[],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
      pairs, EngineCtx(testMode = true)).taps("out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the older action name still parses and reaches the same operator
    assert(star == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("curation IR actions dispatch on document frames (line-dedup, domain-mix, pack-nextfit)") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d", "big", 1L), (2L, "a b e f", "big", 2L), (3L, "g h i j", "small", 3L))
      .toDF("doc_id", "text", "source", "n_toks")
    def tap(json: String) =
      Engine.run(Node.fromJson(json), docs, EngineCtx(testMode = true)).taps("out")

    val ld = tap("""{"action":"line-dedup","params":[{"id":"doc_id","text":"text","line-tokens":2}],
                   | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(3))
    assert(ld.toSeq == Seq(1L -> "a b c d", 2L -> "e f", 3L -> "g h i j"))

    // exact-substring signal: docs 1/2 share the bigram "a b"
    val dn = tap("""{"action":"dup-ngram-stats","params":[{"id":"doc_id","text":"text","n":2}],
                   | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dn.toSeq == Seq((1L, 3L, 1L), (2L, 3L, 1L), (3L, 3L, 0L)))

    val dm = tap("""{"action":"domain-mix",
                   | "params":[{"domain":"source","id":"doc_id","shares":{"big":0.5,"small":0.5}}],
                   | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    // small (1 of 3 docs, target half) keeps everything; output is a subset
    assert(dm.filter(col("source") === "small").count() == 1L)

    val pk = tap("""{"action":"pack-nextfit",
                   | "params":[{"group":"source","id":"doc_id","tokens":"n_toks","budget":2}],
                   | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .orderBy("doc_id").collect().map(_.getLong(3))
    assert(pk.toSeq == Seq(0L, 1L, 0L)) // big: 1 fits, 1+2>2 opens bin 1; small resets

    // approx token-budget: with 2 buckets, big's top score-bucket (doc 2,
    // 2 tokens) fits budget 2, doc 1's lower bucket would overflow it;
    // small's lone 3-token doc exceeds the budget -> whole group dropped
    val tb = tap("""{"action":"token-budget-approx",
                   | "params":[{"group":"source","score":"n_toks","tokens":"n_toks",
                   |            "budget":2,"buckets":2}],
                   | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    assert(tb.toSeq == Seq(2L))

    // training-order materialization: a dense deterministic permutation…
    val so = tap("""{"action":"shuffle-order","params":[{"id":"doc_id","seed":"e0"}],
                   | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .select("position", "doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(so.map(_._1).toSet == Set(0L, 1L, 2L) && so.map(_._2).toSet == Set(1L, 2L, 3L))

    // …and proportional interleave with per-source ranks
    val il = tap("""{"action":"interleave-sources",
                   | "params":[{"source":"source","id":"doc_id",
                   |            "weights":{"big":2.0,"small":1.0}}],
                   | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      .select("position", "source_rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(il.map(_._1).toSet == Set(0L, 1L, 2L))
  }

  test("stream names with path separators or '..' are rejected (persistence safety)") {
    val reg = new StreamRegistry()
    val pipe = Node.fromJson("""{"action":"where","params":[["pos?","metric"]]}""")
    intercept[IllegalArgumentException](reg.add("../escape", pipe))
    intercept[IllegalArgumentException](reg.add("a/b", pipe))
    intercept[IllegalArgumentException](reg.add("", pipe))
    reg.add("ok-name", pipe)
    assert(reg.list == Seq("ok-name"))
  }

  test("async-queue! is a scheduling no-op: subtree continues (action.clj:1680-1708)") {
    val df = events(ev(200, 1 * S, id = 1), ev(80, 2 * S, id = 2))
    val node = Node.fromJson(
      """{"action":"async-queue!","params":["slow-io"],"children":[
        |  {"action":"where","params":[[">","metric",100]],
        |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
    val res = Engine.run(node, df, EngineCtx(testMode = true))
    assert(tapRows(res, "out") == Seq(1L -> 200.0))
  }
}
