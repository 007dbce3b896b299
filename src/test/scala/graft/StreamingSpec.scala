package graft

import graft.model.Event
import graft.operators.{Analytics, Windows}
import graft.streaming.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming vs batch: every op runs a MemoryStream through the
  * streaming path and must produce the same rows as the CORRECTNESS-gated
  * batch run on the same fixture. The event-time windows are one
  * [[graft.operators.Windows]] builder called on both sides; the per-key
  * folds are `Streaming` twins of `Analytics`.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private var ctr = 0

  /** Run a streaming transform over event batches; each inner Seq is one
    * micro-batch (watermark advances between batches, exactly the
    * reference's flush-on-clock-advance, action.clj:2434-2450).
    */
  private def runStream(transform: DataFrame => DataFrame,
                        batches: Seq[Seq[Event]]): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val ms = MemoryStream[Event]
    val q = transform(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    s.table(name)
  }

  /** Like [[runStream]] but with a complete-mode sink — for the
    * continuously-updated current-state plans (unwindowed aggregates like
    * `project`) that have nothing to emit in append mode.
    */
  private def runStreamComplete(transform: DataFrame => DataFrame,
                                batches: Seq[Seq[Event]]): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val ms = MemoryStream[Event]
    val q = transform(ms.toDF()).writeStream
      .format("memory").queryName(name).outputMode("complete").start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    s.table(name)
  }

  /** Late fixture events that only exist to push the watermark far past
    * every window under test (two batches: the watermark is computed from
    * the PREVIOUS batch's max event time).
    */
  private val flush1 = Seq(ev(0, 100000 * S, id = 999901))
  private val flush2 = Seq(ev(0, 200000 * S, id = 999902))
  private def noFlush(df: DataFrame): DataFrame = df.filter(col("window_start") < 90000L * S)

  private val windowFixture = Seq(
    ev(1, 10 * S, host = "a", id = 1), ev(2, 50 * S, host = "a", id = 2),
    ev(7, 70 * S, host = "a", id = 3), ev(5, 15 * S, host = "b", id = 4),
    ev(9, 130 * S, host = "b", id = 5))

  test("streaming fixed-time-window == batch twin after watermark flush") {
    val out = runStream(Windows.fixedTimeWindow(60, Seq("host"), 10),
      Seq(windowFixture, flush1, flush2))
    def proj(df: DataFrame) = df
      .select(col("window_start"), col("host"),
        size(col("events")).as("n"), element_at(col("events"), -1)("eventId").as("last"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    val batch = Windows.fixedTimeWindow(60, Seq("host"))(events(windowFixture: _*))
    assert(proj(noFlush(out)) == proj(batch))
  }

  test("streaming sum/top == batch twins after watermark flush") {
    val sumOut = runStream(Windows.sumWindow(60, Seq("host"), 10),
      Seq(windowFixture, flush1, flush2))
    def projSum(df: DataFrame) = df.select("window_start", "host", "metric")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(projSum(noFlush(sumOut)) ==
      projSum(Windows.sumWindow(60, Seq("host"))(events(windowFixture: _*))))

    val topOut = runStream(Windows.topWindow(60, Seq("host"), 10),
      Seq(windowFixture, flush1, flush2))
    def projTop(df: DataFrame) = df.select("window_start", "host", "eventId")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(projTop(noFlush(topOut)) ==
      projTop(Windows.topWindow(60, Seq("host"))(events(windowFixture: _*))))
  }

  test("streaming fixed-event-window == batch twin, state spans micro-batches") {
    val fixture = (1 to 7).map(i => ev(i, i * S, host = "a", id = i)) ++
      (1 to 3).map(i => ev(i * 10, i * S, host = "b", id = 100 + i))
    // split mid-window across two batches: the partial buffer must carry
    val out = runStream(df => Streaming.fixedEventWindow(3, Seq("host"))(df).toDF(),
      Seq(fixture.take(4), fixture.drop(4)))
    val streamed = out.select(col("key"), col("windowId"),
        transform(col("events"), _.getField("eventId")).as("ids"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val batch = Analytics.fixedEventWindow(3, Seq("host"))(events(fixture: _*))
      .select(col("host"), col("window_id"),
        transform(col("events"), _.getField("eventId")).as("ids"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(streamed == batch)
  }

  test("streaming throttle == batch twin, state spans micro-batches") {
    val fixture = (1 to 10).map(i => ev(1, i * S, host = "a", id = i))
    val out = runStream(df => Streaming.throttle(2, 4, Seq("host"))(df).toDF(),
      Seq(fixture.take(5), fixture.drop(5)))
    val streamed = out.select("eventId").collect().map(_.getLong(0)).toSet
    val batch = Analytics.throttle(2, 4, Seq("host"))(events(fixture: _*))
      .select("eventId").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
  }

  test("streaming ewma == batch twin, state spans micro-batches") {
    val fixture = Seq(ev(10, 1 * S, id = 1), ev(20, 2 * S, id = 2),
      ev(2, 3 * S, id = 3), ev(8, 4 * S, id = 4))
    val out = runStream(df => Streaming.ewmaTimeless(0.5, Seq("host"))(df).toDF(),
      Seq(fixture.take(2), fixture.drop(2)))
    val streamed = out.select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Analytics.ewmaTimeless(0.5, Seq("host"))(events(fixture: _*))
      .toDF().select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)
  }

  test("streaming changed == batch twin; init seeds the comparison") {
    val fixture = Seq(
      ev(1, 1 * S, state = "ok", id = 1), ev(1, 2 * S, state = "critical", id = 2),
      ev(1, 3 * S, state = "critical", id = 3), ev(1, 4 * S, state = "ok", id = 4))
    val out = runStream(df => Streaming.changed("state", "ok", Seq("host"))(df).toDF(),
      Seq(fixture.take(2), fixture.drop(2)))
    val streamed = out.select("eventId").collect().map(_.getLong(0)).toSet
    val batch = Analytics.changed("state", "ok", Seq("host"))(events(fixture: _*))
      .select("eventId").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
  }

  test("streaming smax == batch twin") {
    val fixture = Seq(ev(3, 1 * S, id = 1), ev(9, 2 * S, id = 2),
      ev(5, 3 * S, id = 3), ev(11, 4 * S, id = 4))
    val out = runStream(df => Streaming.smax(Seq("host"))(df).toDF(),
      Seq(fixture.take(2), fixture.drop(2)))
    val streamed = out.select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Analytics.smax(Seq("host"))(events(fixture: _*))
      .select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)
  }

  test("streaming sessionize (native session window) == batch twin") {
    // host a: events at 1s,2s then a 100s gap then 200s → two sessions;
    // host b: one session
    val fixture = Seq(
      ev(1, 1 * S, host = "a", id = 1), ev(1, 2 * S, host = "a", id = 2),
      ev(1, 200 * S, host = "a", id = 3),
      ev(1, 5 * S, host = "b", id = 4), ev(1, 20 * S, host = "b", id = 5))
    def rows(df: DataFrame) = df
      .select("host", "session_start", "session_end", "n_events").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val streamed = rows(runStream(
      df => Windows.sessionize(30, Seq("host"), 5)(df)
        .filter(col("session_start") < 90000L * S), // drop the flush events' session
      Seq(fixture, flush1, flush2)))
    val batch = rows(Windows.sessionize(30, Seq("host"))(events(fixture: _*)))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("pre-1970 window key and a gap-exact session: batch == stream") {
    // window() floors event time: -15 s falls in [-20 s, -10 s) for a
    // 10 s window (time div d would truncate it to -10 s); host b's events
    // are exactly one gap apart and stay one session
    val fixture = Seq(ev(1, -15 * S, host = "a", id = 1),
      ev(2, 100 * S, host = "b", id = 2), ev(3, 130 * S, host = "b", id = 3))
    def starts(df: DataFrame) = df.filter(col("window_start") < 90000L * S)
      .select("window_start", "host").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batchStarts = starts(Windows.sumWindow(10, Seq("host"))(events(fixture: _*)))
    assert(batchStarts == Set((-20 * S, "a"), (100 * S, "b"), (130 * S, "b")))
    // a stream's watermark starts at the epoch, so a window that ends at
    // or before it is late from the first micro-batch on and never emitted
    assert(starts(runStream(Windows.sumWindow(10, Seq("host"), 5),
      Seq(fixture, flush1, flush2))) == batchStarts.filter(_._1 + 10 * S > 0))

    def sessions(df: DataFrame) = df.filter(col("session_start") < 90000L * S)
      .select("host", "session_start", "session_end", "n_events").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batchSessions = sessions(Windows.sessionize(30, Seq("host"))(events(fixture: _*)))
    assert(batchSessions == Set(("a", -15 * S, 15 * S, 1L), ("b", 100 * S, 160 * S, 2L)))
    assert(sessions(runStream(Windows.sessionize(30, Seq("host"), 5),
      Seq(fixture, flush1, flush2))) == batchSessions)
  }

  test("streaming generic cond-dt (IR dispatch) == batch twin") {
    import graft.ir.{Engine, EngineCtx}
    // metric > 5 must hold for > 2 s; a dip at t=5 breaks the run
    val fixture = Seq(
      ev(10, 1 * S, id = 1), ev(10, 2 * S, id = 2), ev(10, 4 * S, id = 3),
      ev(1, 5 * S, id = 4), ev(10, 6 * S, id = 5), ev(10, 9 * S, id = 6))
    val op = Engine.applyOp("cond-dt",
      Seq(Map("condition" -> Seq(">", "metric", 5), "duration" -> 2)),
      Seq("host"), EngineCtx())
    val out = runStream(op, Seq(fixture.take(3), fixture.drop(3)))
    val streamed = out.select("eventId").collect().map(_.getLong(0)).toSet
    val batch = op(events(fixture: _*)).select("eventId").collect().map(_.getLong(0)).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming project (complete-mode current-state view) == batch twin") {
    import graft.conditions.Condition
    val fixture = Seq(
      ev(180, 1 * S, state = "critical", id = 1), ev(5, 2 * S, state = "ok", id = 2),
      ev(200, 3 * S, state = "critical", id = 3), ev(7, 4 * S, state = "ok", id = 4))
    val conds = Seq(
      Condition.Eq(Condition.Field("state"), "critical"),
      Condition.Eq(Condition.Field("state"), "ok"))
    def proj(df: DataFrame) = df
      .select(col("match_0")("eventId"), col("match_1")("eventId"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = runStreamComplete(Windows.project(conds),
      Seq(fixture.take(2), fixture.drop(2)))
    val batch = Windows.project(conds)(events(fixture: _*))
    assert(proj(out) == proj(batch))
  }

  test("one IR pipeline, two runtimes: engine dispatches batch vs streaming") {
    import graft.ir.{Engine, EngineCtx, Node}
    val node = Node.fromJson(
      """{"action":"where","params":[[">","metric",1]],"children":[
        |  {"action":"sum","params":[{"duration":60,"delay":10}]}]}""".stripMargin)
    def proj(df: DataFrame) = noFlush(df).select("window_start", "host", "metric")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // flush events must survive the `where` to advance the watermark
    val streamed = runStream(
      df => Engine.run(node, df, EngineCtx(testMode = true)).outputs.head,
      Seq(windowFixture, Seq(ev(5, 100000 * S, id = 999901)), Seq(ev(5, 200000 * S, id = 999902))))
    val batch = Engine.run(node, events(windowFixture: _*), EngineCtx(testMode = true)).outputs.head
    assert(proj(streamed) == proj(batch))
    assert(proj(streamed).nonEmpty)
  }

  test("streaming moving windows == batch twins (tie-free fixture)") {
    val fixture = Seq(ev(1, 10 * S, id = 1), ev(2, 20 * S, id = 2),
      ev(3, 25 * S, id = 3), ev(4, 200 * S, id = 4))
    def ids(df: DataFrame) = df
      .select(col("eventId"), transform(col("events"), _.getField("eventId")).as("w"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    val mew = runStream(df => Streaming.movingEventWindow(2, Seq("host"))(df)
      .toDF().select(col("event.*"), col("events")), Seq(fixture.take(2), fixture.drop(2)))
    assert(ids(mew) == ids(Analytics.movingEventWindow(2, Seq("host"))(events(fixture: _*))))

    val mtw = runStream(df => Streaming.movingTimeWindow(20, Seq("host"))(df)
      .toDF().select(col("event.*"), col("events")), Seq(fixture.take(2), fixture.drop(2)))
    assert(ids(mtw) == ids(Analytics.movingTimeWindow(20, Seq("host"))(events(fixture: _*))))
  }

  test("streaming ratio/coalesce/ssort == batch twins after watermark flush") {
    import graft.conditions.Condition._
    val fx = Seq(
      ev(200, 10 * S, host = "a", state = "critical", id = 1),
      ev(10, 20 * S, host = "a", state = "ok", id = 2),
      ev(80, 30 * S, host = "b", state = "ok", id = 3),
      ev(300, 70 * S, host = "a", state = "critical", id = 4))
    val flushes = Seq(flush1, flush2)

    val ratioOut = runStream(
      Windows.ratioWindow(60, Eq(Field("state"), "critical"), AlwaysTrue, delaySeconds = 10),
      fx +: flushes)
    def projR(df: DataFrame) = df.select("window_start", "metric")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(projR(noFlush(ratioOut)) ==
      projR(graft.operators.Windows.ratioWindow(60, Eq(Field("state"), "critical"), AlwaysTrue)(events(fx: _*))))

    val coalOut = runStream(Windows.coalesceWindow(60, Seq("host"), 10), fx +: flushes)
    def projC(df: DataFrame) = df.select("window_start", "host", "eventId")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(projC(noFlush(coalOut)) ==
      projC(graft.operators.Windows.coalesceWindow(60, Seq("host"))(events(fx: _*))))

    val ssortOut = runStream(Windows.ssort(60, "metric", delaySeconds = 10), fx +: flushes)
    def projS(df: DataFrame) = df.filter(col("time") < 90000L * S)
      .select("eventId").collect().map(_.getLong(0)).toSet
    assert(projS(ssortOut) ==
      graft.operators.Windows.ssort(60, "metric")(events(fx: _*))
        .select("eventId").collect().map(_.getLong(0)).toSet)
  }

  test("streaming ddt / above-dt / stable == batch twins") {
    val fx = Seq(
      ev(10, 10 * S, id = 1), ev(30, 20 * S, id = 2), ev(20, 30 * S, id = 3),
      ev(60, 40 * S, id = 4), ev(70, 50 * S, id = 5))
    val ddtOut = runStream(df => Streaming.ddt(Seq("host"))(df).toDF(),
      Seq(fx.take(2), fx.drop(2)))
    def m(df: DataFrame) = df.select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(ddtOut) == m(Analytics.ddt(Seq("host"))(events(fx: _*)).toDF()))

    // above-dt: metric > 25 holds from id=4 on; dt=15s → passes past 40+15
    val fx2 = Seq(ev(10, 10 * S, id = 1), ev(30, 20 * S, id = 2), ev(40, 30 * S, id = 3),
      ev(20, 40 * S, id = 4), ev(50, 50 * S, id = 5), ev(60, 80 * S, id = 6))
    val aboveOut = runStream(df => Streaming.aboveDt(25, 15, Seq("host"))(df).toDF(),
      Seq(fx2.take(3), fx2.drop(3)))
    assert(aboveOut.select("eventId").collect().map(_.getLong(0)).toSet ==
      Analytics.aboveDt(25, 15, Seq("host"))(events(fx2: _*))
        .select("eventId").collect().map(_.getLong(0)).toSet)

    val fx3 = Seq(
      ev(1, 10 * S, state = "ok", id = 1), ev(1, 20 * S, state = "ok", id = 2),
      ev(1, 40 * S, state = "ok", id = 3), ev(1, 50 * S, state = "crit", id = 4),
      ev(1, 55 * S, state = "crit", id = 5))
    val stableOut = runStream(df => Streaming.stable(15, "state", Seq("host"))(df).toDF(),
      Seq(fx3.take(2), fx3.drop(2)))
    assert(stableOut.select("eventId").collect().map(_.getLong(0)).toSet ==
      Analytics.stable(15, "state", Seq("host"))(events(fx3: _*))
        .select("eventId").collect().map(_.getLong(0)).toSet)
  }

  test("too-late events are dropped by the watermark (action.clj:2419-2426)") {
    // event at 10s arrives after the watermark has passed its window end
    val late = Seq(ev(42, 10 * S, id = 50))
    val out = runStream(Windows.sumWindow(60, Seq("host"), 10),
      Seq(windowFixture, flush1, late, flush2))
    // the [0,60) window for host a flushed before the late event arrived:
    // its sum must NOT include the late 42
    val w0 = out.filter(col("window_start") === 0L && col("host") === "a")
      .select("metric").collect().map(_.getDouble(0)).toSeq
    assert(w0 == Seq(3.0))
  }

  test("IR pipeline on a stream ends in the streaming file sink (writeStream twin)") {
    import graft.ir.{Engine, EngineCtx, Node}
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val dir = TestSpark.tempDir("graft-ssink").toString + "/out"
    val ms = MemoryStream[Event]
    val node = Node.fromJson(
      s"""{"action":"where","params":[[">","metric",100]],"children":[
         |  {"action":"output-file","params":[{"path":"$dir","fields":["host"]}]}]}""".stripMargin)
    val res = Engine.run(node, ms.toDF(), EngineCtx(testMode = false))
    assert(res.streamingQueries.size == 1)
    val q = res.streamingQueries.head
    ms.addData(Seq(ev(200, 1 * S, host = "a", id = 1), ev(80, 2 * S, host = "b", id = 2)))
    q.processAllAvailable()
    ms.addData(Seq(ev(300, 3 * S, host = "b", id = 3)))
    q.processAllAvailable()
    q.stop()
    val back = s.read.json(dir)
    assert(back.select("eventId").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // field templating became partition directories on the streaming path too
    assert(back.select("host").distinct().collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  test("aggr-custom (udaf-wrapped Aggregator) runs under a watermark") {
    import graft.ir.{Engine, EngineCtx, Node}
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val ctx = EngineCtx(testMode = true, aggregators = Map(
      "wmean" -> (_ => graft.functions.Aggregators.weightedMean(col("metric"), lit(1.0)))))
    val node = Node.fromJson(
      """{"action":"aggr-custom","params":[{"duration":60,"delay":10,"name":"wmean"}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
    val ms = MemoryStream[Event]
    val res = Engine.run(node, ms.toDF(), ctx)
    val q = res.taps("out").writeStream
      .format("memory").queryName("aggr_custom_stream").outputMode("append").start()
    ms.addData(Seq(ev(10, 10 * S, id = 1), ev(20, 50 * S, id = 2)))
    q.processAllAvailable()
    ms.addData(flush1); q.processAllAvailable()
    ms.addData(flush2); q.processAllAvailable()
    q.stop()
    val out = s.table("aggr_custom_stream").filter(col("window_start") === 0L)
      .select("metric").collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(15.0)) // mean(10, 20) via the custom pair, on the flushed window
  }

  /** Run a stateful streaming transform and record the state store's
    * `numRowsTotal` after each micro-batch (taken from the most recent
    * progress event that carries state-operator metrics).
    */
  private def stateRowCounts(transform: DataFrame => DataFrame,
                             batches: Seq[Seq[Event]]): Seq[Long] = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val ms = MemoryStream[Event]
    val q = transform(ms.toDF()).writeStream
      .format("memory").queryName(s"stream_out_$ctr").outputMode("append").start()
    val counts = batches.map { b =>
      ms.addData(b); q.processAllAvailable()
      q.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .headOption.getOrElse(0L)
    }
    q.stop()
    counts
  }

  test("fork-TTL evicts idle keys: numRowsTotal stops growing (action.clj:1559-1596)") {
    // 3 batches × 5 disjoint keys each, 100 s of event time apart; TTL 10 s
    // means by the time batch N+2's watermark (prev batch max - 10 s) is
    // computed, batch N's keys are idle > TTL and their timeouts fire.
    def batch(prefix: String, t0: Long) =
      (1 to 5).map(i => ev(i, (t0 + i) * S, host = s"$prefix$i", id = t0 + i))
    val batches = Seq(batch("a", 0), batch("b", 100), batch("c", 200), batch("d", 300))

    // with TTL: idle keys are evicted, so total state stays bounded
    def probe(op: DataFrame => DataFrame) = stateRowCounts(op, batches)
    for (op <- Seq[DataFrame => DataFrame](
      df => Streaming.ewmaTimeless(0.5, Seq("host"), forkTtl = Some(10))(df).toDF(),
      df => Streaming.smax(Seq("host"), forkTtl = Some(10))(df).toDF(),
      df => Streaming.stable(5, "state", Seq("host"), forkTtl = Some(10))(df).toDF())) {
      val rows = probe(op)
      assert(rows.head == 5, s"first batch should hold its 5 keys, got $rows")
      // once eviction kicks in, state stops growing: never all 20 keys live
      assert(rows.last < 20, s"TTL should evict idle keys, got $rows")
      assert(rows.last <= rows(1), s"state must stop growing after eviction starts, got $rows")
    }

    // control: forkTtl = None accumulates every key ever seen
    val unbounded = probe(df => Streaming.ewmaTimeless(0.5, Seq("host"), forkTtl = None)(df).toDF())
    assert(unbounded == Seq(5L, 10L, 15L, 20L), s"NoTimeout must accumulate, got $unbounded")
  }

  test("dedup-within-watermark: first arrival wins, horizon expiry re-admits, state bounded") {
    val dup = ev(1, 10 * S, host = "a", id = 1)
    val out = runStream(
      df => Streaming.dedupWithinWatermark(Seq("host"), delaySeconds = 50)(df),
      Seq(
        // in-batch duplicate of "a" (identical row) collapses to one
        Seq(dup, dup, ev(2, 20 * S, host = "b", id = 2)),
        // "a" again within the horizon: dropped; new key "c": emitted
        Seq(ev(9, 30 * S, host = "a", id = 3), ev(3, 60 * S, host = "c", id = 4)),
        // watermark pushed to 150 s: a/b/c first-seen+50s all pass -> evicted
        Seq(ev(0, 200 * S, host = "z", id = 9)),
        // duplicate of "a" AFTER its horizon: state gone, re-emitted --
        // the documented batch/stream delta
        Seq(ev(9, 190 * S, host = "a", id = 10))))
      .collect().map(r => (r.getAs[String]("host"), r.getAs[Long]("eventId")))
    assert(out.count(_._1 == "a") == 2, s"horizon-expired dup must re-emit, got ${out.toSeq}")
    assert(out.map(_._2).toSet == Set(1L, 2L, 4L, 9L, 10L),
      s"in-horizon dup (id 3) must be dropped, got ${out.toSeq}")

    // state is horizon-bounded: disjoint keys, 100 s apart, 10 s horizon --
    // each batch's keys are long expired by the next, so totals never
    // approach the 20 distinct keys seen
    def batch(prefix: String, t0: Long) =
      (1 to 5).map(i => ev(i, (t0 + i) * S, host = s"$prefix$i", id = t0 + i))
    val rows = stateRowCounts(
      df => Streaming.dedupWithinWatermark(Seq("host"), delaySeconds = 10)(df),
      Seq(batch("a", 0), batch("b", 100), batch("c", 200), batch("d", 300)))
    assert(rows.head == 5, s"first batch holds its 5 keys, got $rows")
    assert(rows.last < 20, s"horizon must evict idle keys, got $rows")
    assert(rows.last <= rows(1), s"state must stop growing once eviction starts, got $rows")
  }

  test("stream-stream interval join: events land in open incident windows (bounded state)") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val clicks = MemoryStream[Event]
    val errors = MemoryStream[Event]
    val joined = Streaming.rangeJoinEvents(
      spanSeconds = 60, delaySeconds = 10,
      valueCols = Seq("eventId"), keys = Seq("host"))(clicks.toDF(), errors.toDF())
      .select(col("eventId"), col("win_eventId"))
    val q = joined.writeStream.format("memory")
      .queryName(s"stream_out_$ctr").outputMode("append").start()
    // error on host a opens [100s, 160s]; one on b opens [500s, 560s]
    errors.addData(Seq(ev(1, 100 * S, host = "a", id = 900), ev(1, 500 * S, host = "b", id = 901)))
    q.processAllAvailable()
    // clicks: in-window (a@130), boundary (a@160), outside (a@200), wrong key (b@130)
    clicks.addData(Seq(
      ev(1, 130 * S, host = "a", id = 1), ev(1, 160 * S, host = "a", id = 2),
      ev(1, 200 * S, host = "a", id = 3), ev(1, 130 * S, host = "b", id = 4)))
    q.processAllAvailable()
    q.stop()
    val out = s.table(s"stream_out_$ctr")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(out == Set(1L -> 900L, 2L -> 900L))
  }

  test("stateful op state survives a query restart from checkpoint") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val ck = TestSpark.tempDir("graft-ck").toString
    val outDir = TestSpark.tempDir("graft-ck-out").toString + "/out"
    val ms = MemoryStream[Event]
    def start() = Streaming.ewmaTimeless(0.5, Seq("host"))(ms.toDF()).toDF()
      .writeStream.format("json").option("path", outDir)
      .option("checkpointLocation", ck).outputMode("append").start()
    val fixture = Seq(ev(10, 1 * S, id = 1), ev(20, 2 * S, id = 2),
      ev(2, 3 * S, id = 3), ev(8, 4 * S, id = 4))
    val q1 = start()
    ms.addData(fixture.take(2)); q1.processAllAvailable(); q1.stop()
    // cold restart of the QUERY (same checkpoint): per-key ewma state must
    // resume, not reseed at 0 — ids 3/4 depend on the means of ids 1/2
    val q2 = start()
    ms.addData(fixture.drop(2)); q2.processAllAvailable(); q2.stop()
    val streamed = s.read.json(outDir).select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Analytics.ewmaTimeless(0.5, Seq("host"))(events(fixture: _*))
      .toDF().select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)
  }

  test("riemann wire decode runs on a stream: framed Msg bytes → event rows") {
    import graft.sources.RiemannCodec
    import graft.sources.RiemannCodec.RiemannEvent
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val evs = (1 to 10).map(i => RiemannEvent(Some(i * 1000000L), Some("ok"),
      Some(s"svc$i"), None, Nil, None, Some(i.toDouble), Map("host" -> "h1")))
    val ms = MemoryStream[Array[Byte]]
    val q = RiemannCodec.decodeStreams(ms.toDF().withColumnRenamed("value", "stream"))
      .writeStream.format("memory").queryName("riemann_stream").outputMode("append").start()
    // two micro-batches of TCP-framed bytes, like two socket reads
    evs.grouped(5).foreach { g =>
      ms.addData(RiemannCodec.frame(RiemannCodec.encodeMsg(g)))
      q.processAllAvailable()
    }
    q.stop()
    val out = s.table("riemann_stream")
    assert(out.count() == 10)
    assert(out.agg(sum("metric")).head.getDouble(0) == 55.0)
  }

  // (doc_id, text, seconds) → streaming doc frame with a __time column
  private def runDocStream(horizon: Long,
                           batches: Seq[Seq[(Long, String, Long)]]): DataFrame = {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val ms = MemoryStream[(Long, String, Long)]
    val in = ms.toDF().toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val q = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", horizon)(in)
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    s.table(name)
  }

  private val FoxText = "the quick brown fox jumps over the lazy dog tonight"
  private val JugText = "pack my box with five dozen liquor jugs right now"

  test("streaming near-dup == batch twin; later arrivals pair against the earliest owner") {
    val s = spark
    import s.implicits._
    val batches = Seq(
      Seq((1L, FoxText, 10L), (2L, FoxText, 20L)),
      Seq((3L, FoxText, 30L), (4L, JugText, 40L)))
    val streamed = runDocStream(horizon = 100, batches)
      .select("doc_id", "dup_of", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchDf = batches.flatten.toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val batch = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", 100)(batchDf)
      .collect().map(m => (m.doc_id, m.dup_of, m.band)).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // exact duplicates collide in EVERY band; owner is doc 1 everywhere
    assert(streamed.map { case (d, o, _) => (d, o) } == Set((2L, 1L), (3L, 1L)))
    assert(streamed.size == 8, s"one match per shared band (4 bands x 2 dups), got $streamed")
  }

  test("streaming winnow near-dup == batch twin; shared-passage pairs found, disjoint not") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val passage = "a very distinctive plagiarized paragraph with plenty of characters"
    val batches = Seq(
      Seq((1L, s"first doc zzzz $passage qqqq", 10L)),
      Seq((2L, s"second doc mmmm $passage nnnn", 20L),
        (3L, "totally unrelated content sharing nothing at all", 30L)))
    val ms = MemoryStream[(Long, String, Long)]
    val in = ms.toDF().toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val q = Streaming.winnowNearDupWithinWatermark("doc_id", "text", "__time", 100)(in)
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = s.table(name).select("doc_id", "dup_of", "band")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchDf = batches.flatten.toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val batch = Streaming.winnowNearDupWithinWatermark("doc_id", "text", "__time", 100)(batchDf)
      .collect().map(m => (m.doc_id, m.dup_of, m.band)).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    val pairs = streamed.map { case (d, o, _) => (d, o) }
    assert(pairs.contains((2L, 1L)), s"shared passage must pair 2 against owner 1: $pairs")
    assert(!pairs.exists { case (d, o) => d == 3L || o == 3L },
      "the disjoint doc must not pair")
  }

  test("streaming near-dup bucket cap: planted mega-bucket bounded, organic pairs kept, stream == batch") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val cap = 5
    // 30 identical docs (ONE degenerate signature — every band bucket is
    // the mega-bucket) split across two micro-batches, plus one organic
    // near-dup pair with a distinct text in the second batch
    val mega = (1L to 30L).map(i => (i, FoxText, 10L + i))
    val batches = Seq(
      mega.take(12), mega.drop(12) ++ Seq((100L, JugText, 50L), (101L, JugText, 60L)))
    val ms = MemoryStream[(Long, String, Long)]
    val in = ms.toDF().toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val q = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", 1000,
        maxMatchesPerBucket = cap)(in)
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    val out = s.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val matches = out.filter(_._3 >= 0)
    val audits = out.filter(_._3 == -1L)
    // per band bucket at most `cap` lifetime matches: the mega-clique's 29
    // non-owner arrivals emit only the 5 earliest per band
    val megaMatches = matches.filter(_._2 == 1L)
    megaMatches.groupBy(_._3).foreach { case (band, ms0) =>
      assert(ms0.length <= cap, s"band $band emitted ${ms0.length} > cap $cap")
      assert(ms0.map(_._1).toSet == (2L to (1L + cap)).toSet,
        s"kept matches must be the (ts,id)-earliest arrivals, got ${ms0.toSeq}")
    }
    // the organic pair is untouched by the mega-bucket's cap (separate buckets)
    assert(matches.exists { case (d, o, _) => d == 101L && o == 100L },
      s"organic pair must still emit: ${matches.toSeq}")
    // exemptions surface in-band: audit sentinels against the mega owner,
    // totaling the exempted arrivals (29 non-owner docs x 4 bands - 5x4 kept)
    assert(audits.nonEmpty && audits.forall(_._1 == 1L), s"audits: ${audits.toSeq}")
    assert(audits.map(_._2).sum == (29L - cap) * 4,
      s"exempted total: ${audits.toSeq}")
    // capped stream == capped batch (deterministic earliest-N rule)
    val batchDf = batches.flatten.toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val batch = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", 1000,
        maxMatchesPerBucket = cap)(batchDf)
      .collect().map(m => (m.doc_id, m.dup_of, m.band))
    assert(matches.toSet == batch.filter(_._3 >= 0).toSet,
      "capped stream matches != capped batch matches")
    assert(audits.map(_._2).sum == batch.filter(_._3 == -1L).map(_._2).sum,
      "stream exempted total != batch exempted total")
  }

  test("streaming near-dup cap: same-id burst cannot evict genuine matches below the cap") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    // the eventual owner (doc 7) re-arrives six times at the EARLIEST
    // timestamps, then two genuine near-dups arrive — a bounded fold
    // without per-doc dedup would fill its window with the owner's
    // re-arrivals and evict docs 8 and 9 even though the cap (5) has
    // headroom; they must still match
    val batch = (1 to 6).map(i => (7L, FoxText, 10L + i)) ++
      Seq((8L, FoxText, 30L), (9L, FoxText, 40L))
    val ms = MemoryStream[(Long, String, Long)]
    val in = ms.toDF().toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val q = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", 1000,
        maxMatchesPerBucket = 5)(in)
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(batch); q.processAllAvailable(); q.stop()
    val out = s.table(name).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val matchPairs = out.filter(_._3 >= 0).map { case (d, o, _) => (d, o) }.toSet
    assert(matchPairs == Set((8L, 7L), (9L, 7L)),
      s"owner burst must not evict real matches: ${out.toSeq.sorted}")
    // a doc's same-batch re-arrivals collapse to one match per band:
    // 2 dup docs x 4 bands, no more
    assert(out.count(_._3 >= 0) == 8, s"got ${out.toSeq.sorted}")
    // r16 (ADVICE): the cap was never hit — a re-arrival burst on an
    // under-cap bucket must NOT fire the band == -1 audit sentinel
    assert(!out.exists(_._3 == -1L), s"spurious cap sentinel: ${out.toSeq.sorted}")
  }

  test("winnow twin honors the bucket cap with the same sentinel convention") {
    val s = spark
    import s.implicits._
    // 40 docs sharing one distinctive passage -> every shared fingerprint
    // bucket holds all 40; cap 3 keeps the 3 earliest matches per
    // fingerprint and audits the rest in-band
    val passage = "a very distinctive plagiarized paragraph with plenty of characters"
    val batchDf = (1L to 40L).map(i => (i, s"doc $i says $passage", i))
      .toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val out = Streaming.winnowNearDupWithinWatermark("doc_id", "text", "__time", 1000,
        maxMatchesPerBucket = 3)(batchDf)
      .collect().map(m => (m.doc_id, m.dup_of, m.band))
    val matches = out.filter(_._3 >= 0)
    val audits = out.filter(_._3 == -1L)
    // per fingerprint bucket: at most cap matches, each against an
    // earlier owner; the passage-interior fps (shared by ALL 40 docs)
    // keep exactly the 3 earliest and audit the other 36
    matches.groupBy(_._3).foreach { case (fp, ms) =>
      assert(ms.length <= 3, s"fp $fp over cap: ${ms.toSeq}")
      assert(ms.forall { case (d, o, _) => o < d }, s"fp $fp: ${ms.toSeq}")
    }
    assert(matches.nonEmpty && audits.nonEmpty)
    assert(audits.exists { case (o, ex, _) => o == 1L && ex == 36L },
      s"an all-docs fp bucket must audit 36 exemptions against owner 1: ${audits.toSeq}")
  }

  test("batch twin default resolves the histogram Auto cap: mega-bucket bounded by arithmetic, organic exact") {
    val s = spark
    import s.implicits._
    // 300 clones = one degenerate signature -> 4 band buckets of 300;
    // plus one organic near-dup pair. Auto arithmetic on this corpus:
    // nDocs = 302, budget = ceil(32 x 302) = 9664, emissions =
    // 4 x 300x299/2 + 4 x 1 = 179,404 > budget; largest fitting size is
    // 2 (cum 4), floored at 16 -> cap 16 -> per-bucket match budget 15.
    val clones = (1L to 300L).map(i => (i, FoxText, 10L + i))
    val batchDf = (clones ++ Seq((1000L, JugText, 400L), (1001L, JugText, 401L)))
      .toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val out = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", 100000)(batchDf)
      .collect().map(m => (m.doc_id, m.dup_of, m.band))
    val matches = out.filter(_._3 >= 0)
    val mega = matches.filter(_._2 == 1L)
    mega.groupBy(_._3).foreach { case (band, ms0) =>
      assert(ms0.map(_._1).toSet == (2L to 16L).toSet,
        s"band $band must keep the 15 earliest (cap 16 - owner): ${ms0.toSeq.sorted}")
    }
    assert(matches.exists { case (d, o, _) => d == 1001L && o == 1000L },
      "the organic under-cap pair must stay exact")
    // sentinel totals the suppressed arrivals: (299 - 15) per band
    assert(out.filter(_._3 == -1L).map(_._2).sum == (299L - 15L) * 4, s"${out.filter(_._3 == -1L).toSeq}")
    // the resolved behavior equals an EXPLICIT budget of 15 — the
    // documented cap-size c -> match budget c-1 mapping
    val explicit = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", 100000,
        maxMatchesPerBucket = 15)(batchDf)
      .collect().map(m => (m.doc_id, m.dup_of, m.band)).toSet
    assert(out.toSet == explicit, "auto-resolved batch face != explicit budget-15 face")
  }

  test("embedding stream twin == batch twin; sign-bucket collisions pair against the earliest owner") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    // vecs 1-3 share the sign pattern (+,+,-,+) = bucket 1+2+0+8 = 11;
    // vec 4 lands elsewhere
    val a = Seq(0.5f, 0.2f, -0.3f, 0.9f)
    val b = Seq(0.4f, 0.1f, -0.2f, 0.8f)
    val c = Seq(0.6f, 0.3f, -0.1f, 0.7f)
    val d = Seq(-0.5f, 0.2f, 0.3f, -0.9f)
    val batches = Seq(Seq((1L, a, 10L), (2L, b, 20L)), Seq((3L, c, 30L), (4L, d, 40L)))
    val ms = MemoryStream[(Long, Seq[Float], Long)]
    val in = ms.toDF().toDF("vec_id", "vec", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val q = Streaming.embeddingNearDupWithinWatermark("vec_id", "vec", "__time", 100, bits = 4)(in)
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()
    batches.foreach { bt => ms.addData(bt); q.processAllAvailable() }
    q.stop()
    val streamed = s.table(name).select("doc_id", "dup_of", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchDf = batches.flatten.toDF("vec_id", "vec", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val batch = Streaming.embeddingNearDupWithinWatermark("vec_id", "vec", "__time", 100, bits = 4)(batchDf)
      .collect().map(m => (m.doc_id, m.dup_of, m.band)).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed == Set((2L, 1L, 11L), (3L, 1L, 11L)),
      s"shared-sign vectors must pair against the earliest owner with the bucket in band: $streamed")
  }

  test("decontam flag is streaming-safe: map-side only, stream == batch") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val bench = Seq((100L, "the forbidden eval question about spark windows")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the forbidden eval question about spark windows verbatim copy here"),
      (2L, "completely unrelated text with no overlap at all"),
      (3L, "a partial mention of the forbidden eval topic"))
    val ms = MemoryStream[(Long, String)]
    val q = graft.operators.Decontam.flagContaminated(
      ms.toDF().toDF("doc_id", "text"), bench, "doc_id", "text", minHits = 3)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(docs); q.processAllAvailable(); q.stop()
    def canon(df: DataFrame) = df.select("doc_id", "bench_hits", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val streamed = canon(s.table(name))
    val batch = canon(graft.operators.Decontam.flagContaminated(
      docs.toDF("doc_id", "text"), bench, "doc_id", "text", minHits = 3))
    assert(streamed == batch)
    // doc 1 shares >= 3 bigrams with the benchmark; doc 2 shares none
    assert(streamed.exists(r => r._1 == 1L && r._3))
    assert(streamed.exists(r => r._1 == 2L && r._2 == 0L && !r._3))
  }

  test("stateless text cleanup (normalize + strip-html via IR) is streaming-safe: stream == batch") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val docs = Seq(
      (1L, "<p>Hello&amp;World</p>\tspaced   out "),
      (2L, "plain text"))
    val node = graft.ir.Node.fromJson(
      """{"action":"strip-html","params":[{"field":"text","out":"clean","lowercase":true}]}""")
    def pipe(df: DataFrame): DataFrame =
      graft.ir.Engine.run(node, df, graft.ir.EngineCtx(testMode = true)).outputs.head
    val ms = MemoryStream[(Long, String)]
    val q = pipe(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(docs); q.processAllAvailable(); q.stop()
    def canon(df: DataFrame) =
      df.select("doc_id", "clean").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val streamed = canon(s.table(name))
    assert(streamed == canon(pipe(docs.toDF("doc_id", "text"))))
    assert(streamed.contains(1L -> "hello&world spaced out"))
  }

  test("text-health pass (mojibake repair + readability + script) is streaming-safe") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    val dirty = new String("don\u2019t stop at the caf\u00e9.".getBytes("UTF-8"), "windows-1252")
    val docs = Seq((1L, dirty + " Clean tail here."), (2L, "\uc548\ub155 plain page."))
    val node = graft.ir.Node.fromJson(
      """{"action":"mojibake-repair","params":[{"field":"text","out":"fixed"}],
        | "children":[{"action":"readability","params":[{"text":"fixed","out":"r"}],
        |   "children":[{"action":"script-profile","params":[{"text":"fixed","out":"p"}]}]}]}""".stripMargin)
    def pipe(df: DataFrame): DataFrame =
      graft.ir.Engine.run(node, df, graft.ir.EngineCtx(testMode = true)).outputs.head
        .select(col("doc_id"), col("fixed"), col("r.n_syllables"), col("p.script"))
    val ms = MemoryStream[(Long, String)]
    val q = pipe(ms.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(docs); q.processAllAvailable(); q.stop()
    def canon(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val streamed = canon(s.table(name))
    assert(streamed == canon(pipe(docs.toDF("doc_id", "text"))))
    assert(streamed.exists(r => r._1 == 1L && r._2.startsWith("don\u2019t stop at the caf\u00e9.")),
      s"misdecode repaired in-stream: $streamed")
    assert(streamed.exists(r => r._1 == 2L && r._4 == "latin"))
  }

  test("streaming corpus profile == batch twin per closed window") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    // (doc_id, text, lang, source, secs): two 60s windows for source A,
    // one for B; a far-future flush doc closes them all
    val rows = Seq(
      (1L, "a b c", "en", "A", 10L), (2L, "d e", "fr", "A", 20L),
      (3L, "f g h i", "en", "A", 70L), (4L, "x", "de", "B", 15L))
    val flush = Seq((9L, "zz", "en", "Z", 100000L))
    val ms = MemoryStream[(Long, String, String, String, Long)]
    def profile(df: DataFrame): DataFrame =
      Streaming.corpusProfileWindow(60, 10, "source", "text", "lang", "__time", Seq(0.5))(
        df.withColumn("__time", timestamp_seconds(col("secs"))))
    val q = profile(ms.toDF().toDF("doc_id", "text", "lang", "source", "secs"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    Seq(rows, flush).foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    def canon(df: DataFrame) = df
      .filter(col("source") =!= "Z")
      .select("window_start", "source", "n_docs", "n_tokens", "n_langs", "quantile", "tokens_q")
      .collect().map(_.toSeq).toSet
    val streamed = canon(s.table(name))
    val batch = canon(profile((rows ++ flush).toDF("doc_id", "text", "lang", "source", "secs")))
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // spot-check: window 0 source A = 2 docs, 5 tokens, 2 langs; p50 by
    // the reference index formula = sorted(2,3)[min(1, floor(2*0.5))] = 3
    assert(streamed.exists(r => r(1) == "A" && r(2) == 2L && r(3) == 5L && r(4) == 2L && r(6) == 3.0))
  }

  test("streaming vocab sketch == batch twin == driver-math HLL estimate, per closed window") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    // one 60s window with a skewed token stream; a far-future doc closes it
    val rows = Seq(
      (1L, "alpha alpha alpha beta gamma", 10L),
      (2L, "alpha beta delta delta", 20L),
      (3L, "alpha epsilon", 30L))
    val flush = Seq((9L, "zz", 100000L))
    val ms = MemoryStream[(Long, String, Long)]
    def sk(df: DataFrame): DataFrame =
      Streaming.vocabSketchWindow(60, 10, "text", "__time", b = 8, k = 2)(
        df.withColumn("__time", timestamp_seconds(col("secs"))))
    val q = sk(ms.toDF().toDF("doc_id", "text", "secs"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    Seq(rows.take(2), rows.drop(2), flush).foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    def canon(df: DataFrame) = df.filter(col("window_start") === 0L)
      .select("window_start", "n_tokens", "vocab_est", "top_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getSeq[String](3))).toSeq
    val streamed = canon(s.table(name))
    val batch = canon(sk((rows ++ flush).toDF("doc_id", "text", "secs")))
    assert(streamed == batch, s"stream $streamed != batch $batch")
    val (_, nTok, est, top) = streamed.head
    assert(nTok == 11L)
    // the column-algebra estimate must equal the batch driver math exactly
    val exact = graft.operators.Sketches.hllDistinct(
      rows.toDF("doc_id", "text", "secs"), "text", 8, "hll").head.getDouble(2)
    assert(est == exact, s"column est $est != driver est $exact")
    // 6 distinct tokens in the window, linear-counting regime: near-exact
    assert(math.abs(est - 6.0) < 1.5, s"est $est")
    // MG with k=2: alpha (5 of 11 > n/(k+1)=3.67) must lead the summary
    assert(top.head == "alpha", s"top tokens $top")
  }

  test("streaming metric quantiles == batch twin == kmvQuantiles driver math, per closed window") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val name = s"stream_out_$ctr"
    // one 60s window of 50 rows with values 0..49; a far-future row closes it
    val rows = (0 until 50).map(i => (i.toLong, (i * 13 % 50).toDouble, (i % 50).toLong))
    val flush = Seq((999L, 0.0, 100000L))
    val ms = MemoryStream[(Long, Double, Long)]
    def sk(df: DataFrame): DataFrame =
      Streaming.metricSketchWindow(60, 10, "id", "v", "__time", k = 16,
        qs = Seq(0.0, 0.5, 1.0))(
        df.withColumn("__time", timestamp_seconds(col("secs"))))
    val q = sk(ms.toDF().toDF("id", "v", "secs"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    Seq(rows.take(20), rows.drop(20), flush).foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    def canon(df: DataFrame) = df.filter(col("window_start") === 0L)
      .select(col("n_rows"), expr("quantiles.q"), expr("quantiles.value"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getSeq[Double](2))).toSeq
    val streamed = canon(s.table(name))
    val batch = canon(sk(rows.toDF("id", "v", "secs")))
    assert(streamed == batch, s"stream $streamed != batch $batch")
    val (n, qsOut, vals) = streamed.head
    assert(n == 50L && qsOut == Seq(0.0, 0.5, 1.0))
    // the Column-algebra readout must equal the batch driver math exactly
    val driver = graft.operators.Sketches.kmvQuantiles(
      rows.toDF("id", "v", "secs"), "id", "v", 16, "kmv", Seq(0.0, 0.5, 1.0))
      .orderBy("q").collect().map(_.getDouble(1)).toSeq
    assert(vals == driver, s"column $vals != driver $driver")
  }

  test("metric quantiles: a window whose sample is empty reads out null, not a crash") {
    // the serve Event model makes metric optional — a window where every
    // event carried a null metric (or null id) has an EMPTY KMV sample,
    // and an unguarded element_at(vals, 0) throws on legal input
    val s = spark
    import s.implicits._
    val df = Seq((1L, Option.empty[Double], 5L), (2L, Option.empty[Double], 7L))
      .toDF("id", "v", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val out = Streaming.metricSketchWindow(60, 10, "id", "v", "__time", k = 16,
        qs = Seq(0.5, 0.9))(df)
      .select(col("n_rows"), expr("quantiles.value")).collect()
    assert(out.length == 1 && out.head.getLong(0) == 2L)
    assert(out.head.getSeq[Any](1) == Seq(null, null),
      s"empty-sample window must read out nulls, got ${out.head}")
  }

  test("streaming near-dup: out-of-order arrival must not shorten the owner's horizon") {
    // owner at t=1000; an older-but-in-horizon arrival at t=950 must not
    // pull the bucket's eviction deadline back to 950+horizon — after the
    // watermark reaches 990 (past 950+h'... under a lastSeen-overwrite bug
    // with the idle batches below) the bucket must still know owner 1, so
    // the t=1005 arrival pairs against it instead of silently re-owning
    val out = runDocStream(horizon = 100, Seq(
      Seq((1L, FoxText, 1000L)),
      Seq((2L, FoxText, 950L)),    // match (2,1); lastSeen must STAY 1000
      Seq((9L, JugText, 1090L)),   // pushes watermark toward 990
      Seq((10L, "totally unrelated filler text to advance the clock only", 1091L)),
      Seq((5L, FoxText, 1005L))))  // in-horizon of lastSeen=1000 → must match
      .select("doc_id", "dup_of").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L), (5L, 1L)),
      s"owner must survive until lastSeen+horizon, got $out")
  }

  test("streaming near-dup: horizon expiry re-opens the bucket; state bounded") {
    val out = runDocStream(horizon = 100, Seq(
      Seq((1L, FoxText, 10L), (2L, FoxText, 20L)),
      Seq((9L, JugText, 400L)),   // watermark → 300, fox buckets idle since 20 expire
      Seq((5L, FoxText, 500L)),   // state gone: doc 5 silently re-owns the buckets
      Seq((6L, FoxText, 510L))))  // pairs against the NEW owner, not doc 1
      .select("doc_id", "dup_of").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 1L), (6L, 5L)),
      s"post-horizon arrival must re-own, not match the evicted owner: $out")

    // disjoint texts per batch, horizon far smaller than the batch gap:
    // each batch's 8 buckets (2 docs x 4 bands) are expired by the next,
    // so state never accumulates across batches
    def mk(prefix: String, t0: Long): Seq[(Long, String, Long)] = Seq(
      (t0, s"$prefix alpha beta gamma delta epsilon zeta eta theta", t0),
      (t0 + 1, s"$prefix one two three four five six seven eight", t0 + 1))
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    ctr += 1
    val ms = MemoryStream[(Long, String, Long)]
    val in = ms.toDF().toDF("doc_id", "text", "secs")
      .withColumn("__time", timestamp_seconds(col("secs")))
    val q = Streaming.nearDupWithinWatermark("doc_id", "text", "__time", 10)(in)
      .toDF().writeStream.format("memory").queryName(s"stream_out_$ctr")
      .outputMode("append").start()
    val counts = Seq(mk("a", 100), mk("b", 1100), mk("c", 2100), mk("d", 3100)).map { b =>
      ms.addData(b); q.processAllAvailable()
      q.recentProgress.reverse
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
        .headOption.getOrElse(0L)
    }
    q.stop()
    assert(counts.head == 8, s"first batch holds its 8 buckets, got $counts")
    assert(counts.last < 32, s"horizon must evict idle buckets, got $counts")
    assert(counts.last <= counts(1), s"state must stop growing once eviction starts, got $counts")
  }

  test("annServeBatch: streamed queries against a persisted IVF-PQ index == the batch answers") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // deterministic corpus: 60 vectors on a trigonometric lattice, dim 8
    val corpus = (0 until 60).map { i =>
      (i.toLong, (0 until 8).map(d => math.cos(i * 0.37 + d * 1.1).toFloat))
    }.toDF("vec_id", "embedding")
    val tmp = TestSpark.tempDir("ann_serve").toString
    graft.operators.Similarity.buildIvfPqIndex(corpus, "vec_id", "embedding",
      s"$tmp/idx", nCells = 4, m = 2, codes = 4)
    val queries = corpus.filter(col("vec_id") < 5)
    val expected = graft.operators.Similarity.queryIvfPqIndex(s, s"$tmp/idx",
      queries, "vec_id", "embedding", k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(Streaming.annServeBatch(s"$tmp/idx", "vec_id", "embedding",
        k = 3, nProbe = 2) { (res, _) =>
        res.collect().foreach(r =>
          got += ((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
      }).start()
    ms.addData((0 until 5).map(i =>
      (i.toLong, (0 until 8).map(d => math.cos(i * 0.37 + d * 1.1).toFloat).toSeq)))
    q.processAllAvailable(); q.stop()
    assert(got.toSet == expected,
      "streamed index serving must reproduce the batch answers exactly")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("bm25ServeBatch: streamed queries against the persisted postings index == the batch answers") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // small deterministic corpus with term overlap across docs
    val words = Vector("spark", "stream", "index", "bm25", "query", "terms",
      "lexical", "serve", "batch", "score")
    val corpus = (0 until 40).map { i =>
      (i.toLong, (0 until 12).map(j => words((i * 7 + j * 3) % words.size)).mkString(" "))
    }.toDF("doc_id", "text")
    val tmp = TestSpark.tempDir("bm25_serve").toString
    graft.operators.Retrieval.buildBm25Index(corpus, "doc_id", "text",
      s"$tmp/idx", nBuckets = 8)
    val queries = Seq((1L, "spark index score"), (2L, "lexical stream")).toDF("query_id", "text")
    val expected = graft.operators.Retrieval.queryBm25Index(s, s"$tmp/idx",
      queries, "query_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty, "fixture must produce batch answers")
    val got = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("query_id", "text").writeStream
      .foreachBatch(Streaming.bm25ServeBatch(s"$tmp/idx", "query_id", "text",
        k = 5) { (res, _) =>
        res.collect().foreach(r =>
          got += ((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
      }).start()
    // two micro-batches: per-batch pruning must not change the answers
    ms.addData(Seq((1L, "spark index score")))
    q.processAllAvailable()
    ms.addData(Seq((2L, "lexical stream")))
    q.processAllAvailable(); q.stop()
    assert(got.toSet == expected,
      "streamed BM25 serving must reproduce the batch answers exactly")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }
}
