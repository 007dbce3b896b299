package graft

import graft.conditions.Condition._
import graft.operators.{Analytics, Stateless, Windows}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-operator unit tests with literal event sequences, mirroring the
  * reference's `test/mirabelle/action_test.clj` / `stream_test.clj`
  * fixtures (FIXTURES.md §2).
  */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._

  test("increment / decrement / scale") {
    val df = events(ev(12, 1 * S, id = 1), ev(9, 2 * S, id = 2))
    assert(Stateless.increment(df).select("metric").collect().map(_.getDouble(0)).sorted.toSeq == Seq(10.0, 13.0))
    assert(Stateless.decrement(df).select("metric").collect().map(_.getDouble(0)).sorted.toSeq == Seq(8.0, 11.0))
    assert(Stateless.scale(2)(df).select("metric").collect().map(_.getDouble(0)).sorted.toSeq == Seq(18.0, 24.0))
  }

  test("tag / untag / tagged-all") {
    val df = events(ev(1, 1 * S, id = 1, tags = Seq("foo")))
    assert(Stateless.tag(Seq("bar", "foo"))(df).select("tags").collect()
      .head.getSeq[String](0) == Seq("foo", "bar"))
    assert(Stateless.untag(Seq("foo"))(df).select("tags").collect()
      .head.getSeq[String](0) == Seq.empty)
    assert(Stateless.taggedAll(Seq("foo"))(df).count() == 1)
    assert(Stateless.taggedAll(Seq("foo", "bar"))(df).count() == 0)
  }

  test("default only fills nulls") {
    val df = events(ev(1, 1 * S, id = 1)).withColumn("description", lit(null).cast("string"))
    assert(Stateless.default("description", "d")(df).select("description").collect().head.getString(0) == "d")
    val df2 = events(ev(1, 1 * S, id = 1)).withColumn("description", lit("keep"))
    assert(Stateless.default("description", "d")(df2).select("description").collect().head.getString(0) == "keep")
  }

  test("split routes to first matching branch with default") {
    val df = events(ev(200, 1 * S, id = 1), ev(80, 2 * S, id = 2), ev(5, 3 * S, id = 3))
    val conds = Seq(Gt(Field("metric"), 150), Gt(Field("metric"), 50))
    val routed = df.withColumn("b", Stateless.splitRoute(conds))
      .select("eventId", "b").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(routed == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  test("expired: state or ttl against stream clock (event.clj:12-19)") {
    // clock = max time = 1000s; ttl 120s default
    val df = events(ev(1, 1 * S, id = 1), ev(1, 950 * S, id = 2), ev(1, 1000 * S, id = 3))
    assert(Stateless.notExpiredBatch(df).select("eventId").collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(Stateless.expiredBatch(df).select("eventId").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("fixed-time-window groups by epoch-aligned event-time windows") {
    val df = events(ev(1, 10 * S, id = 1), ev(2, 50 * S, id = 2), ev(3, 70 * S, id = 3))
    val w = Windows.fixedTimeWindow(60)(df)
      .select(col("window_start"), size(col("events")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(w == Map(0L -> 2, 60L * S -> 1))
  }

  test("sum/mean/rate windows set metric, keep latest event as base") {
    val df = events(ev(10, 10 * S, id = 1, state = "a"), ev(20, 50 * S, id = 2, state = "b"))
    val sum = Windows.sumWindow(60)(df).select("metric", "state").collect().head
    assert(sum.getDouble(0) == 30.0 && sum.getString(1) == "b")
    assert(Windows.meanWindow(60)(df).select("metric").collect().head.getDouble(0) == 15.0)
    assert(Windows.rateWindow(60)(df).select("metric").collect().head.getDouble(0) == 2.0 / 60.0)
  }

  test("top/bottom pick the extreme event (ties: first by time,id)") {
    val df = events(ev(5, 10 * S, id = 1), ev(9, 20 * S, id = 2), ev(9, 30 * S, id = 3), ev(2, 40 * S, id = 4))
    assert(Windows.topWindow(60)(df).select("eventId").collect().head.getLong(0) == 3L)
    assert(Windows.bottomWindow(60)(df).select("eventId").collect().head.getLong(0) == 4L)
  }

  test("ratio counts cond1/cond2 (action.clj:2975-3009)") {
    val df = events(ev(1, 1 * S, state = "critical", id = 1), ev(1, 2 * S, id = 2),
      ev(1, 3 * S, state = "critical", id = 3), ev(1, 4 * S, id = 4))
    val r = Windows.ratioWindow(60, Eq(Field("state"), "critical"), AlwaysTrue)(df)
      .select("metric").collect().head.getDouble(0)
    assert(r == 0.5)
  }

  test("percentiles use the reference index formula min(n-1, floor(n*q))") {
    // metrics 1..5: q=0.5 -> idx 2 -> 3.0 ; q=0.99 -> idx 4 -> 5.0 ; q=0 -> idx 0 -> 1.0
    val df = events((1 to 5).map(i => ev(i.toDouble, i * S, id = i)): _*)
    val m = Windows.percentiles(60, Seq(0.0, 0.5, 0.99))(df)
      .select("quantile", "metric").collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(m == Map(0.0 -> 1.0, 0.5 -> 3.0, 0.99 -> 5.0))
  }

  test("percentilesApprox (the cluster-scale path) tracks the exact sketch within tolerance") {
    // 200 events across two windows; at accuracy >= n the t-digest style
    // sketch is exact on every quantile an input value can land on
    val df = events((1 to 200).map(i => ev((i % 97).toDouble, i * S, id = i)): _*)
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    def collect(out: org.apache.spark.sql.DataFrame, qCol: String): Map[(Long, Double), Double] =
      out.select("window_start", qCol, "metric").collect()
        .map(r => (r.getLong(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val exact = collect(Windows.percentiles(100, qs)(df), "quantile")
    val approxRows = Windows.percentilesApprox(100, qs, accuracy = 10000)(df)
      .withColumn("quantile", expr(s"cast(array(${qs.mkString(",")})[qi] as double)"))
    val approx = collect(approxRows, "quantile")
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, v) =>
      assert(math.abs(approx(k) - v) <= 1.0, s"quantile $k: approx ${approx(k)} vs exact $v")
    }
  }

  test("coll-count emits 0-style empty handling and coll ops fold in order") {
    val df = events(ev(4, 10 * S, id = 1), ev(2, 20 * S, id = 2), ev(6, 30 * S, id = 3))
    val w = Windows.fixedTimeWindow(60)(df)
    assert(Windows.collCount(w).select("metric").collect().head.getDouble(0) == 3.0)
    assert(Windows.collSum(w).select("metric").collect().head.getDouble(0) == 12.0)
    assert(Windows.collMean(w).select("metric").collect().head.getDouble(0) == 4.0)
    // quotient: first / rest sequentially = 4 / 2 / 6
    assert(Windows.collQuotient(w).select("metric").collect().head.getDouble(0) == 4.0 / 2.0 / 6.0)
    // max/min return the event itself
    assert(Windows.collMax(w).select("eventId").collect().head.getLong(0) == 3L)
    assert(Windows.collMin(w).select("eventId").collect().head.getLong(0) == 2L)
  }

  test("coll-rate = sum/interval-seconds (math.clj:80-106)") {
    val df = events(ev(10, 10 * S, id = 1), ev(20, 40 * S, id = 2))
    val r = Windows.collRate(Windows.fixedTimeWindow(60)(df)).select("metric").collect().head.getDouble(0)
    assert(r == 30.0 / 30.0)
  }

  test("ddt: (m2-m1)/(t2-t1), skips zero dt, ddt-pos drops negatives (action.clj:1042-1083)") {
    val df = events(ev(1, 1, id = 1), ev(10, 4, id = 2), ev(4, 6, id = 3))
    val d = Analytics.ddt()(df).select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d == Map(2L -> 3.0, 3L -> -3.0))
    val p = Analytics.ddtPos()(df).select("metric").collect().map(_.getDouble(0)).toSeq
    assert(p == Seq(3.0))
  }

  test("ewma-timeless folds from 0 with ratio r (action.clj:1249-1276)") {
    val df = events(ev(10, 1 * S, id = 1), ev(20, 2 * S, id = 2))
    val m = Analytics.ewmaTimeless(0.5)(df).toDF().select("metric").collect().map(_.getDouble(0)).toSeq
    assert(m == Seq(5.0, 12.5))
  }

  test("throttle: N per duration, window opens at first event (action.clj:1163-1217)") {
    val df = events(ev(1, 1 * S, id = 1), ev(1, 2 * S, id = 2), ev(1, 3 * S, id = 3),
      ev(1, 4 * S, id = 4), ev(1, 12 * S, id = 5))
    val out = Analytics.throttle(2, 10)(df).toDF().select("eventId").collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(1L, 2L, 5L))
  }

  test("changed passes only transitions vs init (action.clj:1329-1375)") {
    val df = events(ev(1, 1 * S, state = "ok", id = 1), ev(1, 2 * S, state = "critical", id = 2),
      ev(1, 3 * S, state = "critical", id = 3), ev(1, 4 * S, state = "ok", id = 4))
    val out = Analytics.changed("state", "ok")(df).select("eventId").collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(2L, 4L))
  }

  test("above-dt: condition must hold strictly longer than dt (action.clj:476-508)") {
    // metric>5 run starts at t=10; dt=5s -> only events with time > 15 pass
    val df = events(ev(10, 10 * S, id = 1), ev(10, 14 * S, id = 2), ev(10, 16 * S, id = 3),
      ev(1, 20 * S, id = 4), ev(10, 21 * S, id = 5), ev(10, 40 * S, id = 6))
    val out = Analytics.aboveDt(5, 5)(df).select("eventId").collect().map(_.getLong(0)).toSeq.sorted
    assert(out == Seq(3L, 6L))
  }

  test("stable: whole run emitted iff value constant past dt (action.clj:2053-2138)") {
    val df = events(
      ev(1, 1 * S, state = "ok", id = 1), ev(1, 3 * S, state = "ok", id = 2),
      ev(1, 10 * S, state = "critical", id = 3), // flap: run dies at 12
      ev(1, 12 * S, state = "ok", id = 4), ev(1, 30 * S, state = "ok", id = 5))
    val out = Analytics.stable(5, "state")(df).select("eventId").collect().map(_.getLong(0)).toSeq.sorted
    // run1 (ok, 1..3s) dies before dt; run2 (critical) single; run3 (ok, 12..30) stable
    assert(out == Seq(4L, 5L))
  }

  test("smax re-emits running maximum") {
    val df = events(ev(3, 1 * S, id = 1), ev(1, 2 * S, id = 2), ev(7, 3 * S, id = 3))
    val out = Analytics.smax()(df).orderBy("time").select("metric").collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(3.0, 3.0, 7.0))
  }

  test("moving-event-window emits last-N payload per event") {
    val df = events(ev(1, 1 * S, id = 1), ev(2, 2 * S, id = 2), ev(3, 3 * S, id = 3))
    val out = Analytics.movingEventWindow(2)(df).orderBy("time")
      .select(size(col("events"))).collect().map(_.getInt(0)).toSeq
    assert(out == Seq(1, 2, 2))
  }

  test("fixed-event-window: only complete windows of N emit (action.clj:233-262)") {
    val df = events((1 to 7).map(i => ev(i.toDouble, i * S, id = i)): _*)
    val out = Analytics.fixedEventWindow(3)(df)
      .select(col("window_id"), size(col("events"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(0L -> 3, 1L -> 3))
  }

  test("coalesce keeps latest non-expired event per key per tick") {
    val df = events(
      ev(1, 10 * S, host = "a", id = 1), ev(2, 20 * S, host = "a", id = 2),
      ev(3, 15 * S, host = "b", id = 3))
    val out = Windows.coalesceWindow(60, Seq("host"))(df)
      .select("host", "eventId").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 2L, "b" -> 3L))
  }

  test("project returns latest event per condition (action.clj:1377-1463)") {
    val df = events(ev(200, 10 * S, id = 1), ev(1, 20 * S, state = "critical", id = 2),
      ev(300, 15 * S, id = 3))
    val r = Windows.project(Seq(Gt(Field("metric"), 100), Eq(Field("state"), "critical")))(df)
      .select(col("match_0")("eventId"), col("match_1")("eventId")).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 2L)
  }

  test("clusterPairs follows duplicate chains; dedupByClusters keeps one doc per cluster") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // two chained clusters (1-2-3 via 1~2,2~3 — 1~3 never emitted — and
    // 10-11) plus an isolated pair member 20~21; doc 30 is pair-free
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id1", "id2")
    val clusters = Dedup.clusterPairs(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))

    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L, 30L).toDF("doc_id")
    val kept = Dedup.dedupByClusters(docs, pairs, "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L, 30L))

    // a long chain (diameter 6) still converges to one component
    val chain = (1L to 6L).map(i => (i, i + 1)).toDF("id1", "id2")
    val chained = Dedup.clusterPairs(chain).collect().map(_.getLong(1)).toSet
    assert(chained == Set(1L))

    // the distributed star rounds (threshold 0 forces them past the
    // single-task union-find) must label identically
    def labelsOf(threshold: Long) =
      Dedup.clusterPairs(pairs, onePartitionThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsOf(0L) == labelsOf(Long.MaxValue))
    assert(Dedup.clusterPairs(chain, onePartitionThreshold = 0L)
      .collect().map(_.getLong(1)).toSet == Set(1L))
  }

  test("pruneNearDups: one-call LSH+star prune keeps cluster min-ids; pair-free docs untouched") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // docs 1..3 share one text (exact dups always LSH-pair), 10..11
    // another; 30 and 31 are distinct texts in no pair
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val dup2 = "entirely different shared boilerplate paragraph repeated verbatim here"
    val docs = Seq(
      (1L, dup), (2L, dup), (3L, dup),
      (10L, dup2), (11L, dup2),
      (30L, "distributed star contraction converges in logarithmic rounds"),
      (31L, "band tables join on equal signatures within each band")
    ).toDF("doc_id", "text")
    val kept = Dedup.pruneNearDups(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 30L, 31L))
    // equals the three-op wiring it fuses
    val manual = Dedup.dedupByClusters(docs,
      Dedup.lshCandidates(docs, "text", "doc_id"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == manual)
  }

  test("lshCandidates maxBucket: mega-buckets dropped whole, small clusters keep their pairs") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val boiler = "this domain is parked free hosting by example provider contact sales"
    val pair = "a small near duplicate cluster of exactly two documents here"
    val docs = ((1L to 50L).map(i => (i, boiler)) ++ Seq((100L, pair), (101L, pair)))
      .toDF("doc_id", "text")
    // uncapped: the 50-doc boilerplate clique emits 50*49/2 pairs
    assert(Dedup.lshCandidates(docs, "text", "doc_id",
      cap = Dedup.BucketCap.Unlimited).count() == 50L * 49 / 2 + 1)
    // capped: every boilerplate bucket exceeds the cap and is dropped
    // whole; the 2-doc cluster's buckets survive untouched
    val capped = Dedup.lshCandidates(docs, "text", "doc_id",
        cap = Dedup.BucketCap.Fixed(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)))
    // pruneNearDups is a CONNECTIVITY consumer: over-cap buckets emit
    // linear star edges instead of pair cliques, so pruning under the
    // cap equals the unlimited run exactly — the boilerplate clique
    // collapses to its min id, it does NOT pass through as survivors
    val kept = Dedup.pruneNearDups(docs, "text", "doc_id",
        cap = Dedup.BucketCap.Fixed(10))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 100L))
    val keptUnlimited = Dedup.pruneNearDups(docs, "text", "doc_id",
        cap = Dedup.BucketCap.Unlimited)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == keptUnlimited)
  }

  test("clusterPairs: labels == in-test union-find on chains, forests, random graphs") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: driver-side union-find over the pair list,
    // every id labeled with the min id of its component
    def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = parent.getOrElseUpdate(x, x) match {
        case `x` => x
        case p => val r = find(p); parent(x) = r; r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val forest = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    assert(toMap(Dedup.clusterPairs(forest.toDF("id1", "id2"))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(reference(forest) == toMap(Dedup.clusterPairs(forest.toDF("id1", "id2"))))

    // seeded random graphs: the union-find path and the forced star
    // rounds (threshold 0) both equal the reference; the second graph
    // mixes chains, self-pairs and singleton ids
    val rng = new scala.util.Random(42)
    val rand = Seq.fill(120)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 9L), (7L, 8L)) ++
      Seq.fill(60)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    for (g <- Seq(rand, mixed)) {
      val viaUf = toMap(Dedup.clusterPairs(g.toDF("id1", "id2")))
      val viaRounds = toMap(Dedup.clusterPairs(g.toDF("id1", "id2"), onePartitionThreshold = 0L))
      assert(viaUf == reference(g))
      assert(viaRounds == viaUf, "union-find and star-round labels diverged")
    }
  }

  test("clusterPairs: a 200-hop chain converges in at most 12 star rounds") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // star contraction's rounds grow with log of component SIZE, not
    // its diameter, so 12 rounds is ample for 200 nodes; threshold 0
    // forces the rounds (the default takes the union-find path)
    val chain = (1L to 200L).map(i => (i, i + 1)).toDF("id1", "id2").repartition(7)
    assert(Dedup.clusterPairs(chain, maxIters = 12, onePartitionThreshold = 0L)
      .collect().map(_.getLong(1)).toSet == Set(1L))
  }

  test("clusterPairs: self-loop pairs label as singletons; empty input is empty") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val selfy = Seq((5L, 5L), (1L, 2L)).toDF("id1", "id2")
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    // same pins on the union-find path and through the forced star rounds
    for (threshold <- Seq(10000000L, 0L)) {
      assert(Dedup.clusterPairs(selfy, onePartitionThreshold = threshold).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
      assert(Dedup.clusterPairs(empty, onePartitionThreshold = threshold).isEmpty)
    }
  }

  test("multiset MinHash: repetition counts — weighted relation separates what the set relation cannot") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // docs 1/2: same DISTINCT shingle set, wildly different counts;
    // doc 3: doc 1 verbatim. Set Jaccard says 1~2 identical; multiset says no.
    val base = "alpha beta gamma delta"
    val heavy = base + (" alpha beta" * 30)
    val docs = Seq((1L, base), (2L, heavy), (3L, base)).toDF("doc_id", "text")

    val wj = Dedup.multisetJaccard(docs,
        Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2"), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(wj((1L, 3L)) == 1.0)
    // 1 vs 2: shingles of 1 = {ab, bg, gd} one each (n=3); doc 2 repeats
    // ab/ba many times — intersection min-sum is 3 matched once... compute
    // directly instead of hand-deriving: verify bounds + strict inequality
    assert(wj((1L, 2L)) < 0.2, wj.toString)

    // set-relation candidates treat 1 and 2 as one bucket family; the
    // weighted signature keeps 1~3 together and pushes 1~2 apart
    val wpairs = Dedup.weightedLshCandidates(docs, "text", "doc_id", k = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wpairs.contains((1L, 3L)))

    // signature table replays independently of partitioning
    val one = Dedup.weightedSigTable(docs, "text", "doc_id", k = 8).collect()
      .map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val many = Dedup.weightedSigTable(docs.repartition(7), "text", "doc_id", k = 8)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(one == many)
    assert(one(1L) == one(3L) && one(1L) != one(2L))
  }

  test("dedupByClustersKeepBest keeps the highest-quality member, ties to lowest id") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id1", "id2")
    // cluster {1,2,3}: doc 2 is longest; {10,11}: tie -> keep 10;
    // {20,21}: null quality loses to non-null -> keep 21; 30 pair-free
    val docs = Seq(
      (1L, Some(5L)), (2L, Some(9L)), (3L, Some(7L)),
      (10L, Some(4L)), (11L, Some(4L)),
      (20L, None), (21L, Some(1L)),
      (30L, Some(2L))).toDF("doc_id", "quality")
    val kept = Dedup.dedupByClustersKeepBest(docs, pairs, "doc_id", "quality")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 10L, 21L, 30L))
  }

  test("duplicateNgramStats marks corpus-wide repeated windows (exact-substring signal)") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // doc 1 and doc 2 share an exact 4-token span; doc 3 is clean; doc 4
    // repeats a span within itself; doc 5 is shorter than the window
    val docs = Seq(
      (1L, "alpha beta gamma delta unique one two three"),
      (2L, "prefix words alpha beta gamma delta suffix"),
      (3L, "completely fresh text with no repeats at all"),
      (4L, "spam spam spam spam spam spam spam"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateNgramStats(docs, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    // doc 1: 5 windows, 1 shared ("alpha beta gamma delta")
    assert(out(1L) == ((5L, 1L, Some(0.2))))
    // doc 2: 4 windows, the shared one duplicated
    assert(out(2L) == ((4L, 1L, Some(0.25))))
    // doc 3: 5 windows, none duplicated
    assert(out(3L) == ((5L, 0L, Some(0.0))))
    // doc 4: all 4 windows are the same 4-gram -> all duplicated
    assert(out(4L) == ((4L, 4L, Some(1.0))))
    // doc 5: no window of length 4; frac is NULL, not 0/0
    assert(out(5L) == ((0L, 0L, None)))
  }

  test("cutDuplicateNgrams removes covered tokens, keeps the rest in order") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "one two three four tail only here"),       // shares 4-gram with doc 2
      (2L, "head words one two three four"),
      (3L, "untouched text stays exactly as tokenized"),
      (4L, "ab cd")                                    // shorter than n: pass-through
    ).toDF("doc_id", "text")
    val out = Dedup.cutDuplicateNgrams(docs, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the shared span "one two three four" is cut from BOTH docs
    assert(out(1L) == "tail only here")
    assert(out(2L) == "head words")
    assert(out(3L) == "untouched text stays exactly as tokenized")
    assert(out(4L) == "ab cd")
  }

  test("clusterAwareSplit: near-dup clusters are atomic; singletons degrade to splitByHash") {
    import graft.operators.{Dedup, Sampling}
    val s = spark
    import s.implicits._
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    val w = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val out = Dedup.clusterAwareSplit(docs, pairs, "doc_id", w, salt = "t")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size == 6)
    // cluster {1,2,3} lands on ONE side, {5,6} on one side
    assert(Set(out(1L), out(2L), out(3L)).size == 1, s"cluster split apart: $out")
    assert(out(5L) == out(6L), s"cluster split apart: $out")
    // the singleton gets exactly the plain hash split of its own id
    val plain = Sampling.splitByHash(docs.filter($"doc_id" === 4L), "doc_id", w, salt = "t")
      .select("split").head.getString(0)
    assert(out(4L) == plain)
    // an input frame already carrying a `cluster` column (prior pass)
    // must not collide with the internal label table — same assignments,
    // caller's column survives
    val withCluster = docs.withColumn("cluster", $"doc_id" * 10)
    val out2 = Dedup.clusterAwareSplit(withCluster, pairs, "doc_id", w, salt = "t")
    assert(out2.columns.contains("cluster"))
    assert(out2.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == out)
    assert(out2.filter($"doc_id" === 2L).select("cluster").head.getLong(0) == 20L)
  }

  test("IR cluster-split honors max-bucket: capped mega-clique roots at self, split stays total") {
    import graft.ir.{Engine, EngineCtx, Node}
    val s = spark
    import s.implicits._
    // 30 identical docs (one mega-clique) + 3 distinct ones
    val docs = ((1L to 30L).map(i => (i, "the same boilerplate body verbatim")) ++
      Seq((101L, "alpha beta gamma delta epsilon"),
        (102L, "zeta eta theta iota kappa"),
        (103L, "lambda mu nu xi omicron"))).toDF("doc_id", "text")
    def split(mb: String) = Engine.run(Node.fromJson(
      s"""{"action":"cluster-split","params":[{"id":"doc_id","text":"text",$mb
         |  "weights":[{"name":"train","weight":0.5},{"name":"test","weight":0.5}]}],
         | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
      docs, EngineCtx(testMode = true)).taps("out")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // r15: the guard runs in its CONNECTIVITY face here. On this
    // pathological fixture (30 of 33 docs are one mega-clique: 1,740
    // band emissions vs a ceil(32·33)=1,056 budget) auto resolves a
    // finite cap below the clique, so the quadratic pair join is
    // bounded — but the over-cap buckets emit linear member→bucket-min
    // star edges with identical connected components, so the clique
    // stays ATOMIC under any cap: capped split == unlimited split,
    // exactly (the r14 members-root-at-themselves weakening is gone).
    val atomic = split("\"max-bucket\":\"unlimited\",")
    assert((1L to 30L).map(atomic).toSet.size == 1, "unlimited: clique atomic")
    val auto = split("")
    assert(auto.size == 33, "auto split stays total — every doc assigned")
    val capped = split("\"max-bucket\":5,")
    assert(capped.size == 33, "capped split stays total — every doc assigned")
    (docs.collect().map(_.getLong(0))).foreach { i =>
      assert(auto(i) == atomic(i), s"auto == unlimited, doc $i")
      assert(capped(i) == atomic(i), s"capped == unlimited, doc $i")
    }
    assert((1L to 30L).map(capped).toSet.size == 1, "capped: clique still atomic")
  }

  test("sharedSubstringSpans: maximal cross-doc runs, self-repeats excluded") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // docs 1/2 share a 6-token span (3 consecutive 4-windows -> ONE
    // maximal span), doc 3 repeats a 4-gram only within itself (must
    // NOT qualify), doc 4 is clean
    val docs = Seq(
      (1L, "zero alpha beta gamma delta epsilon zeta tail"),
      (2L, "head alpha beta gamma delta epsilon zeta"),
      (3L, "spam one two spam one two spam one two"),
      (4L, "completely fresh text with no shared spans")
    ).toDF("doc_id", "text")
    val out = Dedup.sharedSubstringSpans(docs, "text", "doc_id", minLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 1: tokens 2..7 ("alpha".."zeta"); doc 2: tokens 2..7
    assert(out == Set((1L, 2L, 7L, 6L), (2L, 2L, 7L, 6L)),
      s"spans $out")
  }

  test("keepFirst spans + cutSharedSubstrings: the min-id owner keeps its copy, others cut") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "zero alpha beta gamma delta epsilon zeta tail"),
      (2L, "head alpha beta gamma delta epsilon zeta"),
      (3L, "spam one two spam one two spam one two"), // self-repeat only
      (4L, "ab cd")                                   // shorter than minLen
    ).toDF("doc_id", "text")
    val spans = Dedup.sharedSubstringSpans(docs, "text", "doc_id", minLen = 4,
        keepFirst = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 1 is the owner: no span; only doc 2 cuts
    assert(spans == Set((2L, 2L, 7L, 6L)), s"spans $spans")
    val cut = Dedup.cutSharedSubstrings(docs, "text", "doc_id", minLen = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cut(1L) == "zero alpha beta gamma delta epsilon zeta tail")
    assert(cut(2L) == "head")
    assert(cut(3L) == "spam one two spam one two spam one two")
    assert(cut(4L) == "ab cd")
  }

  test("SubstringStore: probe == brute-force store-shared spans; append extends coverage, owners keep min") {
    import graft.operators.SubstringStore
    val s = spark
    import s.implicits._
    val store = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "xx alpha beta gamma delta yy one two three four"), // two store-shared runs
      (11L, "totally novel words nothing shared here at all"),
      (12L, "beta gamma delta epsilon zeta")                      // one full-width run
    ).toDF("doc_id", "text")
    val n = 4
    val tmp = java.nio.file.Files.createTempDirectory("sstore").toString
    SubstringStore.writeStore(store, "text", "doc_id", tmp, minLen = n, nBuckets = 8)
    val got = SubstringStore.probeDelta(delta, "text", "doc_id", tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 10: "alpha beta gamma delta" at 2..5 and "one two three four"
    // at 7..10 (1-based tokens); doc 12: whole doc 1..5; doc 11 nothing
    assert(got == Set((10L, 2L, 5L, 4L), (10L, 7L, 10L, 4L), (12L, 1L, 5L, 5L)),
      s"probe spans $got")
    // append the delta, then a fresh exact copy of doc 11 must probe to
    // FULL coverage (its windows are now stored)
    SubstringStore.appendDelta(delta, "text", "doc_id", tmp)
    val re = SubstringStore.probeDelta(
      Seq((99L, "totally novel words nothing shared here at all")).toDF("doc_id", "text"),
      "text", "doc_id", tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(re == Set((99L, 1L, 8L)), s"post-append coverage $re")
    // owners: every pre-existing hash keeps its ORIGINAL owner (min rule)
    val owners = s.read.parquet(s"$tmp/hashes")
      .groupBy("owner").count().collect().map(_.getLong(0)).toSet
    assert(owners.contains(1L) && owners.contains(2L),
      s"store owners lost after merge: $owners")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(tmp)).iterator().asScala
      .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("sharedSubstringSpans == brute-force maximal cross-doc substring reference") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // seeded small-vocab corpus: planted shared spans PLUS whatever
    // coincidental cross-doc n-grams the tiny vocabulary produces —
    // the brute force is the semantics, not the planting
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    def sent(len: Int) = Vector.fill(len)(vocab(rnd.nextInt(vocab.size)))
    val planted1 = sent(9)
    val planted2 = sent(5)
    val corpus: Seq[(Long, Vector[String])] = (0 until 12).map { i =>
      val base = sent(6 + rnd.nextInt(10))
      val toks =
        if (i % 3 == 0) base ++ planted1 ++ sent(3)
        else if (i % 3 == 1) sent(2) ++ planted2 ++ base
        else base
      (i.toLong, toks)
    }
    val n = 4
    val df = corpus.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val got = Dedup.sharedSubstringSpans(df, "text", "doc_id", n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = corpus.flatMap { case (id, ts) =>
      val starts = (0 to ts.length - n).filter { p =>
        val w = ts.slice(p, p + n)
        corpus.exists { case (oid, ots) =>
          oid != id && ots.sliding(n).contains(w) }
      }.map(_ + 1) // 1-based
      starts.foldLeft(List.empty[(Int, Int)]) { (acc, p) =>
        acc match {
          case (lo, last) :: rest if p - last <= n => (lo, p) :: rest
          case _ => (p, p) :: acc
        }
      }.reverse.map { case (lo, last) =>
        (id, lo.toLong, (last + n - 1).toLong, (last + n - lo).toLong) }
    }.toSet
    assert(got == want, s"got ${got.size} spans, want ${want.size}:\n" +
      s"extra=${got -- want}\nmissing=${want -- got}")
  }

  test("sharedSubstringSpans: degenerate hash (one boilerplate window in EVERY doc) — correct spans, no per-hash window in the plan") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // the 100 TB skew nightmare in miniature: one boilerplate sentence
    // shared by every document. Under the old min/max-over-
    // Window.partitionBy(__h) plan every occurrence of the hot hash
    // sorts in ONE partition; the groupBy+join plan collapses it
    // map-side. Correctness: every doc shares the span with some other
    // doc; keepFirst leaves only doc 0 intact.
    val boiler = "all rights reserved contact us for details"
    val docs = (0L until 40L).map(i => (i, s"unique$i lead$i $boiler tail$i")).toDF("doc_id", "text")
    val spansDf = Dedup.sharedSubstringSpans(docs, "text", "doc_id", minLen = 4)
    // plan audit: no Window node may partition by the hash column
    val planStr = spansDf.queryExecution.optimizedPlan.toString
    assert(!planStr.matches("(?s).*windowspecdefinition\\(__h.*"),
      s"per-hash window survived in plan:\n$planStr")
    val spans = spansDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // boiler occupies tokens 3..9 of every doc (1-based)
    assert(spans == (0L until 40L).map(i => (i, 3L, 9L, 7L)).toSet, s"spans $spans")
    val kf = Dedup.sharedSubstringSpans(docs, "text", "doc_id", minLen = 4,
        keepFirst = true).select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(kf == (1L until 40L).toSet, s"keepFirst cutters $kf")
  }

  test("keep-first dedup and line dedup: degenerate all-duplicate corpus, no per-hash window in any plan") {
    import graft.operators.{Curation, Dedup}
    val s = spark
    import s.implicits._
    // every doc identical (the empty-document / mirrored-page cluster in
    // miniature): correctness = exactly the min-id row survives; plan =
    // keep-first runs as an aggregate, never as a window over the hash
    val docs = (0L until 50L).map(i => (i, "same text in every single row here"))
      .toDF("doc_id", "text")
    def noHashWindow(df: org.apache.spark.sql.DataFrame): Unit = {
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("windowspecdefinition"),
        s"window survived in plan:\n$p")
    }
    val ex = Dedup.exact(docs, "text", "doc_id")
    noHashWindow(ex)
    assert(ex.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(0L))
    val fp = Dedup.byFingerprint(docs, "text", "doc_id")
    noHashWindow(fp)
    assert(fp.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(0L))
    val ld = Curation.lineDedup(docs, "doc_id", "text", lineTokens = 4)
    noHashWindow(ld)
    val kept = ld.select("doc_id", "n_kept").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept(0L) == 2L && (1L until 50L).forall(kept(_) == 0L),
      s"only doc 0 keeps its two 4-token lines: $kept")
    val bp = Curation.boilerplateRemove(docs, "doc_id", "text", lineTokens = 4, minDocs = 2)
    noHashWindow(bp)
    assert(bp.select("n_kept").collect().forall(_.getLong(0) == 0L),
      "lines in all 50 docs are boilerplate everywhere")
    val st = Dedup.duplicateNgramStats(docs, "text", "doc_id", n = 3)
    noHashWindow(st)
    assert(st.select("dup_frac").collect().forall(_.getDouble(0) == 1.0))
  }

  test("verify stages emit ONE row per pair under duplicate-id inputs (refetch/probe-duplication hygiene)") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // each doc appears 3x (a crawl refetch, or the x10 scale-probe
    // corpus in miniature): without the per-id reduction every pair
    // would verify 3x3 = 9 times and emit 9 rows
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "totally different words here now yes"))
    val docs = (base ++ base ++ base).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val j = Dedup.ngramJaccard(docs, pairs, "text", "doc_id").collect()
    assert(j.length == 2, s"expected 2 verify rows, got ${j.length}")
    val c = Dedup.ngramContainment(docs, pairs, "text", "doc_id").collect()
    assert(c.length == 2, s"expected 2 containment rows, got ${c.length}")
    val e = Dedup.editConfirm(docs, pairs, "text", "doc_id", minSim = 0.0).collect()
    assert(e.length == 2, s"expected 2 edit rows, got ${e.length}")
    // values match the unique-id run exactly
    val uniq = base.toDF("doc_id", "text")
    assert(Dedup.ngramJaccard(uniq, pairs, "text", "doc_id")
      .collect().map(_.toSeq).toSet == j.map(_.toSeq).toSet)
    assert(Dedup.editConfirm(uniq, pairs, "text", "doc_id", minSim = 0.0)
      .collect().map(_.toSeq).toSet == e.map(_.toSeq).toSet)
    // jaccardPrefixJoin: duplicate-id rows must not inflate token
    // frequencies or intersection counts — identical PAIRS AND VALUES
    val pj = Dedup.jaccardPrefixJoin(docs, "doc_id", "text", 0.5)
      .collect().map(_.toSeq).toSet
    assert(pj == Dedup.jaccardPrefixJoin(uniq, "doc_id", "text", 0.5)
      .collect().map(_.toSeq).toSet, s"ppjoin drifted under duplicate ids: $pj")
    assert(pj.nonEmpty, "fixture docs 1/2 share 5 of 7 distinct tokens")
  }

  test("LSH hash-invariance: exact-duplicate docs pair under md5 AND xxhash64") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.{pmod, xxhash64, lit}
    val s = spark
    import s.implicits._
    // docs 1/2 and 3/4 are exact duplicates (identical shingle sets →
    // identical minhash signature under ANY hash fn → same bucket in
    // every band); 5 is unrelated. This is the deterministic subset of
    // the candidate set that does not depend on hash choice — the
    // property backing dedup_minhash_lsh_xx's rows-only gate (see the
    // registration note in Queries.scala).
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "pack my box with five dozen liquor jugs right now"),
      (4L, "pack my box with five dozen liquor jugs right now"),
      (5L, "completely different text about spark streaming windows here")
    ).toDF("doc_id", "text")
    def pairs(hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      Dedup.lshCandidates(docs, "text", "doc_id", k = 8, rowsPerBand = 2, hashFn = hashFn)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val md5Pairs = pairs(graft.functions.Text.md5HashMod)
    val xxPairs = pairs(c => pmod(xxhash64(c), lit(1000000007L)))
    for (ps <- Seq(md5Pairs, xxPairs)) {
      assert(Set((1L, 2L), (3L, 4L)).subsetOf(ps), s"exact dups must pair, got $ps")
      assert(!ps.exists(p => p._1 == 5L || p._2 == 5L), s"doc 5 must stay pair-free, got $ps")
    }
  }

  test("ngramContainment: asymmetric quote detection where Jaccard stays low") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // doc 1 is quoted WHOLE inside doc 2 (plus much more); Jaccard is
    // diluted by the long side's union but containment_1in2 must be 1.0
    val short = "the quick brown fox jumps over the lazy dog"
    val long = short + " and then a very long continuation about completely " +
      "different matters with many additional tokens diluting the union " +
      "far beyond any symmetric similarity threshold whatsoever"
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id1", "id2")
    val row = Dedup.ngramContainment(docs, pairs, "text", "doc_id").collect().head
    val (c12, c21) = (row.getAs[Double]("containment_1in2"), row.getAs[Double]("containment_2in1"))
    assert(c12 == 1.0, s"short-in-long containment must be 1.0, got $c12")
    assert(c21 < 0.5, s"long-in-short must be partial, got $c21")
    val jac = Dedup.ngramJaccard(docs, pairs, "text", "doc_id")
      .collect().head.getAs[Double]("jaccard")
    assert(jac < 0.5, s"Jaccard must miss the quote (diluted union), got $jac")
    assert(c21 == jac || math.abs(c21 - jac) < 1e-12) // inter/|B| == inter/union when A ⊆ B
  }

  test("crossCorpusCandidates: cross pairs only, consistent with the union self-join") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // left 1/2 are near-identical to right 11/12; left 3 and right 13 are
    // unrelated; left 1 and left 2 duplicate EACH OTHER too — that pair
    // must NOT appear (within-corpus)
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different text about spark streaming windows here")
    ).toDF("doc_id", "text")
    val right = Seq(
      (11L, "the quick brown fox jumps over the lazy dog tonight"),
      (12L, "the quick brown fox jumps over the lazy dog tonight"),
      (13L, "pack my box with five dozen liquor jugs right now")
    ).toDF("doc_id", "text")
    val cross = Dedup.crossCorpusCandidates(left, right, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == Set((1L, 11L), (1L, 12L), (2L, 11L), (2L, 12L)))
    // two-sided restriction of the self-join on the union: every cross
    // pair must also be a self-join pair (same signatures, same bands)
    val unionPairs = Dedup.lshCandidates(left.unionAll(right), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross.forall { case (l, r) => unionPairs.contains((l, r)) || unionPairs.contains((r, l)) })
  }

  test("clusterPairs fails loudly when the iteration cap cuts convergence short") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    // a 10-node chain is no star: one round of the forced star
    // contraction cannot finish it, and silent unconverged labels would
    // split the cluster downstream
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      Dedup.clusterPairs(chain, maxIters = 1, onePartitionThreshold = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // same graph with headroom converges to the single component
    assert(Dedup.clusterPairs(chain, maxIters = 20, onePartitionThreshold = 0L)
      .collect().map(_.getLong(1)).toSet == Set(1L))
  }

  test("renameKeys applies interacting pairs in SEQUENCE order (action.clj:2140-2194)") {
    val df = events(ev(1, 1 * S, id = 1, host = "web-1"))
    // chain: host→hostname, then hostname (now holding host's value)→h2.
    // Order matters: reversed pairs leave the value at hostname instead.
    val chained = Stateless.renameKeys(Seq(
      "host" -> "hostname", "hostname" -> "h2", "h2" -> "h3",
      "h3" -> "h4", "h4" -> "h5"))(df)
    val r = chained.select("h5").collect().head
    assert(r.getString(0) == "web-1")
    assert(!chained.columns.contains("host") && !chained.columns.contains("hostname"))
    val reversed = Stateless.renameKeys(Seq("hostname" -> "h2", "host" -> "hostname"))(df)
    assert(reversed.select("hostname").collect().head.getString(0) == "web-1")
    assert(!reversed.columns.contains("h2")) // no hostname existed when that pair ran
  }

  test("perKeyMetricScan rejects non-string top-level key columns at plan time") {
    val df = events(ev(1, 1 * S, id = 1))
    val e = intercept[IllegalArgumentException] {
      Analytics.perKeyMetricScan(df, Seq("metric"))(() => ())((s, _, _) => (s, Analytics.Emit.Keep))
    }
    assert(e.getMessage.contains("metric"))
  }
  test("semanticDedup auto-cells guidance: WARN past 4096 auto cells, silent when nCells is pinned") {
    import graft.operators.Similarity
    // auto-derived counts past the threshold warn; pinned nCells never does
    assert(Similarity.autoCellsWarning(4097, nCells = 0).exists(_.contains("fixed nlist")))
    assert(Similarity.autoCellsWarning(65536, nCells = 0).isDefined)
    assert(Similarity.autoCellsWarning(4096, nCells = 0).isEmpty)
    assert(Similarity.autoCellsWarning(16, nCells = 0).isEmpty)
    assert(Similarity.autoCellsWarning(65536, nCells = 65536).isEmpty,
      "an explicit nCells is a deployment decision, not a hazard")
  }

}
