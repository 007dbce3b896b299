package graft

import graft.model.Event
import graft.operators.{Analytics, Stateless, Windows}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants over random event sequences (SURVEY §5: a
  * layer the reference lacks). Each property is a structural law an
  * operator must satisfy for EVERY input, not a point fixture. ScalaCheck
  * generators are driven with fixed seeds so failures reproduce exactly.
  */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private def forAll[T](gen: Gen[T], cases: Int = 8)(f: T => Unit): Unit =
    (1 to cases).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default.withSize(40), Seed(i.toLong)))
    }

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val genEvent: Gen[Event] = for {
    m <- Gen.choose(-100.0, 300.0)
    t <- Gen.choose(0L, 600L)
    h <- Gen.oneOf("a", "b", "c")
    st <- Gen.oneOf("ok", "warning", "critical")
  } yield ev(m, t * S, host = h, state = st)

  private val genEvents: Gen[List[Event]] =
    Gen.listOf(genEvent).map(_.zipWithIndex.map { case (e, i) => e.copy(eventId = i.toLong) })

  test("fixed-time-window partitions the input: every event lands in exactly its own window") {
    forAll(genEvents) { evs =>
      whenever(evs.nonEmpty) {
        val rows = Windows.fixedTimeWindow(60)(events(evs: _*))
          .select(col("window_start"), explode(col("events")).as("e"))
          .select(col("window_start"), col("e.eventId"), col("e.time"))
          .collect()
        assert(rows.length == evs.size)                       // no loss, no duplication
        rows.foreach { r =>
          val (ws, t) = (r.getLong(0), r.getLong(2))
          assert(ws == (t / (60 * S)) * (60 * S))             // correct window
        }
      }
    }
  }

  test("split branches partition the input (every event on exactly one branch)") {
    forAll(genEvents) { evs =>
      whenever(evs.nonEmpty) {
        val conds = Seq(
          graft.conditions.Condition.Gt(graft.conditions.Condition.Field("metric"), 150),
          graft.conditions.Condition.Gt(graft.conditions.Condition.Field("metric"), 0))
        val df = events(evs: _*)
        val sizes = (0 to 2).map(i => Stateless.splitBranch(conds, i)(df).count()).sum
        assert(sizes == evs.size)
      }
    }
  }

  test("throttle equals the sequential reference fold (model-based)") {
    forAll(genEvents) { evs =>
      whenever(evs.nonEmpty) {
        val out = Analytics.throttle(3, 120, Seq("host"))(events(evs: _*))
          .toDF().select("eventId").collect().map(_.getLong(0)).toSet
        // the reference's fold (action.clj:1163-1217), modeled directly
        val expected = evs.groupBy(_.host).flatMap { case (_, es) =>
          var start = Long.MinValue; var n = 0
          es.sortBy(e => (e.time, e.eventId)).flatMap { e =>
            if (start == Long.MinValue || e.time >= start + 120 * S) {
              start = e.time; n = 1; Some(e.eventId)
            } else if (n >= 3) None
            else { n += 1; Some(e.eventId) }
          }
        }.toSet
        assert(out == expected)
      }
    }
  }

  test("ewma output stays within [min, max] of the inputs seen so far (incl. seed 0)") {
    forAll(genEvents) { evs =>
      whenever(evs.nonEmpty) {
        val out = Analytics.ewmaTimeless(0.5, Seq("host"))(events(evs: _*))
          .toDF().select("metric").collect().map(_.getDouble(0))
        val lo = math.min(0.0, evs.flatMap(_.metric).min)
        val hi = math.max(0.0, evs.flatMap(_.metric).max)
        out.foreach(m => assert(m >= lo - 1e-9 && m <= hi + 1e-9))
      }
    }
  }

  test("smax is monotone non-decreasing per key in (time, eventId) order") {
    forAll(genEvents) { evs =>
      whenever(evs.nonEmpty) {
        val out = Analytics.smax(Seq("host"))(events(evs: _*))
          .select("host", "time", "eventId", "metric").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        out.groupBy(_._1).foreach { case (_, rows) =>
          val ms = rows.sortBy(r => (r._2, r._3)).map(_._4).toSeq
          ms.zip(ms.drop(1)).foreach { case (a, b) => assert(b >= a) }
        }
      }
    }
  }

  test("percentiles: every quantile value is an input value, and q=1.0 is the max") {
    forAll(genEvents) { evs =>
      whenever(evs.nonEmpty) {
        val inputs = evs.flatMap(_.metric).toSet
        val rows = Windows.percentiles(600, Seq(0.0, 0.5, 1.0))(events(evs: _*))
          .select("window_start", "quantile", "metric").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        rows.foreach { case (_, _, m) => assert(inputs.contains(m)) }
        val maxPerWindow = evs.groupBy(e => (e.time / (600 * S)) * (600 * S))
          .view.mapValues(_.flatMap(_.metric).max).toMap
        rows.filter(_._2 == 1.0).foreach { case (ws, _, m) =>
          assert(m == maxPerWindow(ws))
        }
      }
    }
  }

  test("percentile sketch == naive collect-sort plan == the exact index formula") {
    // duplicate-heavy metrics: the value-counts sketch's compression case
    val genDupEvents: Gen[List[Event]] = Gen.listOf(for {
      m <- Gen.oneOf(1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 8.0, 13.0)
      t <- Gen.choose(0L, 600L)
    } yield ev(m, t * S)).map(_.zipWithIndex.map { case (e, i) => e.copy(eventId = i.toLong) })
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("window_start", "quantile", "metric").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    forAll(genDupEvents) { evs =>
      whenever(evs.nonEmpty) {
        val sketch = rowsOf(Windows.percentiles(600, qs)(events(evs: _*)))
        val naive = rowsOf(Windows.percentilesNaive(600, qs)(events(evs: _*)))
        assert(sketch == naive)
        // and both equal the reference formula computed directly
        val expected = evs.groupBy(e => (e.time / (600 * S)) * (600 * S)).flatMap {
          case (ws, ws_evs) =>
            val sorted = ws_evs.flatMap(_.metric).sorted
            qs.map { q =>
              val idx = math.min(sorted.size - 1, math.floor(sorted.size * q).toInt)
              (ws, q, sorted(idx))
            }
        }.toSet
        assert(sketch == expected)
      }
    }
  }

  test("hash sampling/splitting is per-row deterministic and stable under corpus growth") {
    import graft.operators.Sampling
    val s = spark
    import s.implicits._
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    forAll(Gen.choose(1L, 1000000L), cases = 4) { seed =>
      val small = (seed to seed + 300L).toDF("id")
      val grown = (seed to seed + 900L).toDF("id")
      // membership of an existing row never changes when the corpus grows
      val sSmall = ids(Sampling.hashSample(small, "id", 0.3))
      val sGrown = ids(Sampling.hashSample(grown, "id", 0.3))
      assert(sGrown.filter(_ <= seed + 300L) == sSmall)
      // split labels: every row exactly one label, stable under growth
      def splits(df: org.apache.spark.sql.DataFrame) =
        Sampling.splitByHash(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val spSmall = splits(small)
      val spGrown = splits(grown)
      assert(spSmall.keySet.forall(k => spGrown(k) == spSmall(k)))
      assert(spGrown.values.toSet.subsetOf(Set("train", "val", "test")))
      // fractions land in a loose band (hash uniformity sanity)
      val trainFrac = spGrown.values.count(_ == "train").toDouble / spGrown.size
      assert(trainFrac > 0.7 && trainFrac < 0.9)
    }
  }

  test("sampleExactK: exactly k per group, deterministic, stable ranks under reruns") {
    import graft.operators.Sampling
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("id", "grp")
    def run() = Sampling.sampleExactK(df, "grp", "id", 5)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2))).toSet
    val first = run()
    assert(first == run()) // deterministic
    // exactly k per group, ranks 1..k
    for (g <- Seq("a", "b", "c")) {
      val rows = first.filter(_._1 == g)
      assert(rows.size == 5, s"group $g")
      assert(rows.map(_._3) == (1L to 5L).toSet, s"group $g ranks")
    }
    // tiny group: k caps at group size
    val tiny = Seq((1L, "x"), (2L, "x")).toDF("id", "grp")
    assert(Sampling.sampleExactK(tiny, "grp", "id", 5).count() == 2)
    // membership of chosen ids is a pure function of (salt, id) ORDER:
    // a different salt draws a different sample
    val other = Sampling.sampleExactK(df, "grp", "id", 5, salt = "other")
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2))).toSet
    assert(other != first)
  }

  test("condition compile == compileWith(top-level resolver) for random conditions") {
    import graft.conditions.Condition
    import graft.conditions.Condition._
    val genCond: Gen[Condition] = {
      val strFields = Gen.oneOf("host", "state")
      val leaf: Gen[Condition] = Gen.oneOf(
        Gen.choose(-50, 250).map(v => Gt(Field("metric"), v)),
        Gen.choose(-50, 250).map(v => Lte(Field("metric"), v)),
        strFields.map(f => Eq(Field(f), "ok")), strFields.map(f => NotEq(Field(f), "a")),
        strFields.map(f => IsNil(Field(f))), strFields.map(f => Regex(Field(f), "a|c.*")))
      for (a <- leaf; b <- leaf; c <- leaf; pick <- Gen.choose(0, 2))
        yield pick match {
          case 0 => And.of(a, b)
          case 1 => Or.of(a, And.of(b, c))
          case _ => a
        }
    }
    forAll(Gen.zip(genCond, genEvents), cases = 10) { case (cond, evs) =>
      whenever(evs.nonEmpty) {
        val df = events(evs: _*)
        val direct = df.filter(cond.column).select("eventId").collect().map(_.getLong(0)).toSet
        val resolved = df.filter(Condition.compileWith(cond, f =>
          f.path.tail.foldLeft(col(f.path.head))((c, k) => c.getItem(k))))
          .select("eventId").collect().map(_.getLong(0)).toSet
        assert(direct == resolved)
      }
    }
  }

  test("IR node JSON round-trip: fromJson(toJson(n)) == n for random trees") {
    import graft.ir.Node
    val genParam: Gen[Any] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8): Any),
      Gen.choose(-1000L, 1000L).map(x => x: Any),
      Gen.choose(-10.0, 10.0).map(x => x: Any),
      Gen.oneOf(true, false).map(x => x: Any),
      Gen.listOfN(3, Gen.alphaNumStr.map(_.take(4))).map(x => x: Any),
      Gen.mapOfN(2, Gen.zip(Gen.identifier.map(_.take(5)), Gen.choose(0L, 99L)))
        .map(m => m.asInstanceOf[Map[String, Any]]: Any))
    def genNode(depth: Int): Gen[Node] = for {
      action <- Gen.oneOf("where", "scale", "tap", "by", "custom-thing")
      params <- Gen.listOf(genParam).map(_.take(3))
      children <- if (depth <= 0) Gen.const(Nil)
                  else Gen.listOf(Gen.lzy(genNode(depth - 1))).map(_.take(3))
    } yield Node(action, params, children)
    forAll(genNode(3), cases = 20) { n =>
      assert(Node.fromJson(Node.toJson(n)) == n)
    }
  }

  test("riemann codec: encode→frame→split→decode is the identity (µs time grain)") {
    import graft.sources.RiemannCodec
    import graft.sources.RiemannCodec.RiemannEvent
    val genStr = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(20)),
      Gen.oneOf("", "é€🚀", "a\nb", "x\u0000y", "\\\"quote\""))
    val genRe: Gen[RiemannEvent] = for {
      t <- Gen.option(Gen.choose(0L, 4102444800000000000L)) // ~year 2100 in ns
      st <- Gen.option(genStr); sv <- Gen.option(genStr); de <- Gen.option(genStr)
      tags <- Gen.listOf(genStr).map(_.take(5))
      ttl <- Gen.option(Gen.oneOf(0.0f, 60.5f, Float.MaxValue, Float.MinPositiveValue))
      m <- Gen.option(Gen.oneOf(Gen.choose(-1e12, 1e12),
        Gen.oneOf(0.0, -0.0, Double.MaxValue, Double.MinPositiveValue, math.Pi)))
      attrs <- Gen.mapOf(Gen.zip(genStr.suchThat(_.nonEmpty), genStr)).map(_.take(4))
    } yield RiemannEvent(t, st, sv, de, tags, ttl, m, attrs)
    forAll(Gen.listOf(genRe).map(_.take(20)), cases = 12) { evs =>
      val stream = evs.grouped(7)
        .map(g => RiemannCodec.frame(RiemannCodec.encodeMsg(g)))
        .foldLeft(Array.emptyByteArray)(_ ++ _)
      val decoded = RiemannCodec.frames(stream).flatMap(RiemannCodec.decodeMsg)
      val expected = evs.map(e => e.copy(time = e.time.map(ns => ns / 1000 * 1000)))
      assert(decoded == expected)
    }
  }

  test("rangeJoin == brute-force inequality join for random intervals, keys, widths") {
    import graft.operators.Joins
    val s = spark
    import s.implicits._
    val genLeft = Gen.listOf(for {
      h <- Gen.oneOf("a", "b"); t <- Gen.choose(-50L, 150L)
    } yield (h, t)).map(_.take(15).zipWithIndex.map { case ((h, t), i) => (h, t, i.toLong) })
    val genRight = Gen.listOf(for {
      h <- Gen.oneOf("a", "b"); st <- Gen.choose(-60L, 140L); len <- Gen.choose(0L, 40L)
    } yield (h, st, st + len)).map(_.take(10).zipWithIndex.map { case ((h, st, en), i) => (h, st, en, i.toLong) })
    forAll(Gen.zip(genLeft, genRight, Gen.oneOf(1L, 3L, 7L, 64L)), cases = 8) {
      case (ls, rs, width) =>
        whenever(ls.nonEmpty && rs.nonEmpty) {
          val left = ls.toDF("host", "time", "lid")
          val right = rs.toDF("host", "start", "end", "rid")
          val got = Joins.rangeJoin(left, right, "time", "start", "end",
            valueCols = Seq("rid"), keys = Seq("host"), bucketWidth = width)
            .select("lid", "r_rid").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
          val want = (for {
            (lh, lt, lid) <- ls
            (rh, st, en, rid) <- rs
            if lh == rh && st <= lt && lt <= en
          } yield lid -> rid).toSet
          assert(got == want, s"width=$width left=$ls right=$rs")
        }
    }
  }

  test("substring-dedup laws: stats bound each other; clean docs survive the cut verbatim") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val word = Gen.oneOf("data", "spark", "batch", "row", "key", "fast", "agg", "join")
    val genDoc = Gen.listOfN(12, word).map(_.mkString(" "))
    val genCorpus = Gen.listOf(genDoc).map(_.take(12).zipWithIndex.map { case (t, i) => (i.toLong, t) })
    forAll(genCorpus, cases = 6) { corpus =>
      whenever(corpus.nonEmpty) {
        val df = corpus.toDF("doc_id", "text")
        val n = 3
        val stats = Dedup.duplicateNgramStats(df, "text", "doc_id", n)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        val cut = Dedup.cutDuplicateNgrams(df, "text", "doc_id", n)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        corpus.foreach { case (id, text) =>
          val (nw, dw) = stats(id)
          assert(dw <= nw, s"doc $id: dup_windows $dw > n_windows $nw")
          val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
          assert(nw == math.max(toks.length - n + 1, 0))
          // a doc with zero duplicated windows passes the cut verbatim
          // (modulo tokenization re-join); a fully-duplicated doc empties
          if (dw == 0) assert(cut(id) == toks.mkString(" "))
          if (nw > 0 && dw == nw) assert(cut(id) == "")
          // the cut never grows the document
          assert(cut(id).length <= toks.mkString(" ").length)
        }
      }
    }
  }

  test("shared-substring laws: spans disjoint and >= minLen; keepFirst ⊆ all-spans; owners uncut") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val word = Gen.oneOf("data", "spark", "batch", "row", "key", "fast", "agg", "join")
    val genDoc = Gen.listOfN(14, word).map(_.mkString(" "))
    val genCorpus = Gen.listOf(genDoc).map(_.take(10).zipWithIndex.map { case (t, i) => (i.toLong, t) })
    forAll(genCorpus, cases = 5) { corpus =>
      whenever(corpus.size >= 2) {
        val df = corpus.toDF("doc_id", "text")
        val n = 3
        def collect(keepFirst: Boolean) =
          Dedup.sharedSubstringSpans(df, "text", "doc_id", n, keepFirst)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val all = collect(keepFirst = false)
        val kf = collect(keepFirst = true)
        // every span is >= minLen tokens, internally consistent, in-doc
        (all ++ kf).foreach { case (id, lo, hi, nt) =>
          assert(nt == hi - lo + 1 && nt >= n, s"span ($id,$lo,$hi,$nt)")
          val len = corpus.find(_._1 == id).get._2
            .toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty)
          assert(lo >= 1 && hi <= len, s"span ($id,$lo,$hi) outside doc len $len")
        }
        // spans are pairwise disjoint and non-adjacent per doc (merged)
        Seq(all, kf).foreach { spans =>
          spans.groupBy(_._1).foreach { case (id, ss) =>
            val sorted = ss.sortBy(_._2).toList
            sorted.sliding(2).foreach {
              case Seq((_, _, h1, _), (_, l2, _, _)) =>
                assert(l2 > h1 + 1, s"doc $id: spans not merged: hi=$h1 lo=$l2")
              case _ =>
            }
          }
        }
        // keepFirst token coverage ⊆ all-spans coverage, per doc
        def covered(spans: Seq[(Long, Long, Long, Long)]) =
          spans.flatMap { case (id, lo, hi, _) => (lo to hi).map(id -> _) }.toSet
        assert(covered(kf).subsetOf(covered(all)))
        // ownership law: the GLOBAL min-id doc owns every window it
        // contains (no lower id exists), so it never emits a keepFirst
        // span — its copy is the one that survives
        assert(!kf.exists(_._1 == corpus.map(_._1).min),
          "global min-id doc must never cut under keepFirst")
      }
    }
  }

  test("shuffleOrder: dense permutation for every seed; within-source order law for interleave") {
    import graft.operators.Curation
    val s = spark
    import s.implicits._
    forAll(Gen.zip(Gen.choose(1, 99), Gen.alphaNumStr.map("s" + _)), cases = 4) { case (n, seed) =>
      val docs = (0L until n.toLong).map(i => (i, if (i % 2 == 0) "even" else "odd"))
        .toDF("doc_id", "source")
      val out = Curation.shuffleOrder(docs, "doc_id", seed)
        .select("position", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // positions are exactly 0..n-1 and ids a permutation — for ANY seed
      assert(out.map(_._1).sorted.toSeq == (0L until n.toLong))
      assert(out.map(_._2).sorted.toSeq == (0L until n.toLong))

      val il = Curation.interleaveSources(docs, "source", "doc_id",
        Map("even" -> 2.0, "odd" -> 1.0), seed)
        .select("position", "source", "source_rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(il.map(_._1).sorted.toSeq == (0L until n.toLong))
      // law: within each source, output order preserves the source_rank
      // order (interleaving merges streams, never reorders within one)
      for (src <- Seq("even", "odd")) {
        val ranks = il.sortBy(_._1).collect { case (_, `src`, r) => r }
        assert(ranks.toSeq == ranks.sorted.toSeq, s"$src ranks out of order: ${ranks.toSeq}")
      }
    }
  }

  test("crossCorpusCandidates ⊆ union self-join pairs for random corpora") {
    import graft.operators.Dedup
    val s = spark
    import s.implicits._
    val genDoc = for {
      n <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon", "zeta"))
    } yield ws.mkString(" ")
    forAll(Gen.listOfN(14, genDoc), cases = 3) { texts =>
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val (l, r) = all.partition(_._1 % 2 == 0)
      val left = l.toDF("doc_id", "text")
      val right = r.toDF("doc_id", "text")
      val cross = Dedup.crossCorpusCandidates(left, right, "text", "doc_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val self = Dedup.lshCandidates(all.toDF("doc_id", "text"), "text", "doc_id")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(cross.forall { case (a, b) => self.contains((a min b, a max b)) },
        s"cross pair not in union self-join: ${cross -- self.flatMap(p => Set(p, p.swap))}")
      assert(cross.forall { case (a, b) => a % 2 == 0 && b % 2 == 1 },
        "cross pairs must span the two corpora")
    }
  }

  test("boilerplate laws: high minDocs is the identity; distributed == sequential doc-frequency model") {
    import graft.operators.Curation
    val s = spark
    import s.implicits._
    val genDoc = for {
      n <- Gen.choose(2, 10)
      ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta"))
    } yield ws.mkString(" ")
    forAll(Gen.listOfN(10, genDoc), cases = 3) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val k = 2
      // law 1: with minDocs above the corpus size nothing is boilerplate —
      // every doc reassembles to its own token-line join
      val spared = Curation.boilerplateRemove(df, "doc_id", "text", k, texts.size + 1)
        .orderBy("doc_id").collect()
      val expected = texts.map(t => t.split("\\s+").filter(_.nonEmpty).mkString(" "))
      assert(spared.map(_.getString(3)).toSeq == expected)
      assert(spared.forall(r => r.getLong(1) == r.getLong(2)))
      // law 2: the distributed result equals the sequential model — each
      // doc keeps exactly its lines whose DISTINCT-doc frequency < 2
      def linesOf(t: String): Seq[String] =
        t.split("\\s+").filter(_.nonEmpty).grouped(k).map(_.mkString(" ")).toSeq
      val docLines = texts.zipWithIndex.map { case (t, i) => i.toLong -> linesOf(t) }
      val docFreq = docLines.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).distinct.size }
      val model = docLines.map { case (id, ls) =>
        id -> ls.filter(l => docFreq(l) < 2).mkString(" ")
      }.toMap
      val boiler = Curation.boilerplateRemove(df, "doc_id", "text", k, 2)
        .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(boiler == model, s"distributed $boiler != model $model")
    }
  }

  test("clusterBalancedSample: per-cell quota, deterministic, assignment = argmax cosine") {
    import graft.operators.Sampling
    val sp = TestSpark.spark
    import sp.implicits._
    // two tight clusters on orthogonal axes, 8 points each, ids interleaved
    def v(axis: Int, eps: Float): Seq[Float] =
      if (axis == 0) Seq(1f, eps, 0f, 0f) else Seq(eps, 1f, 0f, 0f)
    val rows = (0 until 16).map { i =>
      (i.toLong, v(i % 2, 0.01f * (i / 2)))
    }
    val df = rows.toDF("id", "vec")
    val out = Sampling.clusterBalancedSample(df, "id", "vec", nCells = 2, cap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // seeds are ids 0 (axis 0) and 1 (axis 1): every even id lands in
    // cell 0, every odd in cell 1; each cell keeps exactly cap rows
    assert(out.length == 6)
    val byCell = out.groupBy(_._2)
    assert(byCell(0L).length == 3 && byCell(1L).length == 3)
    assert(byCell(0L).forall(t => t._1 % 2 == 0))
    assert(byCell(1L).forall(t => t._1 % 2 == 1))
    assert(out.forall(_._3 <= 3L), "ranks bounded by cap")
    // deterministic under rerun and repartition
    val again = Sampling.clusterBalancedSample(df.repartition(7), "id", "vec", 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    assert(again.toSeq == out.sortBy(_._1).toSeq)

    // IR face
    import graft.ir.{Engine, EngineCtx, Node}
    val ir = Engine.run(Node.fromJson(
      """{"action":"cluster-cap-sample","params":[{"id":"id","vec":"vec","cells":2,"cap":3}],
        | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
      df, EngineCtx(testMode = true)).taps("out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    assert(ir.toSeq == out.sortBy(_._1).toSeq)
  }
}
