package graft

import graft.operators.{Dedup, Snapshots}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crawl-snapshot algebra: latest-capture collapse (deterministic
  * tie-break, partition invariance) and the two-snapshot diff. Both are
  * oracle-gated (`crawl_latest`, `crawl_diff`).
  */
class SnapshotsSpec extends AnyFunSuite {
  import TestSpark.spark

  test("latest: freshest capture wins; (ts, digest) tie-break is deterministic") {
    val s = spark
    import s.implicits._
    val caps = Seq(
      ("k1", "20240101000000", "aaa", "old"),
      ("k1", "20240201000000", "bbb", "new"),
      ("k2", "20240101000000", "zzz", "tie-hi"),
      ("k2", "20240101000000", "mmm", "tie-lo"),
      ("k3", "20240301000000", "ccc", "only")
    ).toDF("key", "ts", "digest", "note")
    val out = Snapshots.latest(caps, "key", "ts")
      .orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("note")))
    assert(out.toSeq == Seq("k1" -> "new", "k2" -> "tie-hi", "k3" -> "only"))
    // partition invariance: same winners whatever the layout
    val shuffled = Snapshots.latest(caps.repartition(7, col("digest")), "key", "ts")
      .orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("note")))
    assert(shuffled.toSeq == out.toSeq)
  }

  test("diff: added / removed / changed / unchanged") {
    val s = spark
    import s.implicits._
    val old = Seq(("a", "d1"), ("b", "d2"), ("c", "d3")).toDF("key", "digest")
    val newer = Seq(("b", "d2"), ("c", "dX"), ("d", "d4")).toDF("key", "digest")
    val out = Snapshots.diff(old, newer, "key", "digest")
      .orderBy("key").collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("status")))
    assert(out.toSeq == Seq(
      "a" -> "removed", "b" -> "unchanged", "c" -> "changed", "d" -> "added"))
  }

  test("diff over bucketed snapshot tables runs with ZERO shuffles") {
    val s = spark
    import s.implicits._
    // epoch-over-epoch diffs are the repeated-join case bucketed
    // materialization exists for: both snapshots land bucketed on the
    // key, so the full-outer diff satisfies its HashPartitioning
    // requirement straight from the bucket spec
    val old = (0L until 200L).map(i => (i, s"d$i")).toDF("key", "digest")
    val newer = (100L until 300L).map(i => (i, if (i % 7 == 0) s"x$i" else s"d$i"))
      .toDF("key", "digest")
    graft.sinks.FileSink.writeBucketed(old, "snap_old", buckets = 4, keys = Seq("key"))
    graft.sinks.FileSink.writeBucketed(newer, "snap_new", buckets = 4, keys = Seq("key"))
    val d = Snapshots.diff(s.table("snap_old"), s.table("snap_new"), "key", "digest")
    val rows = d.collect()
    assert(rows.length == 300)
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      val self = p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => 1
        case _ => 0
      }
      self + p.children.map(shuffles).sum
    }
    assert(shuffles(d.queryExecution.executedPlan) == 0,
      s"expected exchange-free bucketed diff:\n${d.queryExecution.executedPlan}")
    // statuses match the plain (shuffled) diff
    val plain = Snapshots.diff(old, newer, "key", "digest").collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(rows.map(r => (r.getLong(0), r.getString(3))).toSet == plain)
    s.sql("DROP TABLE IF EXISTS snap_old"); s.sql("DROP TABLE IF EXISTS snap_new")
  }

  test("mirrorPairs: shared-digest pairs, boilerplate cap, cluster composition") {
    val s = spark
    import s.implicits._
    val mirrors = (1 to 5).flatMap(p =>
      Seq(("a.com", s"d$p"), ("a-mirror.com", s"d$p")))   // 5 shared
    val partial = Seq(("a.com", "d9"), ("b.com", "d9"))   // 1 shared — under minShared
    val boiler = (1 to 20).map(i => (s"host$i.com", "empty404")) // hot digest
    val chain = Seq(("a-mirror.com", "dX"), ("c.com", "dX"),
      ("c.com", "dY"), ("c2.com", "dY"))                  // transitive family
    val caps = (mirrors ++ partial ++ boiler ++ chain).toDF("host", "digest")
    val pairs = Snapshots.mirrorPairs(caps, "host", "digest",
      minShared = 2, maxHostsPerDigest = 3)
    val got = pairs.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(("a-mirror.com", "a.com", 5L)))
    // the empty404 digest on 20 hosts never produced a pair
    assert(!got.exists(t => t._1.startsWith("host") || t._2.startsWith("host")))
    // at minShared=1 the transitive chain appears and clusters collapse it
    val loose = Snapshots.mirrorPairs(caps, "host", "digest",
      minShared = 1, maxHostsPerDigest = 3)
    val clustered = Dedup.clusterPairs(loose, "host1", "host2")
    val byCluster = clustered.collect()
      .map(r => (r.getString(0), r.get(1).toString))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(byCluster.contains(Set("a.com", "a-mirror.com", "c.com", "c2.com", "b.com")))
  }

  test("clusterPairs labels a 30-hop chain of string hosts with the min host") {
    val s = spark
    import s.implicits._
    // string ids never take the integral union-find path; a chain longer
    // than a per-hop round cap must still collapse to one family
    val hosts = (0 to 30).map(i => f"h$i%03d.com")
    val chain = hosts.zip(hosts.tail).toDF("host1", "host2")
    val labels = Dedup.clusterPairs(chain, "host1", "host2").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == hosts.map(_ -> "h000.com").toMap)
  }

  test("mirror-pairs is a declarable IR action") {
    import graft.ir.{Engine, EngineCtx, Node}
    val s = spark
    import s.implicits._
    val caps = Seq(("m1.com", "d1"), ("m2.com", "d1"),
      ("m1.com", "d2"), ("m2.com", "d2")).toDF("host", "digest")
    val out = Engine.run(Node.fromJson(
        """{"action":"mirror-pairs","params":[{"host":"host","digest":"digest"}],
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
      caps, EngineCtx(testMode = true)).taps("out").collect()
    assert(out.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      == Seq(("m1.com", "m2.com", 2L)))
  }

  test("refetchCandidates: uncaptured / stale / fresh against latest captures") {
    val s = spark
    import s.implicits._
    val entries = Seq(
      ("http://e.com/new", "2024-01-10"),
      ("http://e.com/changed", "2024-02-01"),
      ("http://e.com/same", "2024-01-01"),
      ("not a url", "2024-01-01")).toDF("loc", "lastmod")
    val captures = Seq(
      ("com,e)/changed", "20240115000000"),
      ("com,e)/same", "20240102000000")).toDF("urlkey", "ts")
    val out = Snapshots.refetchCandidates(entries, "loc", "lastmod", captures)
      .select("loc", "reason").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(out.toSeq == Seq(
      ("http://e.com/changed", "stale"),   // lastmod 20240201.. > capture
      ("http://e.com/new", "uncaptured"),
      ("http://e.com/same", "fresh"),      // lastmod 20240101.. <= capture
      ("not a url", "uncaptured")))        // null urlkey never joins
  }

  test("refetch-candidates is a declarable IR action (captures artifact)") {
    import graft.ir.{Engine, EngineCtx, Node}
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("caps").toString
    try {
      Seq(("com,e)/a", "20240110000000")).toDF("urlkey", "ts")
        .write.mode("overwrite").parquet(s"$dir/caps")
      val entries = Seq(("http://e.com/a", "2024-02-01"),
        ("http://e.com/b", "2024-01-01")).toDF("loc", "lastmod")
      val out = Engine.run(Node.fromJson(
          s"""{"action":"refetch-candidates",
             | "params":[{"loc":"loc","lastmod":"lastmod","captures-path":"$dir/caps"}],
             | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
        entries, EngineCtx(testMode = true)).taps("out")
        .select("loc", "reason").collect()
        .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
      assert(out.toSeq == Seq(
        ("http://e.com/a", "stale"), ("http://e.com/b", "uncaptured")))
      val errs = Engine.validate(Node.fromJson(
          s"""{"action":"refetch-candidates",
             | "params":[{"loc":"loc","lastmod":"lastmod","captures-path":"$dir/absent"}],
             | "children":[{"action":"keep-keys","params":[["loc","urlkey","reason"]]}]}""".stripMargin),
        s, EngineCtx(testMode = true), entries.schema)
      assert(errs.isEmpty, errs.toString)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("snapshot-latest / snapshot-diff are declarable IR actions; validate is artifact-total") {
    import graft.ir.{Engine, EngineCtx, Node}
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    try {
      Seq(("a", "d1"), ("b", "d2")).toDF("key", "digest")
        .write.mode("overwrite").parquet(s"$dir/old")
      val newer = Seq(
        ("a", "20240101000000", "d1"), ("a", "20240201000000", "dX"),
        ("b", "20240101000000", "d2"), ("c", "20240101000000", "d3")
      ).toDF("key", "ts", "digest")
      val chain = Node.fromJson(
        s"""{"action":"snapshot-latest","params":[{"key":"key","ts":"ts"}],"children":[
           | {"action":"snapshot-diff","params":[{"old-path":"$dir/old","key":"key","digest":"digest"}],"children":[
           |  {"action":"tap","params":["out"]}]}]}""".stripMargin)
      val out = Engine.run(chain, newer, EngineCtx(testMode = true)).taps("out")
        .orderBy("key").collect()
        .map(r => (r.getAs[String]("key"), r.getAs[String]("status")))
      assert(out.toSeq == Seq("a" -> "changed", "b" -> "unchanged", "c" -> "added"))
      // validate: the old-path artifact may not exist yet — still total,
      // and the declared output schema comes from DiffSchema
      val errs = Engine.validate(Node.fromJson(
        s"""{"action":"snapshot-diff","params":[{"old-path":"$dir/nope","key":"key","digest":"digest"}],"children":[
           | {"action":"keep-keys","params":[["key","status","old_digest","new_digest"]]}]}""".stripMargin),
        s, EngineCtx(testMode = true), newer.schema)
      assert(errs.isEmpty, errs.toString)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
