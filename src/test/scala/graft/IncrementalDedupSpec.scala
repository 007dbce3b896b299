package graft

import graft.ir.{Engine, EngineCtx, Node}
import graft.operators.IncrementalDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental dedup laws: store collisions win over within-delta
  * clustering, survivors append makes the pipeline idempotent, the
  * probe is partition-pruned to touched sig buckets, recipe mismatch
  * and missing stores fail loudly, and the IR artifact rule holds.
  */
class IncrementalDedupSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("incdedup_spec").toString

  private def rmrf(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
      .toSeq.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
  }

  // distinct word-salad texts: no accidental shingle collisions
  private def doc(i: Int): String =
    s"unique alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  test("store dups, delta dups, and kept docs are labeled with the right dup_of") {
    val store = frame((0L until 6L).map(i => i -> doc(i.toInt)))
    // 10: copy of store doc 2 -> dup_store(2); 11+12: copies of each
    // other -> 12 dup_delta(11); 13: fresh -> kept
    val delta = frame(Seq(
      10L -> doc(2), 11L -> doc(40), 12L -> doc(40), 13L -> doc(41)))
    val dir = tmpDir()
    try {
      IncrementalDedup.writeStore(store, "text", "doc_id", dir, nBuckets = 8)
      val out = IncrementalDedup.dedupDelta(delta, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(out(10L) == (("dup_store", 2L)))
      assert(out(11L) == (("kept", -1L)))
      assert(out(12L) == (("dup_delta", 11L)))
      assert(out(13L) == (("kept", -1L)))
    } finally rmrf(dir)
  }

  test("mega-bucket store: per-bucket owner collapse keeps dup_of = min id; delta stage guarded") {
    // A 300-member boilerplate clique in the STORE (one signature shared
    // by all) is the probe-side twin of the lshCandidates mega-bucket:
    // without the per-(band,sig) owner pre-aggregate the probe join
    // emits |store bucket| rows per colliding delta doc. Semantics must
    // be unchanged by the collapse: every colliding delta doc maps to
    // the MINIMUM store id.
    val boiler = "the same parked domain boilerplate body verbatim"
    val store = frame((1L to 300L).map(_ -> boiler) ++ Seq(900L -> doc(900)))
    // delta: 40 more copies of the boilerplate (all must dup_store -> 1),
    // plus a fresh 30-member within-delta clique, plus one unique doc
    val fresh = "fresh adversarial clique body repeated across the delta"
    val delta = frame((1000L to 1039L).map(_ -> boiler) ++
      (2000L to 2029L).map(_ -> fresh) ++ Seq(3000L -> doc(3000)))
    val dir = tmpDir()
    try {
      IncrementalDedup.writeStore(store, "text", "doc_id", dir, nBuckets = 8)
      def run(cap: graft.operators.Dedup.BucketCap) =
        IncrementalDedup.dedupDelta(delta, "text", "doc_id", dir, cap = cap)
          .collect().map(r => r.getLong(0) ->
            ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      val unlimited = run(graft.operators.Dedup.BucketCap.Unlimited)
      (1000L to 1039L).foreach(i => assert(unlimited(i) == (("dup_store", 1L)), s"doc $i"))
      (2001L to 2029L).foreach(i => assert(unlimited(i) == (("dup_delta", 2000L)), s"doc $i"))
      assert(unlimited(2000L) == (("kept", -1L)))
      assert(unlimited(3000L) == (("kept", -1L)))
      // r15: the within-delta stage runs the guard's CONNECTIVITY face —
      // a cap below the fresh clique bounds the pair join but the star
      // edges keep the clique connected, so verdicts under ANY cap equal
      // the unlimited run (the r14 trade, where capped clique members
      // surfaced kept until the next shard, is gone)
      val capped = run(graft.operators.Dedup.BucketCap.Fixed(5))
      assert(capped == unlimited, "capped verdicts must equal unlimited (star edges)")
      // the default auto guard is total and identical too
      val auto = run(graft.operators.Dedup.BucketCap.Auto())
      assert(auto.size == delta.count())
      assert(auto == unlimited, "auto verdicts must equal unlimited (star edges)")
    } finally rmrf(dir)
  }

  test("IR dedup-delta audit-path: the within-delta guard's account lands as parquet") {
    val boiler = "the same parked domain boilerplate body verbatim"
    val store = frame(Seq(0L -> doc(0)))
    val delta = frame((2000L to 2049L).map(_ -> boiler) ++ Seq(3000L -> doc(3000)))
    val dir = tmpDir()
    val auditPath = s"${tmpDir()}/audit"
    try {
      IncrementalDedup.writeStore(store, "text", "doc_id", dir, nBuckets = 8)
      val node = graft.ir.Node.fromJson(
        s"""{"action":"dedup-delta",
           | "params":[{"id":"doc_id","text":"text","store-path":"$dir",
           |            "max-bucket":5,"audit-path":"$auditPath"}],
           | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      val out = graft.ir.Engine.run(node, delta,
        graft.ir.EngineCtx(testMode = true)).taps("out")
      // connectivity face: verdicts equal the unlimited run even capped
      val verdicts = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(verdicts(2000L) == "kept" && verdicts(2001L) == "dup_delta")
      val audit = spark.read.parquet(auditPath).collect()
      assert(audit.length == 1)
      assert(audit.head.getAs[Long]("excluded_buckets") > 0L,
        "the capped 50-member clique must be accounted in the audit")
    } finally rmrf(dir)
  }

  test("update appends survivors: re-feeding the same delta is all dup_store") {
    val store = frame(Seq(0L -> doc(0)))
    val delta = frame(Seq(20L -> doc(50), 21L -> doc(51), 22L -> doc(50)))
    val dir = tmpDir()
    try {
      IncrementalDedup.writeStore(store, "text", "doc_id", dir, nBuckets = 8)
      val first = IncrementalDedup.dedupDelta(delta, "text", "doc_id", dir, update = true)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(first == Map(20L -> "kept", 21L -> "kept", 22L -> "dup_delta"))
      // idempotence: the survivors are in the store now
      val again = IncrementalDedup.dedupDelta(delta, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
      assert(again(20L) == (("dup_store", 20L)))
      assert(again(21L) == (("dup_store", 21L)))
      assert(again(22L) == (("dup_store", 20L)), "the copy collides with its kept twin")
    } finally rmrf(dir)
  }

  test("the probe reads only touched sigbucket partitions") {
    val store = frame((0L until 64L).map(i => i -> doc(i.toInt)))
    val one = frame(Seq(99L -> doc(3)))
    val dir = tmpDir()
    // files actually opened by the scan (post-planning metric — the
    // relation's static inputFiles list does NOT reflect pruning)
    def filesRead(df: DataFrame): Long = {
      df.collect() // execute THIS Dataset's QueryExecution so its metrics fill
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
      scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
    }
    try {
      IncrementalDedup.writeStore(store, "text", "doc_id", dir, nBuckets = 32)
      val total = filesRead(spark.read.parquet(s"$dir/bands"))
      // one doc touches at most 4 buckets (4 bands); the pruned scan
      // must open at most that many partitions' files
      val meta = IncrementalDedup.readMeta(spark, dir)
      val bands = meta.k / meta.rowsPerBand
      val deltaBands = graft.operators.Dedup.bandTable(one, "text", "doc_id")
      val touched = deltaBands
        .select(pmod(graft.functions.Text.md5Hash64(col("sig")), lit(32L)))
        .distinct().collect().map(_.getLong(0))
      val pruned = filesRead(spark.read.parquet(s"$dir/bands")
        .filter(col("sigbucket").isin(touched: _*)))
      assert(touched.length <= bands)
      assert(pruned <= touched.length && pruned < total,
        s"pruned scan must skip partitions: $pruned vs $total")
      // and the probe still finds the collision through the pruned path
      val hits = IncrementalDedup.storeHits(one, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hits == Map(99L -> 3L))
    } finally rmrf(dir)
  }

  test("streaming loop: later micro-batches dedup against earlier accepted batches") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val dir = tmpDir()
    try {
      IncrementalDedup.writeStore(frame(Seq(0L -> doc(0))), "text", "doc_id", dir, nBuckets = 8)
      val q = IncrementalDedup.dedupDeltaStream(
        ms.toDF().toDF("doc_id", "text"), "text", "doc_id",
        dir, s"$dir/out", s"$dir/ck")
      try {
        ms.addData((1L, doc(10)), (2L, doc(0))) // 2 is a store dup
        q.processAllAvailable()
        ms.addData((3L, doc(10)), (4L, doc(11))) // 3 dups batch-0's kept doc 1
        q.processAllAvailable()
        val kept = s.read.parquet(s"$dir/out")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(kept == Set(1L, 4L),
          "survivors: batch-0 keeps 1 (2 = store dup); batch-1 keeps 4 (3 dups 1)")
      } finally q.stop()
      // replay-isolation law: a batch re-run with its OWN delta_bands
      // excluded reproduces its original verdicts — the crash-recovery
      // path cannot collide with its half-committed self
      val replay = IncrementalDedup.dedupDelta(
        frame(Seq(1L -> doc(10), 2L -> doc(0))), "text", "doc_id", dir,
        excludeBatch = Some(0L))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(replay == Map(1L -> "kept", 2L -> "dup_store"))

      // compaction folds delta_bands into the base layout with
      // identical verdicts, and a second compaction is a no-op
      val probe = frame(Seq(40L -> doc(10), 41L -> doc(0), 42L -> doc(70)))
      val before = IncrementalDedup.dedupDelta(probe, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      IncrementalDedup.compactStore(s, dir)
      assert(!new java.io.File(s"$dir/delta_bands").exists, "delta dirs folded away")
      val after = IncrementalDedup.dedupDelta(probe, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(after == before)
      assert(before == Map(40L -> "dup_store", 41L -> "dup_store", 42L -> "kept"))
      IncrementalDedup.compactStore(s, dir) // idempotent no-op

      // compaction crash recovery: the between-renames state (live dir
      // gone, old image aside) self-heals on the next probe; stale
      // leftovers next to a live dir are swept
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/bands"),
        java.nio.file.Paths.get(s"$dir/bands_old"))
      assert(IncrementalDedup.dedupDelta(probe, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == before)
      assert(new java.io.File(s"$dir/bands").exists)
      assert(!new java.io.File(s"$dir/bands_old").exists)
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/bands_old"))
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/bands_compact_tmp"))
      assert(IncrementalDedup.dedupDelta(probe, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap == before)
      assert(!new java.io.File(s"$dir/bands_old").exists)
      assert(!new java.io.File(s"$dir/bands_compact_tmp").exists)
    } finally rmrf(dir)
  }

  test("missing store and malformed recipe fail loudly") {
    val dir = tmpDir()
    try {
      intercept[Exception] {
        IncrementalDedup.readMeta(spark, s"$dir/nope")
      }
      intercept[IllegalArgumentException] {
        IncrementalDedup.writeStore(frame(Seq(1L -> doc(1))), "text", "doc_id",
          s"$dir/bad", k = 8, rowsPerBand = 3) // 8 % 3 != 0
      }
    } finally rmrf(dir)
  }

  test("IR dedup-delta artifact rule and run; output-dedup-store validates") {
    val s = spark
    val store = frame(Seq(0L -> doc(0)))
    val delta = frame(Seq(30L -> doc(0), 31L -> doc(60)))
    val dir = tmpDir()
    try {
      IncrementalDedup.writeStore(store, "text", "doc_id", dir, nBuckets = 8)
      // validate is total though the path does not exist yet
      val v = Node.fromJson(
        """{"action":"dedup-delta",
          | "params":[{"id":"doc_id","text":"text","store-path":"/does/not/exist"}],
          | "children":[]}""".stripMargin)
      assert(Engine.validate(v, s, schema = delta.schema).isEmpty)
      val badCol = Node.fromJson(
        """{"action":"dedup-delta",
          | "params":[{"id":"nope","text":"text","store-path":"/x"}],
          | "children":[]}""".stripMargin)
      assert(Engine.validate(badCol, s, schema = delta.schema).nonEmpty)
      assert(Engine.validate(Node.fromJson(
        """{"action":"output-dedup-store","params":[{"id":"doc_id","text":"text","path":"/x"}],
          | "children":[]}""".stripMargin), s, schema = delta.schema).isEmpty)

      val out = Engine.run(Node.fromJson(
        s"""{"action":"dedup-delta",
           | "params":[{"id":"doc_id","text":"text","store-path":"$dir"}],
           | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
        delta, EngineCtx(testMode = true)).taps("out")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(30L -> "dup_store", 31L -> "kept"))
    } finally rmrf(dir)
  }

  test("append after a crash between the compaction renames keeps the base bands") {
    // the crash leaves bands/ missing and bands_old/ present; the append
    // must restore the old image before it writes, or the next probe
    // sweeps bands_old as stale and every store doc is forgotten
    val store = frame((0L until 25L).map(i => i -> doc(i.toInt)))
    val dir = tmpDir()
    try {
      IncrementalDedup.writeStore(store, "text", "doc_id", dir, nBuckets = 8)
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/bands"),
        java.nio.file.Paths.get(s"$dir/bands_old"))
      IncrementalDedup.appendToStore(frame(Seq(100L -> doc(100))), "text", "doc_id", dir)
      val copies = frame((0L until 25L).map(i => (1000L + i) -> doc(i.toInt)) :+
        (2000L -> doc(100)))
      val out = IncrementalDedup.dedupDelta(copies, "text", "doc_id", dir)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(out == ((0L until 25L).map(i => (1000L + i) -> (("dup_store", i))) :+
        (2000L -> (("dup_store", 100L)))).toMap)
      assert(!new java.io.File(s"$dir/bands_old").exists)
    } finally rmrf(dir)
  }
}
