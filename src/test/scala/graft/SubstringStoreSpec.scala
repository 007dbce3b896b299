package graft

import graft.operators.SubstringStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The window-hash store's streaming loop and maintenance: sequential
  * micro-batches cut against everything already accepted, replay
  * isolation (a batch never probes its own half-committed hashes), and
  * compaction folding delta dirs with identical probe results. The
  * batch probe/append faces are pinned in OperatorSpec and the
  * `substring_store_probe` oracle gate.
  */
class SubstringStoreSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("sstore_stream").toString

  private def rmrf(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path))
      java.nio.file.Files.walk(path).iterator().asScala.toSeq.reverse
        .foreach(x => java.nio.file.Files.deleteIfExists(x))
  }

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("streaming cut loop: later batches cut against earlier accepted content; compaction invariant") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.classic.SQLContext =
      s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val dir = tmpDir()
    try {
      val n = 4
      SubstringStore.writeStore(
        frame(Seq(0L -> "alpha beta gamma delta epsilon")),
        "text", "doc_id", s"$dir/store", minLen = n, nBuckets = 8)
      val q = SubstringStore.cutDeltaStream(
        ms.toDF().toDF("doc_id", "text"), "text", "doc_id",
        s"$dir/store", s"$dir/out", s"$dir/ck")
      try {
        // batch 0: doc 1 shares the store's full run (cut to tail);
        // doc 2 is novel and its kept content enters the store
        ms.addData(
          (1L, "alpha beta gamma delta epsilon fresh tail words go here today"),
          (2L, "one two three four five six"))
        q.processAllAvailable()
        // batch 1: doc 3 repeats doc 2's ACCEPTED content -> fully cut;
        // doc 4 is novel
        ms.addData(
          (3L, "one two three four five six"),
          (4L, "nothing in common with anything stored"))
        q.processAllAvailable()
      } finally q.stop()
      val out = (0 to 1).flatMap(b =>
        s.read.parquet(s"$dir/out/batch=$b")
          .collect().map(r => r.getLong(0) -> r.getString(1))).toMap
      assert(out(1L) == "fresh tail words go here today",
        s"store-shared prefix must cut: ${out(1L)}")
      assert(out(2L) == "one two three four five six")
      assert(out(3L) == "", s"doc 3 repeats accepted batch-0 content: '${out(3L)}'")
      assert(out(4L) == "nothing in common with anything stored")

      // replay isolation: re-probing batch 1's input with its OWN batch
      // excluded reproduces the original spans (crash-retry path)
      val replay = SubstringStore.probeDelta(
        frame(Seq(3L -> "one two three four five six",
          4L -> "nothing in common with anything stored")),
        "text", "doc_id", s"$dir/store", excludeBatch = Some(1L))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(replay == Set(3L), "only doc 3 has store-shared spans on replay")

      // compaction: identical probe results, delta dirs folded away
      val probe = frame(Seq(50L -> "alpha beta gamma delta",
        51L -> "fresh tail words go here plus extra tokens"))
      def spansOf(): Set[(Long, Long, Long)] =
        SubstringStore.probeDelta(probe, "text", "doc_id", s"$dir/store")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val before = spansOf()
      SubstringStore.compactStore(s, s"$dir/store")
      assert(!new java.io.File(s"$dir/store/delta_hashes").exists,
        "delta dirs folded away")
      assert(spansOf() == before, "compaction must not change any probe")
      SubstringStore.compactStore(s, s"$dir/store") // idempotent no-op
      // doc 50 hits the ORIGINAL store; 51 hits batch-0's accepted tail
      assert(before.exists(_._1 == 50L) && before.exists(_._1 == 51L), s"$before")
    } finally rmrf(dir)
  }

  test("compaction crash recovery: every interrupted swap state restores a complete layout on the next probe") {
    val s = spark
    val dir = tmpDir()
    try {
      val n = 4
      SubstringStore.writeStore(
        frame(Seq(0L -> "alpha beta gamma delta epsilon",
          1L -> "one two three four five")),
        "text", "doc_id", s"$dir/store", minLen = n, nBuckets = 8)
      val probe = frame(Seq(50L -> "alpha beta gamma delta", 51L -> "one two three four"))
      def spansOf(): Set[(Long, Long, Long)] =
        SubstringStore.probeDelta(probe, "text", "doc_id", s"$dir/store")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = spansOf()
      assert(want.nonEmpty)
      def mv(a: String, b: String): Unit =
        java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/store/$a"),
          java.nio.file.Paths.get(s"$dir/store/$b"))
      // crash between the two renames: live dir gone, old image aside
      mv("hashes", "hashes_old")
      assert(spansOf() == want, "probe must self-recover from hashes_old")
      assert(new java.io.File(s"$dir/store/hashes").exists)
      assert(!new java.io.File(s"$dir/store/hashes_old").exists)
      // crash after the swap but before the old-image delete: stale
      // leftovers next to a complete live dir are swept, not read
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(s"$dir/store/hashes_old"))
      java.nio.file.Files.createDirectory(
        java.nio.file.Paths.get(s"$dir/store/hashes_compact_tmp"))
      assert(spansOf() == want)
      assert(!new java.io.File(s"$dir/store/hashes_old").exists)
      assert(!new java.io.File(s"$dir/store/hashes_compact_tmp").exists)
      // compactStore itself starts with recovery: simulate the
      // between-renames crash then compact (no deltas -> recover + return)
      mv("hashes", "hashes_old")
      SubstringStore.compactStore(s, s"$dir/store")
      assert(spansOf() == want)
    } finally rmrf(dir)
  }

  test("missing store fails loudly") {
    intercept[Exception] {
      SubstringStore.probeDelta(frame(Seq(1L -> "a b c d")), "text", "doc_id",
        "/does/not/exist/substr")
    }
  }

  test("appendDelta after a crash between the compaction renames matches an uncrashed append") {
    val dir = tmpDir()
    try {
      val base = frame(Seq(0L -> "alpha beta gamma delta epsilon"))
      val delta = frame(Seq(7L -> "one two three four five six"))
      val probe = frame(Seq(50L -> "alpha beta gamma delta", 51L -> "two three four five"))
      def appendedSpans(store: String, crash: Boolean): Set[(Long, Long, Long)] = {
        SubstringStore.writeStore(base, "text", "doc_id", store, minLen = 4, nBuckets = 8)
        if (crash) java.nio.file.Files.move(java.nio.file.Paths.get(s"$store/hashes"),
          java.nio.file.Paths.get(s"$store/hashes_old"))
        SubstringStore.appendDelta(delta, "text", "doc_id", store)
        SubstringStore.probeDelta(probe, "text", "doc_id", store)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      }
      val want = appendedSpans(s"$dir/clean", crash = false)
      assert(want.map(_._1) == Set(50L, 51L), s"$want")
      assert(appendedSpans(s"$dir/crashed", crash = true) == want)
      assert(!new java.io.File(s"$dir/crashed/hashes_old").exists)
    } finally rmrf(dir)
  }
}
