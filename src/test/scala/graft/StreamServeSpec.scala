package graft

import graft.model.Event
import graft.operators.Analytics
import graft.streaming.StreamServe
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The config-declared long-running streaming path: a `:streaming` section
  * in the main config.edn must parse into query specs, boot a
  * file-source → TTL'd-stateful-op → checkpointed-file-sink query, and —
  * the whole point — RESUME per-key state and source offsets across a
  * server restart instead of reseeding.
  */
class StreamServeSpec extends AnyFunSuite {
  import TestSpark._

  private val S = Event.NsPerSecond

  private def ev(metric: Double, timeNs: Long, host: String, id: Long): Event =
    Event(Some(host), Some("svc"), None, Some("ok"), Some(metric), timeNs,
      Some(120.0), None, Nil, Map.empty, id)

  test("config.edn :streaming section parses into query specs; malformed entries warn") {
    val conf = graft.ir.Config.parse(
      """{:streaming {:queries [{:name "ewma-hosts"
        |                        :source {:type "file" :path "in/" :format "json"}
        |                        :op {:action "ewma" :r 0.5 :keys ["host"]}
        |                        :sink {:path "out/" :checkpoint "ck/"}}
        |                       {:source {:type "rate"}}]}}""".stripMargin)
    assert(conf.streaming.map(_.name) == Seq("ewma-hosts"))
    assert(conf.streaming.head.op("action") == "ewma")
    assert(conf.warnings.exists(_.contains("streaming query #1")))
  }

  test("boot from config: file source -> ewma -> checkpointed sink; restart resumes state") {
    val s = spark
    import s.implicits._
    val base = TestSpark.tempDir("stream_serve")
    val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))

    val conf = graft.ir.Config.parse(
      s"""{:streaming {:queries [{:name "ewma-hosts"
         |                        :source {:type "file" :path "$inDir" :format "json"}
         |                        :op {:action "ewma" :r 0.5 :keys ["host"]}
         |                        :sink {:path "$outDir" :checkpoint "$ckDir"
         |                               :format "json"}}]}}""".stripMargin)
    assert(conf.streaming.size == 1)

    // ewma chains state across events per host: ids 3/4 are only correct
    // if the restart resumed the means left by ids 1/2
    val fixture = Seq(ev(10, 1 * S, "a", 1), ev(20, 2 * S, "a", 2),
      ev(2, 3 * S, "a", 3), ev(8, 4 * S, "a", 4))

    def land(events: Seq[Event]): Unit =
      events.toDS().coalesce(1).write.mode("append").json(inDir)

    land(fixture.take(2))
    val q1 = StreamServe.start(s, conf.streaming.head)
    q1.processAllAvailable(); q1.stop()

    land(fixture.drop(2))
    val q2 = StreamServe.start(s, conf.streaming.head) // same checkpoint
    q2.processAllAvailable(); q2.stop()

    val streamed = s.read.schema(Event.schema).json(outDir)
      .select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = Analytics.ewmaTimeless(0.5, Seq("host"))(events(fixture: _*))
      .toDF().select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch) // ids 1-4 all present, state carried over
    assert(streamed.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("crash mid-commit window: replayed batch is deduped by the sink manifest (exactly-once)") {
    // The real failure mode for a config-declared long-running query is a
    // crash BETWEEN the file sink's manifest commit and the checkpoint's
    // offset-commit record — Structured Streaming then replays the whole
    // micro-batch on restart, and exactly-once holds only because the
    // sink manifest already lists that batchId. Simulate that exact
    // on-disk state deterministically: process a batch, then delete its
    // `commits/<id>` marker from the checkpoint (the crash window's
    // signature), restart, land more data, and require the final output
    // to equal the batch twin with NO duplicate rows.
    //
    // Reference delta: mirabelle's SIGHUP hot reload keeps operator state
    // live in-process (stream.clj:227-259); the Spark twin's contract is
    // checkpoint RESTART — same query + same checkpoint resumes state and
    // offsets, and a torn shutdown must not double-write.
    val s = spark
    import s.implicits._
    val base = TestSpark.tempDir("stream_crash")
    val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val conf = graft.ir.Config.parse(
      s"""{:streaming {:queries [{:name "ewma-crash"
         |                        :source {:type "file" :path "$inDir" :format "json"}
         |                        :op {:action "ewma" :r 0.5 :keys ["host"]}
         |                        :sink {:path "$outDir" :checkpoint "$ckDir"
         |                               :format "json"}}]}}""".stripMargin)
    val fixture = Seq(ev(10, 1 * S, "a", 1), ev(20, 2 * S, "a", 2),
      ev(2, 3 * S, "a", 3), ev(8, 4 * S, "a", 4))
    def land(events: Seq[Event]): Unit =
      events.toDS().coalesce(1).write.mode("append").json(inDir)

    land(fixture.take(2))
    val q1 = StreamServe.start(s, conf.streaming.head)
    q1.processAllAvailable(); q1.stop()

    // tear the commit record of the last completed batch: offsets say
    // "planned", sink manifest says "written", commits say nothing —
    // exactly what a kill -9 in the commit window leaves behind
    val commits = new java.io.File(s"$ckDir/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "expected at least one committed batch")
    assert(commits.last.delete(), "failed to tear the commit record")
    // Hadoop's local ChecksumFileSystem shadows each entry with a .N.crc
    // file; a stale one left beside the torn record would make the
    // replayed commit write look like a concurrent-query conflict
    val crc = new java.io.File(s"$ckDir/commits/.${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()

    land(fixture.drop(2))
    val q2 = StreamServe.start(s, conf.streaming.head) // same checkpoint
    q2.processAllAvailable(); q2.stop()

    val streamed = s.read.schema(Event.schema).json(outDir)
      .select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    // exactly-once: no eventId appears twice even though batch 0 was
    // re-executed after the torn commit
    assert(streamed.length == streamed.map(_._1).distinct.length,
      s"duplicate rows after crash replay: ${streamed.toSeq.sorted}")
    val batch = Analytics.ewmaTimeless(0.5, Seq("host"))(events(fixture: _*))
      .toDF().select("eventId", "metric").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.toMap == batch && streamed.toMap.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("seeded kill-point sweep: clean / torn commit / mid-batch / mid-write / torn state delta replay exactly-once (ewma + throttle + stable)") {
    // Generalizes the single torn-commit test above to a seeded sweep of
    // the four distinct on-disk states a kill -9 can leave, for a
    // chain-stateful op (ewma), a counter-stateful op (throttle) and a
    // BUFFER-stateful op (stable — a half-buffered run must resume from
    // the checkpoint, not re-seed); every op is `by`-forked on host
    // (the fixture alternates two hosts, so per-key state is exercised
    // across the fence too):
    //
    //  - clean      : stop between batches — offsets, sink manifest and
    //                 commit records all consistent
    //  - torn-commit: offsets + sink manifest written, commits/<id>
    //                 missing (killed between sink commit and the
    //                 checkpoint's offset-commit record)
    //  - mid-batch  : offsets written, NEITHER sink manifest nor commit
    //                 record (killed during batch execution) — data
    //                 files may exist on disk as orphans absent from the
    //                 manifest, and the reader must exclude them
    //  - mid-write  : killed DURING a sink data-file write — a PARTIAL
    //                 (truncated, not even valid JSON) orphan part file
    //                 sits in the output dir with no manifest entry; the
    //                 manifest-driven reader must never surface it
    //  - torn-state : killed DURING the state store's own delta write —
    //                 commit record missing AND the newest
    //                 state/**/<v>.delta truncated mid-stream (any
    //                 matching <v>.snapshot gone too); recovery must
    //                 replay the batch from the previous version's
    //                 delta chain and OVERWRITE the torn file, never
    //                 read it
    //
    // Every scenario must converge to the batch twin with no duplicate
    // and no missing rows after restart + replay.
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(1404L)
    val fixture = (1 to 12).map(i =>
      ev(rng.nextInt(100).toDouble, i.toLong * S, if (i % 2 == 0) "a" else "b", i.toLong))
    val lands = fixture.grouped(3).toSeq // 4 micro-batch lands
    val ops: Seq[(String, String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      ("ewma", """:op {:action "ewma" :r 0.5 :keys ["host"]}""",
        df => Analytics.ewmaTimeless(0.5, Seq("host"))(df).toDF()),
      ("throttle", """:op {:action "throttle" :count 2 :seconds 4 :keys ["host"]}""",
        df => Analytics.throttle(2, 4, Seq("host"))(df)),
      ("stable", """:op {:action "stable" :seconds 4 :field "state" :keys ["host"]}""",
        df => Analytics.stable(4, "state", Seq("host"))(df)))
    for ((opName, opEdn, batchTwin) <- ops;
         kill <- Seq("clean", "torn-commit", "mid-batch", "mid-write", "torn-state")) {
      val afterBatch = 1 + rng.nextInt(2) // seeded kill position (after land 1 or 2)
      val base = TestSpark.tempDir(s"stream_sweep_${opName}_$kill")
      val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
      val conf = graft.ir.Config.parse(
        s"""{:streaming {:queries [{:name "sweep"
           |                        :source {:type "file" :path "$inDir" :format "json"}
           |                        $opEdn
           |                        :sink {:path "$outDir" :checkpoint "$ckDir"
           |                               :format "json"}}]}}""".stripMargin)
      def land(events: Seq[Event]): Unit =
        events.toDS().coalesce(1).write.mode("append").json(inDir)
      def lastBatchFile(dir: String): java.io.File = {
        val fs = new java.io.File(dir).listFiles()
          .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
        assert(fs.nonEmpty, s"[$opName/$kill] no batch records in $dir")
        fs.last
      }
      def tear(f: java.io.File): Unit = {
        val crc = new java.io.File(f.getParent, s".${f.getName}.crc")
        assert(f.delete(), s"[$opName/$kill] failed to delete $f")
        if (crc.exists()) crc.delete()
      }
      // phase 1: process lands 0..afterBatch, then kill
      land(lands(0))
      val q1 = StreamServe.start(s, conf.streaming.head)
      q1.processAllAvailable()
      (1 to afterBatch).foreach { b => land(lands(b)); q1.processAllAvailable() }
      q1.stop()
      // a kill -9 takes the whole JVM: drop the state store providers'
      // in-memory loadedMaps cache so recovery reads the DISK state the
      // kill left behind (with the cache warm, a replayed batch skips
      // re-writing a delta version it believes committed — which hides
      // exactly the torn-file faults this sweep plants)
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      kill match {
        case "clean" => ()
        case "torn-commit" =>
          tear(lastBatchFile(s"$ckDir/commits"))
        case "mid-batch" =>
          val last = lastBatchFile(s"$ckDir/commits")
          val id = last.getName
          tear(last)
          // the sink manifest entry for the same batch: gone too — the
          // already-written data files stay behind as orphans
          val manifest = new java.io.File(s"$outDir/_spark_metadata/$id")
          if (manifest.exists()) tear(manifest)
        case "mid-write" =>
          val last = lastBatchFile(s"$ckDir/commits")
          val id = last.getName
          tear(last)
          val manifest = new java.io.File(s"$outDir/_spark_metadata/$id")
          if (manifest.exists()) tear(manifest)
          // the kill landed mid-write: a truncated part file (not even a
          // complete JSON line) is on disk, absent from the manifest
          val orphan = new java.io.File(outDir,
            "part-00000-00000000-dead-beef-0000-000000000000-c000.json")
          java.nio.file.Files.write(orphan.toPath,
            """{"host":"a","metric":12.""".getBytes("UTF-8"))
        case "torn-state" =>
          // the kill lands DURING batch (vMax - 1)'s state write, where
          // vMax is the newest delta version on disk (batch N reads
          // state version N and writes N + 1). Everything the engine
          // writes AFTER the state commit of that batch — its own
          // commit record, and any trailing no-data watermark-advance
          // batch's offsets/commits — cannot exist at such a kill, so
          // the fixture erases them; leaving them would model an
          // impossible disk state (a committed batch whose state
          // finalization never happened) that recovery rightly cannot
          // serve
          val stateRoot = java.nio.file.Paths.get(s"$ckDir/state")
          assert(java.nio.file.Files.isDirectory(stateRoot),
            s"[$opName/$kill] no state dir — op not stateful?")
          val deltas = java.nio.file.Files.walk(stateRoot).iterator().asScala
            .filter(p => p.toString.endsWith(".delta")).toSeq
          assert(deltas.nonEmpty, s"[$opName/$kill] no state deltas under $stateRoot")
          def version(p: java.nio.file.Path): Long =
            p.getFileName.toString.stripSuffix(".delta").toLong
          val vMax = deltas.map(version).max
          val killBatch = vMax - 1
          // the state delta write happens inside batch killBatch's write
          // JOB — so at the kill, neither the sink manifest for that
          // batch (written at job completion; leaving it would make the
          // replay skip the whole job, state commit included), nor its
          // offset-commit record, nor anything from later batches can
          // exist yet
          for (log0 <- Seq("commits", "offsets", "out-manifest");
               dir0 = if (log0 == "out-manifest") s"$outDir/_spark_metadata" else s"$ckDir/$log0";
               f <- Option(new java.io.File(dir0).listFiles()).toSeq.flatten
               if f.getName.forall(_.isDigit)
               if f.getName.toLong > killBatch ||
                 ((log0 == "commits" || log0 == "out-manifest") && f.getName.toLong == killBatch))
            tear(f)
          deltas.filter(version(_) == vMax).foreach { p =>
            val bytes = java.nio.file.Files.readAllBytes(p)
            java.nio.file.Files.write(p, bytes.take(math.max(1, bytes.length / 2)))
            // a mid-write kill never finalizes the checksum sidecars:
            // drop Spark 4's own <v>.delta.crc AND the Hadoop dot-crcs
            // (leaving the sidecar would model a DIFFERENT fault —
            // silent post-commit corruption — which Spark rightly
            // refuses to load)
            Seq(s".${p.getFileName}.crc", s"${p.getFileName}.crc",
                s".${p.getFileName}.crc.crc",
                s"$vMax.snapshot", s".$vMax.snapshot.crc",
                s"$vMax.snapshot.crc", s".$vMax.snapshot.crc.crc")
              .foreach(n => java.nio.file.Files.deleteIfExists(p.resolveSibling(n)))
          }
      }
      // phase 2: restart from the same checkpoint, land the rest
      val q2 = StreamServe.start(s, conf.streaming.head)
      q2.processAllAvailable()
      ((afterBatch + 1) until lands.length).foreach { b =>
        land(lands(b)); q2.processAllAvailable()
      }
      q2.stop()
      val streamed = s.read.schema(Event.schema).json(outDir)
        .select("eventId", "metric").collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      assert(streamed.length == streamed.map(_._1).distinct.length,
        s"[$opName/$kill/after=$afterBatch] duplicates after replay: ${streamed.toSeq.sorted}")
      val expect = batchTwin(events(fixture: _*))
        .select("eventId", "metric").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed.toMap == expect,
        s"[$opName/$kill/after=$afterBatch] stream != batch twin: " +
          s"got ${streamed.toSeq.sorted}, want ${expect.toSeq.sorted}")
    }
  }

  test("rate source maps onto the canonical event schema") {
    val df = StreamServe.source(spark,
      Map("type" -> "rate", "rows-per-second" -> (2: Integer), "hosts" -> (2: Integer)))
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq == Event.schema.fieldNames.toSeq)
  }

  test("metric-quantiles op: config-declared KMV monitor over the event stream") {
    val s = spark
    import s.implicits._
    val base = TestSpark.tempDir("stream_serve_kmv")
    val (inDir, outDir, ckDir) = (s"$base/in", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    val conf = graft.ir.Config.parse(
      s"""{:streaming {:queries [{:name "metric-q"
         |                        :source {:type "file" :path "$inDir" :format "json"}
         |                        :op {:action "metric-quantiles" :seconds 60
         |                             :delay-seconds 10 :k 8 :qs [0.0 0.5 1.0]}
         |                        :sink {:path "$outDir" :checkpoint "$ckDir"
         |                               :format "json"}}]}}""".stripMargin)
    // 10 events in one window; a far-future event closes it
    val fixture = (1 to 10).map(i => ev(i.toDouble, i.toLong * S, "a", i.toLong)) :+
      ev(0, 100000 * S, "z", 99L)
    fixture.toDS().coalesce(1).write.mode("append").json(inDir)
    val q = StreamServe.start(s, conf.streaming.head)
    q.processAllAvailable(); q.stop()
    val out = s.read.json(outDir)
    val row = out.filter(org.apache.spark.sql.functions.col("window_start") === 0L)
      .select("n_rows", "quantiles").collect()
    assert(row.length == 1 && row.head.getLong(0) == 10L)
    // k=8 < 10 rows: the KMV sample's min/max bound the estimates
    val qs = row.head.getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getDouble(r.fieldIndex("q")) -> r.getDouble(r.fieldIndex("value"))).toMap
    assert(qs.keySet == Set(0.0, 0.5, 1.0))
    assert(qs(0.0) <= qs(0.5) && qs(0.5) <= qs(1.0))
    assert(qs(0.0) >= 1.0 && qs(1.0) <= 10.0)
  }

  test("unsupported op / source / missing sink keys fail loudly at boot, not at runtime") {
    val e1 = intercept[IllegalArgumentException](
      StreamServe.transform(Map("action" -> "nope")))
    assert(e1.getMessage.contains("not supported"))
    val e2 = intercept[IllegalArgumentException](
      StreamServe.source(spark, Map("type" -> "kafka")))
    assert(e2.getMessage.contains("file|rate"))
    val e3 = intercept[IllegalArgumentException](
      StreamServe.start(spark, StreamServe.QuerySpec("x",
        Map("type" -> "rate"), Map("action" -> "ewma"), Map("path" -> "p"))))
    assert(e3.getMessage.contains("checkpoint"))
  }
}
