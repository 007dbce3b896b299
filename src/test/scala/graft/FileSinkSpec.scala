package graft

import graft.ir.{Engine, EngineCtx, Node, StreamRegistry}
import graft.model.Event
import graft.sinks.FileSink
import org.apache.hadoop.fs.{FileSystem => HadoopFs, Path => HadoopPath}
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The append-only JSON-lines sink: same files as `df.write.json`, one
  * staged job per call (none for a driver-local frame of one partition),
  * nothing published by a call that fails, and concurrent appends into one
  * directory that neither collide nor lose rows.
  */
class FileSinkSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): Path = tempDir(prefix)

  private def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil else Files.walk(root).iterator().asScala.toSeq

  /** Data files a Spark reader sees: no hidden (`_`/`.`) path component. */
  private def partFiles(root: Path): Seq[Path] = walk(root).filter { p =>
    Files.isRegularFile(p) &&
      !root.relativize(p).iterator().asScala.exists(c => c.toString.startsWith("_") || c.toString.startsWith("."))
  }

  private def stagingDirs(root: Path): Seq[Path] =
    walk(root).filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("_staging-"))

  /** Everything below the shared `<root>/_staging` directory: no file
    * once a call returned, and never a subdirectory (calls stage flat).
    */
  private def staged(root: Path): Seq[Path] = {
    val dir = root.resolve("_staging")
    walk(dir).filterNot(_ == dir)
  }

  /** Partition directory (relative to the sink root) → its sorted lines. */
  private def layout(root: Path): Map[String, Seq[String]] =
    partFiles(root).groupBy(p => root.relativize(p.getParent).toString).map { case (d, fs) =>
      d -> fs.flatMap(f => Files.readAllLines(f).asScala).sorted
    }

  /** Spark jobs started by `body`, counted by a job group; a later fence
    * job orders the listener's view.
    */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-fence", "fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains(s"$group-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(s"$group-fence"))
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** The rows of the first layout test, before its `repartition(3)`. */
  private def localFixture: DataFrame =
    events(
      ev(1, 1 * S, host = "plain", tags = Seq("a", "b"), attributes = Map("k" -> "v", "x" -> "y"), id = 1),
      ev(2, 2 * S, host = "a/b=c d", tags = Nil, id = 2),
      ev(3, 3 * S, host = "a/b=c d", attributes = Map("only" -> "one"), id = 3),
      ev(4, 86400 * S + 5, host = "plain", id = 4),
      ev(5, 86400 * S + 6, host = "plain", service = "other", id = 5))
      .union(events(ev(6, 7 * S, id = 6), ev(7, 8 * S, id = 7))
        .withColumn("host", lit(null).cast("string"))
        .withColumn("metric", lit(null).cast("double"))
        .withColumn("description", when(col("eventId") === 6, lit("has one")))
        .withColumn("service", when(col("eventId") === 7, lit("s1"))))

  private val boom = udf((m: Double) => if (m == 666.0) throw new IllegalStateException("boom") else m)

  test("files and directory names equal df.write.json: nulls, tags, attributes, escaped and null partition values") {
    val df = events(
      ev(1, 1 * S, host = "plain", tags = Seq("a", "b"), attributes = Map("k" -> "v", "x" -> "y"), id = 1),
      ev(2, 2 * S, host = "a/b=c d", tags = Nil, id = 2),
      ev(3, 3 * S, host = "a/b=c d", attributes = Map("only" -> "one"), id = 3),
      ev(4, 86400 * S + 5, host = "plain", id = 4),
      ev(5, 86400 * S + 6, host = "plain", service = "other", id = 5))
      .union(events(ev(6, 7 * S, id = 6), ev(7, 8 * S, id = 7))
        .withColumn("host", lit(null).cast("string"))
        .withColumn("metric", lit(null).cast("double"))
        .withColumn("description", when(col("eventId") === 6, lit("has one")))
        .withColumn("service", when(col("eventId") === 7, lit("s1"))))
      .repartition(3)
    val ours = tmp("graft-fsink").resolve("out")
    FileSink.write(df, ours.toString, Seq("host", "service"), Some("yyyy-MM-dd"))
    val ref = tmp("graft-fsink-ref").resolve("out")
    df.withColumn("date", date_format(timestamp_micros(expr("time div 1000")), "yyyy-MM-dd"))
      .write.partitionBy("host", "service", "date").json(ref.toString)

    val got = layout(ours)
    assert(got == layout(ref))
    assert(got.keySet.contains("host=a%2Fb%3Dc d/service=s1/date=1970-01-01"))
    assert(got.keySet.contains("host=__HIVE_DEFAULT_PARTITION__/service=__HIVE_DEFAULT_PARTITION__/date=1970-01-01"))
    assert(got.values.map(_.size).sum == 7)
    assert(stagingDirs(ours).isEmpty)
    assert(Files.isDirectory(ours.resolve("_staging")))
    assert(staged(ours).isEmpty)
    assert(!Files.exists(ours.resolve("_SUCCESS")))

    // unpartitioned: one directory, the same lines
    val flat = tmp("graft-fsink-flat").resolve("out")
    FileSink.write(df, flat.toString)
    val flatRef = tmp("graft-fsink-flat-ref").resolve("out")
    df.write.json(flatRef.toString)
    assert(layout(flat) == layout(flatRef))
    assert(layout(flat).keySet == Set(""))
    assert(staged(flat).isEmpty)
  }

  test("an empty frame creates the sink directory and publishes no part file") {
    val empty = events(ev(1, 1 * S)).limit(0)
    for (fields <- Seq(Nil, Seq("host"))) {
      val out = tmp("graft-fsink-empty").resolve("out")
      FileSink.write(empty, out.toString, fields)
      assert(Files.isDirectory(out))
      assert(partFiles(out).isEmpty, fields)
      assert(stagingDirs(out).isEmpty, fields)
      assert(staged(out).isEmpty, fields)
    }
  }

  test("a job failing in one task publishes nothing, leaves no staging directory, and output-file throws") {
    val df = events((1 to 8).map(i => ev(if (i == 5) 666 else i, i * S, host = s"h${i % 2}", id = i)): _*)
      .repartition(4)
      .withColumn("metric", boom(col("metric")))
    for (fields <- Seq(Nil, Seq("host"))) {
      val out = tmp("graft-fsink-fail").resolve("out")
      intercept[Exception](FileSink.write(df, out.toString, fields))
      assert(walk(out).filter(Files.isRegularFile(_)).isEmpty, fields)
      assert(stagingDirs(out).isEmpty, fields)
      assert(staged(out).isEmpty, fields)
      // a failed call with no other call in flight removes the emptied _staging
      assert(!Files.exists(out.resolve("_staging")), fields)
    }
    val out = tmp("graft-fsink-fail-ir").resolve("out")
    val node = Node.fromJson(s"""{"action":"output-file","params":[{"path":"$out"}]}""")
    intercept[Exception](Engine.run(node, df, EngineCtx(testMode = false)))
    assert(walk(out).filter(Files.isRegularFile(_)).isEmpty)
    assert(staged(out).isEmpty)
  }

  test("a job failing before it starts returns at once and leaves nothing staged") {
    // runJob computes the partitions before it submits a job, so this call
    // fails with no job listed under its tag
    val noParts = new RDD[Row](spark.sparkContext, Nil) {
      override def compute(p: Partition, ctx: TaskContext): Iterator[Row] = Iterator.empty
      override protected def getPartitions: Array[Partition] = throw new IllegalStateException("no partitions")
    }
    val df = spark.createDataFrame(noParts, events(ev(1, 1 * S)).schema)
    val out = tmp("graft-fsink-nojob").resolve("out")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](FileSink.write(df, out.toString, Nil))
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(e.getMessage == "no partitions")
    assert(ms < 5000, s"$ms ms")
    assert(walk(out).filter(Files.isRegularFile(_)).isEmpty)
    assert(!Files.exists(out.resolve("_staging")))
  }

  test("concurrent appends into one directory: 4 threads x 25 calls, every row once, no staging left") {
    for (fields <- Seq(Nil, Seq("host"))) {
      val out = tmp("graft-fsink-conc").resolve("out")
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { t =>
        val th = new Thread(() => (0 until 25).foreach { k =>
          val base = (t * 25 + k) * 3
          val df = events((1 to 3).map(j => ev(j, (base + j) * S, host = s"h${j % 2}", id = base + j)): _*)
          try FileSink.write(df, out.toString, fields)
          catch { case e: Throwable => errors.add(e) }
        })
        th.start()
        th
      }
      threads.foreach(_.join())
      assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("; "))
      val ids = spark.read.json(out.toString).select("eventId").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == (1 to 300).map(_.toLong), fields)
      assert(stagingDirs(out).isEmpty, fields)
      assert(staged(out).isEmpty, fields)
    }
  }

  test("a driver-local frame of one partition is written without a Spark job: the files of df.write.json") {
    val df = localFixture.coalesce(1)
    // a frame behind a shuffle still runs jobs: the count sees them
    assert(jobsOf("fsink-job")(FileSink.write(localFixture.repartition(3), tmp("graft-fsink-job").resolve("out").toString)) > 0)

    val ours = tmp("graft-fsink-drv").resolve("out")
    assert(jobsOf("fsink-drv")(FileSink.write(df, ours.toString, Seq("host", "service"), Some("yyyy-MM-dd"))) == 0)
    val ref = tmp("graft-fsink-drv-ref").resolve("out")
    df.withColumn("date", date_format(timestamp_micros(expr("time div 1000")), "yyyy-MM-dd"))
      .write.partitionBy("host", "service", "date").json(ref.toString)
    val got = layout(ours)
    assert(got == layout(ref))
    assert(got.values.map(_.size).sum == 7)
    assert(partFiles(ours).forall(_.getFileName.toString.matches("part-00000-[0-9a-f-]{36}-a0\\.json")))
    assert(staged(ours).isEmpty)
    assert(!Files.exists(ours.resolve("_SUCCESS")))

    val flat = tmp("graft-fsink-drv-flat").resolve("out")
    assert(jobsOf("fsink-drv-flat")(FileSink.write(df, flat.toString)) == 0)
    val flatRef = tmp("graft-fsink-drv-flat-ref").resolve("out")
    df.write.json(flatRef.toString)
    assert(layout(flat) == layout(flatRef))
    assert(staged(flat).isEmpty)

    // a pushed frame through the alert shape: grouped, windowed, no job
    val pushed = Event.frame(spark, (0 until 10).map(i =>
      ev(60.0 + i, (i * 2L) * S, host = s"h${i % 3}", id = i.toLong)))
    val out = tmp("graft-fsink-drv-ir").resolve("out")
    val node = Node.fromJson(
      s"""{"action":"by","params":[["host"]],"children":[
         |  {"action":"fixed-time-window","params":[{"duration":10}],"children":[
         |    {"action":"coll-mean","children":[{"action":"output-file","params":[{"path":"$out"}]}]}]}]}""".stripMargin)
    var res: graft.ir.StreamResult = null
    assert(jobsOf("fsink-drv-ir") { res = Engine.run(node, pushed, EngineCtx(testMode = false)) } == 0)
    val irRef = tmp("graft-fsink-drv-ir-ref").resolve("out")
    res.sinks.head._2.write.json(irRef.toString)
    assert(layout(out) == layout(irRef))
    assert(layout(out).values.map(_.size).sum == 6) // 3 hosts x 2 windows
  }

  test("a row function failing on the driver publishes nothing, stages nothing, and returns without a job wait") {
    val df = events((1 to 8).map(i => ev(if (i == 5) 666 else i, i * S, host = s"h${i % 2}", id = i)): _*)
      .coalesce(1)
      .withColumn("metric", boom(col("metric")))
    intercept[Exception](FileSink.write(df, tmp("graft-fsink-drv-warm").resolve("out").toString)) // codegen warm-up
    for (fields <- Seq(Nil, Seq("host"))) {
      val out = tmp("graft-fsink-drv-fail").resolve("out")
      var ms = 0L
      val jobs = jobsOf(s"fsink-drv-fail-${fields.size}") {
        val t0 = System.nanoTime()
        val e = intercept[Exception](FileSink.write(df, out.toString, fields))
        ms = (System.nanoTime() - t0) / 1000000L
        assert(e.getMessage.contains("boom"), e.toString)
      }
      assert(jobs == 0, fields)
      assert(ms < 500, s"$ms ms $fields")
      assert(walk(out).filter(Files.isRegularFile(_)).isEmpty, fields)
      assert(staged(out).isEmpty, fields)
      assert(!Files.exists(out.resolve("_staging")), fields)
    }
  }

  test("sink files, their checksums and directories carry the permission bits of a Hadoop default create") {
    val conf = spark.sparkContext.hadoopConfiguration
    val ref = tmp("graft-fsink-perm-ref")
    val hadoop = HadoopFs.getLocal(conf)
    hadoop.mkdirs(new HadoopPath(ref.resolve("dir").toUri))
    hadoop.create(new HadoopPath(ref.resolve("dir/f.json").toUri)).close()
    def perms(p: Path) = Files.getPosixFilePermissions(p).asScala.toSet
    val (dirPerms, filePerms, crcPerms) =
      (perms(ref.resolve("dir")), perms(ref.resolve("dir/f.json")), perms(ref.resolve("dir/.f.json.crc")))
    assert(filePerms != dirPerms)
    val df = events((1 to 4).map(i => ev(i, i * S, host = s"h${i % 2}", id = i)): _*)
    for ((frame, name) <- Seq((df.coalesce(1), "driver"), (df.repartition(2), "job"))) {
      val out = tmp(s"graft-fsink-perm-$name").resolve("out")
      FileSink.write(frame, out.toString, Seq("host"))
      val files = partFiles(out)
      assert(files.size == (if (name == "driver") 2 else 4), name)
      files.foreach { f =>
        assert(perms(f) == filePerms, s"$name $f")
        assert(perms(f.resolveSibling("." + f.getFileName + ".crc")) == crcPerms, s"$name $f")
        assert(perms(f.getParent) == dirPerms, s"$name ${f.getParent}")
      }
      assert(perms(out) == dirPerms && perms(out.resolve("_staging")) == dirPerms, name)
    }
  }

  test("concurrent driver-side appends into one directory: 4 threads x 25 one-partition calls, every row once") {
    for (fields <- Seq(Nil, Seq("host"))) {
      val out = tmp("graft-fsink-conc-drv").resolve("out")
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map { t =>
        val th = new Thread(() => (0 until 25).foreach { k =>
          val base = (t * 25 + k) * 3
          val df = events((1 to 3).map(j => ev(j, (base + j) * S, host = s"h${j % 2}", id = base + j)): _*)
            .coalesce(1)
          try FileSink.write(df, out.toString, fields)
          catch { case e: Throwable => errors.add(e) }
        })
        th.start()
        th
      }
      threads.foreach(_.join())
      assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("; "))
      val ids = spark.read.json(out.toString).select("eventId").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted == (1 to 300).map(_.toLong), fields)
      assert(stagingDirs(out).isEmpty, fields)
      assert(staged(out).isEmpty, fields)
    }
  }

  test("the first call into a path sweeps staged files and _staging-* directories older than an hour") {
    val out = tmp("graft-fsink-stale").resolve("out")
    val stagingDir = Files.createDirectories(out.resolve("_staging"))
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000)
    val oldId = UUID.randomUUID()
    val oldStaged = Files.writeString(stagingDir.resolve(s"$oldId-p0-a0-0.json"), "{}\n")
    val oldCrc = Files.writeString(stagingDir.resolve(s".$oldId-p0-a0-0.json.crc"), "x")
    val orphanCrc = Files.writeString(stagingDir.resolve(s".${UUID.randomUUID()}-p1-a0-0.json.crc"), "x")
    val oldDir = Files.createDirectories(out.resolve("_staging-x"))
    val oldDirFile = Files.writeString(oldDir.resolve("part-00000.json"), "{}\n")
    Seq(oldStaged, oldCrc, orphanCrc, oldDirFile, oldDir).foreach(Files.setLastModifiedTime(_, old))
    // a staged file of another call, in flight
    val fresh = Files.writeString(stagingDir.resolve(s"${UUID.randomUUID()}-p0-a0-0.json"), "{}\n")

    FileSink.write(events(ev(1, 1 * S, id = 1)).coalesce(1), out.toString)
    assert(Seq(oldStaged, oldCrc, orphanCrc, oldDir).forall(p => !Files.exists(p)))
    assert(Files.exists(fresh))
    assert(staged(out) == Seq(fresh))
    assert(layout(out).values.flatten.size == 1)
  }

  test("concurrent pushes of one compiled stream each write their own rows on the driver") {
    // the pushes share the stream's compiled plan and its expressions,
    // among them the lambda variables of coll-mean's `aggregate`
    def pipeline(out: Path) = Node.fromJson(
      s"""{"action":"by","params":[["host"]],"children":[
         |  {"action":"fixed-time-window","params":[{"duration":10}],"children":[
         |    {"action":"coll-mean","children":[{"action":"output-file","params":[{"path":"$out"}]}]}]}]}""".stripMargin)
    def frame(k: Int) = Event.frame(spark, (0 until 40).map(i =>
      ev((k * 37 + i * 11) % 100, (k * 100L + i * 2L) * S, host = s"h${i % 4}", id = k * 40L + i)))
    val (threads, pushes) = (4, 40)
    val out = tmp("graft-fsink-conc-push").resolve("out")
    val registry = new StreamRegistry(EngineCtx(testMode = false))
    registry.add("alerts", pipeline(out))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() => (0 until pushes).foreach { k =>
        try registry.push(frame(t * pushes + k), "alerts")
        catch { case e: Throwable => errors.add(e) }
      })
      th.start()
      th
    }
    ts.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("; "))
    val ref = tmp("graft-fsink-conc-push-ref").resolve("out")
    val sequential = new StreamRegistry(EngineCtx(testMode = false))
    sequential.add("alerts", pipeline(ref))
    (0 until threads * pushes).foreach(k => sequential.push(frame(k), "alerts"))
    assert(layout(out) == layout(ref))
    assert(layout(out).values.map(_.size).sum == threads * pushes * 4 * 8) // 4 hosts x 8 windows per push
  }
}
