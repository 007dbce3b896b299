package graft

import graft.ir.{Engine, EngineCtx, Node}
import graft.sinks.FileSink
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The append-only JSON-lines sink: same files as `df.write.json`, one
  * staged job per call, nothing published by a call that fails, and
  * concurrent appends into one directory that neither collide nor lose
  * rows.
  */
class FileSinkSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)

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
}
