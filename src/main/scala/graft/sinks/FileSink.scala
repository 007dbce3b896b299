package graft.sinks

import graft.ir.SinkSpec
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{SparkContext, TaskContext, TaskKilledException}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util.UUID
import scala.util.control.NonFatal

/** JSON-lines file sink — the Spark-native form of the reference's `file`
  * output (`/root/reference/src/clojure/mirabelle/output/file.clj:10-50`):
  * the reference templates one output path per event from field values
  * and/or a date pattern; a distributed engine expresses the same layout as
  * partition directories (`field=value/.../date=.../part-*.json`), which
  * also makes the written data partition-prunable on re-read.
  *
  * [[write]] is an append-only protocol with one Spark job per call, not
  * the Hadoop commit protocol of `df.write`. Every call stages in one
  * shared hidden directory, `<path>/_staging/`, created once and kept: its
  * tasks write flat files there, one per (task attempt × partition
  * directory), each named `<callId>-p<partition>-a<attempt>-<k>.json`
  * after the call's random id. Once the job succeeded, the driver renames
  * the files of the successful attempts into their partition directories
  * as `part-<partition>-<callId>-a<attempt>.json`. In a `finally`, on
  * success and failure alike, it deletes every staged file whose name
  * starts with its call id, which also removes the files of failed task
  * attempts. A call that fails anywhere also deletes the files it already
  * renamed, and the emptied staging directory when no other call of the
  * process is in flight, then rethrows, so a failed (nacked) push leaves
  * no rows. No successful call creates or removes a directory of its own
  * (partition directories aside, once each): on a local file system
  * without native Hadoop each created file or directory forks a `chmod`,
  * so a per-call directory cost milliseconds on every push. Calls own
  * disjoint file names, so concurrent appends into one path are safe. No
  * `_SUCCESS` marker is written. A process that dies mid-call leaves its
  * staged files behind; Spark's readers skip them (underscore prefix) and
  * no later call sweeps them, since it only deletes its own.
  *
  * Lines and directory names are what `df.write.partitionBy(...).json`
  * writes for the same frame: the data columns through `to_json`, the
  * partition values cast to string and escaped by the catalog's
  * partition-path rules, a null value as `__HIVE_DEFAULT_PARTITION__`.
  *
  * Scale: a task sorts its rows by partition directory and writes one file
  * per directory it holds; callers partition the frame by the template
  * fields upstream when the value cardinality is high.
  */
object FileSink {

  /** Partition column derived from the ns event time, mirroring the
    * reference's date templating (`output/file.clj:18-27`).
    */
  private def dateCol(pattern: String) =
    date_format(timestamp_micros(expr("time div 1000")), pattern)

  private def quoted(name: String) = col("`" + name.replace("`", "``") + "`")

  /** `name=value` directory of one partition column, as Spark names it. */
  private def partitionDir(name: String) =
    udf((value: String) => ExternalCatalogUtils.getPartitionPathString(name, value))

  /** The hidden directory below the sink root that every call stages its
    * files in, flat, each name prefixed with the call's id.
    */
  private val StagingDir = "_staging"

  /** `dir` below `parent`; the empty `dir` of an unpartitioned sink is `parent`. */
  private def under(parent: Path, dir: String): Path =
    if (dir.isEmpty) parent else new Path(parent, dir)

  /** The Hadoop configuration tasks open the sink's file system with,
    * broadcast once per SparkContext and reused by every call.
    */
  private var taskConf: (SparkContext, Broadcast[SerializableConfiguration]) = (null, null)

  private def taskConfFor(sc: SparkContext): Broadcast[SerializableConfiguration] = synchronized {
    if (taskConf._1 ne sc) taskConf = (sc, sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
    taskConf._2
  }

  /** Calls of this process in flight, per staging directory. */
  private val callsIn = scala.collection.mutable.HashMap[Path, Int]()

  private def enter(staging: Path): Unit = callsIn.synchronized {
    callsIn(staging) = callsIn.getOrElse(staging, 0) + 1
  }

  /** Ends a call. A failed call that was the last one in flight removes
    * the staging directory when it is empty, so a failed first call leaves
    * an empty sink directory; with no other call in flight, no task of
    * this process is creating a file in it meanwhile.
    */
  private def leave(fs: FileSystem, staging: Path, failed: Boolean): Unit = callsIn.synchronized {
    val left = callsIn(staging) - 1
    if (left == 0) callsIn -= staging else callsIn(staging) = left
    if (failed && left == 0)
      try fs.delete(staging, false) catch { case NonFatal(_) => } // not empty: kept
  }

  def write(df: DataFrame, spec: SinkSpec): Unit = {
    val (toWrite, partCols) = spec.datePattern match {
      case Some(p) => (df.withColumn("date", dateCol(p)), spec.partitionFields :+ "date")
      case None    => (df, spec.partitionFields)
    }
    val sc = df.sparkSession.sparkContext
    val base = new Path(spec.path)
    val fs = base.getFileSystem(sc.hadoopConfiguration)
    val root = fs.makeQualified(base)
    val staging = new Path(root, StagingDir)
    val callId = UUID.randomUUID().toString

    val dir = concat_ws("/", partCols.map(c => partitionDir(c)(quoted(c).cast("string"))): _*)
    val data = struct(toWrite.columns.filterNot(partCols.contains).map(quoted).toIndexedSeq: _*)
    val lines = toWrite.select(dir.as("dir"), to_json(data).as("json"))
    val qe = (if (partCols.isEmpty) lines else lines.sortWithinPartitions("dir")).queryExecution
    val conf = taskConfFor(sc)
    val stagingUri = staging.toString
    val published = scala.collection.mutable.ArrayBuffer[Path]()
    var failed = true
    enter(staging)
    try {
      fs.mkdirs(staging) // also the sink root; a no-op once both exist
      // the rows go straight from the plan to the writers: no Row
      // deserialization, and still one SQL execution that listeners see.
      // The job runs this object's task function, which captures no
      // `this`: `collect` would hand the closure cleaner a lambda of
      // `RDD`, whose class file it re-reads on every call.
      val files = SQLExecution.withNewExecutionId(qe, Some("FileSink.write")) {
        sc.runJob(qe.toRdd, writeTask(conf, stagingUri, callId) _).flatten
      }
      files.map(_._1).distinct.foreach(d => fs.mkdirs(under(root, d)))
      files.foreach { case (d, staged, name) =>
        val dst = new Path(under(root, d), name)
        if (!fs.rename(new Path(staging, staged), dst))
          throw new java.io.IOException(s"FileSink: could not rename $staged into ${dst.getParent}")
        published += dst
      }
      failed = false
    } catch {
      case e: Throwable =>
        published.foreach(p => fs.delete(p, false))
        throw e
    } finally {
      // sweep what the call left in the shared staging directory: files
      // of failed task attempts, and on failure everything not renamed.
      // Best effort: a staged file holds no published rows and readers
      // skip it, so failing here must not fail the call.
      try fs.listStatus(staging, (p: Path) => p.getName.startsWith(callId))
        .foreach(f => fs.delete(f.getPath, false))
      catch { case NonFatal(_) => }
      leave(fs, staging, failed)
    }
  }

  /** One task attempt: rows (dir, json) arrive sorted by partition
    * directory; each directory gets one file, written flat into the
    * shared staging directory as `<callId>-p<partition>-a<attempt>-<k>.json`.
    * Returns (directory, staged name, final name) per file; the final
    * name is `part-<partition>-<callId>-a<attempt>.json` in its directory.
    */
  private def writeTask(conf: Broadcast[SerializableConfiguration], staging: String, callId: String)(
      ctx: TaskContext, rows: Iterator[InternalRow]): Array[(String, String, String)] = {
    val (part, attempt) = (ctx.partitionId(), ctx.attemptNumber())
    val name = f"part-$part%05d-$callId-a$attempt.json"
    val stagingDir = new Path(staging)
    val fs = stagingDir.getFileSystem(conf.value.value)
    val written = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    var out: java.io.OutputStream = null
    var dir: UTF8String = null
    try rows.foreach { r =>
      val d = r.getUTF8String(0)
      if (out == null || d != dir) {
        if (out != null) out.close()
        // a task of a failed call keeps running until it sees its kill,
        // after the driver swept the call's files: it creates no file once
        // killed, and never re-creates a staging directory the driver removed
        if (ctx.isInterrupted()) throw new TaskKilledException("FileSink: call failed")
        dir = d.clone() // the row's buffer is reused
        val staged = s"$callId-p$part-a$attempt-${written.size}.json"
        out = fs.createFile(new Path(stagingDir, staged)).overwrite(false).build()
        written += ((dir.toString, staged, name))
      }
      r.getUTF8String(1).writeTo(out)
      out.write('\n')
    } finally if (out != null) out.close()
    written.toArray
  }

  def write(df: DataFrame, path: String, partitionFields: Seq[String] = Nil,
            datePattern: Option[String] = None): Unit =
    write(df, SinkSpec(path, partitionFields, datePattern))

  /** Bucketed parquet materialization — the 100 TB join-locality lever:
    * a corpus written with `bucketBy(n, keys)` is hash-pre-partitioned
    * ON DISK, so every later equi-join or aggregation on those keys
    * reads co-located buckets and SKIPS its shuffle entirely (Catalyst
    * sees the bucket spec as a satisfied `HashPartitioning`). Worth it
    * for any table joined repeatedly on a stable key — dedup-pair
    * joins, model-score joins, epoch-over-epoch diffs.
    *
    * Bucketed writes go through the session catalog (`saveAsTable` —
    * plain `.parquet(path)` cannot record a bucket spec), so the frame
    * lands as managed table `table` under the warehouse dir; read it
    * back with `spark.table(table)`. Both join sides must share bucket
    * count and keys for the exchange-free plan.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit = {
    require(buckets >= 1, s"writeBucketed: buckets must be >= 1, got $buckets")
    require(keys.nonEmpty, "writeBucketed: at least one bucket key")
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Parquet with per-column BLOOM FILTERS — the 100 TB point-lookup
    * lever next to [[writeBucketed]]'s join locality: a row-group whose
    * bloom filter excludes the probed value is skipped without
    * decoding, so needle queries (`doc_id = ?`, `urlkey = ?`,
    * incremental-dedup anti-joins against a small id set) read a few
    * row groups instead of the table. Complements min/max stats, which
    * only help when the column correlates with write order — hash-like
    * ids (the common corpus key) defeat min/max but are exactly what
    * blooms handle. `ndv` sizes the filter (expected distinct values
    * per row group; ~1 MB per 1M ndv at the default FPP).
    *
    * Plain writer options — no custom committer; composes with
    * `partitionFields` via the caller using `.partitionBy` upstream.
    */
  def writeWithBloom(df: DataFrame, path: String, bloomCols: Seq[String],
                     ndv: Long = 1000000L): Unit = {
    require(bloomCols.nonEmpty, "writeWithBloom: at least one bloom column")
    require(ndv >= 1L, s"writeWithBloom: ndv must be >= 1, got $ndv")
    val base = df.write.mode("overwrite")
    val withOpts = bloomCols.foldLeft(base) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }
    withOpts.parquet(path)
  }

  /** Streaming twin: the same partitioned JSON-lines layout via
    * `writeStream` (exactly-once per micro-batch through the checkpoint
    * under `<path>/_checkpoints`). Returns the query handle; callers own
    * its lifecycle.
    */
  def writeStream(df: DataFrame, spec: SinkSpec): org.apache.spark.sql.streaming.StreamingQuery = {
    val (toWrite, partCols) = spec.datePattern match {
      case Some(p) => (df.withColumn("date", dateCol(p)), spec.partitionFields :+ "date")
      case None    => (df, spec.partitionFields)
    }
    val w = toWrite.writeStream.format("json")
      .option("path", spec.path)
      .option("checkpointLocation", spec.path + "/_checkpoints")
      .outputMode("append")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w).start()
  }
}
