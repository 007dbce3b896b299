package graft.sinks

import graft.ir.{PushPlans, SinkSpec}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext, TaskKilledException}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JSON-lines file sink — the Spark-native form of the reference's `file`
  * output (`/root/reference/src/clojure/mirabelle/output/file.clj:10-50`):
  * the reference templates one output path per event from field values
  * and/or a date pattern; a distributed engine expresses the same layout as
  * partition directories (`field=value/.../date=.../part-*.json`), which
  * also makes the written data partition-prunable on re-read.
  *
  * [[write]] is an append-only protocol, not the Hadoop commit protocol of
  * `df.write`. A frame pushed through a compiled stream runs the lines
  * plan that stream keeps for this sink (`graft.ir.PushPlans`): optimized,
  * planned and code-generated at the stream's first push into the sink,
  * then run on each push's rows on the calling thread, with no Catalyst
  * phase, no Spark job and no task copy. Any other frame, or a pushed one
  * whose plan cannot be kept (a `current_timestamp()` or `rand()` in it),
  * plans its lines per call: when the plan reads only driver-local rows
  * (every leaf a `LocalTableScanExec`, no exchange, no subquery) in one
  * partition, it is written on the calling thread with no Spark job
  * (`Bridge.computeOnDriver`); otherwise it runs one Spark job per call.
  * All run the same task function, inside one SQL execution that
  * listeners see. Every call stages in one shared hidden directory,
  * `<path>/_staging/`, created once and kept: a task writes flat files
  * there, one per (task attempt × partition directory), each named
  * `<callId>-p<partition>-a<attempt>-<k>.json` after the call's random
  * id. Once every task succeeded, the driver renames the files of the
  * successful attempts into their partition directories as
  * `part-<partition>-<callId>-a<attempt>.json`. In a `finally`, on
  * success and failure alike, it deletes every staged file named after
  * its call id (and their hidden `.crc` checksums), which also removes the
  * files of failed task attempts; a failed job first waits, within a
  * bound, for its killed tasks to end, so none creates a file after the
  * sweep. A call that fails anywhere also deletes the files it already
  * renamed, and the emptied staging directory when no other call of the
  * process is in flight, then rethrows, so a failed (nacked) push leaves
  * no rows. No successful call creates or removes a directory of its own
  * (partition directories aside, once each). Calls own disjoint file
  * names, so concurrent appends into one path are safe. No `_SUCCESS`
  * marker is written. A process that dies mid-call leaves its staged
  * files behind; Spark's readers skip them (underscore prefix), and the
  * first call into the same path of a later process deletes staged
  * files older than an hour, with any `_staging-*` directory of the
  * per-call staging that earlier versions used.
  *
  * On a `file:` path the sink creates files and directories through a
  * local file system that sets their permissions with NIO: Hadoop's own
  * forks a `chmod` for each one when native Hadoop is not loaded, several
  * milliseconds per file on the serving path. Checksums (`.crc`),
  * permission bits and names are the same.
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

  /** The local file system of the last configuration asked for. */
  private var localFs: (Configuration, FileSystem) = (null, null)

  /** The file system the sink writes `path` with. A `file:` path, chosen
    * by its scheme, gets a checksummed local file system over
    * [[NioLocalFileSystem]], built here: `fs.file.impl` cannot select it,
    * since Hadoop caches file systems by scheme and user, not by
    * configuration.
    */
  private def fileSystem(path: Path, conf: Configuration): FileSystem = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    if (scheme != "file") path.getFileSystem(conf)
    else synchronized {
      if (localFs._1 ne conf) {
        val fs = new LocalFileSystem(new NioLocalFileSystem)
        fs.initialize(URI.create("file:///"), conf)
        localFs = (conf, fs)
      }
      localFs._2
    }
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

  /** Age past which a staged file, or a `_staging-*` directory of the
    * per-call staging of earlier versions, is taken to be left by a
    * process that died mid-call. No call of a live process takes so long.
    */
  private val StaleAfterMs = 60L * 60 * 1000

  /** Sink roots this process has swept for what crashed processes left. */
  private val sweptRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  /** Deletes, once per sink root and process, the staged files older than
    * [[StaleAfterMs]] and the `_staging-*` directories as old. Listing
    * goes through the raw file system, so orphaned `.crc` files go too.
    * Best effort, like the per-call sweep.
    */
  private def sweepStale(fs: FileSystem, root: Path, staging: Path): Unit =
    if (sweptRoots.add(root)) {
      val raw = fs match { case c: ChecksumFileSystem => c.getRawFileSystem; case f => f }
      val cutoff = System.currentTimeMillis() - StaleAfterMs
      def stale(s: FileStatus) = s.getModificationTime < cutoff
      try {
        raw.listStatus(staging).filter(s => s.isFile && stale(s)).foreach(s => raw.delete(s.getPath, false))
        raw.listStatus(root, (p: Path) => p.getName.startsWith(StagingDir + "-"))
          .filter(s => s.isDirectory && stale(s)).foreach(s => raw.delete(s.getPath, true))
      } catch { case NonFatal(_) => }
    }

  /** The frame's lines: (partition directory, JSON line) per row, sorted
    * by directory when the sink is partitioned.
    */
  private def lines(df: DataFrame, spec: SinkSpec): DataFrame = {
    val (toWrite, partCols) = spec.datePattern match {
      case Some(p) => (df.withColumn("date", dateCol(p)), spec.partitionFields :+ "date")
      case None    => (df, spec.partitionFields)
    }
    val dir = concat_ws("/", partCols.map(c => partitionDir(c)(quoted(c).cast("string"))): _*)
    val data = struct(toWrite.columns.filterNot(partCols.contains).map(quoted).toIndexedSeq: _*)
    val l = toWrite.select(dir.as("dir"), to_json(data).as("json"))
    if (partCols.isEmpty) l else l.sortWithinPartitions("dir")
  }

  def write(df: DataFrame, spec: SinkSpec): Unit = {
    val sc = df.sparkSession.sparkContext
    val base = new Path(spec.path)
    val fs = fileSystem(base, sc.hadoopConfiguration)
    val root = fs.makeQualified(base)
    val staging = new Path(root, StagingDir)
    val callId = UUID.randomUUID().toString
    val task = writeTask(taskConfFor(sc), staging.toString, callId) _
    val published = scala.collection.mutable.ArrayBuffer[Path]()
    var failed = true
    var submitted = false
    enter(staging)
    try {
      fs.mkdirs(staging) // also the sink root; a no-op once both exist
      sweepStale(fs, root, staging)
      // the rows go straight from the plan to the writers: no Row
      // deserialization, and still one SQL execution that listeners see.
      // A pushed frame runs its stream's kept plan for this sink on the
      // driver. Otherwise, a job runs this object's task function, which
      // captures no `this`: `collect` would hand the closure cleaner a
      // lambda of `RDD`, whose class file it re-reads on every call.
      val files = PushPlans.run(df, spec)(lines(_, spec))((plan, rows) => plan.run(rows, "FileSink.write")(task))
        .getOrElse {
          val qe = lines(df, spec).queryExecution
          SQLExecution.withNewExecutionId(qe, Some("FileSink.write")) {
            if (Bridge.driverLocal(qe.executedPlan) && qe.toRdd.partitions.length == 1)
              Bridge.computeOnDriver(qe.toRdd)(task)
            else {
              // the tag finds the call's job again if it fails (see awaitTasksEnded)
              sc.addJobTag(callId)
              try {
                val rdd = qe.toRdd
                submitted = true
                sc.runJob(rdd, task).flatten
              } finally sc.removeJobTag(callId)
            }
          }
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
      if (failed && submitted) awaitTasksEnded(sc, callId)
      try fs.listStatus(staging, (p: Path) =>
          p.getName.startsWith(callId) || p.getName.startsWith("." + callId))
        .foreach(f => fs.delete(f.getPath, false))
      catch { case NonFatal(_) => }
      leave(fs, staging, failed)
    }
  }

  /** Longest wait of a failed call for its job's tasks to end. */
  private val TaskEndWaitMs = 10000L

  /** How long a failed call waits for the status tracker to list its job
    * at all. A job that failed before it started (its partitions or its
    * stages could not be built) is never listed and ran no task; a job
    * that did start is listed once the listener bus delivers its start,
    * within milliseconds.
    */
  private val JobListedWaitMs = 500L

  /** Waits, at most [[TaskEndWaitMs]], until the job tagged `tag` has
    * ended and no task of its stages is active, or, if no job with that
    * tag is listed after [[JobListedWaitMs]], not at all. `runJob` throws
    * at the first failed task, before the job's other tasks have seen
    * their kill; one of them may still be creating a staged file and its
    * checksum, which the sweep must come after. The status tracker learns
    * of the job's end and of each task's end through the listener bus,
    * in order, so a job it shows ended with no active task has no task
    * left running.
    */
  private def awaitTasksEnded(sc: SparkContext, tag: String): Unit = {
    val st = sc.statusTracker
    val start = System.nanoTime()
    def waitedMs = (System.nanoTime() - start) / 1000000L
    def running = {
      val jobs = st.getJobIdsForTag(tag).flatMap(st.getJobInfo(_))
      if (jobs.isEmpty) waitedMs < JobListedWaitMs
      else jobs.exists(j => j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => st.getStageInfo(s).exists(_.numActiveTasks > 0)))
    }
    while (running && waitedMs < TaskEndWaitMs) Thread.sleep(2)
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
    val fs = fileSystem(stagingDir, conf.value.value)
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

/** The raw local file system, with the permission of each created file
  * and directory set through NIO. Hadoop's own forks a `chmod` for each
  * when native Hadoop is not loaded.
  */
private final class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // PosixFilePermission lists owner, group, others, each r, w, x: mode bits 8 to 0
    val perms = PosixFilePermission.values().filter(perm => (permission.toShort & (0x100 >> perm.ordinal)) != 0)
    Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
  }
}
