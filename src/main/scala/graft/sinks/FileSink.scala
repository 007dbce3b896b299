package graft.sinks

import graft.ir.SinkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import java.util.UUID

/** JSON-lines file sink — the Spark-native form of the reference's `file`
  * output (`/root/reference/src/clojure/mirabelle/output/file.clj:10-50`):
  * the reference templates one output path per event from field values
  * and/or a date pattern; a distributed engine expresses the same layout as
  * partition directories (`field=value/.../date=.../part-*.json`), which
  * also makes the written data partition-prunable on re-read.
  *
  * [[write]] is an append-only protocol with one Spark job per call, not
  * the Hadoop commit protocol of `df.write`: the tasks write their JSON
  * lines under a hidden staging directory of the call,
  * `<path>/_staging-<uuid>/`, one file per (task attempt × partition
  * directory); once the job succeeded, the driver renames the files of the
  * successful attempts into place and removes the staging directory. A call
  * that fails anywhere removes its staging directory and any file it
  * already renamed, then rethrows, so a failed (nacked) push leaves no rows.
  * Calls never share a directory of their own, so concurrent appends into
  * one path are safe. No `_SUCCESS` marker is written. A process that dies
  * mid-call leaves its `_staging-*` directory behind; Spark's readers skip
  * it (underscore prefix) and nothing sweeps it.
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

  def write(df: DataFrame, spec: SinkSpec): Unit = {
    val (toWrite, partCols) = spec.datePattern match {
      case Some(p) => (df.withColumn("date", dateCol(p)), spec.partitionFields :+ "date")
      case None    => (df, spec.partitionFields)
    }
    val sc = df.sparkSession.sparkContext
    val base = new Path(spec.path)
    val fs = base.getFileSystem(sc.hadoopConfiguration)
    val root = fs.makeQualified(base)
    fs.mkdirs(root)
    val callId = UUID.randomUUID().toString
    val staging = new Path(root, s"_staging-$callId")

    val dir = concat_ws("/", partCols.map(c => partitionDir(c)(quoted(c).cast("string"))): _*)
    val data = struct(toWrite.columns.filterNot(partCols.contains).map(quoted).toIndexedSeq: _*)
    val lines = toWrite.select(dir.as("dir"), to_json(data).as("json"))
    val qe = (if (partCols.isEmpty) lines else lines.sortWithinPartitions("dir")).queryExecution
    val conf = taskConfFor(sc)
    val stagingUri = staging.toString
    val published = scala.collection.mutable.ArrayBuffer[Path]()
    try {
      // the rows go straight from the plan to the writers: no Row
      // deserialization, and still one SQL execution that listeners see
      val files = SQLExecution.withNewExecutionId(qe, Some("FileSink.write")) {
        qe.toRdd.mapPartitions(writeTask(conf, stagingUri, callId)).collect()
      }
      files.map(_._1).distinct.foreach(d => fs.mkdirs(under(root, d)))
      files.foreach { case (d, name) =>
        val dst = new Path(under(root, d), name)
        if (!fs.rename(new Path(under(staging, d), name), dst))
          throw new java.io.IOException(s"FileSink: could not rename $name into ${dst.getParent}")
        published += dst
      }
    } catch {
      case e: Throwable =>
        published.foreach(p => fs.delete(p, false))
        throw e
    } finally {
      // best effort: a staging directory left behind holds no published
      // rows and readers skip it, so failing here must not fail the call
      try fs.delete(staging, true) catch { case scala.util.control.NonFatal(_) => }
    }
  }

  /** One task attempt: rows (dir, json) arrive sorted by partition
    * directory; each directory gets one file named after the attempt,
    * under the staging directory. Returns the (directory, file name)
    * pairs it wrote.
    */
  private def writeTask(conf: Broadcast[SerializableConfiguration], staging: String,
                        callId: String)(rows: Iterator[InternalRow]): Iterator[(String, String)] = {
    val ctx = TaskContext.get()
    val name = f"part-${ctx.partitionId()}%05d-$callId-a${ctx.attemptNumber()}.json"
    val stagingDir = new Path(staging)
    val fs = stagingDir.getFileSystem(conf.value.value)
    val written = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var out: java.io.OutputStream = null
    var dir: UTF8String = null
    try rows.foreach { r =>
      val d = r.getUTF8String(0)
      if (out == null || d != dir) {
        if (out != null) out.close()
        dir = d.clone() // the row's buffer is reused
        out = fs.create(new Path(under(stagingDir, dir.toString), name), false)
        written += ((dir.toString, name))
      }
      r.getUTF8String(1).writeTo(out)
      out.write('\n')
    } finally if (out != null) out.close()
    written.iterator
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
