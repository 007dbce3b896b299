package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted-store protocol shared by [[IncrementalDedup]]
  * (`bands/`), [[SubstringStore]] (`hashes/`), the BM25 index of
  * [[Retrieval]] (`postings/`) and the DDSketch store of [[Sketches]]
  * (`buckets/`). A store is a root directory holding a LIVE image, an
  * optional `delta_<kind>/batch=N/` directory of streaming appends, and a
  * one-row `meta/` table pinning the store's recipe.
  *
  * Crash consistency, written once: [[swap]] replaces the live image as
  * stage to tmp → rename live aside to `<live>_old` → rename tmp in →
  * the caller's cleanup → delete old, and [[recover]] repairs a crash
  * after any of those steps. Every public read and write entry point of
  * the four stores runs [[recover]] before it touches the live image, so
  * none of them ever sees a store without one complete image on disk.
  */
private[operators] object BucketedStore {

  /** Directory names, under a store's root, of its live image and of the
    * stage a [[swap]] writes (`<live>_compact_tmp` for the bucketed
    * stores, `buckets_tmp` for DDSketch).
    */
  final case class Dirs(live: String, tmp: String)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, dir: String): Boolean = fs(spark, dir).exists(new Path(dir))

  def delete(spark: SparkSession, dir: String): Unit = {
    fs(spark, dir).delete(new Path(dir), true)
    ()
  }

  private def paths(path: String, dirs: Dirs): (Path, Path, Path) =
    (new Path(s"$path/${dirs.live}"), new Path(s"$path/${dirs.live}_old"),
      new Path(s"$path/${dirs.tmp}"))

  /** Repair a half-finished [[swap]] (a few `exists` calls when nothing
    * is wrong; idempotent). A live image makes `<live>_old` and the tmp
    * stage stale: both are swept. A missing live image with `<live>_old`
    * present means the crash hit between the two renames: the old image
    * is renamed back, which undoes the swap (the caller's cleanup had not
    * run yet, so nothing is lost), and the stage is swept.
    */
  def recover(spark: SparkSession, path: String, dirs: Dirs): Unit = {
    val f = fs(spark, path)
    val (live, old, tmp) = paths(path, dirs)
    if (f.exists(live)) {
      f.delete(old, true)
      f.delete(tmp, true)
    } else if (f.exists(old)) {
      require(f.rename(old, live), s"recover: rename $old -> $live failed")
      f.delete(tmp, true)
    }
    ()
  }

  /** Replace the live image: `stage` writes the new image to the tmp dir
    * it is given, live is renamed aside to `<live>_old`, the stage is
    * renamed in, `afterSwap` runs (a compaction deletes the deltas it
    * folded), and the old image is deleted. A `stage` that throws leaves
    * the live image untouched; a crash after any later step leaves a
    * state [[recover]] turns back into one complete live image.
    */
  def swap(spark: SparkSession, path: String, dirs: Dirs)(stage: String => Unit)(
      afterSwap: => Unit): Unit = {
    val f = fs(spark, path)
    val (live, old, tmp) = paths(path, dirs)
    stage(s"$path/${dirs.tmp}")
    require(f.rename(live, old), s"swap: rename $live -> $old failed")
    require(f.rename(tmp, live), s"swap: rename $tmp -> $live failed")
    afterSwap
    f.delete(old, true)
    ()
  }

  /** Write `df` under `dir` partitioned by `bucketCol`, one writer per
    * bucket (repartitioning ON the partition column gives a bucket one
    * file per write, not one per task), with a parquet bloom filter on
    * `bloomCol` when one is given. `dynamic` overwrites only the buckets
    * `df` holds.
    */
  def write(df: DataFrame, dir: String, bucketCol: String, bloomCol: Option[String],
            nParts: Int, mode: String, dynamic: Boolean = false): Unit = {
    val w = df.repartition(nParts, col(bucketCol)).write.mode(mode)
    val withBloom = bloomCol.fold(w)(c => w
      .option(s"parquet.bloom.filter.enabled#$c", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$c", "1000000"))
    (if (dynamic) withBloom.option("partitionOverwriteMode", "dynamic") else withBloom)
      .partitionBy(bucketCol).parquet(dir)
  }

  /** The live image (after [[recover]]) unioned with every
    * `<deltaDir>/batch=N/` append except `excludeBatch`, projected to
    * `cols`. Excluding the batch being replayed keeps a re-run
    * micro-batch from probing its own half-committed rows.
    */
  def read(spark: SparkSession, path: String, dirs: Dirs, deltaDir: String,
           excludeBatch: Option[Long], cols: Seq[String]): DataFrame = {
    recover(spark, path, dirs)
    val base = spark.read.parquet(s"$path/${dirs.live}").select(cols.map(col): _*)
    if (!exists(spark, s"$path/$deltaDir")) base
    else base.unionByName(spark.read.parquet(s"$path/$deltaDir")
      .filter(excludeBatch.fold(lit(true))(b => col("batch") =!= b))
      .select(cols.map(col): _*))
  }

  /** The store's `meta/` row projected to `cols`; fails loudly on a
    * missing store or a meta table that does not hold exactly one row.
    */
  def meta(spark: SparkSession, path: String, cols: String*): Row = {
    val rows = spark.read.parquet(s"$path/meta").select(cols.map(col): _*).collect()
    require(rows.length == 1, s"meta: expected 1 meta row at $path, got ${rows.length}")
    rows.head
  }

  /** The value set (bucket ids or key hashes) that `src`'s first action
    * collected as the observed metric `metric`, i.e.
    * `src.observe(metric, collect_set(…))`. The metric rides that action
    * instead of a separate distinct+collect job; `fallback` runs such a
    * job if the metric is absent.
    */
  def touched(src: Dataset[_], metric: String)(fallback: => Array[Long]): Array[Long] =
    src.queryExecution.observedMetrics.get(metric)
      .map(_.getSeq[Long](0).toArray)
      .getOrElse(fallback)
}
