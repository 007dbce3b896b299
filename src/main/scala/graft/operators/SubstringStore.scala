package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact-substring dedup against a PERSISTED window-hash
  * store — the production shape of Lee et al. 2022's ExactSubstr at
  * corpus scale (the [[IncrementalDedup]] pattern for the substring
  * family): the accepted corpus's distinct length-`minLen` window
  * hashes ARE the reusable index, so each arriving shard pays only its
  * own window pass plus a probe pruned to the hash buckets it touches —
  * the 100 TB corpus is never re-tokenized. A suffix array over the
  * union would be rebuilt per delta; the window-hash reduction is what
  * makes the operation incremental at all (same equivalence
  * [[Dedup.sharedSubstringSpans]] builds on: a shared substring of
  * length ≥ minLen ≡ a run of shared minLen-windows).
  *
  * Store layout under `path`:
  *
  *  - `hashes/hashbucket=N/…` — DISTINCT `(h, owner)` rows: each stored
  *    window hash with the smallest doc id that contains it, partitioned
  *    by `hashbucket = h mod nBuckets` with a parquet BLOOM on `h`. A
  *    delta's distinct touched buckets (≤ nBuckets driver-side values)
  *    prune the probe read; blooms skip non-colliding row groups inside
  *    touched partitions.
  *  - `meta/` — `(min_len, n_buckets)`: the window recipe, pinned like
  *    the dedup store's signature recipe — probing with a different
  *    minLen would silently miss every hash, so reads fail loudly.
  *
  * Semantics: the store is the KEEPER by construction (its docs were
  * accepted first), so every probed span in a delta doc is a CUT span —
  * the keep-first rule with ownership resolved by arrival order, which
  * is exactly how [[Dedup.sharedSubstringSpans]]'s `keepFirst` resolves
  * it by id inside one batch. Within-delta sharing is deliberately NOT
  * the probe's job: compose `sharedSubstringSpans(delta, keepFirst)`
  * for that stage, same as [[IncrementalDedup.dedupDelta]]'s two-stage
  * split.
  */
object SubstringStore {

  final case class StoreMeta(minLen: Int, nBuckets: Int)

  private val Hashes = BucketedStore.Dirs("hashes", "hashes_compact_tmp")
  private val HashCols = Seq("hashbucket", "h", "owner")

  private def bucketOf(h: Column, nBuckets: Int): Column =
    pmod(h, lit(nBuckets.toLong))

  /** (id, p, h, hashbucket) — one row per window start position. */
  private def windows(df: DataFrame, textCol: String, idCol: String,
                      m: StoreMeta): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(Dedup.windowHashes(Text.tokens(col(textCol)), m.minLen,
          Text.md5HashMod)).as(Seq("__p0", "h")))
      .select(col("id"), (col("__p0") + 1).cast("long").as("p"), col("h"),
        bucketOf(col("h"), m.nBuckets).as("hashbucket"))

  /** (hashbucket, h, owner) — each distinct hash with its smallest id. */
  private def owners(ws: DataFrame): DataFrame =
    ws.groupBy("hashbucket", "h").agg(min(col("id")).as("owner"))

  /** Create the store from an accepted corpus (overwrites `path`). */
  def writeStore(df: DataFrame, textCol: String, idCol: String, path: String,
                 minLen: Int = 50, nBuckets: Int = 64): Unit = {
    require(minLen >= 1, s"writeStore: minLen must be >= 1, got $minLen")
    require(nBuckets >= 1, s"writeStore: nBuckets must be >= 1, got $nBuckets")
    val meta = StoreMeta(minLen, nBuckets)
    // the recipe row is independent of the corpus-sized hashes write:
    // overlap the two jobs (guide §2.6 — the IncrementalDedup.writeStore
    // discipline, applied here in r17)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = df.sparkSession
    import spark.implicits._
    val metaWrite = Future {
      Seq((minLen.toLong, nBuckets.toLong)).toDF("min_len", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }
    BucketedStore.write(owners(windows(df, textCol, idCol, meta)), s"$path/hashes",
      "hashbucket", Some("h"), nBuckets, "overwrite")
    Await.result(metaWrite, Duration.Inf)
  }

  /** Read the pinned window recipe; fails loudly on a missing store. */
  def readMeta(spark: SparkSession, path: String): StoreMeta = {
    val r = BucketedStore.meta(spark, path, "min_len", "n_buckets")
    StoreMeta(r.getLong(0).toInt, r.getLong(1).toInt)
  }

  /** All stored hash rows: the base `hashes/` layout plus any streaming
    * `delta_hashes/batch=N/` appends — excluding `excludeBatch` so a
    * REPLAYED micro-batch never probes its own hashes (the exactly-once
    * linchpin of [[cutDeltaStream]], same as
    * [[IncrementalDedup.dedupDeltaStream]]'s band exclusion). Repairs a
    * half-finished [[compactStore]] first ([[BucketedStore.recover]]).
    */
  private def readHashes(spark: SparkSession, path: String,
                         excludeBatch: Option[Long]): DataFrame =
    BucketedStore.read(spark, path, Hashes, "delta_hashes", excludeBatch, HashCols)

  /** Cut spans of a delta against the store: `(idCol, begin_tok,
    * end_tok, n_tokens)` — 1-based inclusive disjoint spans per delta
    * doc covering every maximal run of window starts whose hash exists
    * in the store (same gaps-and-islands algebra as
    * [[Dedup.sharedSubstringSpans]]). The store side is a pruned,
    * bloom-skipped scan semi-joined to the delta's hashes; only the
    * delta's window table ever shuffles. Skew note: the store side is
    * DISTINCT per hash (one row per h), so a boilerplate hash ubiquitous
    * in the delta never multiplies rows through the semi-join, and the
    * fat delta-side partition is AQE-skew-splittable — unlike a window
    * over `partitionBy(h)`, which this operator deliberately avoids.
    */
  def probeDelta(delta: DataFrame, textCol: String, idCol: String,
                 path: String, excludeBatch: Option[Long] = None): DataFrame =
    probeDelta(delta, textCol, idCol, path, excludeBatch, readMeta(delta.sparkSession, path))

  private def probeDelta(delta: DataFrame, textCol: String, idCol: String, path: String,
                         excludeBatch: Option[Long], m: StoreMeta): DataFrame = {
    // the touched-bucket set rides the Materialize job as an observed metric
    val dwSrc = windows(delta, textCol, idCol, m)
      .observe("graft_substr_touched", collect_set(col("hashbucket")).as("hb"))
    val dw = Materialize(dwSrc)
    val touched = BucketedStore.touched(dwSrc, "graft_substr_touched")(
      dw.select("hashbucket").distinct().collect().map(_.getLong(0)))
    val store = readHashes(delta.sparkSession, path, excludeBatch)
      .filter(col("hashbucket").isin(touched: _*))
      .select(col("h"))
    val hits = dw.join(store, Seq("h"), "left_semi")
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("p"))
    val lagP = lag(col("p"), 1).over(wd)
    hits
      .withColumn("__new", when(lagP.isNull || col("p") - lagP > m.minLen, 1L)
        .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(wd.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("p")).as("begin_tok"),
        (max(col("p")) + lit((m.minLen - 1).toLong)).as("end_tok"))
      .select(col("id").as(idCol), col("begin_tok"), col("end_tok"),
        (col("end_tok") - col("begin_tok") + 1).as("n_tokens"))
  }

  /** Merge a delta's window hashes into the store (touched buckets
    * only, dynamic partition overwrite — the
    * [[Retrieval.appendBm25Index]] df-merge shape): new hashes arrive
    * with the delta's min id as owner, existing hashes keep
    * `min(old owner, delta owner)` — arrival order preserved since
    * store ids predate delta ids in any sane id scheme, and the min is
    * deterministic regardless. Run AFTER cutting/accepting the delta
    * (store what you kept, like [[IncrementalDedup]]'s survivors rule).
    */
  def appendDelta(delta: DataFrame, textCol: String, idCol: String,
                  path: String): Unit = {
    val spark = delta.sparkSession
    BucketedStore.recover(spark, path, Hashes)
    val m = readMeta(spark, path)
    val dhSrc = owners(windows(delta, textCol, idCol, m))
      .observe("graft_substr_touched", collect_set(col("hashbucket")).as("hb"))
    val dh = Materialize(dhSrc)
    val touched = BucketedStore.touched(dhSrc, "graft_substr_touched")(
      dh.select("hashbucket").distinct().collect().map(_.getLong(0)))
    val merged = spark.read.parquet(s"$path/hashes")
      .filter(col("hashbucket").isin(touched: _*))
      .select(HashCols.map(col): _*)
      .unionByName(dh.select(HashCols.map(col): _*))
      .groupBy("hashbucket", "h").agg(min(col("owner")).as("owner"))
      .localCheckpoint() // breaks lineage to the files the write replaces
    BucketedStore.write(merged, s"$path/hashes", "hashbucket", Some("h"),
      math.max(touched.length, 1), "overwrite", dynamic = true)
  }

  /** The continuously-ingesting cut loop — "remove already-seen text as
    * the crawl arrives": every micro-batch probes the store, its
    * store-shared spans are CUT, the cut documents land under
    * `outPath/batch=N/` and the KEPT content's window hashes under
    * `<storePath>/delta_hashes/batch=N/` — so sequential batches dedup
    * against everything already accepted, including earlier batches.
    *
    * Exactly-once without a transaction log, exactly as
    * [[IncrementalDedup.dedupDeltaStream]]: both writes are per-batch-
    * directory OVERWRITES (replay rewrites the same dirs) and the probe
    * EXCLUDES the replaying batch's own `delta_hashes` partition — a
    * batch that crashed between its writes recomputes identical cuts on
    * retry instead of probing its half-committed self (which would cut
    * every document to nothing). Fold `delta_hashes` into the base
    * layout with [[compactStore]] between sessions.
    */
  def cutDeltaStream(stream: DataFrame, textCol: String, idCol: String,
                     storePath: String, outPath: String,
                     checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val m = readMeta(batch.sparkSession, storePath)
        val spans = probeDelta(batch, textCol, idCol, storePath, Some(batchId), m)
        val cut = Materialize(Dedup.cutBySpans(batch, spans, textCol, idCol))
        cut.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        BucketedStore.write(owners(windows(cut, textCol, idCol, m)),
          s"$storePath/delta_hashes/batch=$batchId", "hashbucket", None, m.nBuckets, "overwrite")
        ()
      }
      .start()

  /** Fold accumulated streaming `delta_hashes/batch=N/` appends into
    * the base `hashes/` layout via the min-owner merge — the offline
    * maintenance step bounding the probe's file count. Probe results
    * unchanged by construction (the probe reads the union either way);
    * never run concurrently with a streaming session.
    *
    * Crash safety is [[BucketedStore.swap]]'s, with the delta dirs
    * deleted after the rename in, and every read path first runs
    * [[BucketedStore.recover]]: a crash at ANY step leaves a store the
    * next probe (or compaction) restores to a complete layout — either
    * the original (`hashes_old` renamed back, deltas still present) or
    * the compacted one (leftover `hashes_old`/`delta_hashes` are
    * stale-but-idempotent — the min-owner merge over the union gives
    * the same answer — and are swept).
    */
  def compactStore(spark: SparkSession, path: String): Unit = {
    BucketedStore.recover(spark, path, Hashes)
    val m = readMeta(spark, path)
    val deltaDir = s"$path/delta_hashes"
    if (BucketedStore.exists(spark, deltaDir))
      BucketedStore.swap(spark, path, Hashes) { tmp =>
        BucketedStore.write(
          readHashes(spark, path, excludeBatch = None)
            .groupBy("hashbucket", "h").agg(min(col("owner")).as("owner")),
          tmp, "hashbucket", Some("h"), m.nBuckets, "overwrite")
      }(BucketedStore.delete(spark, deltaDir))
  }
}
