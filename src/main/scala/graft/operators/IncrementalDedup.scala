package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incremental near-dup deduplication against a PERSISTED signature
  * store — the production shape of corpus dedup: the 100 TB corpus you
  * already accepted is never re-scanned as text; its banded MinHash
  * table IS the reusable index, and each arriving shard (a crawl day, a
  * new dump) pays only (a) its own signature pass and (b) a probe into
  * the store pruned to the sig buckets the shard actually touches.
  *
  * Store layout under `path`:
  *
  *  - `bands/sigbucket=N/…` — `(id, band, sig)` rows PARTITIONED BY
  *    `sigbucket = md5(sig) mod nBuckets`, with a parquet BLOOM FILTER
  *    on `sig`. A delta's probe list of distinct sig buckets is at most
  *    `nBuckets` values (a driver-side constant, never corpus-sized),
  *    so partition pruning skips every untouched bucket's files and the
  *    blooms skip non-colliding row groups inside touched ones — a
  *    small delta reads a sliver of the index, a huge delta degrades
  *    gracefully to the full scan that is its lower bound anyway.
  *  - `meta/` — one row `(k, rows_per_band, n_buckets)`: the signature
  *    RECIPE. Every later delta must hash with the identical recipe or
  *    collisions silently vanish; reads fail loudly on a mismatch
  *    instead.
  *
  * Delta semantics (two deterministic stages, both oracle-replayable):
  *
  *  1. `dup_store`: a delta doc sharing any (band, sig) bucket with the
  *     store is a near-dup of an already-kept doc; `dup_of` = the
  *     smallest colliding store id.
  *  2. `dup_delta`: among the remaining docs, banded LSH self-join →
  *     connected components (the diameter-independent star contraction)
  *     → every non-canonical member loses to its component minimum.
  *
  * Survivors (`kept`) are appended to the store when `update = true`,
  * making the pipeline idempotent: re-feeding the same shard marks
  * every doc `dup_store`.
  *
  * Scale: the store side arrives as a pruned parquet scan joined on
  * (band, sig) against the delta's (Materialized, typically
  * AQE-broadcastable) band table — no store-side shuffle; the
  * within-delta stage shuffles only delta-sized band rows.
  */
object IncrementalDedup {

  /** Signature recipe pinned in the store's meta table. */
  final case class StoreMeta(k: Int, rowsPerBand: Int, nBuckets: Int)

  private val Bands = BucketedStore.Dirs("bands", "bands_compact_tmp")
  private val BandCols = Seq("id", "band", "sig", "sigbucket")

  private def bucketOf(sig: Column, nBuckets: Int): Column =
    pmod(Text.md5Hash64(sig), lit(nBuckets.toLong))

  private def bandsWithBucket(df: DataFrame, textCol: String, idCol: String,
                              m: StoreMeta): DataFrame =
    Dedup.bandTable(df, textCol, idCol, m.k, m.rowsPerBand)
      .select(col("__id").as("id"), col("band"), col("sig"),
        bucketOf(col("sig"), m.nBuckets).as("sigbucket"))

  /** Create the store from an accepted corpus (overwrites `path`). */
  def writeStore(df: DataFrame, textCol: String, idCol: String, path: String,
                 k: Int = 8, rowsPerBand: Int = 2, nBuckets: Int = 64): Unit = {
    require(k >= 1 && rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"writeStore: k ($k) must be a positive multiple of rowsPerBand ($rowsPerBand)")
    require(nBuckets >= 1, s"writeStore: nBuckets must be >= 1, got $nBuckets")
    val meta = StoreMeta(k, rowsPerBand, nBuckets)
    // the recipe row is independent of the corpus-sized bands write:
    // overlap the two jobs (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val spark = df.sparkSession
    import spark.implicits._
    val metaWrite = Future {
      Seq((k.toLong, rowsPerBand.toLong, nBuckets.toLong))
        .toDF("k", "rows_per_band", "n_buckets")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    }
    BucketedStore.write(bandsWithBucket(df, textCol, idCol, meta), s"$path/bands",
      "sigbucket", Some("sig"), nBuckets, "overwrite")
    Await.result(metaWrite, Duration.Inf)
  }

  /** Read the pinned recipe; fails loudly on a missing/empty store. */
  def readMeta(spark: SparkSession, path: String): StoreMeta = {
    val r = BucketedStore.meta(spark, path, "k", "rows_per_band", "n_buckets")
    StoreMeta(r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt)
  }

  /** Append an already-accepted frame's signatures (same recipe). */
  def appendToStore(df: DataFrame, textCol: String, idCol: String,
                    path: String): Unit =
    appendToStore(df, textCol, idCol, path, readMeta(df.sparkSession, path))

  private def appendToStore(df: DataFrame, textCol: String, idCol: String,
                            path: String, meta: StoreMeta): Unit = {
    BucketedStore.recover(df.sparkSession, path, Bands)
    BucketedStore.write(bandsWithBucket(df, textCol, idCol, meta), s"$path/bands",
      "sigbucket", Some("sig"), meta.nBuckets, "append")
  }

  /** All stored band rows: the base `bands/` layout plus any streaming
    * `delta_bands/batch=N/` appends — excluding `excludeBatch` so a
    * REPLAYED micro-batch never collides with its own signatures (the
    * exactly-once linchpin of [[dedupDeltaStream]]). Repairs a
    * half-finished [[compactStore]] first ([[BucketedStore.recover]]).
    */
  private def readBands(spark: SparkSession, path: String,
                        excludeBatch: Option[Long]): DataFrame =
    BucketedStore.read(spark, path, Bands, "delta_bands", excludeBatch, BandCols)

  /** Per delta id, the smallest colliding store id (`id`, `dup_of`) —
    * only ids WITH a collision appear.
    */
  def storeHits(delta: DataFrame, textCol: String, idCol: String,
                path: String, excludeBatch: Option[Long] = None): DataFrame =
    storeHits(delta, textCol, idCol, path, excludeBatch, readMeta(delta.sparkSession, path))

  private def storeHits(delta: DataFrame, textCol: String, idCol: String, path: String,
                        excludeBatch: Option[Long], meta: StoreMeta): DataFrame = {
    // the touched-bucket set rides the Materialize job as an observed
    // metric (≤ nBuckets values) instead of a separate distinct+collect
    // job over the blocks (guide §1.2; r17 — fallback job kept defensive)
    val dBandsSrc = bandsWithBucket(delta, textCol, idCol, meta)
      .observe("graft_dedup_touched", collect_set(col("sigbucket")).as("sb"))
    val dBands = Materialize(dBandsSrc)
    val touched = BucketedStore.touched(dBandsSrc, "graft_dedup_touched")(
      dBands.select(col("sigbucket")).distinct().collect().map(_.getLong(0)))
    // collapse the pruned store slice to ONE row per (band, sig) BEFORE
    // the join: dup_of only needs the smallest colliding store id, and
    // min over a union of buckets == min over per-bucket minima — so a
    // store mega-bucket (10⁶ docs behind one boilerplate signature)
    // contributes one row to the join instead of 10⁶ rows PER colliding
    // delta doc. The aggregate is map-side combined over the
    // partition-pruned scan the probe already pays; without it the
    // store×delta bucket product is the same quadratic blow-up the
    // lshCandidates guard exists for, resurfacing in the probe join.
    val owners = readBands(delta.sparkSession, path, excludeBatch)
      .filter(col("sigbucket").isin(touched: _*))
      .groupBy(col("band"), col("sig")).agg(min(col("id")).as("__owner"))
    owners.as("s")
      .join(dBands.as("d"),
        col("s.band") === col("d.band") && col("s.sig") === col("d.sig"))
      .groupBy(col("d.id").as(idCol))
      .agg(min(col("__owner")).as("dup_of"))
  }

  /** Dedup one arriving shard against the store and within itself.
    * Returns `(idCol, status, dup_of)` — status ∈ {kept, dup_store,
    * dup_delta}; `dup_of` is null for kept rows. With `update = true`
    * the kept rows' signatures are appended to the store.
    */
  def dedupDelta(delta: DataFrame, textCol: String, idCol: String,
                 path: String, update: Boolean = false,
                 excludeBatch: Option[Long] = None,
                 cap: Dedup.BucketCap = Dedup.BucketCap.Auto()): DataFrame =
    dedupDeltaAudited(delta, textCol, idCol, path, update, excludeBatch, cap)._1

  /** [[dedupDelta]] with the within-delta guard's [[Dedup.LshAudit]]
    * attached (None under Unlimited or when the delta has no banded
    * docs) — the IR `dedup-delta` action writes it to `audit-path`.
    */
  def dedupDeltaAudited(delta: DataFrame, textCol: String, idCol: String,
                        path: String, update: Boolean = false,
                        excludeBatch: Option[Long] = None,
                        cap: Dedup.BucketCap = Dedup.BucketCap.Auto()): (DataFrame, Option[Dedup.LshAudit]) =
    dedupDeltaAudited(delta, textCol, idCol, path, update, excludeBatch, cap,
      readMeta(delta.sparkSession, path))

  private def dedupDeltaAudited(delta: DataFrame, textCol: String, idCol: String,
                                path: String, update: Boolean, excludeBatch: Option[Long],
                                cap: Dedup.BucketCap,
                                meta: StoreMeta): (DataFrame, Option[Dedup.LshAudit]) = {
    val hits = Materialize(storeHits(delta, textCol, idCol, path, excludeBatch, meta))
    val rest = delta.join(hits.select(col(idCol)), Seq(idCol), "left_anti")
    // within-delta stage under the same default guard as the batch LSH
    // family: a boilerplate-heavy shard (one crawl day of parked
    // domains) self-joins quadratically without it. Store-hit verdicts
    // are unaffected — and since the pairs feed connected components
    // (a connectivity consumer), the guard runs in its star-edge mode:
    // a capped mega-clique still collapses to its canonical member
    // THIS shard, exactly as the unlimited run would, at linear cost.
    val (pairs, audit) = Dedup.lshCandidatesConnectivity(rest, textCol, idCol,
      meta.k, meta.rowsPerBand, cap = cap)
    val losers = Materialize(
      Dedup.clusterPairs(pairs)
        .filter(col("cluster") =!= col("id"))
        .select(col("id").as(idCol), col("cluster").as("__canon")))
    val out = delta.select(col(idCol))
      .join(hits.withColumnRenamed("dup_of", "__store_of"), Seq(idCol), "left")
      .join(losers, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__store_of").isNotNull, lit("dup_store"))
          .when(col("__canon").isNotNull, lit("dup_delta"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("__store_of"), col("__canon")).as("dup_of"))
    if (update) {
      val kept = delta.join(
        out.filter(col("status") === "kept").select(col(idCol)), Seq(idCol))
      appendToStore(kept, textCol, idCol, path, meta)
    }
    (out, audit)
  }

  /** The continuously-ingesting loop: every micro-batch is a delta —
    * deduped against the store AND within itself, survivors' full rows
    * land under `outPath/batch=N/` and their signatures under
    * `<storePath>/delta_bands/batch=N/sigbucket=M/`. Sequential batches
    * therefore dedup against everything already accepted.
    *
    * Exactly-once without a transaction log: both writes are
    * per-batch-directory OVERWRITES (replay rewrites the same dirs),
    * and the probe EXCLUDES the replaying batch's own `delta_bands`
    * partition — so a batch that crashed between its two writes
    * recomputes the identical verdicts on retry instead of colliding
    * with its half-committed self and silently dropping everything.
    * Compact `delta_bands` into the base `bands/` layout offline when
    * batch count grows (a plain read-union-rewrite).
    */
  def dedupDeltaStream(stream: DataFrame, textCol: String, idCol: String,
                       storePath: String, outPath: String,
                       checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val meta = readMeta(batch.sparkSession, storePath)
        val verdicts = dedupDeltaAudited(batch, textCol, idCol, storePath,
          false, Some(batchId), Dedup.BucketCap.Auto(), meta)._1
        val kept = batch.join(
          verdicts.filter(col("status") === "kept").select(col(idCol)), Seq(idCol))
          .transform(Materialize.apply)
        kept.write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        BucketedStore.write(bandsWithBucket(kept, textCol, idCol, meta),
          s"$storePath/delta_bands/batch=$batchId", "sigbucket", None, meta.nBuckets, "overwrite")
        ()
      }
      .start()

  /** Fold accumulated streaming `delta_bands/batch=N/` appends into the
    * base `bands/` layout — the offline maintenance step that keeps the
    * probe's file count bounded as batches accumulate. Verdicts are
    * unchanged by construction (the probe reads the union either way);
    * run it between streaming sessions, never concurrently with one.
    * Crash safety is [[BucketedStore.swap]]'s, with the delta dirs
    * deleted after the rename in: a crash at any step leaves a complete
    * layout the next probe recovers (leftover deltas re-fold
    * idempotently).
    */
  def compactStore(spark: SparkSession, path: String): Unit = {
    BucketedStore.recover(spark, path, Bands)
    val meta = readMeta(spark, path)
    val deltaDir = s"$path/delta_bands"
    if (BucketedStore.exists(spark, deltaDir))
      BucketedStore.swap(spark, path, Bands) { tmp =>
        BucketedStore.write(readBands(spark, path, excludeBatch = None), tmp,
          "sigbucket", Some("sig"), meta.nBuckets, "overwrite")
      }(BucketedStore.delete(spark, deltaDir))
  }

  /** Output schema of [[dedupDelta]] keyed by the id column — the
    * validate-side contract for the IR `dedup-delta` action (the store
    * is a runtime artifact, not a config-time input).
    */
  def deltaSchema(idCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType),
    StructField("status", StringType, nullable = false),
    StructField("dup_of", LongType)))
}
