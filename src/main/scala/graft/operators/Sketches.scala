package graft.operators

import graft.functions.{CountMin, Hll, MisraGries, Text}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Sketch-based corpus statistics: the fixed-memory answers for
  * questions whose exact form needs an unbounded shuffle key space.
  * First member: count-min frequency estimation
  * ([[graft.functions.CountMinAgg]]).
  */
object Sketches {

  /** Build a count-min matrix over the token stream of `textCol`: ONE
    * corpus pass, map-side partial sketches, element-wise merge, and a
    * single model-sized row (depth × width longs) collected to the
    * driver — the same artifact shape as the k-means centroids or the
    * GD weight vector.
    */
  def cmsBuildTokens(docs: DataFrame, textCol: String, depth: Int, width: Int,
                     seed: String): Array[Long] =
    docs.select(explode(Text.tokens(col(textCol))).as("__tok"))
      .agg(CountMin.countMin(col("__tok"), depth, width, seed).as("m"))
      .head.getSeq[Long](0).toArray

  /** Estimated token frequencies: every DISTINCT token with its
    * count-min estimate, heaviest first. The distinct-token frame is the
    * CANDIDATE set (one dedup shuffle of the vocabulary — tokens, not
    * instances); the counting itself is the fixed-memory sketch, so the
    * aggregation state never depends on cardinality. Estimates are
    * deterministic (md5 buckets) and overestimate-only: `est >= true
    * count`, within `2·n/width` with prob `1 − 2^−depth`. When even the
    * vocabulary exchange is too expensive, [[heavyHitters]] answers the
    * top-k question with NO cardinality-dependent stage at all.
    */
  def cmsTokenCounts(docs: DataFrame, textCol: String, depth: Int, width: Int,
                     seed: String, k: Int): DataFrame = {
    val matrix = cmsBuildTokens(docs, textCol, depth, width, seed)
    docs.select(explode(Text.tokens(col(textCol))).as("token")).distinct()
      .withColumn("est", CountMin.estimate(col("token"), matrix, depth, width, seed))
      .orderBy(col("est").desc, col("token").asc)
      .limit(k)
  }

  /** TRUE cardinality-independent heavy hitters — the answer to the note
    * on [[cmsTokenCounts]], whose candidate set still pays one
    * distinct-vocabulary exchange. Two bounded passes, no vocabulary
    * shuffle anywhere:
    *
    *  1. ONE corpus pass through the mergeable Misra-Gries summary
    *     ([[graft.functions.MisraGriesAgg]], `kCounters` counters of
    *     fixed memory) plus the stream length `n` in the same aggregate —
    *     the result row is model-sized (<= k items). MG completeness
    *     guarantees the candidates contain EVERY token with
    *     `count > n/(k+1)`, under any partitioning.
    *  2. exact recount of the candidates only: a broadcast-able `isin`
    *     filter then a groupBy whose key space is <= k — bounded, so the
    *     "unbounded shuffle key space" cost CMS/MG exist to avoid never
    *     comes back.
    *
    * Output — tokens with `count * (k+1) > n` (exact integer comparison,
    * engine-identical) with their EXACT counts — is deterministic even
    * though the MG summary's sub-threshold margin is order-dependent:
    * order only affects which NON-heavy candidates get recounted, and
    * those fail the threshold either way.
    */
  def heavyHitters(docs: DataFrame, textCol: String, kCounters: Int): DataFrame = {
    val toks = docs.select(explode(Text.tokens(col(textCol))).as("token"))
    val row = toks.agg(
      MisraGries.misraGries(col("token"), kCounters).as("mg"),
      count(lit(1)).as("n")).head()
    val n = row.getLong(1)
    val cand = row.getSeq[Row](0).map(_.getString(0))
    toks.filter(col("token").isin(cand: _*))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(kCounters + 1L) > lit(n))
      .orderBy(col("cnt").desc, col("token").asc)
  }

  /** HyperLogLog register table over the token stream: ONE corpus pass
    * through the fixed-`2^b`-byte [[graft.functions.HllAgg]], then the
    * nonzero registers as rows — the sketch the distinct-vocabulary
    * question reads at 100 TB instead of a `countDistinct` dedup
    * exchange. Registers are exactly deterministic under any
    * partitioning (merge is element-wise max), so the oracle replays the
    * identical idx/rank integer arithmetic from the same md5 hashes.
    */
  def hllRegisters(docs: DataFrame, textCol: String, b: Int, seed: String): DataFrame =
    docs.select(explode(Text.tokens(col(textCol))).as("__tok"))
      .agg(Hll.hll(col("__tok"), b, seed).as("regs"))
      .select(posexplode(col("regs")).as(Seq("register", "max_rank")))
      .filter(col("max_rank") > 0)
      .select(col("register").cast("long").as("register"),
        col("max_rank").cast("long").as("max_rank"))
      .orderBy("register")

  /** Distinct-token estimate: the FFGM07 bias-corrected harmonic mean
    * over the register table (model-sized collect, driver math). One row
    * `(m, n_zero, est)`; relative error ~ `1.04/sqrt(2^b)`
    * (spec-pinned).
    */
  def hllDistinct(docs: DataFrame, textCol: String, b: Int, seed: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val regs = docs.select(explode(Text.tokens(col(textCol))).as("__tok"))
      .agg(Hll.hll(col("__tok"), b, seed))
      .head.getSeq[Int](0).toArray
    val zeros = regs.count(_ == 0)
    Seq((regs.length.toLong, zeros.toLong, Hll.estimate(regs, b)))
      .toDF("m", "n_zero", "est")
  }

  // ---------------- KMV / bottom-k ----------------

  /** Uniform fixed-size row sample via the bottom-k sketch
    * ([[graft.functions.BottomKAgg]]): the k rows whose salted id hashes
    * are smallest, with `valueCol` as the carried payload. ONE corpus
    * pass, map-side partial heaps of k pairs, NO shuffle — the
    * fixed-memory alternative to a `repartition`-heavy sample at 100 TB,
    * and exactly deterministic under any partitioning (the kept set
    * depends only on which ids exist). `idCol` must be unique (identical
    * (hash, value) pairs collapse).
    */
  def kmvRowSample(docs: DataFrame, idCol: String, valueCol: String,
                   k: Int, seed: String): DataFrame =
    docs.agg(graft.functions.BottomK.bottomK(
        Text.md5Hash64(concat_ws("|", lit(seed), col(idCol).cast("string"))),
        col(valueCol).cast("double"), k).as("s"))
      .select(explode(col("s")).as("p"))
      .select(col("p.hash").as("hash"), col("p.value").as("value"))

  /** Empirical quantiles of [[kmvRowSample]]'s uniform sample — the
    * one-pass fixed-memory quantile estimate (error O(1/sqrt(k)) on the
    * rank, spec-pinned). The sample is model-sized, so the quantile
    * selection is driver math: sort the m (<= k) sampled values, take
    * index `floor((m-1) * q)` — integer-exact and engine-identical for
    * the caller's q list. Output: (q, value) per requested quantile.
    */
  def kmvQuantiles(docs: DataFrame, idCol: String, valueCol: String,
                   k: Int, seed: String, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"kmvQuantiles: quantiles must be in [0, 1], got $qs")
    val spark = docs.sparkSession
    import spark.implicits._
    val sample = kmvRowSample(docs, idCol, valueCol, k, seed)
      .select("value").collect().map(_.getDouble(0)).sorted
    val m = sample.length
    require(m > 0, "kmvQuantiles: empty input")
    qs.map { q => (q, sample(math.floor((m - 1) * q).toInt)) }
      .toDF("q", "value")
  }

  /** KMV distinct-token estimate (Beyer et al. 2007): bottom-k over the
    * VALUE hashes (payload 0 — identical tokens collapse in the set
    * buffer), `est = (k-1) * 2^60 / h_k` with `h_k` the k-th smallest
    * 60-bit hash; exact (`est = size`) below k distinct. The HLL twin
    * ([[hllDistinct]]) is smaller (2^b bytes vs 16k); KMV's trade is an
    * oracle-exact estimate AND a reusable distinct-value sample from the
    * same pass. One row: (k_kept, h_k, est).
    */
  def kmvDistinct(docs: DataFrame, textCol: String, k: Int, seed: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val kept = docs.select(explode(Text.tokens(col(textCol))).as("__tok"))
      .agg(graft.functions.BottomK.bottomK(
        Text.md5Hash64(concat_ws("|", lit(seed), col("__tok"))),
        lit(0.0), k).as("s"))
      .head.getSeq[Row](0).map(_.getLong(0))
    val est =
      if (kept.length < k) kept.length.toDouble
      else (k - 1).toDouble * math.pow(2.0, 60.0) / kept.last.toDouble
    Seq((kept.length.toLong, if (kept.isEmpty) 0L else kept.last, est))
      .toDF("k_kept", "h_k", "est")
  }

  /** KMV set-operation estimates between two corpora (Beyer et al.
    * 2007 §4): distinct-vocabulary union size, Jaccard overlap, and
    * intersection size of `a` and `b`'s token sets from two bottom-k
    * sketches — "how much does the new crawl overlap what we already
    * have" at cardinality level, the sketch-sized complement of the
    * row-level decontam/cross-corpus passes.
    *
    * The union sketch is the bottom-k of the two kept sets (the KMV
    * closure property: bottom-k of the union of bottom-ks IS the
    * bottom-k of the union); every union element h satisfies
    * `h ≤ min(τₐ, τᵦ)`, so sketch membership decides TRUE membership
    * (no false negatives) and `ρ = |K∪ ∩ Kₐ ∩ Kᵦ| / k` is the standard
    * unbiased Jaccard estimator; `D̂∩ = ρ·D̂∪`. Falls back to exact
    * values when the union has fewer than k distinct hashes (both
    * sides exhaustive).
    *
    * Each corpus pays ONE map-side-combined bottom-k aggregate
    * (`k·16` bytes of state); everything else is driver math on ≤2k
    * longs. Every arithmetic step is a fixed IEEE expression over
    * exact integers, so the DuckDB oracle replays the estimates
    * bit-exactly. One row: `(k_union, h_k, d_union, n_both, jaccard,
    * d_inter)`.
    */
  val KmvOverlapSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("k_union", LongType), StructField("h_k", LongType),
      StructField("d_union", DoubleType), StructField("n_both", LongType),
      StructField("jaccard", DoubleType), StructField("d_inter", DoubleType)))
  }

  def kmvOverlap(a: DataFrame, b: DataFrame, textCol: String,
                 k: Int, seed: String): DataFrame = {
    require(k >= 2, s"kmvOverlap: k must be >= 2, got $k")
    val spark = a.sparkSession
    import spark.implicits._
    def sketch(df: DataFrame): Seq[Long] =
      df.select(explode(Text.tokens(col(textCol))).as("__tok"))
        .agg(graft.functions.BottomK.bottomK(
          Text.md5Hash64(concat_ws("|", lit(seed), col("__tok"))),
          lit(0.0), k).as("s"))
        .head.getSeq[Row](0).map(_.getLong(0))
    val (sa, sb) = (sketch(a).toSet, sketch(b).toSet)
    val union = (sa ++ sb).toSeq.sorted.take(k)
    val exact = union.length < k
    val hk = if (union.isEmpty) 0L else union.last
    val dU =
      if (exact) union.length.toDouble
      else (k - 1).toDouble * math.pow(2.0, 60.0) / hk.toDouble
    val m = union.count(h => sa(h) && sb(h)).toLong
    val denom = if (exact) math.max(union.length, 1) else k
    val jaccard = m.toDouble / denom.toDouble
    Seq((union.length.toLong, hk, dU, m, jaccard, jaccard * dU))
      .toDF("k_union", "h_k", "d_union", "n_both", "jaccard", "d_inter")
  }

  /** DDSketch bucket table (Masson, Rim & Lee, VLDB 2019) — the
    * BOUNDED-state quantile path, completing the family next to the
    * exact value-counts sketch ([[graft.functions.PercentileSketch]],
    * whose state is distinct-VALUE-sized — unbounded on continuous
    * metrics at corpus scale) and the KMV rank sample
    * ([[kmvQuantiles]], additive rank error). DDSketch instead
    * guarantees RELATIVE value error: every positive `x` lands in
    * bucket `idx = ceil(log_gamma(x))`, whose representative
    * `2·gamma^idx / (gamma+1)` is within `alpha = (gamma-1)/(gamma+1)`
    * of every value it absorbs — and the bucket count is
    * `O(log(max/min) / log(gamma))` REGARDLESS of row count or value
    * cardinality (gamma 1.02 spans 1e-9..1e9 in ~2100 buckets).
    *
    * The sketch IS this frame: `(sign, idx, cnt)` with the paper's
    * three stores folded into a sign column (negative values mirror
    * through `|x|`, zeros get their own bucket, nulls drop). Merging
    * shards = unioning frames and re-summing `cnt` — the aggregation
    * is one map-side-combined `groupBy` whose key space is the bucket
    * count, so partial aggregation collapses a 100 TB scan to
    * kilobytes per input partition before the exchange (the
    * determinism-over-randomized-KLL trade: same buckets from any
    * partitioning, which also makes the DuckDB oracle replay exact).
    *
    * Engine-portability: `ln(x)/ln(gamma)` is rounded through
    * DECIMAL(38,6) before the `ceil`, so a last-ulp `ln` disagreement
    * between engines cannot flip a bucket boundary (the repo-wide
    * convention for transcendental folds; a value must sit within 5e-7
    * of an exact power of gamma to be affected even in principle).
    */
  def ddBuckets(df: DataFrame, valueCol: String, gamma: Double): DataFrame = {
    require(gamma > 1.0, s"ddBuckets: gamma must be > 1, got $gamma")
    val x = col(valueCol).cast("double")
    val sgn = when(x > 0d, 1).when(x < 0d, -1).otherwise(0)
    val idx = when(x === 0d, lit(0L)).otherwise(
      ceil((log(abs(x)) / log(lit(gamma))).cast("decimal(38,6)")).cast("long"))
    df.where(x.isNotNull)
      .select(sgn.as("sign"), idx.as("idx"))
      .groupBy("sign", "idx").agg(count(lit(1)).as("cnt"))
  }

  /** Quantile readout of a [[ddBuckets]] frame: for each requested `q`
    * the representative value of the bucket holding sorted rank
    * `floor(q·(n-1)) + 1` ([[kmvQuantiles]]' rank convention, so the
    * two estimators answer the same question). All work after the
    * sketch aggregate is over the MODEL-SIZED bucket table: one
    * keyless running-count window (bounded by the bucket count — the
    * SCALING.md keyless-window class, deliberate), one 1-row total,
    * and a nested-loop join of |qs| × |buckets| rows. Empty input
    * yields an empty frame. Output `(q, est)` ordered by `q`;
    * `est` is decimal-rounded on both engines so `pow` ulp drift
    * cannot leak into the hash.
    */
  def ddQuantiles(df: DataFrame, valueCol: String, gamma: Double,
                  qs: Seq[Double]): DataFrame =
    ddQuantilesOf(ddBuckets(df, valueCol, gamma), gamma, qs)

  /** Persist a [[ddBuckets]] frame — the metrics-observability member
    * of the build-once/query-many store family (dense codes, dedup
    * signatures, sparse postings, window hashes; this one is the
    * cheapest: the WHOLE store is bucket-count-sized, i.e. kilobytes,
    * so there is nothing to partition-prune — serving reads the full
    * tiny table). Layout: `path/buckets` (parquet `(sign, idx, cnt)`)
    * plus `path/meta` (one row: `gamma`) so a reader can never apply
    * the wrong resolution — gamma IS the bucket boundary definition;
    * mixing gammas would silently misbin.
    */
  def writeDdSketch(buckets: DataFrame, path: String, gamma: Double): Unit = {
    require(gamma > 1.0, s"writeDdSketch: gamma must be > 1, got $gamma")
    val spark = buckets.sparkSession
    import spark.implicits._
    buckets.select(col("sign").cast("int"), col("idx").cast("long"),
        col("cnt").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/buckets")
    Seq(gamma).toDF("gamma")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private val Buckets = BucketedStore.Dirs("buckets", "buckets_tmp")

  /** Load a persisted sketch: `(buckets frame, gamma)`, after repairing a
    * half-finished [[appendDdSketch]] swap ([[recoverDdSketch]]).
    */
  def readDdSketch(spark: org.apache.spark.sql.SparkSession,
                   path: String): (DataFrame, Double) = {
    recoverDdSketch(spark, path)
    val gamma = BucketedStore.meta(spark, path, "gamma").getDouble(0)
    (spark.read.parquet(s"$path/buckets"), gamma)
  }

  /** Fold a new batch into a persisted sketch —
    * `append(build(A), B) == build(A ∪ B)` bit-identically, because
    * merging IS bucket-count addition ([[ddBuckets]]' merge law; the
    * spec pins the contract). gamma comes from the store's own meta:
    * the caller cannot misbin a delta against a differently-bucketed
    * base. The delta pays one map-side-combined aggregate; the merge
    * re-sums two bucket-count-sized frames (kilobytes) and replaces the
    * store with [[BucketedStore.swap]] (a reader or a crash mid-swap
    * sees old or new, and every read repairs a half-swap).
    */
  def appendDdSketch(df: DataFrame, valueCol: String, path: String): Unit = {
    val spark = df.sparkSession
    val (base, gamma) = readDdSketch(spark, path)
    BucketedStore.swap(spark, path, Buckets) { tmp =>
      base.unionByName(ddBuckets(df, valueCol, gamma))
        .groupBy("sign", "idx").agg(sum("cnt").as("cnt"))
        .select(col("sign").cast("int"), col("idx"), col("cnt").cast("long"))
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp)
    }(())
  }

  /** Repair a half-finished [[appendDdSketch]] swap with
    * [[BucketedStore.recover]]: if `buckets/` is missing but
    * `buckets_old/` exists, the crash hit between the two renames — the
    * old layout is restored (the append is then simply un-applied:
    * re-run it). Stale `buckets_tmp`/`buckets_old` next to a live
    * `buckets/` are swept. Idempotent; every read runs it.
    */
  def recoverDdSketch(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    BucketedStore.recover(spark, path, Buckets)

  /** Serve quantiles straight from a persisted sketch. */
  def ddQuantilesStored(spark: org.apache.spark.sql.SparkSession, path: String,
                        qs: Seq[Double]): DataFrame = {
    val (buckets, gamma) = readDdSketch(spark, path)
    ddQuantilesOf(buckets, gamma, qs)
  }

  /** [[ddQuantiles]] over an already-built (possibly merged) bucket
    * frame — the serving half for a PERSISTED sketch.
    */
  def ddQuantilesOf(buckets: DataFrame, gamma: Double, qs: Seq[Double]): DataFrame = {
    require(gamma > 1.0, s"ddQuantilesOf: gamma must be > 1, got $gamma")
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"ddQuantilesOf: quantiles must be in [0, 1], got $qs")
    val spark = buckets.sparkSession
    import spark.implicits._
    // bucket order == value order: sign ascending, then idx ascending
    // for positives and DESCENDING for negatives (bigger |x| is smaller
    // x), i.e. sign*idx ascending within each sign.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("sign").asc, (col("sign") * col("idx")).asc)
    val est = when(col("sign") === 0, lit(0.0)).otherwise(
        (col("sign") * (pow(lit(gamma), col("idx")) * lit(2d) / lit(gamma + 1d)))
          .cast("decimal(38,6)").cast("double"))
    val cum = buckets
      .withColumn("est", est)
      .withColumn("__cum", sum(col("cnt")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
    val total = buckets.agg(sum(col("cnt")).as("__n"))
    qs.toDF("q").crossJoin(total)
      .join(cum, col("__cum") >= floor(col("q") * (col("__n") - 1)) + 1)
      .groupBy(col("q")).agg(min(col("est")).as("est"))
      .orderBy(col("q"))
  }
}
