package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — queries are broadcast, similarity
  * is a codegen'd higher-order fold per row, top-k is one shuffle on the
  * query id (`row_number` window). Scale path: sign-bucket (random
  * hyperplane flavored) LSH — each vector lands in a small bucket keyed
  * by the sign pattern of leading dimensions; probing joins only bucket
  * peers, trading recall for a corpus-size-independent candidate set.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** L2 normalization to unit length (double precision) — the standard
    * ANN prep step that turns every downstream cosine into a plain dot.
    * Index-order norm fold + one division per element: bit-reproducible
    * in any engine; the zero vector passes through unchanged (a 0/0 NaN
    * vector would silently poison every similarity it touches).
    */
  def l2Normalize(vec: Column): Column =
    // the norm fold runs ONCE via aggregate's finish lambda — inlining
    // it into the per-element transform would re-run the whole O(d) fold
    // for every element (Catalyst does not hoist loop-invariant
    // subexpressions out of higher-order-function lambdas)
    aggregate(vec, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"),
      acc => when(acc > 0, transform(vec, x => x.cast("double") / sqrt(acc)))
        .otherwise(transform(vec, x => x.cast("double"))))

  /** Cosine similarity as a deterministic left fold in index order (the
    * DuckDB oracle folds identically, so doubles match bit-for-bit).
    */
  def cosine(a: Column, b: Column): Column = {
    def fold(products: Column): Column =
      aggregate(products, lit(0.0), (acc, x) => acc + x)
    val dot = fold(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")))
    val na = fold(transform(a, x => x.cast("double") * x.cast("double")))
    val nb = fold(transform(b, x => x.cast("double") * x.cast("double")))
    dot / (sqrt(na) * sqrt(nb))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself), ties broken by id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineF(col("query_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("cosine"))
  }

  /** Output schema of [[hardNegatives]] — source of truth for the IR
    * validator's artifact-total stub.
    */
  val HardNegSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("nn_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("label", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cosine", org.apache.spark.sql.types.DoubleType)))

  /** Hard-negative mining for contrastive training: for each anchor, the
    * `k` most-cosine-similar corpus rows carrying a DIFFERENT label — the
    * negatives near the decision boundary (random in-batch negatives are
    * mostly easy; the hard ones carry the gradient signal — the DPR /
    * sentence-encoder mining step).
    *
    * Scale shape = [[bruteForceTopK]]: anchors broadcast (anchor sets are
    * batch-sized), corpus side map-scanned with the fused cosine kernel,
    * per-anchor top-k window over candidate rows only. For web-scale
    * corpora use [[hardNegativesBucketed]] — the same mining over a
    * multi-probe sign-bucket candidate set instead of the full scan.
    * Ties break by nn_id ascending.
    *
    * Output: (query_id, rank, nn_id, label, cosine).
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1, got $k")
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      col(labelCol).as("label"))
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      col(labelCol).as("query_label"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id") && col("label") =!= col("query_label"))
      .withColumn("cosine",
        graft.functions.VectorExpressions.cosineF(col("query_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("label"), col("cosine"))
  }

  /** Web-scale hard-negative mining: [[hardNegatives]] with the corpus
    * side swapped for a sign-bucket (multi-probe LSH) candidate set — the
    * composed variant the brute miner's scaladoc promises. Per anchor,
    * only corpus rows sharing one of its probed buckets are scored, so
    * candidate count tracks bucket occupancy, not corpus size; the label
    * filter and per-anchor top-k window are identical to the exact miner.
    *
    * Plan shape: anchors (batch-sized) explode to ≤ 1+extraProbes probe
    * rows and BROADCAST; the corpus is map-scanned once through the
    * broadcast hash join keyed on the bucket — no corpus shuffle before
    * the candidate-only top-k window. Recall < exact by construction
    * (a hard negative whose leading-sign pattern differs in a confident
    * dimension is missed); raise `extraProbes` to trade compute back for
    * recall — QualityJoinsSpec pins the recall floor on a fixture.
    *
    * Output: (query_id, rank, nn_id, label, cosine) — same as
    * [[hardNegatives]].
    */
  def hardNegativesBucketed(corpus: DataFrame, anchors: DataFrame, idCol: String,
                            vecCol: String, labelCol: String, k: Int,
                            bits: Int = 16, extraProbes: Int = 0): DataFrame = {
    require(k >= 1, s"hardNegativesBucketed: k must be >= 1, got $k")
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      col(labelCol).as("label"), signBucket(col(vecCol), bits).as("__bucket"))
    val q = anchors.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      col(labelCol).as("query_label"),
      explode(probeBuckets(col(vecCol), bits, extraProbes)).as("__bucket"))
    val scored = c.join(broadcast(q), "__bucket")
      .filter(col("nn_id") =!= col("query_id") && col("label") =!= col("query_label"))
      .withColumn("cosine",
        graft.functions.VectorExpressions.cosineF(col("query_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("nn_id"), col("label"), col("cosine"))
  }

  /** Sign-pattern bucket key over the first `bits` dimensions: the cheap,
    * deterministic stand-in for random-hyperplane LSH (dimensions of a
    * learned embedding are already mixed). Vectors in the same bucket are
    * near-duplicate candidates.
    */
  def signBucket(vec: Column, bits: Int = 16): Column =
    (1 to bits).map { i =>
      when(element_at(vec, i) >= 0, lit(1L << (i - 1))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF (inverted-file) ANN top-k — the classic cell-probe index as one
    * Spark plan:
    *
    *  1. *train*: centroids are the `nCells` lowest-id corpus vectors —
    *     deterministic stand-in for k-means (centroid training is
    *     pluggable; the index structure, not the training, is what this
    *     operator provides). Centroids are model-sized and collected once
    *     to the driver — the same data movement as any `broadcast()`; the
    *     corpus itself is never collected.
    *  2. *assign*: each corpus vector gets `nCells` codegen'd cosines
    *     against the centroid codebook (a task-shipped reference
    *     object — [[graft.functions.CentroidKernel]]) and takes the
    *     arg-max cell via a
    *     struct-max — pure map-side projection, NO shuffle and no row
    *     amplification (a crossJoin+window argmax would shuffle
    *     corpus×nCells rows).
    *  3. *probe*: each query explodes its top-`nProbe` cells; candidates
    *     are fetched by a single equi-join on the cell id — the only
    *     shuffle of corpus data, and candidate count tracks cell sizes,
    *     not corpus size.
    *
    * Ties everywhere break toward the lower cell / id, matching the
    * DuckDB oracle.
    */
  /** Distributed k-means (Lloyd's, cosine assignment) over an embedding
    * column — the centroid trainer behind [[ivfTopK]]'s `trainIters` and
    * a first-class clustering op on its own. Seeds are the `k` lowest-id
    * vectors (deterministic; swap in your own by calling with the result
    * of a previous run's centroids as a DataFrame and re-seeding).
    *
    * Per iteration: assignment is a map-side argmax over centroid
    * KERNEL ([[graft.functions.CentroidKernel]] — the codebook ships
    * per task as a reference object, constant plan size at any cell
    * count; no join, no row amplification); the update is one shuffle
    * of `k × dim` per-cell partial sums (posexplode + map-side-combined
    * avg) — the vectors themselves never shuffle, and only the
    * model-sized (cell, mean) table reaches the driver. Empty cells keep
    * their previous centroid. Returns the trained centroids.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int): Array[(Long, Seq[Float])] = {
    require(k >= 1 && iters >= 0, s"kmeansCentroids: bad k=$k / iters=$iters")
    // seeds are the k lowest DISTINCT ids: duplicate-id rows (replayed
    // ingests, file-copied corpora) would otherwise collapse the seed
    // set to a handful of distinct centroids and degenerate every cell
    var cents: Array[(Long, Seq[Float])] = corpus
      .select(col(idCol).cast("long").as("__kid"), col(vecCol).as("__kv"))
      .dropDuplicates("__kid")
      .orderBy(col("__kid")).limit(k)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    // a corpus smaller than k yields fewer centroids (every vector its
    // own cell) rather than failing — small/dev corpora stay usable
    require(cents.nonEmpty, "kmeansCentroids: empty corpus")
    for (_ <- 1 to iters) {
      val means = corpus
        .select((-graft.functions.VectorExpressions.centroidBest(col(vecCol), cents)("negCell")).as("cell"),
          posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy("cell", "dim").agg(avg(col("x")).as("m"))
        .groupBy("cell").agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"), transform(col("dm"), s => s("m").cast("float")).as("cvec"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toMap
      cents = cents.map { case (cid, cv) => (cid, means.getOrElse(cid, cv)) }
    }
    cents
  }

  /** Persist trained centroids as a parquet table `(cell, cvec)` — the
    * model artifact a 100 TB pipeline trains ONCE (k-means over a
    * sample) and reuses across every assignment/probe job; retraining
    * per job would re-scan the corpus for a model-sized result.
    */
  def saveCentroids(cents: Array[(Long, Seq[Float])], path: String,
                    spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    cents.toSeq.toDF("cell", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load centroids written by [[saveCentroids]], in cell order. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Array[(Long, Seq[Float])] =
    spark.read.parquet(path).select(col("cell").cast("long"), col("cvec"))
      .orderBy(col("cell"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))

  /** Cluster assignment for trained centroids: `(idCol, cell, cosine)` —
    * map-side argmax via the centroid kernel, ties to the lower cell.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String,
                   cents: Array[(Long, Seq[Float])]): DataFrame = {
    val best = graft.functions.VectorExpressions.centroidBest(col(vecCol), cents)
    df.select(col(idCol), (-best("negCell")).as("cell"), best("cc").as("cosine"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
              trainIters: Int = 0): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, trainIters)

    val inverted = corpus.select(
      col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      (-graft.functions.VectorExpressions.centroidBest(col(vecCol), cents)("negCell")).as("cell"))

    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
        explode(graft.functions.VectorExpressions.centroidTopK(col(vecCol), cents, nProbe)).as("p"))
      .select(col("query_id"), col("query_vec"), (-col("p.negCell")).as("cell"))

    val scored = inverted.join(probes, "cell")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("cosine",
        graft.functions.VectorExpressions.cosineF(col("query_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("cosine"))
  }

  /** Multi-probe bucket set for a query vector: its own sign bucket plus
    * the buckets reached by flipping each of the `extraProbes`
    * least-confident bits — the dimensions with the smallest |value|,
    * i.e. the points closest to their separating hyperplane, exactly the
    * flips most likely to recover a near neighbor that landed one bucket
    * over (standard multi-probe LSH: Lv et al., VLDB'07).
    */
  def probeBuckets(vec: Column, bits: Int, extraProbes: Int): Column = {
    val base = signBucket(vec, bits)
    if (extraProbes <= 0) array(base)
    else {
      val confidence = array((1 to bits).map { i =>
        struct(abs(element_at(vec, i)).as("a"), lit(1L << (i - 1)).as("mask"))
      }: _*)
      val flips = transform(
        slice(array_sort(confidence), 1, extraProbes),
        s => base.bitwiseXOR(s("mask")))
      array_union(array(base), flips)
    }
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then prune near-duplicate pairs WITHIN each cluster only —
    * the quadratic pair step is confined to one cell, never the corpus.
    *
    * Deterministic variant for oracle parity: centroids are the `nCells`
    * lowest-id vectors (same stand-in as [[ivfTopK]]'s seeding; pass the
    * result of a real k-means when you have one), assignment is argmax
    * cosine (ties → lowest cell id), and within a cell every vector with
    * a LOWER-id neighbor at `cosine >= threshold` is dropped — keeping
    * the lowest id per duplicate chain, like the exact-dedup rule.
    *
    * Scale: one shuffle on the cell id; pair generation is per-cell (the
    * SemDeDup contract — cells are k-means-balanced at scale). Returns
    * the surviving rows of `df`.
    *
    * `nCells <= 0` (the default) derives the cell count as ~√corpus
    * (clamped to [16, 65536]), which keeps the within-cell pair step at
    * ~corpus^1.5 total instead of corpus²/constant — a fixed default like
    * 16 silently turns quadratic on a large corpus. The derivation costs
    * one count() job; the r15 mega-cell guard needs the same count for
    * its cap, so an explicit `nCells` alone no longer skips it — pass
    * `nCells > 0` AND `maxCellFactor = Double.PositiveInfinity` to
    * disable the guard and its count/histogram entirely (pre-r15 plan).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    nCells: Int = 0, threshold: Double = 0.35,
                    maxCellFactor: Double = 32.0): DataFrame =
    semanticDedupAudited(df, idCol, vecCol, nCells, threshold, maxCellFactor)._1

  /** [[semanticDedup]] with its mega-CELL guard's account attached —
    * the k-means-face sibling of the banded family's mega-bucket guard
    * (r15). The hazard is the same shape: a mass of identical/
    * near-identical embeddings (re-encoded boilerplate, zero vectors
    * from failed embedding jobs) all argmax onto ONE cell, and the
    * within-cell self-join pays |cell|² cosine evaluations.
    *
    * The cap rule is deliberately NOT [[graft.operators.Dedup.BucketCap.Auto]]'s
    * linear emission budget: this operator's CONTRACT cost is already
    * super-linear (√n cells × (n/√n)² within-cell pairs = n^1.5), so a
    * pairs-per-doc budget would cap perfectly healthy cells on any
    * corpus past ~4k vectors. The operator-shaped rule instead flags
    * cells beyond `maxCellFactor ×` the EXPECTED cell size `⌈n/cells⌉`
    * (floor 64) — a factor of the structural expectation, not of the
    * observed distribution, so a poisoned corpus cannot launder its
    * own mega-cell into the threshold (the [[graft.operators.Dedup.maxBucketPlan]]
    * laundering argument).
    *
    * Over-cap cells are NOT exempted (the pre-r15 prune trade would
    * pass mega-clusters through whole) and NOT blind-star-connected
    * (this operator's drop rule is cosine-VERIFIED). r16 replaces the
    * 8-anchor-only fallback with a TWO-STAGE guard:
    *
    *  - *stage 1 — sub-cell re-split*: each mega cell of size B
    *    re-assigns its members to k' = ⌈√B⌉ member-seeded sub-cells
    *    (seeds = the k' salted-minima lowest ids, capped at 4,096;
    *    assignment = nearest-seed cosine, ties to the lowest seed) and
    *    runs the EXACT within-sub-cell verify — O(B · k') = O(B^1.5),
    *    the operator's contract cost. Sub-splitting is a BLOCKING
    *    scheme, not a clustering guarantee: near-identical members
    *    noise-shatter across near-tied seeds, so stage 1 alone would
    *    leave one survivor per sub-cell per family. A sub-cell still
    *    over the cap (an exactly-identical mass, the only shape that
    *    concentrates) takes the r15 8-low-id-anchor check instead of a
    *    quadratic verify, anchors gathered skew-safely per (cell, sub,
    *    id mod 64) — no mega cell ever sorts or collect_lists whole.
    *  - *stage 2 — survivor cross-check*: every stage-1 survivor is
    *    cosine-verified against ALL smaller members of its mega cell.
    *    If the unlimited run drops b, then b is either dropped in
    *    stage 1 or it reaches stage 2 and meets its dropper — so the
    *    guarded result is EXACT for every mega cell whose stage-1
    *    survivor count stays within 4·k' (DedupCapSpec pins both the
    *    pure-degenerate and the MIXED two-family fixtures equal to
    *    unlimited; the r15 anchors under-approximated the mixed one).
    *    A cell beyond the 4·k' survivor bound — B mutually-dissimilar
    *    vectors forced into one cell, where exactness IS the quadratic
    *    join — degrades to a roots-only cross-check (each sub-cell
    *    minimum vs all smaller members), WARN-logged.
    *
    * Exclusions stay audited in-band either way (reusing
    * [[graft.operators.Dedup.LshAudit]]: `resolved_max_bucket` = the
    * cell-size threshold, buckets = cells) and WARN-logged. An
    * exactly-duplicated (id, vec) input row collapses to one row
    * inside the re-split assignment — invisible downstream, since the
    * verify emits distinct dropped ids.
    *
    * `nCells > 0` plus `maxCellFactor = Double.PositiveInfinity`
    * disables the guard entirely and skips its corpus count and cell
    * histogram — the exact pre-r15 plan.
    */
  /** Deployment-guidance check behind semanticDedup's WARN (pinned in
    * OperatorSpec): the auto cell count is ceil(sqrt(n)) capped at
    * 65,536, which makes assignment work grow ~x3.2 per x10 data BY
    * CONTRACT. Past 4,096 auto cells a production pipeline should pin
    * an explicit `nCells` (fixed nlist — the standard IVF deployment
    * practice: train once at a size chosen for the index, reuse across
    * corpus growth; SCALING.md measures fixed vs sqrt(n) at x10/x100).
    * Returns the warning only when the count was AUTO-derived.
    */
  def autoCellsWarning(cells: Int, nCells: Int): Option[String] =
    if (nCells <= 0 && cells > 4096)
      Some(s"semanticDedup: auto cell count $cells (= ceil(sqrt(n)), cap 65536) " +
        "exceeds 4096 — assignment cost grows superlinearly with corpus size by " +
        "contract; pin an explicit nCells (fixed nlist) for production corpora")
    else None

  def semanticDedupAudited(df: DataFrame, idCol: String, vecCol: String,
                           nCells: Int = 0, threshold: Double = 0.35,
                           maxCellFactor: Double = 32.0): (DataFrame, Option[graft.operators.Dedup.LshAudit]) = {
    require(maxCellFactor >= 1.0,
      s"semanticDedup: maxCellFactor must be >= 1, got $maxCellFactor")
    // explicit nCells + infinite factor = guard fully off: skip the
    // corpus count and the cell histogram (the exact pre-r15 plan)
    val guardOff = nCells > 0 && maxCellFactor.isPosInfinity
    val n = if (guardOff) -1L else df.count()
    val cells =
      if (nCells > 0) nCells
      else math.min(65536, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
    autoCellsWarning(cells, nCells).foreach(log.warn(_))
    // distinct ids, as kmeansCentroids: duplicate-id rows must not
    // collapse the cell structure (degenerate cells = quadratic pairs)
    val cents: Array[(Long, Seq[Float])] = df
      .select(col(idCol).cast("long").as("__sid"), col(vecCol).as("__sv"))
      .dropDuplicates("__sid")
      .orderBy(col("__sid")).limit(cells)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    // no vectors, no duplicates — also keeps plan-construction total on
    // the empty frame the IR validator probes with
    if (cents.isEmpty) return (df, None)
    // materialized: feeds the cell histogram, both self-join sides and
    // (when a mega-cell exists) the anchor-verify joins
    val assigned = Materialize(df.select(col(idCol).as("__id"), col(vecCol).as("__vec"),
      (-graft.functions.VectorExpressions.centroidBest(col(vecCol), cents)("negCell")).as("__cell")))
    val a = assigned.select(col("__cell"), col("__id").as("__ida"), col("__vec").as("__veca"))
    if (guardOff) {
      val dropped = assigned.join(a, Seq("__cell"))
        .filter(col("__ida") < col("__id"))
        .filter(graft.functions.VectorExpressions.cosineF(col("__veca"), col("__vec")) >= threshold)
        .select(col("__id")).distinct()
      return (df.join(dropped, col(idCol) === col("__id"), "left_anti"), None)
    }
    val capSize = math.max(64L,
      math.ceil(maxCellFactor * (n.toDouble / cents.length)).toLong)
    // per-cell count PLAN: the histogram collect runs it fused; when a
    // mega-cell exists it is pinned ONCE and the ok/mega semi-joins
    // read the pinned frame instead of re-aggregating the corpus-sized
    // assigned table per consumer (the Dedup guard kernel's shape)
    val countsPlan = assigned.groupBy(col("__cell")).agg(count(lit(1)).as("__cs"))
    val hist = countsPlan.groupBy(col("__cs")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val over = hist.filter(_._1 > capSize)
    val audit = graft.operators.Dedup.LshAudit(
      resolvedMaxBucket = capSize, nDocs = n,
      nBuckets = hist.iterator.map(_._2).sum,
      largestBucket = hist.lastOption.map(_._1).getOrElse(0L),
      excludedBuckets = over.iterator.map(_._2).sum,
      excludedMembers = over.iterator.map { case (s, c) => s * c }.sum)
    val dropped0 =
      if (audit.excludedBuckets == 0L) {
        assigned.join(a, Seq("__cell"))
          .filter(col("__ida") < col("__id"))
          .filter(graft.functions.VectorExpressions.cosineF(col("__veca"), col("__vec")) >= threshold)
          .select(col("__id"))
      } else {
        log.warn(s"semanticDedup: mega-cell guard (cell cap $capSize = " +
          s"$maxCellFactor x expected ${math.ceil(n.toDouble / cents.length).toLong}) " +
          s"routed ${audit.excludedBuckets} cells / ${audit.excludedMembers} rows " +
          s"(largest ${audit.largestBucket}) to the sub-cell re-split path — " +
          "each mega cell re-assigns its members to ~sqrt(B) member-seeded " +
          "sub-cells and verifies within them exactly; only sub-cells STILL " +
          "over the cap fall back to the 8-low-id-anchor check")
        val counts = Materialize(countsPlan)
        val okCells = counts.filter(col("__cs") <= capSize)
          .select(col("__cell").as("__ok_cell"))
        val ok = assigned.join(okCells, col("__cell") === col("__ok_cell"), "left_semi")
        val base = ok.join(a, Seq("__cell"))
          .filter(col("__ida") < col("__id"))
          .filter(graft.functions.VectorExpressions.cosineF(col("__veca"), col("__vec")) >= threshold)
          .select(col("__id"))
        // ---- r16 stage 1: ONE sub-cell re-split level (the blocking
        // stage — see the scaladoc's two-stage design). Each over-cap
        // cell re-assigns its members to k' = ceil(sqrt(B)) member-
        // seeded sub-cells (capped at 4,096) — O(B * k') = O(B^1.5),
        // the contract cost — and runs the EXACT within-sub-cell
        // verify; stage 2 below closes the cross-sub-cell pairs that
        // noise-shattering leaves behind. Seeds are gathered
        // skew-safely: per-(cell, id mod 8192) minima (map-side
        // combined) then the k' smallest of those — no mega cell ever
        // sorts or collect_lists whole. Ties in the argmax go to the
        // lowest seed id.
        val megaCells = counts.filter(col("__cs") > capSize)
          .select(col("__cell").as("__mg_cell"), col("__cs").as("__b"))
        val mega = Materialize(assigned
          .join(megaCells, col("__cell") === col("__mg_cell"))
          .select(col("__cell"), col("__id"), col("__vec"), col("__b")))
        val saltedSeeds = mega.groupBy(col("__cell"), pmod(col("__id"), lit(8192L)).as("__s"))
          .agg(min(col("__id")).as("__aid"), first(col("__b")).as("__b0"))
        val seedIds = saltedSeeds.groupBy(col("__cell"))
          .agg(array_sort(collect_list(col("__aid"))).as("__ids"),
            first(col("__b0")).as("__b1"))
          .select(col("__cell").as("__sc_cell"),
            explode(slice(col("__ids"), lit(1),
              least(ceil(sqrt(col("__b1"))), lit(4096)).cast("int"))).as("__sid"))
        val seedVecs = Materialize(mega.join(seedIds,
            col("__cell") === col("__sc_cell") && col("__id") === col("__sid"))
          .select(col("__cell").as("__sv_cell"), col("__id").as("__seed"),
            col("__vec").as("__svec"))
          .dropDuplicates("__sv_cell", "__seed"))
        // nearest-seed assignment: max (cosine, -seed) — null cosines
        // (corrupt vectors) degrade to the lowest seed, deterministic.
        // Exact-duplicate (id, vec) rows collapse here; the verify output
        // is distinct'd anyway
        val subAssigned = Materialize(mega
          .select(col("__cell"), col("__id"), col("__vec"))
          .join(seedVecs, col("__cell") === col("__sv_cell"))
          .groupBy(col("__cell"), col("__id"), col("__vec"))
          .agg(max(struct(
            graft.functions.VectorExpressions.cosineF(col("__svec"), col("__vec")).as("cc"),
            (-col("__seed")).as("negSeed"))).as("__m"))
          .select(col("__cell"), col("__id"), col("__vec"),
            (-col("__m")("negSeed")).as("__sub")))
        val subCounts = Materialize(
          subAssigned.groupBy(col("__cell"), col("__sub")).agg(count(lit(1)).as("__scs")))
        val okSubKeys = subCounts.filter(col("__scs") <= capSize)
          .select(col("__cell").as("__okc"), col("__sub").as("__oks"))
        val okSub = subAssigned.join(okSubKeys,
          col("__cell") === col("__okc") && col("__sub") === col("__oks"), "left_semi")
        val subA = okSub.select(col("__cell"), col("__sub"),
          col("__id").as("__ida"), col("__vec").as("__veca"))
        val subVerified = okSub.join(subA, Seq("__cell", "__sub"))
          .filter(col("__ida") < col("__id"))
          .filter(graft.functions.VectorExpressions.cosineF(col("__veca"), col("__vec")) >= threshold)
          .select(col("__id"))
        // sub-cells STILL over the cap (a degenerate family larger than
        // the cell cap concentrates rather than shatters only when its
        // members are EXACTLY identical; near-identical members
        // noise-shatter across near-tied seeds, so this branch is the
        // exactly-identical mass) fall back to the 8-anchor check,
        // anchors gathered within (cell, sub)
        val overSubKeys = subCounts.filter(col("__scs") > capSize)
          .select(col("__cell").as("__mgc"), col("__sub").as("__mgs"))
        val megaSub = subAssigned.join(overSubKeys,
          col("__cell") === col("__mgc") && col("__sub") === col("__mgs"), "left_semi")
        val anchorsK = 8
        val salted = megaSub.groupBy(col("__cell"), col("__sub"),
            pmod(col("__id"), lit(64L)).as("__s"))
          .agg(min(col("__id")).as("__aid"))
        val anchorIds = salted.groupBy(col("__cell"), col("__sub"))
          .agg(slice(array_sort(collect_list(col("__aid"))), 1, anchorsK).as("__as"))
          .select(col("__cell").as("__ac"), col("__sub").as("__asb"),
            explode(col("__as")).as("__aid"))
        val anchorVecs = megaSub.join(anchorIds,
            col("__cell") === col("__ac") && col("__sub") === col("__asb") &&
              col("__id") === col("__aid"))
          .select(col("__cell").as("__cellr"), col("__sub").as("__subr"),
            col("__id").as("__ida"), col("__vec").as("__veca"))
        val anchorVerified = megaSub.join(anchorVecs,
            col("__cell") === col("__cellr") && col("__sub") === col("__subr"))
          .filter(col("__ida") < col("__id"))
          .filter(graft.functions.VectorExpressions.cosineF(col("__veca"), col("__vec")) >= threshold)
          .select(col("__id"))
        // ---- stage 2: cross-sub-cell closure. Sub-splitting is a
        // BLOCKING scheme — near-identical members noise-shatter across
        // near-tied seeds, so a family's per-sub-cell minima would each
        // survive stage 1. Every stage-1 SURVIVOR is therefore verified
        // against ALL smaller members of its mega cell: if b is dropped
        // by the unlimited run, b is either dropped in stage 1 or it
        // survives stage 1 and stage 2 checks it against its dropper —
        // so the guard is EXACT for every mega cell whose stage-1
        // survivor count stays within 4·k' (cost <= 4·B·sqrt(B), the
        // contract). The survivor count is model-sized per cell
        // (collected); a cell beyond the bound — B mutually-dissimilar
        // vectors forced into one cell, where exactness IS the
        // quadratic join — degrades to roots-only cross-check (each
        // sub-cell minimum vs all smaller members) and keeps the
        // in-band audit + WARN.
        val stage1 = subVerified.unionAll(anchorVerified).distinct()
        val survivors = Materialize(subAssigned
          .select(col("__cell"), col("__id"), col("__vec"))
          .join(stage1, Seq("__id"), "left_anti"))
        val survByCell = survivors.groupBy(col("__cell")).agg(count(lit(1)).as("__sv"))
          .join(megaCells, col("__cell") === col("__mg_cell"))
          .select(col("__cell"), col("__sv"), col("__b"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val rootOnlyCells = survByCell.collect { case (cell, sv, b)
          if sv > 4L * math.min(4096L, math.ceil(math.sqrt(b.toDouble)).toLong) => cell }
        val crossSide =
          if (rootOnlyCells.isEmpty) survivors
          else {
            log.warn(s"semanticDedup: ${rootOnlyCells.length} mega cells exceed the " +
              "4*sqrt(B) stage-1 survivor bound — their stage-2 cross-check degrades " +
              "to sub-cell roots only (exactness there is the quadratic join); " +
              "residual approximation stays audited in-band")
            val spark0 = survivors.sparkSession
            import spark0.implicits._
            val rootCellDf = rootOnlyCells.toSeq.toDF("__ro_cell")
            val exactSide = survivors.join(rootCellDf,
              col("__cell") === col("__ro_cell"), "left_anti")
            val rootIds = subAssigned.join(rootCellDf,
                col("__cell") === col("__ro_cell"), "left_semi")
              .groupBy(col("__cell"), col("__sub")).agg(min(col("__id")).as("__rid"))
              .select(col("__cell").as("__r_cell"), col("__sub").as("__r_sub"),
                col("__rid"))
            val rootSide = subAssigned.join(rootIds,
                col("__cell") === col("__r_cell") && col("__sub") === col("__r_sub") &&
                  col("__id") === col("__rid"))
              .select(col("__cell"), col("__id"), col("__vec"))
              .dropDuplicates("__cell", "__id")
            exactSide.unionAll(rootSide)
          }
        val crossB = crossSide.select(col("__cell"), col("__id").as("__idb"),
          col("__vec").as("__vecb"))
        val crossVerified = mega.select(col("__cell"), col("__id"), col("__vec"))
          .join(crossB, Seq("__cell"))
          .filter(col("__id") < col("__idb"))
          .filter(graft.functions.VectorExpressions.cosineF(col("__vec"), col("__vecb")) >= threshold)
          .select(col("__idb").as("__id"))
        base.unionAll(subVerified).unionAll(anchorVerified).unionAll(crossVerified)
      }
    val dropped = dropped0.distinct()
    (df.join(dropped, col(idCol) === col("__id"), "left_anti"), Some(audit))
  }

  /** Product-quantization (PQ) ANN top-k — the compressed-scan scale path
    * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI'11):
    *
    *  1. *train*: the codebook is the `codes` lowest-id corpus vectors,
    *     split into `m` subspaces — the same deterministic stand-in for
    *     k-means as [[ivfTopK]] (training is pluggable; the index
    *     structure is the operator). Model-sized, collected once.
    *  2. *encode*: each corpus vector is reduced to `m` small codes via
    *     an arg-min L2 struct-fold against codebook literals — map-side
    *     projection, no shuffle. At 100 TB this is the point: a 64-dim
    *     float vector (256 B) becomes `m` bytes (64× compression at
    *     m=4/256 codes), so the scored scan reads codes, not vectors.
    *  3. *score* (ADC): each query precomputes one `codes`-entry
    *     dot-product lookup table per subspace; a candidate's approximate
    *     inner product is `m` table lookups summed in fixed subspace
    *     order. Queries (tables included) broadcast; the corpus side
    *     never re-reads the raw vectors.
    *
    * Returns (query_id, rank, nn_id, score) with ties to the lower id —
    * PQ scores are quantized, so ties are common and the pinned order
    * matters. Recall floor vs brute force is measured in AnnRecallSpec.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 4, codes: Int = 16): DataFrame = {
    // codes lowest DISTINCT ids — duplicate-id rows would collapse the
    // codebook to a handful of distinct entries (see kmeansCentroids)
    val seeds = pqSeeds(corpus, idCol, vecCol, codes, "pqTopK")
    val dim = seeds.head.length
    require(dim % m == 0, s"pqTopK: dim $dim not divisible by m=$m")
    val sub = dim / m
    // codebook(mi)(j) = subspace-mi slice of seed j
    val cb: Array[Array[Seq[Float]]] =
      Array.tabulate(m, codes)((mi, j) => seeds(j).slice(mi * sub, (mi + 1) * sub))

    def subvec(vec: Column, mi: Int): Column = slice(vec, mi * sub + 1, sub)
    def fold(products: Column): Column = aggregate(products, lit(0.0), (acc, x) => acc + x)
    // composed HOF form, kept deliberately: an A/B against a fused
    // codegen'd L2 expression measured the composed form FASTER on the
    // encode loop (0.9 s vs 1.7 s over 20k rows × 64 codebook L2s) —
    // unlike the sq8 scan, where the fused int-dot kernel wins 6×
    def l2(a: Column, cv: Seq[Float]): Column =
      fold(zip_with(a, typedLit(cv), (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }))
    def dot(a: Column, cv: Seq[Float]): Column =
      fold(zip_with(a, typedLit(cv), (x, y) => x.cast("double") * y.cast("double")))

    // arg-min L2 code per subspace: struct ordering = (dist, then code)
    def codeOf(vec: Column, mi: Int): Column =
      array_min(array((0 until codes).map(j =>
        struct(l2(subvec(vec, mi), cb(mi)(j)).as("d"), lit(j.toLong).as("j"))): _*))("j")

    val enc = corpus.select(col(idCol).as("nn_id") +:
      (0 until m).map(mi => codeOf(col(vecCol), mi).as(s"__c$mi")): _*)
    val q = queries.select(col(idCol).as("query_id") +:
      (0 until m).map(mi => array((0 until codes).map(j =>
        dot(subvec(col(vecCol), mi), cb(mi)(j))): _*).as(s"__lut$mi")): _*)

    val scored = enc.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", (0 until m).map(mi =>
        element_at(col(s"__lut$mi"), col(s"__c$mi").cast("int") + 1)).reduce(_ + _))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("score"))
  }

  /** Bucketed ANN top-k: probe the query's sign bucket, plus
    * `extraProbes` least-confident-bit-flip buckets (multi-probe; 0 =
    * single-probe). One shuffle on the bucket key regardless of corpus
    * size; each extra probe adds one candidate bucket per query, not a
    * corpus scan. A corpus vector lives in exactly one bucket and probe
    * buckets are distinct, so no candidate pair is scored twice.
    */
  /** Per-vector symmetric int8 scalar quantization (SQ8): `scale =
    * max|x| / 127`, `q_i = floor(x_i/scale + 0.5)` clamped to ±127.
    * Returns a struct `(scale: double, q: array<long>)`.
    *
    * Round-half-up is written as `floor(x + 0.5)` ON PURPOSE: `round()`
    * half-way semantics differ across engines (HALF_UP vs half-away vs
    * banker's), while `floor` is IEEE-exact everywhere, so quantized
    * codes are bit-identical on Spark and the DuckDB oracle. A zero
    * vector gets scale 1.0 (all-zero codes) instead of a 0/0 NaN.
    *
    * At 100 TB this is the embedding STORAGE scale path: 64-dim float32
    * (256 B) becomes 64 int8 codes + one float scale (~68 B, 4x), and —
    * unlike PQ — decode is a single multiply, so quantized vectors still
    * support exact-ish dot products without a codebook broadcast.
    */
  def quantizeInt8(vec: Column): Column = {
    val maxabs = array_max(transform(vec, x => abs(x.cast("double"))))
    val scale = when(maxabs === 0d, lit(1.0)).otherwise(maxabs / 127d)
    val q = transform(vec, x => greatest(lit(-127L), least(lit(127L),
      floor(x.cast("double") / scale + 0.5).cast("long"))))
    struct(scale.as("scale"), q.as("q"))
  }

  /** Deterministic sign matrix for [[randomProject]]: entry (j, i) is
    * ±1 from the parity of the 60-bit md5 integer of `"seed:j:i"` —
    * the Achlioptas (2001) database-friendly JL construction with
    * ±1 entries, derivable by ANY engine with md5 (the DuckDB oracle
    * rebuilds the identical matrix in SQL). Model-sized: dOut × dIn
    * signs, computed driver-side once.
    */
  def projectionSigns(dOut: Int, dIn: Int, seed: String): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dOut, dIn) { (j, i) =>
      val hex = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
  }

  /** Sparse random projection (Johnson–Lindenstrauss) of an embedding
    * column to `dOut` dims: `out_j = (Σ_i sign(j,i) · x_i) / sqrt(dOut)`
    * with the deterministic ±1 matrix of [[projectionSigns]].
    *
    * The 100 TB rationale: JL projection is the embedding-pipeline
    * volume knob — 64→16 dims cuts every downstream ANN scan, k-means
    * pass and near-dup join 4×, with distance distortion bounded by the
    * lemma. Zero shuffles: the sign matrix rides into codegen as
    * literals (model-sized), each output dim is one fused index-order
    * fold over the input array, so the projection fuses into whatever
    * scan feeds it.
    *
    * Determinism: index-order folds of exact double ops (±x additions,
    * one final division) — any engine reproduces bit-for-bit.
    */
  def randomProject(df: DataFrame, vecCol: String, outCol: String,
                    dIn: Int, dOut: Int, seed: String = "rp"): DataFrame = {
    require(dOut >= 1 && dIn >= 1, s"randomProject: dims must be >= 1, got $dIn -> $dOut")
    val signs = projectionSigns(dOut, dIn, seed)
    // fused codegen kernel — the composed column-algebra form unrolls
    // dOut×dIn add terms and overflows the 64 KB codegen method limit
    df.withColumn(outCol,
      graft.functions.VectorExpressions.signedProject(col(vecCol), signs))
  }

  /** SQ8 ANN top-k: quantized-scan + exact re-rank — the production
    * two-pass pattern (Douze et al., "The Faiss library", 2024, §SQ):
    *
    *  1. *scan*: the corpus is read as int8 codes ONLY (no raw vectors) —
    *     the approximate score is an integer dot product (exact in int64:
    *     127 * 127 * dim << 2^63) times the two scales. Queries broadcast
    *     with their codes; map-side, no shuffle of corpus data.
    *  2. *select*: top-`rerank` candidates per query by approximate
    *     score (ties to the lower id) — one window shuffle over
    *     nQueries x corpus candidate ROWS of (ids, score), not vectors.
    *  3. *re-rank*: only the ~nQueries x rerank survivors join back to
    *     the raw vectors (broadcast — candidate set is query-sized) for
    *     exact fp32 cosine; final top-`k` by exact score.
    *
    * At 100 TB the first pass reads 4x fewer bytes than a float scan and
    * the expensive cosine runs on a vanishing fraction of the corpus.
    * Recall floor vs brute force is measured in AnnRecallSpec.
    */
  def sq8TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, rerank: Int = 10): DataFrame = {
    require(rerank >= k, s"sq8TopK: rerank $rerank must be >= k $k")
    val cq = corpus.select(col(idCol).as("nn_id"),
      quantizeInt8(col(vecCol)).as("__cq"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      quantizeInt8(col(vecCol)).as("__qq"))
    val approx = cq.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      // codegen'd fused int64 dot — the corpus-scan inner loop; the
      // composed zip_with+aggregate form allocates and interprets per row
      .withColumn("__adot",
        graft.functions.VectorExpressions.dotL(col("__qq.q"), col("__cq.q")))
      .withColumn("__ascore",
        col("__adot").cast("double") * col("__qq.scale") * col("__cq.scale"))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("__ascore").desc, col("nn_id").asc)
    val cand = approx.withColumn("__arank", row_number().over(wA))
      .filter(col("__arank") <= rerank)
      .select(col("query_id"), col("query_vec"), col("nn_id"))
    val rer = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
      .join(broadcast(cand), "nn_id")
      .withColumn("cosine",
        graft.functions.VectorExpressions.cosineF(col("query_vec"), col("nn_vec")))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    rer.withColumn("rank", row_number().over(wE))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("cosine"))
  }

  /** IVF-PQ ANN top-k — the composed billion-scale index (Jégou et al.
    * TPAMI'11 §V; what FAISS's `IVFx,PQy` runs at 100 TB): an inverted
    * file restricts candidates to the probed cells, and each candidate
    * is scored from `m` product-quantization codes of its RESIDUAL
    * (vector − cell centroid), never the raw vector.
    *
    *  1. *coarse train*: centroids = the `nCells` lowest-id corpus
    *     vectors (deterministic k-means stand-in, as [[ivfTopK]]) —
    *     model-sized, collected once.
    *  2. *assign + residual*: map-side argmax-cosine cell per vector,
    *     then ONE broadcast join to the nCells-row centroid table for
    *     the residual subtraction — no corpus shuffle.
    *  3. *residual codebook*: the `codes` lowest-id residuals AFTER the
    *     centroid seeds (the seeds' own residuals are ~0 and would make
    *     a degenerate codebook) — model-sized, collected once; encode =
    *     per-subspace arg-min L2 against codebook literals, map-side.
    *  4. *probe + ADC*: each query explodes its top-`nProbe` cells,
    *     carrying `dot(q, centroid)` plus one `codes`-entry
    *     dot-product LUT per subspace; candidates are fetched by the
    *     single equi-join on the cell id (the only corpus-data shuffle,
    *     and it carries `m` codes per row, not vectors) and scored as
    *     `dot(q, c) + Σ LUT_mi[code_mi]` ≈ `dot(q, x)`.
    *
    * Ties break to the lower cell / id everywhere (quantized scores
    * collide often). Returns (query_id, rank, nn_id, score); recall
    * floor vs brute force is measured in AnnRecallSpec.
    */
  /** Trained IVF-PQ model: coarse centroids + per-subspace residual
    * codebooks. Model-sized (nCells·dim + m·codes·sub doubles) — the
    * artifact a 100 TB pipeline trains ONCE and reuses.
    */
  final case class IvfPqModel(cents: Array[(Long, Seq[Float])],
                              rcb: Array[Array[Seq[Double]]],
                              m: Int, sub: Int, codes: Int)

  private def foldSum(products: Column): Column =
    aggregate(products, lit(0.0), (acc, x) => acc + x)

  /** Map-side cell assignment + residual: `(nn_id, cell, __res)` — the
    * argmax via the centroid kernel plus ONE broadcast join for the
    * residual subtraction; no corpus shuffle.
    */
  private def ivfPqAssign(corpus: DataFrame, idCol: String, vecCol: String,
                          cents: Array[(Long, Seq[Float])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = cents.toSeq.toDF("cell", "cvec")
    corpus
      .select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
        (-graft.functions.VectorExpressions.centroidBest(col(vecCol), cents)("negCell")).as("cell"))
      .join(broadcast(centDf), "cell")
      .withColumn("__res", zip_with(col("nn_vec"), col("cvec"),
        (x, y) => x.cast("double") - y.cast("double")))
      .select(col("nn_id"), col("cell"), col("__res"))
  }

  // composed HOF forms — measured faster than a fused L2 expression on
  // the encode loop (see pqTopK's l2 note)
  private def pqL2(a: Column, cv: Seq[Double]): Column =
    foldSum(zip_with(a, typedLit(cv), (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }))
  private def pqDot(a: Column, cv: Seq[Double]): Column =
    foldSum(zip_with(a, typedLit(cv), (x, y) => x.cast("double") * y.cast("double")))

  /** Train the coarse + residual quantizers (the deterministic lowest-id
    * stand-ins; training is pluggable, the index structure is the
    * operator). ONE model-sized collect.
    *
    * r16 optimization (guide §2.4, remove passes outright): this used to
    * cost TWO full corpus passes before the encode — one
    * `kmeansCentroids` seed collect, and one full-corpus
    * [[ivfPqAssign]] (nCells cosines per row + broadcast join +
    * residual zip_with) consumed only to `dropDuplicates.orderBy.limit`
    * out `codes` residual-seed rows. The centroid seeds are the
    * `nCells` lowest distinct ids and the residual seeds are the next
    * `codes` distinct ids, so BOTH are the head of the same ordering:
    * collect the `nCells + codes` lowest-distinct-id vectors once and
    * compute the `codes` seed residuals driver-side, via the SAME
    * [[graft.functions.CentroidKernel]] the distributed assignment
    * uses (identical fold order / tie rule ⇒ bit-identical cells and
    * residuals; gated by ann_ivfpq_topk/persisted/incremental staying
    * hash-green). The corpus-sized assignment now runs exactly once,
    * in the encode pass.
    */
  private def trainIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                         nCells: Int, m: Int, codes: Int,
                         what: String): (IvfPqModel, DataFrame) = {
    val seedRows: Array[(Long, Seq[Float])] = corpus
      .select(col(idCol).cast("long").as("__kid"), col(vecCol).as("__kv"))
      .dropDuplicates("__kid")
      .orderBy(col("__kid")).limit(nCells + codes)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val cents = seedRows.take(nCells)
    require(cents.length == nCells, s"$what: corpus smaller than $nCells distinct-id cells")
    val dim = cents.head._2.length
    require(dim % m == 0, s"$what: dim $dim not divisible by m=$m")
    require(cents.forall(c => c._2 != null && c._2.length == dim),
      s"$what: mixed-dimension centroid seeds (expected uniform dim $dim)")
    val sub = dim / m
    require(seedRows.length == nCells + codes,
      s"$what: corpus smaller than ${nCells + codes} vectors")
    // driver-side argmax through the shared kernel (k=1): same double
    // fold sequence and (cc, negCell) tie rule as the distributed path
    val kernel = new graft.functions.CentroidKernel(
      cents.map(_._1), flatCentFloats(cents, dim), dim, 1)
    val centByCell = cents.toMap
    val rseeds: Array[Seq[Double]] = seedRows.drop(nCells).map { case (rid, rv) =>
      require(rv != null && rv.length == dim,
        s"$what: residual seed id=$rid has dim ${if (rv == null) -1 else rv.length}, expected $dim")
      val best = kernel.topK(new org.apache.spark.sql.catalyst.util.GenericArrayData(rv.toArray))
      val cell = -best.getStruct(0, 2).getLong(1)
      val cv = centByCell(cell)
      rv.indices.map(i => rv(i).toDouble - cv(i).toDouble)
    }
    val rcb: Array[Array[Seq[Double]]] =
      Array.tabulate(m, codes)((mi, j) => rseeds(j).slice(mi * sub, (mi + 1) * sub))
    (IvfPqModel(cents, rcb, m, sub, codes),
      ivfPqAssign(corpus, idCol, vecCol, cents))
  }

  private def flatCentFloats(cents: Array[(Long, Seq[Float])], dim: Int): Array[Float] = {
    val out = new Array[Float](cents.length * dim)
    var j = 0
    while (j < cents.length) {
      val cv = cents(j)._2
      var i = 0
      while (i < dim) { out(j * dim + i) = cv(i); i += 1 }
      j += 1
    }
    out
  }

  /** Encode assigned residuals to `m` codes: map-side arg-min L2 folds
    * against codebook literals — `(nn_id, cell, __c0..__c{m-1})`.
    */
  private def ivfPqEncode(assigned: DataFrame, model: IvfPqModel): DataFrame = {
    import model._
    def subvec(vec: Column, mi: Int): Column = slice(vec, mi * sub + 1, sub)
    def codeOf(res: Column, mi: Int): Column =
      array_min(array((0 until codes).map(j =>
        struct(pqL2(subvec(res, mi), rcb(mi)(j)).as("d"), lit(j.toLong).as("j"))): _*))("j")
    assigned.select(col("nn_id") +: col("cell") +:
      (0 until m).map(mi => codeOf(col("__res"), mi).as(s"__c$mi")): _*)
  }

  /** Probe frame: per (query, probed cell) the centroid dot + one ADC
    * LUT per subspace — broadcast-sized for query batches.
    */
  private def ivfPqProbes(queries: DataFrame, idCol: String, vecCol: String,
                          model: IvfPqModel, nProbe: Int): DataFrame = {
    import model._
    val spark = queries.sparkSession
    import spark.implicits._
    val centDf = cents.toSeq.toDF("cell", "cvec")
    def subvec(vec: Column, mi: Int): Column = slice(vec, mi * sub + 1, sub)
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        explode(graft.functions.VectorExpressions.centroidTopK(col(vecCol), cents, nProbe)).as("p"))
      .select(col("query_id"), col("__qv"), (-col("p.negCell")).as("cell"))
      .join(broadcast(centDf), "cell")
      .select(col("query_id") +: col("cell") +:
        foldSum(zip_with(col("__qv"), col("cvec"),
          (x, y) => x.cast("double") * y.cast("double"))).as("__cdot") +:
        (0 until m).map(mi => array((0 until codes).map(j =>
          pqDot(subvec(col("__qv"), mi), rcb(mi)(j))): _*).as(s"__lut$mi")): _*)
  }

  /** ADC scoring + per-query top-k over an encoded codes frame. */
  private def ivfPqScore(enc: DataFrame, probes: DataFrame, m: Int,
                         k: Int): DataFrame = {
    val scored = enc.join(broadcast(probes), "cell")
      .filter(col("nn_id") =!= col("query_id"))
      // fold ADC terms left-to-right STARTING from the centroid dot —
      // the canonical association any SQL replay (`cdot + l0 + l1 + …`)
      // uses; grouping the LUT terms first drifts the double by 1 ulp
      .withColumn("score", (0 until m).map(mi =>
        element_at(col(s"__lut$mi"), col(s"__c$mi").cast("int") + 1))
        .foldLeft(col("__cdot"))(_ + _))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("score"))
  }

  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 4, codes: Int = 16): DataFrame = {
    val (model, assigned) = trainIvfPq(corpus, idCol, vecCol, nCells, m, codes, "ivfPqTopK")
    ivfPqScore(ivfPqEncode(assigned, model),
      ivfPqProbes(queries, idCol, vecCol, model, nProbe), m, k)
  }

  /** Build and PERSIST the IVF-PQ index — the production shape: the
    * corpus-sized encode pass is paid ONCE, and every later query batch
    * reads codes, never vectors. Layout under `path`:
    *
    *  - `centroids`  (cell, cvec)           — model-sized
    *  - `codebooks`  (mi, j, subvec)        — model-sized
    *  - `codes/cell=N/…` (nn_id, __c0..__c{m-1}) — corpus-sized,
    *    PARTITIONED BY CELL, so a probe reads only its cells' files
    *    (partition pruning: nProbe/nCells of the index per query batch,
    *    undecoded skip for the rest).
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      path: String, nCells: Int = 16, m: Int = 4,
                      codes: Int = 16): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (model, assigned) = trainIvfPq(corpus, idCol, vecCol, nCells, m, codes, "buildIvfPqIndex")
    // the two model-sized writes are independent of the corpus-sized
    // encode write: overlap them so their job tails back-fill the encode
    // stage's idle cores (guide §2.6) instead of running serially after it
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val modelWrites = Future {
      saveCentroids(model.cents, s"$path/centroids", spark)
      model.rcb.zipWithIndex.flatMap { case (row, mi) =>
        row.zipWithIndex.map { case (cv, j) => (mi, j, cv) }
      }.toSeq.toDF("mi", "j", "subvec").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/codebooks")
    }
    // one writer per cell (the BucketedStore.write discipline): without the
    // repartition every map task writes a file per cell it sees — up to
    // tasks × nCells small files per build, paid again by every pruned
    // query read
    ivfPqEncode(assigned, model)
      .repartition(nCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    Await.result(modelWrites, Duration.Inf)
  }

  /** Incremental index maintenance — the dense twin of
    * [[graft.operators.Retrieval.appendBm25Index]], completing the
    * store trilogy's append faces: encode a delta corpus against the
    * index's FROZEN model (stored centroids + codebooks are never
    * retrained — exactly how production IVF indexes absorb daily
    * deltas; retraining is a deliberate offline rebuild) and append the
    * codes under the same cell partitioning. Contract, pinned in
    * AnnRecallSpec: after append, queries see the union corpus scored
    * under the original model — existing ids' scores are bit-unchanged
    * (model frozen ⇒ same codes ⇒ same ADC sums) and delta ids score
    * exactly as the in-one-go encoder would encode them against this
    * model.
    *
    * Append-only by contract (re-appending duplicates them — dedup the
    * delta first). Scale: one delta-sized assign+encode map pass + a
    * cell-partitioned append; cost independent of index size. Drift
    * caveat, stated: a delta far from the training distribution
    * degrades recall (cells/codebooks no longer fit) — monitor with
    * the drift family and rebuild when KS/PSI flags it.
    */
  def appendIvfPqIndex(delta: DataFrame, idCol: String, vecCol: String,
                       path: String): Unit = {
    val spark = delta.sparkSession
    val model = loadIvfPqModel(spark, path)
    val assigned = ivfPqAssign(delta, idCol, vecCol, model.cents)
    ivfPqEncode(assigned, model)
      // one file per touched cell per append (BucketedStore.write discipline) —
      // daily deltas otherwise degrade the pruned read to a small-file
      // storm at tasks × cells files per append
      .repartition(model.cents.length, col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
  }

  /** Load the model half of a persisted index (two small reads —
    * independent, overlapped: each is a sub-100 ms collect, and the
    * query face sits at the per-job floor, guide §2.6).
    */
  def loadIvfPqModel(spark: org.apache.spark.sql.SparkSession,
                     path: String): IvfPqModel = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val centsF = Future { loadCentroids(spark, s"$path/centroids") }
    val cb = spark.read.parquet(s"$path/codebooks")
      .select(col("mi").cast("int"), col("j").cast("int"), col("subvec"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
    val cents = Await.result(centsF, Duration.Inf)
    require(cents.nonEmpty, s"loadIvfPqModel: empty centroids at $path")
    require(cb.nonEmpty, s"loadIvfPqModel: empty codebooks at $path")
    val m = cb.keys.map(_._1).max + 1
    val codes = cb.keys.map(_._2).max + 1
    val rcb = Array.tabulate(m, codes)((mi, j) => cb((mi, j)))
    IvfPqModel(cents, rcb, m, cb((0, 0)).length, codes)
  }

  /** Query a persisted index: identical results to [[ivfPqTopK]] on the
    * same corpus (pinned in AnnRecallSpec), but the corpus side is the
    * stored codes frame — the read is pruned to the query batch's
    * probed cells (a driver-side `isin` over the partition column, so
    * unprobed cells' files are never opened).
    */
  def queryIvfPqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, nProbe: Int = 4): DataFrame = {
    val model = loadIvfPqModel(spark, path)
    // the probed-cell set rides the Materialize job as an observed
    // metric (≤ queries×nProbe values) instead of a separate
    // distinct+collect job over the blocks (guide §1.2; r17)
    val probesSrc = ivfPqProbes(queries, idCol, vecCol, model, nProbe)
      .observe("graft_ivfpq_cells", collect_set(col("cell").cast("long")).as("c"))
    val probes = Materialize(probesSrc)
    val probedCells: Array[Long] = probesSrc.queryExecution.observedMetrics
      .get("graft_ivfpq_cells").map(_.getSeq[Long](0).toArray)
      .getOrElse(probes.select(col("cell").cast("long"))
        .distinct().collect().map(_.getLong(0)))
    val enc = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(probedCells: _*))
      .withColumn("cell", col("cell").cast("long"))
    ivfPqScore(enc, probes, model.m, k)
  }

  def bucketedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                   vecCol: String, k: Int, bits: Int = 16,
                   extraProbes: Int = 0): DataFrame = {
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      signBucket(col(vecCol), bits).as("__bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"),
      explode(probeBuckets(col(vecCol), bits, extraProbes)).as("__bucket"))
    val scored = c.join(q, "__bucket")
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineF(col("query_vec"), col("nn_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("cosine"))
  }

  // ---------------- OPQ: optimized product quantization ----------------

  /** OPQ model: an orthogonal `d×d` rotation (row-major rows) plus
    * per-subspace codebooks `codebooks(mi)(j)` of `d/m` doubles.
    */
  final case class OpqModel(rotation: Array[Array[Double]],
                            codebooks: Array[Array[Array[Double]]]) {
    def d: Int = rotation.length
    def m: Int = codebooks.length
  }

  /** Identity-rotation model with codebooks = slices of the same
    * deterministic lowest-id seeds [[pqTopK]] uses — by construction
    * [[opqTopK]] under this model reproduces [[pqTopK]] bit-for-bit
    * (the oracle-gate lever: `ann_opq_identity` shares the pq oracle).
    */
  def opqIdentityModel(corpus: DataFrame, idCol: String, vecCol: String,
                       m: Int, codes: Int): OpqModel = {
    val seeds = pqSeeds(corpus, idCol, vecCol, codes, "opqIdentityModel")
    val dim = seeds.head.length
    require(dim % m == 0, s"opqIdentityModel: dim $dim not divisible by m=$m")
    val sub = dim / m
    OpqModel(
      Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0),
      Array.tabulate(m, codes)((mi, j) =>
        seeds(j).slice(mi * sub, (mi + 1) * sub).map(_.toDouble).toArray))
  }

  /** Non-parametric OPQ training (Ge, He, Ke & Sun, CVPR 2013 /
    * Norouzi & Fleet's ck-means): alternate
    *
    *  1. subspace codebook refresh — `lloydPerIter` Lloyd steps in the
    *     ROTATED space (one map-side assign + one `(mi, code, dim)`
    *     aggregate per step, model-sized result),
    *  2. rotation refresh — orthogonal Procrustes `R = U Vᵀ` from the
    *     SVD of the data↔codeword cross-covariance `C = Σ q xᵀ`,
    *     accumulated distributively as ONE [[graft.functions.GramAgg]]
    *     pass over `concat(q, x)` (a `2d×2d` mergeable partial, ~130 KB
    *     at d=64; the cross block is read off the upper triangle) and
    *     solved on the driver via the existing Jacobi eigensolver
    *     (`SVD(C)` from `eig(CᵀC)`, rank-deficient directions completed
    *     by Gram-Schmidt).
    *
    * PQ's axis-aligned subspace split is arbitrary; the learned rotation
    * aligns the data's principal structure to that split, cutting
    * quantization distortion (spec-pinned: distortion decreases, recall
    * vs exact >= plain PQ on correlated data). Scale: every step is one
    * corpus pass with model-sized driver state — the k-means/GD loop
    * shape; nothing driver-side grows with the corpus.
    */
  def opqTrain(corpus: DataFrame, idCol: String, vecCol: String,
               m: Int = 4, codes: Int = 16, iters: Int = 3,
               lloydPerIter: Int = 1): OpqModel = {
    require(iters >= 0, s"opqTrain: iters must be >= 0, got $iters")
    require(lloydPerIter >= 1, s"opqTrain: lloydPerIter must be >= 1, got $lloydPerIter")
    var model = opqIdentityModel(corpus, idCol, vecCol, m, codes)
    val dim = model.d
    val sub = dim / m
    val zeros = new Array[Double](dim)
    var t = 0
    while (t < iters) {
      val rotated = Materialize(corpus.select(col(idCol).as("__oid"),
        col(vecCol).as("__ox"),
        graft.functions.PcaKernels.affineProject(col(vecCol),
          model.rotation.flatten, zeros, dim).as("__oy")))
      // 1) Lloyd refresh of subspace codebooks in rotated space
      var l = 0
      while (l < lloydPerIter) {
        val cb = model.codebooks
        val entries = rotated.select(explode(array((0 until m).map { mi =>
            struct(lit(mi).as("mi"),
              opqCodeOf(col("__oy"), mi, sub, cb(mi)).as("code"),
              slice(col("__oy"), mi * sub + 1, sub).as("sv"))
          }: _*)).as("e"))
          .select(col("e.mi"), col("e.code"), posexplode(col("e.sv")).as(Seq("dim", "x")))
          .groupBy("mi", "code", "dim").agg(avg(col("x")).as("mu"))
          .collect()
        val next = Array.tabulate(m, codes)((mi, j) => cb(mi)(j).clone())
        entries.foreach { r =>
          next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3)
        }
        model = OpqModel(model.rotation, next)
        l += 1
      }
      // 2) Procrustes rotation refresh from C = sum q x^T
      val cb = model.codebooks
      val qCol = flatten(array((0 until m).map { mi =>
        element_at(typedLit(cb(mi).map(_.toSeq).toSeq),
          opqCodeOf(col("__oy"), mi, sub, cb(mi)).cast("int") + 1)
      }: _*))
      val z = concat(transform(qCol, e => e.cast("float")), col("__ox"))
      val raw = rotated.agg(graft.functions.PcaKernels.gramAgg(z, 2 * dim).as("g"))
        .head.getSeq[Double](0).toArray
      val c = Array.ofDim[Double](dim, dim)
      val dd = 2 * dim
      def gIdx(i: Int, j: Int): Int = 1 + dd + i * dd - i * (i - 1) / 2 + (j - i)
      var i = 0
      while (i < dim) {
        var j = 0
        while (j < dim) { c(i)(j) = raw(gIdx(i, dim + j)); j += 1 }
        i += 1
      }
      model = OpqModel(procrustes(c), model.codebooks)
      t += 1
    }
    model
  }

  /** PQ top-k under an OPQ model: both sides rotate through the fused
    * [[graft.functions.AffineProject]] kernel, then the exact [[pqTopK]]
    * scoring path (asymmetric LUT dot, argmin-L2 codes, same window) in
    * rotated coordinates. Output: `(query_id, rank, nn_id, score)`.
    */
  def opqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, model: OpqModel): DataFrame = {
    val dim = model.d
    val m = model.m
    val sub = dim / m
    val codes = model.codebooks.head.length
    val zeros = new Array[Double](dim)
    val y = graft.functions.PcaKernels.affineProject(col(vecCol),
      model.rotation.flatten, zeros, dim)
    val cb = model.codebooks
    val enc = corpus.select(col(idCol).as("nn_id") +:
      (0 until m).map(mi => opqCodeOf(y, mi, sub, cb(mi)).as(s"__c$mi")): _*)
    val q = queries.select(col(idCol).as("query_id") +:
      (0 until m).map(mi => array((0 until codes).map(j =>
        pqDot(slice(y, mi * sub + 1, sub), cb(mi)(j).toSeq)): _*).as(s"__lut$mi")): _*)
    val scored = enc.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", (0 until m).map(mi =>
        element_at(col(s"__lut$mi"), col(s"__c$mi").cast("int") + 1)).reduce(_ + _))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("score"))
  }

  /** Mean per-vector quantization distortion `‖y − q(y)‖²` under a
    * model — the objective OPQ minimizes (spec observable).
    */
  def opqDistortion(corpus: DataFrame, vecCol: String, model: OpqModel): Double = {
    val dim = model.d
    val m = model.m
    val sub = dim / m
    val zeros = new Array[Double](dim)
    val y = graft.functions.PcaKernels.affineProject(col(vecCol),
      model.rotation.flatten, zeros, dim)
    val dist = (0 until m).map { mi =>
      array_min(array((0 until model.codebooks.head.length).map(j =>
        pqL2(slice(y, mi * sub + 1, sub), model.codebooks(mi)(j).toSeq)): _*))
    }.reduce(_ + _)
    corpus.agg(avg(dist)).head.getDouble(0)
  }

  /** Persist a flat OPQ-PQ index: train ([[opqTrain]]), store the model
    * (rotation rows + codebooks) and the corpus codes — the
    * build-once/query-many shape of [[buildIvfPqIndex]] without the
    * coarse quantizer: the codes table is a flat columnar scan (m tiny
    * long columns per vector, ~m bytes/vector of real payload), which
    * at 100 TB is the point — ADC scans the CODES, never the vectors.
    */
  def buildOpqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, m: Int = 4, codes: Int = 16,
                    iters: Int = 3): OpqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val model = opqTrain(corpus, idCol, vecCol, m, codes, iters)
    val dim = model.d
    val sub = dim / m
    // the two model-sized writes are independent of the corpus-sized
    // encode write: overlap them (guide §2.6 — the buildIvfPqIndex
    // discipline, applied here in r17)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val modelWrites = Future {
      model.rotation.zipWithIndex.map { case (row, i) => (i, row.toSeq) }
        .toSeq.toDF("i", "row").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/rotation")
      model.codebooks.zipWithIndex.flatMap { case (cbMi, mi) =>
        cbMi.zipWithIndex.map { case (cv, j) => (mi, j, cv.toSeq) }
      }.toSeq.toDF("mi", "j", "subvec").coalesce(1)
        .write.mode("overwrite").parquet(s"$path/codebooks")
    }
    val y = graft.functions.PcaKernels.affineProject(col(vecCol),
      model.rotation.flatten, new Array[Double](dim), dim)
    corpus.select(col(idCol).as("nn_id") +:
        (0 until m).map(mi => opqCodeOf(y, mi, sub, model.codebooks(mi)).as(s"__c$mi")): _*)
      .write.mode("overwrite").parquet(s"$path/codes")
    Await.result(modelWrites, Duration.Inf)
    model
  }

  /** Load the model half of a persisted OPQ index (two small reads —
    * independent, overlapped like [[loadIvfPqModel]]'s, guide §2.6).
    */
  def loadOpqModel(spark: org.apache.spark.sql.SparkSession,
                   path: String): OpqModel = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rotF = Future {
      spark.read.parquet(s"$path/rotation")
        .select(col("i").cast("int"), col("row"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    }
    val cb = spark.read.parquet(s"$path/codebooks")
      .select(col("mi").cast("int"), col("j").cast("int"), col("subvec"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val rot = Await.result(rotF, Duration.Inf)
    require(rot.nonEmpty, s"loadOpqModel: empty rotation at $path")
    require(cb.nonEmpty, s"loadOpqModel: empty codebooks at $path")
    val m = cb.keys.map(_._1).max + 1
    val codes = cb.keys.map(_._2).max + 1
    OpqModel(rot.map(_._2), Array.tabulate(m, codes)((mi, j) => cb((mi, j))))
  }

  /** Query a persisted OPQ index: identical results to [[opqTopK]] under
    * the stored model (spec-pinned) — queries rotate + build LUTs
    * map-side, the stored codes frame is the scan side.
    */
  def queryOpqIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    val model = loadOpqModel(spark, path)
    val dim = model.d
    val m = model.m
    val sub = dim / m
    val codes = model.codebooks.head.length
    val y = graft.functions.PcaKernels.affineProject(col(vecCol),
      model.rotation.flatten, new Array[Double](dim), dim)
    val q = queries.select(col(idCol).as("query_id") +:
      (0 until m).map(mi => array((0 until codes).map(j =>
        pqDot(slice(y, mi * sub + 1, sub), model.codebooks(mi)(j).toSeq)): _*)
        .as(s"__lut$mi")): _*)
    val enc = spark.read.parquet(s"$path/codes")
    val scored = enc.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .withColumn("score", (0 until m).map(mi =>
        element_at(col(s"__lut$mi"), col(s"__c$mi").cast("int") + 1)).reduce(_ + _))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nn_id"), col("score"))
  }

  /** The deterministic lowest-distinct-id codebook seeds shared by
    * [[pqTopK]] and [[opqIdentityModel]].
    */
  private def pqSeeds(corpus: DataFrame, idCol: String, vecCol: String,
                      codes: Int, what: String): Array[Seq[Float]] = {
    val seeds: Array[Seq[Float]] = corpus
      .select(col(idCol).cast("long").as("__pid"), col(vecCol).as("__pv"))
      .dropDuplicates("__pid")
      .orderBy(col("__pid")).limit(codes)
      .collect().map(_.getSeq[Float](1))
    require(seeds.length == codes,
      s"$what: corpus smaller than $codes distinct-id codebook seeds")
    seeds
  }

  /** Arg-min-L2 code of subspace `mi` against a double codebook; struct
    * ordering = (dist, then code) — [[pqTopK]]'s tie rule.
    */
  private def opqCodeOf(y: Column, mi: Int, sub: Int,
                        cbMi: Array[Array[Double]]): Column =
    array_min(array(cbMi.indices.map(j =>
      struct(pqL2(slice(y, mi * sub + 1, sub), cbMi(j).toSeq).as("d"),
        lit(j.toLong).as("j"))): _*))("j")

  /** Orthogonal Procrustes: the rotation maximizing `tr(Rᵀ C)` — `U Vᵀ`
    * from `C = U Σ Vᵀ`, computed as `eig(CᵀC) = V Σ² Vᵀ` (Jacobi),
    * `u_k = C v_k / σ_k`, with Gram-Schmidt completion for
    * rank-deficient directions.
    */
  private[graft] def procrustes(c: Array[Array[Double]]): Array[Array[Double]] = {
    val d = c.length
    val ctc = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var acc = 0.0
        var r = 0
        while (r < d) { acc += c(r)(i) * c(r)(j); r += 1 }
        ctc(i)(j) = acc
        j += 1
      }
      i += 1
    }
    val (vals, vecsRows) = Pca.jacobiEigen(ctc) // rows = eigenvectors of CtC = V columns
    val sigMax = math.sqrt(math.max(vals.headOption.getOrElse(0.0), 0.0))
    val u = Array.ofDim[Double](d, d) // columns u_k
    val used = new Array[Boolean](d)
    // u_k = C v_k / ||C v_k|| accepted ONLY if, after modified
    // Gram-Schmidt against already-accepted columns, a solid norm
    // remains RELATIVE to sigMax — a sigma-only threshold lets
    // near-null directions through with garbage (non-unit) columns
    // (observed on rank-deficient C), which silently de-orthogonalizes R
    def orthogonalizeAccept(k: Int, cand: Array[Double], floor: Double): Boolean = {
      var kk = 0
      while (kk < d) {
        if (used(kk)) {
          var dot = 0.0
          var r = 0
          while (r < d) { dot += cand(r) * u(r)(kk); r += 1 }
          r = 0
          while (r < d) { cand(r) -= dot * u(r)(kk); r += 1 }
        }
        kk += 1
      }
      var nrm = 0.0
      var r = 0
      while (r < d) { nrm += cand(r) * cand(r); r += 1 }
      nrm = math.sqrt(nrm)
      if (nrm > floor) {
        r = 0
        while (r < d) { u(r)(k) = cand(r) / nrm; r += 1 }
        used(k) = true
        true
      } else false
    }
    var k = 0
    while (k < d) {
      val cand = new Array[Double](d)
      var r = 0
      while (r < d) {
        var acc = 0.0
        var s = 0
        while (s < d) { acc += c(r)(s) * vecsRows(k)(s); s += 1 }
        cand(r) = acc
        r += 1
      }
      orthogonalizeAccept(k, cand, math.max(sigMax, 1.0) * 1e-7)
      k += 1
    }
    // complete deficient columns from standard basis vectors
    k = 0
    var basis = 0
    while (k < d) {
      if (!used(k)) {
        var done = false
        while (!done && basis < d) {
          val cand = new Array[Double](d)
          cand(basis) = 1.0
          basis += 1
          done = orthogonalizeAccept(k, cand, 1e-8)
        }
        require(used(k), "procrustes: basis completion failed")
      }
      k += 1
    }
    // R = U V^T ; vecsRows(k) is v_k as a row
    Array.tabulate(d, d) { (r, cIdx) =>
      var acc = 0.0
      var kk = 0
      while (kk < d) { acc += u(r)(kk) * vecsRows(kk)(cIdx); kk += 1 }
      acc
    }
  }
}
