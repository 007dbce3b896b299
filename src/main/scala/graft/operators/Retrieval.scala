package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval / similarity over the term-postings
  * representation — the inverted-index complement to the dense-embedding
  * family in [[Similarity]]. A curation pipeline uses these for
  * benchmark-contamination triage (retrieve train docs lexically close to
  * eval items), quality-neighborhood mining, and cheap near-dup discovery
  * where no embeddings exist.
  *
  * Numeric discipline (shared with [[Curation.tfidfTopK]]): idf terms are
  * RATIONAL, log-free — `ln` is not correctly rounded on every libm, so a
  * logged idf can differ in the last ulp across engines; the rational
  * forms keep every score bit-identical between Spark and the DuckDB
  * oracle. Cross-term score sums go through DECIMAL(38,6) so they are
  * order-independent (double addition is not associative); all other
  * arithmetic is IEEE-exact double ops replicated in the same shape on
  * both sides.
  *
  * Scale design (the 100 TB question):
  *
  *  - [[bm25TopK]]: the corpus is exploded to (doc, term, tf) postings
  *    with map-side partial aggregation — ONE corpus-sized shuffle, the
  *    inverted-index build every sparse engine pays. Everything after is
  *    query-bounded: document frequencies are computed only for query
  *    terms (the postings are semi-join-filtered through the broadcast
  *    query-term set first), the scoring join broadcasts the tiny
  *    (query, term, df) table against the postings map-side, and the
  *    (query, doc) partial-score aggregate combines map-side before its
  *    shuffle. No all-pairs anything; cost is O(postings matching query
  *    terms), exactly an inverted-index probe.
  *  - [[tfidfCosinePairs]]: all-pairs similarity is quadratic per
  *    posting list, so the df cap is load-bearing: a term kept for
  *    pairing generates at most maxDf² candidate rows, which bounds both
  *    the join skew (hottest reducer key) and total work — the classic
  *    stop-term cut (Broder-era shingling and every production
  *    near-dup pipeline drop ubiquitous features for the same reason).
  *    Norms are computed over the full kept subspace (df ≤ maxDf,
  *    including unpairable df=1 terms) so the score is a true cosine in
  *    that subspace.
  */
object Retrieval {

  private val Postings = BucketedStore.Dirs("postings", "postings_compact_tmp")

  /** Decimal-stable double sum: order-independent across partitions and
    * engines, then one double cast both sides replicate.
    */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(38,6)")).cast("double")

  /** Oracle-exact rational idf `(N - df + 0.5)/(df + 0.5)`: log-free, so
    * bit-reproducible across engines (libm `ln` rounding differs), positive
    * and monotone-decreasing in df like Lucene's clamped form. The default
    * for [[bm25TopK]].
    */
  def rationalIdf(n: Long): Column => Column =
    df => (lit(n.toDouble) - df + lit(0.5)) / (df + lit(0.5))

  /** Lucene-style production idf `ln(1 + (N - df + 0.5)/(df + 0.5))` — the
    * positivity-clamped log form mainstream engines ship. Use when ranking
    * parity with Lucene/Elasticsearch matters more than cross-engine hash
    * reproducibility: the `ln` compresses the idf range, so common terms
    * carry relatively MORE weight than under the rational form and
    * multi-term rankings can reorder (single-term rankings always agree —
    * idf is a per-term constant factor).
    */
  def luceneIdf(n: Long): Column => Column =
    df => log(lit(1.0) + (lit(n.toDouble) - df + lit(0.5)) / (df + lit(0.5)))

  /** Total token mass from a postings-shaped `(id, dl, …)` frame: the
    * per-doc length summed over distinct `(id, dl)` pairs — exactly
    * `Σ_docs tokenCount(doc)` for unique-id corpora (token-less docs
    * carry no postings and contribute 0), WITHOUT re-tokenizing the
    * text. Duplicate-id inputs are outside the index contract (the
    * append face already requires deduping deltas first).
    */
  private def docStats(idDl: DataFrame): Long =
    idDl.distinct()
      .agg(coalesce(sum(col("dl")), lit(0L)).as("tot"))
      .head().getLong(0)

  /** (doc, dl, term, tf) postings with per-doc length, via explode +
    * map-side-combined aggregate — the inverted-index build.
    */
  private def postings(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = Text.tokens(col(textCol))
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__dl", size(col("__toks")).cast("long"))
      .select(col(idCol), col("__dl"), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("__dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** BM25 top-`k` retrieval (Robertson-Spärck Jones; the Okapi form with
    * the query-tf saturation term omitted, i.e. distinct query terms):
    *
    *   score(q,d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) / (tf + k1·(1-b + b·dl/avgdl))
    *
    * with the log-free rational idf `(N - df + 0.5)/(df + 0.5)` (see
    * object doc for why no `ln`). The deviation from Okapi, precisely:
    * the rational idf is positive and monotone-decreasing in df, like
    * Lucene's positivity-clamped `ln(1 + ·)` and UNLIKE raw Okapi,
    * which goes negative for df > N/2 — single-term rankings match the
    * clamped form exactly (idf is a constant factor per term) but not
    * raw Okapi in that negative regime; multi-term rankings weight
    * common terms more than any `ln` form and so can reorder against
    * both. Exact cross-engine reproducibility is bought at that cost.
    * Query terms absent from the corpus contribute nothing and drop
    * out. Ties break by doc id ascending.
    *
    * The `idf` parameter swaps the form: [[rationalIdf]] (default,
    * oracle-exact) or [[luceneIdf]] (the production clamped-`ln`, for
    * ranking parity with Lucene/Elasticsearch at the cost of libm
    * cross-engine reproducibility).
    *
    * `queries` is any (qIdCol, qTextCol) frame; it is assumed
    * query-sized (broadcast). Output: (query_id, rank, doc_id, score).
    */
  def bm25TopK(docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
               qIdCol: String, qTextCol: String, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               idf: Long => Column => Column = rationalIdf): DataFrame = {
    require(k >= 1, s"bm25TopK: k must be >= 1, got $k")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bm25TopK: need k1 >= 0, b in [0,1]; got $k1, $b")
    // postings feed both the query-term df count and the scoring join:
    // materialize once instead of running the tokenize/explode/aggregate
    // pipeline twice (same trade as tfidfCosinePairs — postings-sized
    // MEMORY_AND_DISK blocks for a 2x corpus-pipeline recompute)
    val dt = postings(docs, idCol, textCol).transform(Materialize.apply)
    // corpus stats: two scalars (model-sized, same class as broadcast
    // centroids). N counts ALL docs, empty ones included — a text-free
    // count (the scan prunes to the filter columns); the token mass is
    // read off the MATERIALIZED postings' per-doc lengths instead of a
    // second full tokenize pass over the corpus (empty docs carry no
    // postings and contribute 0 either way) — r16, guide §2.4. Assumes
    // unique doc ids, like the index contract ("dedup the delta first").
    val n = docs.count()
    val tot = docStats(dt.select(col(idCol).as("id"), col("__dl").as("dl")))
    val avgdl = tot.toDouble / n
    val qt = queries.select(col(qIdCol).as("query_id"),
        explode(array_distinct(Text.tokens(col(qTextCol)))).as("term"))
      .distinct()
    // df only for query terms: postings semi-join the broadcast term set
    // BEFORE the per-term count, so the df aggregate's shuffle carries
    // only query-term hits, not the vocabulary
    val dfq = dt.join(broadcast(qt.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    // (term, query_id, df): BOTH sides query-sized — broadcast instead of
    // letting a sort-merge plan two exchanges for model-sized frames
    val qtd = qt.join(broadcast(dfq), Seq("term"))
    val contrib = dt.join(broadcast(qtd), "term")
      .withColumn("__c",
        idf(n)(col("df")) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * (col("__dl") / lit(avgdl)))))
    val sc = contrib.groupBy(col("query_id"), col(idCol).as("doc_id"))
      .agg(dsum(col("__c")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    sc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Build and PERSIST the BM25 index — the sparse-retrieval face of the
    * build-once/query-many discipline (IVF-PQ codes for dense, the
    * MinHash band store for dedup, postings here): the corpus-sized
    * tokenize/explode/count pass is paid ONCE, and every later query
    * batch reads postings, never text. Layout under `path`:
    *
    *  - `postings/termbucket=N/…` — `(term, id, dl, tf)` PARTITIONED BY
    *    `md5(term) mod nBuckets` with a parquet BLOOM on `term`: a query
    *    batch's distinct term buckets (≤ nBuckets driver-side values)
    *    prune the read to touched partitions, and the blooms skip
    *    non-matching row groups inside them — a few-term query batch
    *    reads a sliver of the index.
    *  - `df/termbucket=N/…` — per-term document frequencies, same
    *    layout (df is corpus-global, so it must be STORED; the in-one-go
    *    operator can count it per batch, an index cannot re-scan).
    *  - `meta/` — `(n_docs, total_len, n_buckets)`: N and avgdl are
    *    corpus constants of the scoring formula; the bucket recipe is
    *    pinned like the dedup store's.
    */
  def buildBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"buildBm25Index: nBuckets must be >= 1, got $nBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // text-free corpus count, launched BEFORE the corpus-sized postings
    // write so the two scans overlap (guide §2.6); fused with the
    // duplicate-id probe (ONE id-column agg, no extra pass) — docStats'
    // postings-derived token mass is value-identical to the tokenize
    // pass only for unique-id corpora (r16 "What's wrong" #3), so a
    // duplicate-id build warns loudly instead of silently hardening
    // that contract into different avgdl arithmetic
    val statsF = Future {
      docs.agg(count(lit(1)), count_distinct(col(idCol))).head()
    }
    BucketedStore.write(
      postings(docs, idCol, textCol)
        .select(col(idCol).as("id"), col("__dl").as("dl"), col("term"), col("tf"),
          pmod(Text.md5Hash64(col("term")), lit(nBuckets.toLong)).as("termbucket")),
      s"$path/postings", "termbucket", Some("term"), nBuckets, "overwrite")
    // df and meta both derive from the just-written postings (one index
    // scan each, no corpus re-pass — the meta pass was a second full
    // TOKENIZE of the corpus before r16, guide §2.4) and are independent
    // of each other: overlap their jobs (guide §2.6)
    val dfWrite = Future {
      BucketedStore.write(
        spark.read.parquet(s"$path/postings")
          .groupBy("termbucket", "term").agg(count(lit(1)).as("df")),
        s"$path/df", "termbucket", Some("term"), nBuckets, "overwrite")
    }
    val tot = docStats(spark.read.parquet(s"$path/postings").select("id", "dl"))
    val stats = Await.result(statsF, Duration.Inf)
    val (n, nDistinct) = (stats.getLong(0), stats.getLong(1))
    if (nDistinct != n)
      org.slf4j.LoggerFactory.getLogger("graft.operators.Retrieval").warn(
        s"buildBm25Index: $n docs but only $nDistinct distinct '$idCol' values — " +
          "duplicate ids are outside the index contract (same-id docs merge in the " +
          "postings and avgdl drifts from the per-document mean); dedup the corpus first")
    Seq((n, tot, nBuckets.toLong))
      .toDF("n_docs", "total_len", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    Await.result(dfWrite, Duration.Inf)
  }

  /** Incremental index maintenance — the "new crawl lands every day"
    * face of the BM25 store (the [[graft.operators.IncrementalDedup]]
    * pattern for retrieval): append a delta corpus WITHOUT re-scanning
    * the existing index's corpus. Contract, pinned in RetrievalSpec:
    * `append(build(A), B)` answers queries IDENTICALLY to
    * `build(A ∪ B)` — same postings multiset, same df totals, same
    * meta constants, therefore bit-identical scores.
    *
    * Mechanics:
    *  - delta postings append under the SAME bucket recipe (read from
    *    `meta/`, never re-derived — the store pins it);
    *  - `df/` merges old + delta counts for TOUCHED buckets only (the
    *    delta's distinct term buckets prune the old-df read exactly
    *    like a query batch's), rewritten via dynamic partition
    *    overwrite so untouched buckets' files are never rewritten;
    *    the merged frame is localCheckpoint'ed first — it reads the
    *    same files the write replaces;
    *  - `meta/` accumulates `n_docs`/`total_len`.
    *
    * Append-only by contract: re-appending the same documents
    * double-counts them (same as re-ingesting a crawl twice anywhere
    * else) — run the delta through dedup/`IncrementalDedup` first.
    * Crash consistency, stated plainly: the three writes (postings
    * append, df merge, meta) are not atomic as a group — a crash
    * between them leaves the index stale-but-queryable (old df/meta
    * with new postings); re-running the SAME append after a crash
    * double-appends, so recover by rebuilding or by re-running from
    * the failed write only. A transactional table format is the real
    * fix at fleet scale; this library stays format-neutral.
    * Scale: one delta-sized postings build + one touched-bucket df
    * merge; cost is O(delta + touched df), independent of index size.
    */
  def appendBm25Index(delta: DataFrame, idCol: String, textCol: String,
                      path: String): Unit = {
    val spark = delta.sparkSession
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    BucketedStore.recover(spark, path, Postings)
    // text-free delta count fused with the duplicate-id probe (see
    // buildBm25Index), launched before everything else: it only needs
    // the delta scan, so it overlaps the meta read AND the delta
    // postings checkpoint (guide §2.6)
    val statsF = Future {
      delta.agg(count(lit(1)), count_distinct(col(idCol))).head()
    }
    val meta = BucketedStore.meta(spark, path, "n_docs", "total_len", "n_buckets")
    val (n0, tot0, nBuckets) = (meta.getLong(0), meta.getLong(1), meta.getLong(2).toInt)
    // the touched-bucket set rides the checkpoint job as an observed
    // metric (≤ nBuckets values) instead of a separate distinct+collect
    // job over the blocks (guide §1.2; the clusterPairs edge-count
    // pattern). Fallback to the plain job if the metric is absent.
    val postSrc = postings(delta, idCol, textCol)
      .select(col(idCol).as("id"), col("__dl").as("dl"), col("term"), col("tf"),
        pmod(Text.md5Hash64(col("term")), lit(nBuckets.toLong)).as("termbucket"))
      .observe("graft_bm25_touched", collect_set(col("termbucket")).as("tb"))
    val post = postSrc.localCheckpoint()
    // after the checkpoint, FOUR independent chains read only the `post`
    // blocks (plus the OLD df files / the delta scan respectively): the
    // postings append, the touched-bucket df merge, the delta stats and
    // the token mass. Run them all concurrently instead of serially —
    // the store protocol's cost is its job count, not any hot stage
    // (guide §1.2 / §2.6; r16 profile: ~50 sub-0.4 s jobs per
    // build+append+query cycle)
    val postingsAppend = Future {
      BucketedStore.write(post, s"$path/postings", "termbucket", Some("term"),
        nBuckets, "append")
    }
    val dfMerge = Future {
      val deltaDf = post.groupBy("termbucket", "term").agg(count(lit(1)).as("df"))
      val touched = BucketedStore.touched(postSrc, "graft_bm25_touched")(
        deltaDf.select("termbucket").distinct().collect().map(_.getLong(0)))
      val merged = spark.read.parquet(s"$path/df")
        .filter(col("termbucket").isin(touched: _*))
        .select(col("termbucket"), col("term"), col("df"))
        .union(deltaDf.select(col("termbucket"), col("term"), col("df")))
        .groupBy("termbucket", "term").agg(sum(col("df")).cast("long").as("df"))
        .localCheckpoint() // breaks lineage to the files the write replaces
      BucketedStore.write(merged, s"$path/df", "termbucket", Some("term"),
        math.max(touched.length, 1), "overwrite", dynamic = true)
    }
    // meta delta from the overlapped text-free count + the checkpointed
    // delta postings' dl column (was a second tokenize pass pre-r16)
    val totDelta = docStats(post.select("id", "dl"))
    val stats = Await.result(statsF, Duration.Inf)
    val (nDelta, nDistinct) = (stats.getLong(0), stats.getLong(1))
    if (nDistinct != nDelta)
      org.slf4j.LoggerFactory.getLogger("graft.operators.Retrieval").warn(
        s"appendBm25Index: $nDelta delta docs but only $nDistinct distinct '$idCol' " +
          "values — duplicate ids are outside the index contract; dedup the delta first")
    Seq((n0 + nDelta, tot0 + totDelta, nBuckets.toLong))
      .toDF("n_docs", "total_len", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    Await.result(postingsAppend, Duration.Inf)
    Await.result(dfMerge, Duration.Inf)
  }

  /** Offline compaction after many [[appendBm25Index]] deltas — the
    * [[graft.operators.IncrementalDedup.compactStore]] pattern: each
    * append adds small files per touched bucket, and a year of daily
    * deltas degrades the serving read to a small-file storm. Rewrites
    * `postings/` to one coalesced file set per bucket, preserving rows,
    * partitioning and blooms exactly; `df/` is already rewritten
    * per-append and `meta/` is untouched. Query results are identical
    * before and after by construction (same rows, same recipe).
    *
    * Crash safety is [[BucketedStore.swap]]'s, and every reader first
    * runs [[BucketedStore.recover]], so a crash at any step leaves a
    * complete postings image recoverable on the next read (never a
    * window with no `postings/` on disk; the old image is row-identical
    * to the staged one, so queries are unaffected either way).
    */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit = {
    BucketedStore.recover(spark, path, Postings)
    val nBuckets = BucketedStore.meta(spark, path, "n_buckets").getLong(0).toInt
    BucketedStore.swap(spark, path, Postings) { tmp =>
      BucketedStore.write(spark.read.parquet(s"$path/postings"), tmp, "termbucket",
        Some("term"), nBuckets, "overwrite")
    }(())
  }

  /** Query a persisted index: score-identical to [[bm25TopK]] on the
    * same corpus (pinned in RetrievalSpec) — the same contribution
    * formula, the same decimal-stable sum, the same rank tie-break —
    * but the corpus side is the pruned postings read.
    */
  def queryBm25Index(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, qIdCol: String, qTextCol: String,
                     k: Int, k1: Double = 1.2, b: Double = 0.75,
                     idf: Long => Column => Column = rationalIdf): DataFrame = {
    require(k >= 1, s"queryBm25Index: k must be >= 1, got $k")
    BucketedStore.recover(spark, path, Postings)
    // the query-term tokenize/materialize does not depend on meta (the
    // bucket recipe is applied AFTER, as a cheap projection over the
    // materialized blocks), so it overlaps the meta read (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val qtF = Future {
      // the distinct term HASHES ride the materialize job as an observed
      // metric (query-batch-vocabulary-sized); buckets are derived
      // driver-side once meta's recipe arrives — no separate
      // distinct+collect job (guide §1.2)
      val src = queries
        .select(col(qIdCol).as("query_id"),
          explode(array_distinct(Text.tokens(col(qTextCol)))).as("term"))
        .distinct()
        .observe("graft_bm25_qhashes", collect_set(Text.md5Hash64(col("term"))).as("h"))
      (Materialize(src), src)
    }
    val meta = BucketedStore.meta(spark, path, "n_docs", "total_len", "n_buckets")
    val (n, tot, nBuckets) = (meta.getLong(0), meta.getLong(1), meta.getLong(2))
    val avgdl = tot.toDouble / n
    val (qt, qtSrc) = Await.result(qtF, Duration.Inf)
    // distinct buckets: ≤ n_buckets driver-side values (pmod twin:
    // floorMod matches pmod for the positive bucket count)
    val touched = BucketedStore.touched(qtSrc, "graft_bm25_qhashes")(
        qt.select(Text.md5Hash64(col("term"))).distinct().collect().map(_.getLong(0)))
      .map(h => java.lang.Math.floorMod(h, nBuckets)).distinct
    val dfq = spark.read.parquet(s"$path/df")
      .filter(col("termbucket").isin(touched: _*))
      .join(broadcast(qt.select("term").distinct()), "term")
      .select("term", "df")
    val qtd = qt.select("query_id", "term").join(broadcast(dfq), Seq("term"))
    val dt = spark.read.parquet(s"$path/postings")
      .filter(col("termbucket").isin(touched: _*))
    val contrib = dt.join(broadcast(qtd), "term")
      .withColumn("__c",
        idf(n)(col("df")) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * (col("dl") / lit(avgdl)))))
    val sc = contrib.groupBy(col("query_id"), col("id").as("doc_id"))
      .agg(dsum(col("__c")).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    sc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** All-pairs document cosine similarity over sparse tf-idf vectors,
    * thresholded — postings-join formulation (no dense vectors, no
    * cartesian): for each term kept by the df cap, documents sharing it
    * pair up (`id1 < id2`), per-pair dot products accumulate
    * decimal-stable, and cosines divide by subspace norms.
    *
    * Weights: `w(d,t) = tf · (N+1)/(df+1)` (rational smoothed idf,
    * matching [[Curation.tfidfTopK]]). The similarity is a TRUE cosine in
    * the df ≤ `maxDf` term subspace: norms include every kept term
    * (df=1 terms can never pair but do scale the denominator), and
    * dropping df > maxDf terms is the stop-term cut that bounds skew —
    * see object doc. Output: (id1, id2, cosine) for cosine ≥ threshold.
    */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, maxDf: Long): DataFrame = {
    require(threshold >= 0 && threshold <= 1,
      s"tfidfCosinePairs: threshold must be in [0,1], got $threshold")
    require(maxDf >= 2, s"tfidfCosinePairs: maxDf must be >= 2, got $maxDf")
    val nDocs = df.count()
    val dt = postings(df, idCol, textCol)
    val dfreq = dt.groupBy("term").agg(count(lit(1)).as("df"))
    // the weighted postings table feeds THREE consumers (norms + both
    // self-join sides): materialize it once, eagerly, instead of running
    // the tokenize/explode/df pipeline three times (same device as
    // Dedup.lshCandidates; blocks free with the plan). Unlike the banded
    // LSH table this one is postings-sized (doc×term), so the trade is
    // MEMORY_AND_DISK block storage for a 3x corpus-pipeline recompute —
    // the right side of that trade at every scale where the pipeline
    // (explode + two joins) dominates a columnar re-read
    val kept = dt.join(dfreq.filter(col("df") <= maxDf), "term")
      .withColumn("w", col("tf") * (lit((nDocs + 1).toDouble) / (col("df") + 1)))
      .select(col(idCol), col("term"), col("df"), col("w"))
      .transform(Materialize.apply)
    val norms = kept.groupBy(col(idCol))
      .agg(sqrt(dsum(col("w") * col("w"))).as("norm"))
    // df=1 terms cannot match a partner; excluding them from the join is
    // a pure-optimization prefilter (values unchanged)
    val pairable = kept.filter(col("df") >= 2)
    val dots = pairable.as("a")
      .join(pairable.as("b"), col("a.term") === col("b.term") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
      .agg(dsum(col("a.w") * col("b.w")).as("__dot"))
    dots
      .join(norms.select(col(idCol).as("id1"), col("norm").as("__n1")), "id1")
      .join(norms.select(col(idCol).as("id2"), col("norm").as("__n2")), "id2")
      .withColumn("cosine", col("__dot") / (col("__n1") * col("__n2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversity-aware final stage over a retrieved
    * candidate set: greedily pick `k` of each query's candidates by
    * `mmr = λ·rel − (1−λ)·maxSimToPicked` (cosine over `vecCol`,
    * max-sim floored at 0 for the empty set, so pick 1 is the pure
    * relevance argmax with score `λ·rel`). Ties break to the lower id;
    * all arithmetic is the fixed IEEE shape the oracle replays.
    *
    * Input: one row per (query, candidate) carrying the candidate's
    * relevance and vector — e.g. [[Similarity.bruteForceTopK]] /
    * [[bm25TopK]] output joined to the embedding table. Output:
    * `(queryCol, mmr_rank, idCol, mmr_score)`.
    *
    * Scale: ONE exchange on the query id; each group is a top-N
    * candidate set (retrieval-sized, not corpus-sized), and the greedy
    * loop is O(N·k) in-memory per group — `k` and `N` are knobs, never
    * the corpus. No state leaves the executors.
    */
  def mmrRerank(cands: DataFrame, queryCol: String, idCol: String,
                relCol: String, vecCol: String, k: Int,
                lambda: Double): DataFrame = {
    require(k >= 1, s"mmrRerank: k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"mmrRerank: lambda in [0,1], got $lambda")
    val spark = cands.sparkSession
    import spark.implicits._
    val prepped = cands.select(
      col(queryCol).cast("long").as("_1"), col(idCol).cast("long").as("_2"),
      col(relCol).cast("double").as("_3"), col(vecCol).as("_4"))
      .as[(Long, Long, Double, Seq[Float])]
    prepped.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cs = it.toArray.sortBy(c => (c._2, c._3)) // id order: deterministic iteration
      val n = cs.length
      val used = Array.fill(n)(false)
      val maxSim = Array.fill(n)(0.0)
      val out = Seq.newBuilder[(Long, Int, Long, Double)]
      var r = 1
      while (r <= math.min(k, n)) {
        var best = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!used(i)) {
            val s = lambda * cs(i)._3 - (1.0 - lambda) * maxSim(i)
            if (s > bestScore) { best = i; bestScore = s } // strict: lowest id wins ties
          }
          i += 1
        }
        used(best) = true
        out += ((q, r, cs(best)._2, bestScore))
        val pv = cs(best)._4
        i = 0
        while (i < n) {
          if (!used(i)) {
            val s2 = localCosine(cs(i)._4, pv)
            if (s2 > maxSim(i)) maxSim(i) = s2
          }
          i += 1
        }
        r += 1
      }
      out.result().iterator
    }.toDF(queryCol, "mmr_rank", idCol, "mmr_score")
  }

  /** JVM twin of the oracle's cosine fold ([[Similarity.cosine]] /
    * `sqlCosine`): index-order left folds in double, dot over the
    * shorter prefix, norms over each full vector.
    */
  private def localCosine(a: Seq[Float], b: Seq[Float]): Double = {
    val m = math.min(a.length, b.length)
    var dot = 0.0
    var i = 0
    while (i < m) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
    var nb = 0.0
    i = 0
    while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
