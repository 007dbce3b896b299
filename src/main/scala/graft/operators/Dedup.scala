package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed as
  * one-shuffle plans that survive a 100 TB corpus:
  *
  *  - exact / fingerprint dedup: hash-groupBy — one shuffle on the hash,
  *    map-side combine, no row explosion;
  *  - MinHash + LSH: signature is a per-row fold (no shuffle), candidate
  *    generation shuffles on (band, band-signature) buckets only —
  *    pairs are generated within buckets, never across the full corpus;
  *  - SimHash: per-row 32-bit signature; near-dups bucket on the
  *    signature (optionally on rotated halves for 1-bit tolerance);
  *  - n-gram Jaccard: exact verification on LSH candidates only.
  *
  * Deterministic [[Text.md5Hash64]]/[[Text.md5HashMod]] keeps the DuckDB
  * oracle bit-identical at one codegen'd md5 per string; swap `hashFn` for
  * `xxhash64` when cross-engine parity is not required at all.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Mega-bucket guard specification for the LSH-composing operators
    * ([[lshCandidates]], [[pruneNearDups]], [[editConfirmFunnel]], the
    * IR `cluster-split`). Three modes:
    *
    *  - [[BucketCap.Unlimited]] — no guard: every band bucket joins,
    *    pairs grow as Σ s² over bucket sizes s. Correct and exact, but
    *    ONE adversarial signature shared by 10⁶ docs costs 10¹² pairs.
    *  - [[BucketCap.Fixed]] — drop buckets larger than a hand-set size
    *    whole, before the join (the r12 opt-in guard).
    *  - [[BucketCap.Auto]] — the 100 TB-safe default: resolve the cap
    *    from the corpus's own EXACT bucket-size histogram under a pair
    *    budget linear in corpus size (see [[solveBucketCap]]). Clean
    *    corpora — total candidate emissions within budget — resolve to
    *    Unlimited, so auto never approximates a corpus that doesn't
    *    need it; adversarial corpora resolve to the largest cap whose
    *    kept buckets stay inside the budget.
    *
    * Auto is deliberately NOT the sampled [[maxBucketPlan]]
    * extrapolation: a headroom × largest-observed-bucket rule lets an
    * already-poisoned corpus launder its own mega-bucket into the cap
    * (the probe sees the 10⁶-member bucket, extrapolates it as
    * "organic", and recommends a cap above it — capping nothing). An
    * ABSOLUTE budget of O(pairsPerDoc · n) emissions cannot be
    * laundered: no distribution of bucket sizes makes a quadratic
    * blow-up look affordable. [[maxBucketPlan]] stays as the cheap
    * sampled PLANNING face (run it on a trusted baseline corpus);
    * Auto is the enforcement face and pays one exact histogram
    * aggregate (map-side combined, bucket-count-sized collect).
    */
  sealed trait BucketCap
  object BucketCap {
    case object Unlimited extends BucketCap
    final case class Fixed(maxBucket: Int) extends BucketCap {
      require(maxBucket >= 2, s"BucketCap.Fixed: maxBucket must be >= 2, got $maxBucket")
    }
    /** `pairsPerDoc` — budget of candidate-pair EMISSIONS (within-bucket
      * pairs summed over every band, BEFORE the distinct) allowed per
      * banded document; `floor` — never resolve a cap below this, so a
      * tiny corpus can't be capped into dropping normal 2–15-member
      * near-dup buckets.
      */
    final case class Auto(pairsPerDoc: Double = 32.0, floor: Int = 16) extends BucketCap {
      require(pairsPerDoc > 0, s"BucketCap.Auto: pairsPerDoc must be > 0, got $pairsPerDoc")
      require(floor >= 2, s"BucketCap.Auto: floor must be >= 2, got $floor")
    }
    /** The IR/back-compat bridge: `Int.MaxValue` (the old "no cap"
      * sentinel) means Unlimited, anything else a fixed cap.
      */
    def fromInt(n: Int): BucketCap = if (n == Int.MaxValue) Unlimited else Fixed(n)
  }

  /** One-row account of what the mega-bucket guard did — the in-band
    * observability a capped production run needs to distinguish "no
    * near-dups" from "near-dups exempted by cap". `resolvedMaxBucket`
    * is `Long.MaxValue` when the guard resolved to unlimited (nothing
    * dropped); `excludedBuckets`/`excludedMembers` count the band
    * buckets (and their member rows, band-multiplicity included) that
    * were dropped whole before the candidate join.
    */
  final case class LshAudit(resolvedMaxBucket: Long, nDocs: Long,
                            nBuckets: Long, largestBucket: Long,
                            excludedBuckets: Long, excludedMembers: Long) {
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      Seq((resolvedMaxBucket, nDocs, nBuckets, largestBucket,
        excludedBuckets, excludedMembers))
        .toDF("resolved_max_bucket", "n_docs", "n_buckets", "largest_bucket",
          "excluded_buckets", "excluded_members")
    }
  }

  /** Resolve [[BucketCap.Auto]] against an exact bucket-size histogram
    * `hist = (size, bucketsOfThatSize)` (ascending sizes). The budget is
    * `ceil(pairsPerDoc · nDocs)` candidate EMISSIONS (Σ s(s−1)/2 over
    * kept buckets, all bands); if the whole histogram fits, the result
    * is `Long.MaxValue` (unlimited — clean corpora are never capped
    * into approximation). Otherwise: the largest bucket size whose
    * cumulative emission count stays within budget, floored at `floor`.
    * Pure integer/driver arithmetic — the DuckDB oracle replays it
    * bit-for-bit (`dedup_minhash_lsh_auto` gate).
    */
  def solveBucketCap(hist: Seq[(Long, Long)], nDocs: Long,
                     pairsPerDoc: Double, floor: Int): Long = {
    val budget = BigInt(math.ceil(pairsPerDoc * nDocs).toLong)
    // BigInt accumulation: a single 10¹¹-member bucket's s(s−1)/2
    // overflows Long (s² > 9.2×10¹⁸ at s > 4.3×10⁹), and an overflowed
    // emission count could wrap NEGATIVE and silently disable the
    // guard exactly on the corpus that needs it most. Driver-side over
    // a largest-bucket-bounded histogram, so the cost is nothing; the
    // DuckDB gate replay is value-identical at any gateable scale.
    def emissions(s: Long, n: Long): BigInt = BigInt(n) * (BigInt(s) * BigInt(s - 1) / 2)
    val total = hist.iterator.map { case (s, n) => emissions(s, n) }.sum
    if (total <= budget) Long.MaxValue
    else {
      var cum = BigInt(0)
      var best = 0L
      hist.foreach { case (s, n) =>
        cum += emissions(s, n)
        if (cum <= budget) best = s
      }
      math.max(floor.toLong, best)
    }
  }

  /** Keep the lowest-`ordCol` row per `key` — the skew-immune keep-first
    * kernel shared by [[exact]] and [[byFingerprint]]: ONE `min_by`
    * aggregate with map-side partial combine, so a pathological
    * duplicate cluster (the empty document, a boilerplate page
    * duplicated 10⁸ times) collapses to one row per input partition
    * before anything travels. The former `row_number over
    * Window.partitionBy(hash)` form sorted every member of the hot
    * cluster inside one unsplittable partition — the same scale-killer
    * class [[sharedSubstringSpans]] was purged of.
    */
  private def keepMinBy(df: DataFrame, key: Column, ordCol: String): DataFrame = {
    val cols = df.columns
    df.groupBy(key.as("__k"))
      .agg(min_by(struct(cols.map(col): _*), col(ordCol)).as("__r"))
      .select(cols.map(c => col(s"__r.`$c`").as(c)): _*)
  }

  /** Exact dedup: keep the lowest-id row per exact text hash. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    keepMinBy(df, md5(col(textCol)), idCol)

  /** Fingerprint (token-set) dedup: collapse docs with identical sorted
    * distinct token sets.
    */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    keepMinBy(df, Text.fingerprint(col(textCol)), idCol)

  /** MinHash signature: k permutations `(a_j*h + b_j) mod p` over bigram
    * shingle hashes; appended as `minhash` array column.
    */
  def minhashSignature(df: DataFrame, textCol: String, k: Int = 8,
                       hashFn: Column => Column = Text.md5HashMod): DataFrame = {
    val p = 1000000007L
    // reduce into [0, p) FIRST: a full-range 64-bit hash (xxhash64) would
    // overflow a*h under ANSI mode; for already-reduced hashes this is a
    // no-op, so the oracle-parity path is unchanged
    val shingleHashes = transform(Text.bigramShingles(Text.tokens(col(textCol))),
      s => pmod(hashFn(s), lit(p)))
    // project the hashed-shingle array into a REAL column before the k
    // permutation folds: higher-order lambdas are not common-
    // subexpression-eliminated, so folding over the expression directly
    // re-evaluates the whole tokenize→shingle→md5 chain once PER
    // PERMUTATION (the lambda-boundary trap the distributed
    // [[minhashSigTable]] shape documents; k× the hashing on the
    // streaming twin's per-event hot path). Same values, one hash pass.
    // collision-proof temp name: withColumn would silently OVERWRITE a
    // caller's same-named column and the trailing drop would lose it
    val tmp = Iterator.from(0).map(i => s"__minhash_sh$i")
      .find(n => !df.columns.contains(n)).get
    val sig = array((0 until k).map { j =>
      val a = 2L * j + 1
      val b = 7919L * j + 13
      array_min(transform(col(tmp), h => (lit(a) * h + lit(b)) % lit(p)))
    }: _*)
    df.withColumn(tmp, shingleHashes)
      .withColumn("minhash", sig)
      .drop(tmp)
  }

  /** Duplicated n-gram window statistics — the exact-substring dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"; RefinedWeb's 50-token rule): hash every
    * length-`n` token window, count occurrences corpus-wide, and report
    * per document how many of its windows occur more than once anywhere
    * (including elsewhere in the same document — a repeated span's
    * second occurrence is removable text by the substring-dedup rule).
    *
    * Output: `(doc_id, n_windows, dup_windows, dup_frac)`, one row per
    * input document; `dup_frac` is NULL for documents shorter than `n`
    * tokens. Downstream policy — drop documents above a threshold, or
    * locate the spans for surgical cuts — composes as a filter/join.
    *
    * Scale: the exploded window table is one row per token position,
    * which is the known minimum working set of substring dedup (suffix
    * arrays reach the same n·|corpus| bound) — and it is exploded and
    * hashed exactly ONCE. Only 64-bit window hashes are ever shuffled,
    * never window strings: (1) groupBy (doc, hash) with map-side
    * combine — within-doc repeats collapse here, so later shuffles
    * carry distinct (doc, hash) pairs, not raw windows; (2) corpus-wide
    * occurrence totals per hash via `groupBy(hash).agg` joined back —
    * NOT a sum-over-hash window: a boilerplate window shared by 10⁸
    * documents would sort in one unsplittable window partition, where
    * the aggregate collapses it map-side and AQE can skew-split the
    * join; (3) per-doc re-aggregation. No crossJoin, no driver
    * materialization.
    */
  /** One hash per length-`n` window start of a token array; empty array
    * (not a descending sequence) for docs shorter than `n` tokens. The
    * SINGLE definition both [[duplicateNgramStats]] and
    * [[cutDuplicateNgrams]] (and their shared DuckDB oracle replay)
    * hash-agree on.
    */
  private[operators] def windowHashes(toks: Column, n: Int, hashFn: Column => Column): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - n + 1),
        i => hashFn(concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array())

  def duplicateNgramStats(df: DataFrame, textCol: String, idCol: String,
                          n: Int,
                          hashFn: Column => Column = Text.md5HashMod): DataFrame = {
    require(n >= 1, s"window length must be >= 1, got $n")
    val toks = Text.tokens(col(textCol))
    val winHashes = windowHashes(toks, n, hashFn)
    val docWin = df.select(col(idCol).as("__id"), explode(winHashes).as("__h"))
      .groupBy("__id", "__h").agg(count(lit(1)).as("__k"))
    val totals = docWin.groupBy("__h").agg(sum(col("__k")).as("__c"))
    val withTotal = docWin.join(totals, Seq("__h"))
    val stats = withTotal.groupBy("__id").agg(
      sum(col("__k")).as("n_windows"),
      sum(when(col("__c") > 1, col("__k")).otherwise(0L)).as("dup_windows"))
    val ids = df.select(col(idCol))
    ids.join(stats, ids(idCol) === stats("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        (col("dup_windows").cast("double") / col("n_windows")).as("dup_frac"))
  }

  /** Exact-substring CUT — the destructive half of Lee et al. 2022: drop
    * every token covered by a duplicated length-`n` window (a window
    * whose hash occurs more than once corpus-wide, self-repeats
    * included) and rebuild the text from the surviving tokens.
    *
    * The FIRST corpus occurrence is cut too (the paper's ExactSubstr
    * variant keeps one copy; cutting all is the conservative
    * contamination-removal rule and keeps the plan one-pass — keeping
    * exactly one copy requires a global occurrence ordering, a second
    * corpus-wide shuffle). Rebuilt text is tokens joined by single
    * spaces: tokenization is lossy by design, like the reference's other
    * token-level transforms.
    *
    * Output: `(idCol, textCol)` with the cut text (empty string if
    * everything was covered); docs shorter than `n` tokens pass through
    * re-joined. Scale shape: the same single-explode window pipeline as
    * [[duplicateNgramStats]], then ONE join of per-doc duplicated window
    * START LISTS (tiny next to the corpus — only duplicated starts
    * travel) back to the docs; coverage is per-row array algebra.
    */
  def cutDuplicateNgrams(df: DataFrame, textCol: String, idCol: String,
                         n: Int,
                         hashFn: Column => Column = Text.md5HashMod): DataFrame = {
    require(n >= 1, s"window length must be >= 1, got $n")
    val toks = Text.tokens(col(textCol))
    // (doc, window start pos, hash); pos is 1-based
    val wins = df.select(col(idCol).as("__id"),
        posexplode(windowHashes(toks, n, hashFn)).as(Seq("__p0", "__h")))
      .select(col("__id"), (col("__p0") + 1).as("__p"), col("__h"))
    // occurrence totals as a map-side-combined aggregate joined back
    // (not a count-over-hash window — see duplicateNgramStats' scale
    // note; a hot boilerplate hash must never own a sort partition)
    val totals = wins.groupBy("__h").agg(count(lit(1)).as("__c"))
    val withTotal = wins.join(totals, Seq("__h"))
    val dupStarts = withTotal.filter(col("__c") > 1)
      .groupBy("__id").agg(sort_array(collect_list(col("__p"))).as("__starts"))
    // Merge sorted starts into disjoint covered intervals [lo, hi] first:
    // each merged interval spans >= n tokens, so a doc has at most
    // len/n of them — the per-token coverage test below is O(len/n) per
    // token instead of O(#duplicated starts), which on a pathological
    // all-duplicated long doc is the difference between O(len^2/n) and
    // O(len^2) single-row work. Starts are sorted, so an interval merges
    // iff the next start is <= current hi + 1.
    val intervals = aggregate(
      coalesce(col("__starts"), array()),
      array().cast("array<struct<lo:int,hi:int>>"),
      (acc, s) => {
        val last = element_at(acc, -1)
        when(size(acc) > 0 && s <= last.getField("hi") + 1,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(last.getField("lo").as("lo"), (s + n - 1).cast("int").as("hi")))))
          .otherwise(concat(acc,
            array(struct(s.cast("int").as("lo"), (s + n - 1).cast("int").as("hi")))))
      })
    val ids = df.select(col(idCol), toks.as("__toks"))
    ids.join(dupStarts, ids(idCol) === dupStarts("__id"), "left")
      .withColumn("__iv", intervals)
      .select(col(idCol),
        // NULL text stays NULL (concat_ws would swallow it to "")
        when(col("__toks").isNull, lit(null)).otherwise(
          concat_ws(" ", filter(col("__toks"), (_, i) =>
            !exists(col("__iv"),
              iv => i + 1 >= iv.getField("lo") && i + 1 <= iv.getField("hi"))))).as(textCol))
  }

  /** Cross-document exact-substring spans at suffix-array strength —
    * the span-emitting half of Lee et al. 2022 §4 (ExactSubstr dedup;
    * the reference's capability anchor is [[duplicateNgramStats]]'s
    * fixed-window signal): every MAXIMAL substring of `minLen`+ tokens
    * that some OTHER document also contains is reported as a cut span.
    * Where the paper builds one giant suffix array, the distributed
    * equivalence is runs of duplicated window hashes: a substring of
    * length `m >= minLen` is shared across documents iff all of its
    * `m - minLen + 1` length-`minLen` windows are shared, so maximal
    * shared substrings are exactly the maximal runs of consecutive
    * cross-document-duplicated window starts — found with sorted
    * per-document run-length (gaps-and-islands) algebra, no suffix
    * array materialized. Overlapping/adjacent runs merge (these are CUT
    * spans; a cutter consumes disjoint intervals).
    *
    * Cross-document test per window hash: `min(doc) != max(doc)`,
    * computed as `groupBy(hash).agg(min, max)` joined back on the hash
    * — NOT as window functions over `partitionBy(hash)`. The groupBy
    * form gets map-side partial aggregation: a boilerplate hash shared
    * by millions of documents collapses to one row per input partition
    * before anything travels, and the join back is against a
    * hash-cardinality-sized table that AQE can skew-split or broadcast.
    * The window form would instead sort every occurrence of the hot
    * hash inside one unsplittable partition — the classic
    * full-shuffle-on-a-skewed-key scale-killer. A window repeated only
    * WITHIN one document does not qualify (that is
    * [[duplicateNgramStats]]'s self-repeat signal; Lee et al.'s
    * cross-doc rule is what decontamination and memorization audits
    * want).
    *
    * Output: `(idCol, begin_tok, end_tok, n_tokens)` — 1-based
    * inclusive token spans, disjoint per document, each `>= minLen`
    * tokens. Docs with no qualifying span emit nothing.
    *
    * Scale: one explode to (doc, pos, hash64) — the known n·|corpus|
    * minimum working set of substring dedup — then one hash-keyed
    * partial-aggregated exchange (only 64-bit hashes + doc-id bounds
    * travel, never window text), the join back on the hash, and one
    * doc-keyed exchange for the island merge. Hot boilerplate hashes
    * are collapsed map-side by the partial aggregate and skew-split by
    * AQE on the join; nothing is collected.
    */
  def sharedSubstringSpans(df: DataFrame, textCol: String, idCol: String,
                           minLen: Int, keepFirst: Boolean = false,
                           hashFn: Column => Column = Text.md5HashMod): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val toks = Text.tokens(col(textCol))
    val wins = df.select(col(idCol).as("__id"),
        posexplode(windowHashes(toks, minLen, hashFn)).as(Seq("__p0", "__h")))
      .select(col("__id"), (col("__p0") + 1).cast("long").as("__p"), col("__h"))
    // keepFirst = Lee et al.'s keep-one-copy rule at document
    // granularity: the lowest-id document containing a shared window is
    // its OWNER and emits no span for it (all its occurrences survive);
    // every other document cuts. `id != min(id)` implies >= 2 distinct
    // docs, so the owner filter subsumes the cross-doc test — and the
    // global occurrence ordering that [[cutDuplicateNgrams]] documents
    // as requiring a second corpus-wide shuffle comes free here (same
    // per-hash min).
    val bounds = wins.groupBy(col("__h"))
      .agg(min(col("__id")).as("__dmin"), max(col("__id")).as("__dmax"))
    val shared0 = wins.join(bounds, Seq("__h"))
    val shared =
      if (keepFirst) shared0.filter(col("__id") =!= col("__dmin"))
      else shared0.filter(col("__dmin") =!= col("__dmax"))
    val wd = Window.partitionBy(col("__id")).orderBy(col("__p"))
    val lagP = lag(col("__p"), 1).over(wd)
    // new island when the previous start can't reach this one: spans
    // [prev, prev+minLen-1] and [p, p+minLen-1] merge iff p <= prev+minLen
    val islands = shared
      .withColumn("__new", when(lagP.isNull || col("__p") - lagP > minLen, 1L)
        .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("__id"), col("__isl"))
      .agg(min(col("__p")).as("begin_tok"),
        (max(col("__p")) + lit((minLen - 1).toLong)).as("end_tok"))
      .select(col("__id").as(idCol), col("begin_tok"), col("end_tok"),
        (col("end_tok") - col("begin_tok") + 1).as("n_tokens"))
  }

  /** The destructive application of [[sharedSubstringSpans]] — Lee et
    * al. 2022's ExactSubstr dedup proper: rebuild each document with
    * its cross-document shared spans removed. With `keepFirst` (the
    * paper's rule, the default) the lowest-id document containing a
    * shared substring keeps it and every other document loses it —
    * unlike [[cutDuplicateNgrams]], which cuts ALL copies and
    * documents why one-copy semantics needed a global ordering it
    * didn't have; the span operator's per-hash `min(doc)` IS that
    * ordering, for free.
    *
    * Output: `(idCol, textCol)` rebuilt from surviving tokens (empty
    * string when everything was covered; null text stays null; docs
    * shorter than `minLen` pass through re-joined). Scale shape: the
    * span pipeline plus ONE join of per-doc span lists (duplicated
    * spans only — tiny next to the corpus) back to the docs; coverage
    * is per-row interval algebra over the ALREADY-merged disjoint
    * spans.
    */
  def cutSharedSubstrings(df: DataFrame, textCol: String, idCol: String,
                          minLen: Int, keepFirst: Boolean = true,
                          hashFn: Column => Column = Text.md5HashMod): DataFrame =
    cutBySpans(df,
      sharedSubstringSpans(df, textCol, idCol, minLen, keepFirst, hashFn),
      textCol, idCol)

  /** Rebuild `textCol` with the given 1-based-inclusive token spans
    * removed — the shared destructive tail of [[cutSharedSubstrings]]
    * and [[SubstringStore]]'s streaming cut. `spans` columns:
    * `(idCol, begin_tok, end_tok)`; docs with no span row pass through
    * re-joined; null text stays null.
    */
  private[operators] def cutBySpans(df: DataFrame, spans: DataFrame,
                                    textCol: String, idCol: String): DataFrame = {
    val iv = spans
      .groupBy(col(idCol).as("__sid"))
      .agg(collect_list(struct(col("begin_tok").cast("int").as("lo"),
        col("end_tok").cast("int").as("hi"))).as("__iv0"))
    val toks = Text.tokens(col(textCol))
    val ids = df.select(col(idCol), toks.as("__toks"))
    ids.join(iv, ids(idCol) === iv("__sid"), "left")
      .withColumn("__iv",
        coalesce(col("__iv0"), array().cast("array<struct<lo:int,hi:int>>")))
      .select(col(idCol),
        when(col("__toks").isNull, lit(null)).otherwise(
          concat_ws(" ", filter(col("__toks"), (_, i) =>
            !exists(col("__iv"),
              iv => i + 1 >= iv.getField("lo") && i + 1 <= iv.getField("hi"))))).as(textCol))
  }

  /** Candidate-quality evaluation — precision/recall/F1 of a predicted
    * pair set against labeled truth pairs, the harness every dedup
    * pipeline runs when tuning LSH bands / SimHash radii / thresholds
    * against a labeled sample (or against the exact-join complement,
    * e.g. [[lshCandidates]] scored against [[jaccardPrefixJoin]]).
    * Pairs are canonicalized (unordered, self-pairs dropped, duplicates
    * collapsed) on both sides first, so orientation conventions never
    * skew the counts.
    *
    * Output: ONE row `(tp, fp, fn, precision, recall, f1)`; precision
    * is null with no predictions, recall null with no truth, f1 null
    * when 2·tp+fp+fn = 0. The ratios are single IEEE divisions of exact
    * integer counts — cross-engine exact. Scale: two distinct
    * aggregates + one full-outer pair equi-join; both sides are
    * pair-lists (≪ corpus), and nothing is collected.
    */
  /** [[pairEval]]'s output schema — the IR `dedup-pair-eval` validate
    * contract (the truth pair-list is a runtime artifact).
    */
  val PairEvalSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tp",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("fn",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("precision",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("recall",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("f1",
        org.apache.spark.sql.types.DoubleType)))

  def pairEval(pred: DataFrame, truth: DataFrame,
               id1: String = "id1", id2: String = "id2"): DataFrame = {
    def canon(df: DataFrame, flag: String) = df
      .select(least(col(id1), col(id2)).as("a"),
        greatest(col(id1), col(id2)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .withColumn(flag, lit(1))
    canon(pred, "__p").join(canon(truth, "__t"), Seq("a", "b"), "full_outer")
      .agg(
        count(when(col("__p").isNotNull && col("__t").isNotNull, 1)).as("tp"),
        count(when(col("__p").isNotNull && col("__t").isNull, 1)).as("fp"),
        count(when(col("__p").isNull && col("__t").isNotNull, 1)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          (lit(2) * col("tp")).cast("double")
            / (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
  }

  /** Threshold-sweep evaluation — the PR CURVE over a scored pair list:
    * [[pairEval]] at every threshold of a grid in ONE pass, the "where
    * do I cut the verify score" calibration every near-dup pipeline
    * tunes (predicted pairs carry a similarity score; truth is a
    * labeled sample or an exact join). Pairs canonicalize like
    * [[pairEval]], duplicates keep the MAX score (the pair's best
    * evidence); a truth pair absent from the scored list counts as a
    * false negative at every threshold.
    *
    * Output: one row per threshold `(threshold, tp, fp, fn, precision,
    * recall, f1)`, same null conventions as [[pairEval]]. Scale: the
    * pair-union full-outer join once, then a |thresholds|-way explode
    * over it (grid is model-sized) into one aggregation — never a pass
    * per threshold.
    */
  def pairEvalSweep(scored: DataFrame, truth: DataFrame,
                    thresholds: Seq[Double],
                    id1: String = "id1", id2: String = "id2",
                    scoreCol: String = "score"): DataFrame = {
    require(thresholds.nonEmpty, "pairEvalSweep: empty threshold grid")
    val p = scored
      .select(least(col(id1), col(id2)).as("a"),
        greatest(col(id1), col(id2)).as("b"),
        col(scoreCol).cast("double").as("__s"))
      .filter(col("a") =!= col("b") && col("__s").isNotNull)
      .groupBy("a", "b").agg(max(col("__s")).as("__s"))
    val t = truth
      .select(least(col(id1), col(id2)).as("a"),
        greatest(col(id1), col(id2)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .withColumn("__t", lit(1))
    p.join(t, Seq("a", "b"), "full_outer")
      .withColumn("threshold",
        explode(array(thresholds.map(lit(_)): _*)))
      .withColumn("__pred", col("__s").isNotNull && col("__s") >= col("threshold"))
      .groupBy("threshold")
      .agg(
        count(when(col("__pred") && col("__t").isNotNull, 1)).as("tp"),
        count(when(col("__pred") && col("__t").isNull, 1)).as("fp"),
        count(when(!col("__pred") && col("__t").isNotNull, 1)).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
          .as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          (lit(2) * col("tp")).cast("double")
            / (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"))
          .as("f1"))
  }

  /** Banding-theory planner (the MMDS ch.3 s-curve): for a `k`-hash
    * MinHash signature, choose `(bands, rowsPerBand)` whose collision
    * threshold `(1/b)^(1/r)` — the Jaccard similarity at which a pair's
    * bucket-collision probability crosses ~1/2 — lands closest to the
    * target. Ties prefer fewer rows per band (more bands = higher
    * recall at the same threshold). Uses every full banding `b = k/r`;
    * leftover hashes beyond `b·r` are simply unused, exactly as
    * [[minhashSigTable]] treats them. Driver-side O(k) arithmetic.
    */
  def lshPlan(k: Int, targetJaccard: Double): (Int, Int, Double) = {
    require(k >= 1, s"lshPlan: k must be >= 1, got $k")
    require(targetJaccard > 0 && targetJaccard < 1,
      s"lshPlan: target must be in (0,1), got $targetJaccard")
    (1 to k).flatMap { r =>
      val b = k / r
      if (b >= 1) Some((b, r, math.pow(1.0 / b, 1.0 / r))) else None
    }.minBy { case (_, r, t) => (math.abs(t - targetJaccard), r) }
  }

  /** Mega-bucket cap planner — turns a cheap sampled probe into a
    * recommended `maxBucket` for [[lshCandidates]] /
    * [[IncrementalDedup]] (the opt-in guard against adversarial bucket
    * skew, where one boilerplate band bucket of size s emits s² pairs).
    *
    * Method: hash-sample the corpus at `fraction` (same deterministic
    * [[Sampling.hashSample]] the dup-rate probe uses), build the banded
    * bucket table, and read its size distribution. A real near-dup
    * clique of size s appears in the sample as ~s·fraction members, so
    * the largest ORGANIC bucket extrapolates to `max_bucket / fraction`;
    * the recommendation is `headroom ×` that (default 4× — organic
    * buckets keep a wide margin, adversarial mega-buckets far beyond it
    * get capped), floored at 16 so tiny probes never recommend a cap
    * that bites normal pairs.
    *
    * Output (one row): `n_sampled, n_buckets, max_bucket, p99_bucket,
    * recommended_max_bucket` — all integer arithmetic plus one exact
    * discrete quantile (`sorted[min(n-1, floor(0.99·n))]`, the same
    * index rule the percentiles operator pins), so the DuckDB oracle
    * replays it bit-for-bit (`lsh_cap_plan` gate).
    *
    * Scale: the probe touches `fraction` of the corpus once; everything
    * downstream of the bucket table is bucket-count-sized. Driver gets
    * one row.
    *
    * TRUST CAVEAT: the headroom × largest-observed rule assumes the
    * probe corpus is a clean baseline. If the probe ALREADY contains an
    * adversarial mega-bucket, `max_bucket` IS that bucket and the
    * recommendation extrapolates it as organic — capping nothing (the
    * corpus launders its own pathology into the cap). Run the planner
    * on a trusted baseline, eyeball `max_bucket` vs `p99_bucket`
    * (orders-of-magnitude separation = a poisoned probe), or skip
    * planning entirely and let the operators' default
    * [[BucketCap.Auto]] decide — its ABSOLUTE emission budget cannot be
    * laundered by any bucket-size distribution.
    */
  def maxBucketPlan(df: DataFrame, textCol: String, idCol: String,
                    fraction: Double, k: Int = 8, rowsPerBand: Int = 2,
                    salt: String = "capplan", headroom: Double = 4.0): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"maxBucketPlan: fraction in (0,1], got $fraction")
    require(headroom >= 1.0, s"maxBucketPlan: headroom must be >= 1, got $headroom")
    val sample = Materialize(
      graft.operators.Sampling.hashSample(df, idCol, fraction, salt))
    val nSampled = sample.count()
    // bucket-SIZE histogram: (size, how many buckets have it) — distinct
    // sizes are bounded by the largest bucket, so this collect is
    // model-sized even when the bucket table itself is corpus-sized
    val hist = bandedBuckets(sample, textCol, idCol, k, rowsPerBand, Text.md5HashMod)
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val nBuckets = hist.map(_._2).sum
    val maxB = if (hist.isEmpty) 0L else hist.last._1
    // exact discrete p99 from the histogram: the floor(0.99·n)-th
    // (0-based) size in sorted order, capped at the last index — the
    // percentiles operator's index rule
    val p99 =
      if (nBuckets == 0L) 0L
      else {
        val idx = math.min(nBuckets - 1, math.floor(0.99 * nBuckets).toLong)
        var cum = 0L
        hist.find { case (_, n) => cum += n; cum > idx }.map(_._1).getOrElse(maxB)
      }
    val recommended =
      math.max(16L, math.ceil(headroom * maxB.toDouble / fraction).toLong)
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nSampled, nBuckets, maxB, p99, recommended))
      .toDF("n_sampled", "n_buckets", "max_bucket", "p99_bucket",
        "recommended_max_bucket")
  }

  /** MinHash signatures via the distributed shape: explode shingles to
    * rows, hash each shingle EXACTLY ONCE, then k cheap arithmetic `min`
    * aggregates with map-side partial combine. The per-row array-fold
    * variant ([[minhashSignature]]) re-evaluates the whole
    * tokenize→shingle→hash lambda chain once per permutation — higher-order
    * lambdas are not common-subexpression-eliminated. Shuffle volume here
    * is only the (id, k mins) partials, and the explode never amplifies
    * shuffled data (it sits between the scan and the partial aggregate).
    * Used by [[lshCandidates]]: buckets on (band, band slice) and pairs
    * emerge from a self-join within buckets, so cost tracks bucket skew,
    * not n².
    */
  def minhashSigTable(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 8,
                      hashFn: Column => Column = Text.md5HashMod): DataFrame = {
    val p = 1000000007L
    val hashed = df
      .select(col(idCol).as("__id"),
        explode(Text.bigramShingles(Text.tokens(col(textCol)))).as("__s"))
      // pmod into [0, p): makes any 64-bit hashFn safe under ANSI (a*h
      // would overflow on full-range values); no-op for reduced hashes
      .withColumn("__h", pmod(hashFn(col("__s")), lit(p)))
    val aggs = (0 until k).map { j =>
      val a = 2L * j + 1
      val b = 7919L * j + 13
      min((lit(a) * col("__h") + lit(b)) % lit(p)).as(s"m$j")
    }
    // docs with <2 tokens have no shingles → dropped by the explode, which
    // also keeps them out of a degenerate all-colliding bucket
    hashed.groupBy("__id").agg(aggs.head, aggs.tail: _*)
  }

  /** Banded LSH bucket table for a corpus: one `(__id, band, sig)` row
    * per band per document — the shared front half of [[lshCandidates]]
    * (self-join) and [[crossCorpusCandidates]] (two-corpus join).
    */
  private def bandedBuckets(df: DataFrame, textCol: String, idCol: String,
                            k: Int, rowsPerBand: Int,
                            hashFn: Column => Column): DataFrame =
    bandTable(df, textCol, idCol, k, rowsPerBand, hashFn)

  /** Public face of the banded bucket table — `(__id, band, sig)` rows,
    * one per band per document. The unit [[IncrementalDedup]] persists:
    * a stored corpus's band table IS its reusable dedup index.
    */
  def bandTable(df: DataFrame, textCol: String, idCol: String,
                k: Int = 8, rowsPerBand: Int = 2,
                hashFn: Column => Column = Text.md5HashMod): DataFrame =
    bandRows(minhashSigTable(df, textCol, idCol, k, hashFn), k, rowsPerBand)

  /** Band a `(__id, m0..m{k-1})` signature table into `(__id, band,
    * sig)` rows — shared by the set and multiset signature variants.
    */
  private def bandRows(sigs: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    val bands = k / rowsPerBand
    sigs.select(
      col("__id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(":", (0 until rowsPerBand).map(r =>
            col(s"m${b * rowsPerBand + r}")): _*).as("sig"))
      }: _*)).as("bucket"))
      .select(col("__id"), col("bucket.band"), col("bucket.sig"))
  }

  /** MinHash-LSH candidate pairs — the audit-dropping face of
    * [[lshCandidatesAudited]]; defaults to [[BucketCap.Auto]] like the
    * IR actions since r15 (pre-r15 this face defaulted unlimited — a
    * library caller got the unguarded quadratic path the IR surface
    * was already protected from; pass `BucketCap.Unlimited` explicitly
    * to reproduce pre-r15 outputs on dup-cluster-heavy corpora). The
    * guard: a band bucket holding B documents emits B(B−1)/2 pairs out
    * of the self-join, so ONE boilerplate signature shared by 10⁶ docs
    * (empty pages, parked domains, license stubs) costs 10¹² candidate
    * pairs regardless of how well everything else scales. Buckets
    * larger than the cap are dropped whole BEFORE the join (one
    * map-side-combined `(band, sig)` count + a semi-join — the
    * winnowing-index cap's shape). Recall loss is confined to clusters
    * of > cap near-identical docs — boilerplate by definition, and
    * already collapsed by the exact dedup pass a curation chain runs
    * first. Capped runs stay oracle-gated (`dedup_minhash_lsh_capped`
    * replays the same qualify-then-join in SQL).
    */
  def lshCandidates(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 8, rowsPerBand: Int = 2,
                    hashFn: Column => Column = Text.md5HashMod,
                    cap: BucketCap = BucketCap.Auto()): DataFrame =
    lshCandidatesAudited(df, textCol, idCol, k, rowsPerBand, hashFn, cap)._1

  /** [[lshCandidates]] with the guard's account attached: returns the
    * candidate pairs plus a one-row [[LshAudit]] when a guard was
    * active (`None` for [[BucketCap.Unlimited]] — nothing can be
    * excluded, and computing the histogram would cost an eager job the
    * unguarded path never needed). Guarded modes materialize the band
    * table anyway (it feeds the cap aggregate, the semi-join and both
    * join sides), so the audit's histogram is one extra map-side-
    * combined aggregate with a bucket-count-sized collect — and in
    * [[BucketCap.Auto]] mode the same collect IS the cap resolution.
    * Exclusions are logged at WARN so a production run surfaces the
    * trade in-band even when the caller drops the audit.
    */
  /** Re-spread the STREAM side of an expanding banded join when it is
    * under-split. AQE coalesces band tables by BYTES (a few MB of
    * `(band, sig, id)` rows → one or two partitions), the planner
    * broadcasts the other side, and the bucket-quadratic candidate
    * expansion — the join's real work, orders of magnitude larger than
    * either input — then runs on those few tasks with the other cores
    * idle (measured: 17.4 M pairs from a 2-task stage on the keyed ×10
    * probe corpus; the jaccardPrefixJoin twin of this fix measured a
    * 26 M-row single task). Hashing by the id column keeps every band
    * row of a doc together, so the downstream `.distinct()`'s map-side
    * partial combine still collapses per-band duplicate pairs before
    * the shuffle (round-robin spread was measured to 3.7× the shuffled
    * row count on the prefix-join twin). At production split counts the
    * guard is a no-op — and there the planner picks a shuffle join,
    * which spreads by key on its own.
    *
    * Applied ONLY via [[cappedBandTableWithStars]]' `spreadKept` on the
    * set-MinHash pair/connectivity faces, where the band table is
    * already materialized (probing `rdd.getNumPartitions` on a
    * checkpointed frame is free — on the deliberately-lazy faces
    * (cross-corpus, hamming, `materializeUnlimited = false`) the probe
    * forces a physical planning pass per call that measured +10…45 % on
    * their ×10 rows against a −4…+3 % best case, and their expansions
    * showed no serial stage in the ×10 profile). On the guarded cap
    * paths the spread is additionally histogram-gated: the exact
    * bucket-size histogram predicts the kept-pair volume, and the
    * spread's flat exchange only pays for itself when that volume gives
    * each target partition a task-floor-amortizing chunk.
    */
  private def spreadExpandingJoinSide(banded: DataFrame,
                                      idCol: String = "__id"): DataFrame = {
    val np = banded.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    if (banded.rdd.getNumPartitions < np) banded.repartition(np, col(idCol))
    else banded
  }

  def lshCandidatesAudited(df: DataFrame, textCol: String, idCol: String,
                           k: Int = 8, rowsPerBand: Int = 2,
                           hashFn: Column => Column = Text.md5HashMod,
                           cap: BucketCap = BucketCap.Auto()): (DataFrame, Option[LshAudit]) = {
    val banded0 = bandedBuckets(df, textCol, idCol, k, rowsPerBand, hashFn)
    val (banded, audit) =
      cappedBandTable(banded0, Seq("band", "sig"), k / rowsPerBand, cap, "lshCandidates",
        spreadKept = true)
    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r,
      col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id1"), col("r.__id").as("id2"))
      .distinct()
    (pairs, audit)
  }

  /** The CONNECTIVITY face of [[lshCandidatesAudited]] — for consumers
    * that feed the pairs into connected components (near-dup pruning,
    * cluster-aware splitting) rather than consuming the pair list
    * itself: over-cap buckets are still exempted from the quadratic
    * pair join, but each contributes linear `member → bucket-min-id`
    * star edges with the SAME connected components as its full clique
    * (every bucket member is pairwise-candidate by construction, so
    * clique and star close transitively to the same component). Net:
    * prune/split results under ANY cap — auto included — are exactly
    * the unlimited results, at O(bucket) instead of O(bucket²) cost.
    * The audit still accounts the buckets exempted from PAIR LISTING;
    * `excludedMembers > 0` here means "connectivity preserved via
    * stars", not "near-dups lost".
    *
    * CONTRACT NOTE: unlike the pair-list faces, the output may contain
    * DUPLICATE (id1, id2) rows — a pair that collides in both an
    * over-cap bucket (star edge) and a kept bucket (regular pair) is
    * emitted from each. Connectivity consumers (connected components)
    * are insensitive; dedupe with `.distinct()` if a distinct edge
    * list is needed (an extra exchange the main prune/split path
    * deliberately does not pay — [[clusterPairsStar]] distincts its
    * own edge union anyway).
    */
  def lshCandidatesConnectivity(df: DataFrame, textCol: String, idCol: String,
                                k: Int = 8, rowsPerBand: Int = 2,
                                hashFn: Column => Column = Text.md5HashMod,
                                cap: BucketCap = BucketCap.Auto()): (DataFrame, Option[LshAudit]) = {
    val banded0 = bandedBuckets(df, textCol, idCol, k, rowsPerBand, hashFn)
    val (banded, audit, stars) = cappedBandTableWithStars(banded0,
      Seq("band", "sig"), k / rowsPerBand, cap, "lshCandidates(connectivity)",
      starEdges = true, spreadKept = true)
    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r,
      col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id1"), col("r.__id").as("id2"))
      .distinct()
    (stars.map(pairs.unionAll).getOrElse(pairs), audit)
  }

  /** The guard kernel shared by every banded candidate join (set
    * MinHash, multiset MinHash, pigeonhole hamming bands): materialize
    * the band table, read its EXACT bucket-size histogram (map-side
    * combined; the collect is bounded by the largest bucket size),
    * resolve the cap ([[solveBucketCap]] for [[BucketCap.Auto]]), drop
    * over-cap buckets whole via a semi-join, and account for the drop
    * in an [[LshAudit]]. Returns the MATERIALIZED kept band table —
    * every caller feeds it to a (self- or cross-) join, so the
    * producing pipeline must run once — plus, when `starEdges` is set,
    * the linear connectivity replacement for what was dropped (see
    * below). `bandsPerDoc` converts band rows to the banded-doc count
    * the auto budget is linear in.
    *
    * `starEdges` — the connectivity-exact mode for consumers that feed
    * the pairs into connected components (near-dup-prune,
    * cluster-split) rather than consuming the pair LIST itself: each
    * over-cap bucket additionally emits `member → bucket-min-id` star
    * edges — the same connected components as the bucket's full
    * B(B−1)/2 clique at O(B) cost — so capping costs those consumers
    * NOTHING semantically: prune/split under any cap equal the
    * unlimited run exactly. Pair-list faces keep plain dropping (a
    * star edge is not a candidate pair; fabricating B−1 pairs out of a
    * 10⁶-clique would misrepresent the relation).
    */
  private def cappedBandTable(banded0: DataFrame, keyCols: Seq[String],
                              bandsPerDoc: Int, cap: BucketCap,
                              what: String,
                              materializeUnlimited: Boolean = true,
                              spreadKept: Boolean = false): (DataFrame, Option[LshAudit]) = {
    val (kept, audit, _) = cappedBandTableWithStars(banded0, keyCols,
      bandsPerDoc, cap, what, materializeUnlimited, starEdges = false,
      spreadKept = spreadKept)
    (kept, audit)
  }

  private def cappedBandTableWithStars(banded0: DataFrame, keyCols: Seq[String],
                                       bandsPerDoc: Int, cap: BucketCap,
                                       what: String,
                                       materializeUnlimited: Boolean = true,
                                       starEdges: Boolean = false,
                                       spreadKept: Boolean = false)
      : (DataFrame, Option[LshAudit], Option[DataFrame]) = {
    val keys = keyCols.map(col)
    cap match {
      case BucketCap.Unlimited =>
        // the band table is tiny (bands rows × ~20 bytes per doc) and —
        // for the SELF-join faces — feeds both sides of the join:
        // materialize it once (eagerly) instead of running the hash
        // pipeline twice; blocks are reclaimed by the ContextCleaner
        // when the plan is unreferenced (persist() leaked them for the
        // session lifetime). Cross-corpus callers consume each side
        // once and skip the checkpoint copy.
        (if (materializeUnlimited) {
          // no histogram on this path (deliberately no eager count job):
          // the under-split guard alone decides the expanding-join spread
          val m = Materialize(banded0)
          if (spreadKept) spreadExpandingJoinSide(m) else m
        } else banded0, None, None)
      case guarded =>
        // materialize BEFORE deriving the cap aggregate: the bucket table
        // feeds both the count aggregate and the semi-join probe side, and
        // without this the whole hash/banding pipeline runs twice
        val b0 = Materialize(banded0)
        // per-bucket count PLAN, shared by every consumer below. The
        // histogram collect runs it FUSED (one two-level aggregate job,
        // exactly the r14 happy-path cost — measured: eagerly
        // checkpointing counts up front added ~5-10% to the
        // auto-resolves-unlimited bench rows for nothing); only when a
        // cap actually resolves is the frame materialized, and then the
        // ok-side semi-join, the star-edge over side and the star roots
        // all reuse it instead of re-aggregating the corpus-sized band
        // table per consumer (the r14 kernel's double aggregate).
        val countsPlan = b0.groupBy(keys: _*).agg(count(lit(1)).as("__bs"))
        // Fixed mode WILL consume the count frame (the cap is certain):
        // pin it before the histogram so the whole guard costs ONE band-
        // table aggregate. Auto can't know yet — it reads the histogram
        // first and pins only if a cap resolves.
        val countsFixed = guarded match {
          case BucketCap.Fixed(_) => Some(Materialize(countsPlan))
          case _ => None
        }
        // exact bucket-SIZE histogram: (size, how many buckets have it) —
        // distinct sizes are bounded by the largest bucket, so the collect
        // is model-sized even when the bucket table is corpus-sized
        val hist = countsFixed.getOrElse(countsPlan)
          .groupBy(col("__bs")).agg(count(lit(1)).as("__n"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        // every banded doc contributes exactly `bandsPerDoc` rows, so the
        // doc count falls out of the histogram for free (docs with no
        // bandable content never banded, never candidates)
        val nDocs = hist.iterator.map { case (s, n) => s * n }.sum / math.max(1, bandsPerDoc)
        val resolved: Long = guarded match {
          case BucketCap.Fixed(n) => n.toLong
          case BucketCap.Auto(ppd, floor) => solveBucketCap(hist, nDocs, ppd, floor)
          case BucketCap.Unlimited => Long.MaxValue // unreachable
        }
        val excluded = hist.filter(_._1 > resolved)
        val a = LshAudit(resolved, nDocs,
          nBuckets = hist.iterator.map(_._2).sum,
          largestBucket = hist.lastOption.map(_._1).getOrElse(0L),
          excludedBuckets = excluded.iterator.map(_._2).sum,
          excludedMembers = excluded.iterator.map { case (s, n) => s * n }.sum)
        if (a.excludedBuckets > 0)
          log.warn(s"$what: mega-bucket guard (cap=$resolved, mode=$guarded) " +
            s"excluded ${a.excludedBuckets} band buckets / ${a.excludedMembers} member rows " +
            s"(largest bucket ${a.largestBucket}) from candidate generation — " +
            (if (starEdges)
              "their connectivity is preserved via linear member→bucket-min star edges"
            else
              "near-dups inside those buckets are NOT in the pair list"))
        // Expanding-join spread, histogram-informed (unlike the
        // Unlimited path, the exact bucket sizes are in hand): the
        // spread's extra exchange + 32-task stage only pays for itself
        // when the candidate expansion is large, and the KEPT pair
        // volume is exactly sum n*s*(s-1)/2 over kept bucket sizes.
        // Threshold: enough pairs to give each target partition a
        // task-floor-amortizing chunk (~64k rows) - work-per-task, not
        // a machine constant; np is the scale-adaptive factor.
        // (Measured: unconditional spread cost the sf0.1 cluster gates
        // +19..57% - one flat exchange per clustering call against a
        // tiny expansion - while the same spread wins -36..-79% at x10
        // where the expansion is millions of rows.)
        def spreadIfExpanding(kept: DataFrame, capBound: Long): DataFrame =
          if (!spreadKept) kept
          else {
            val np = kept.sparkSession.conf
              .get("spark.sql.shuffle.partitions", "200").toInt
            val keptPairs = hist.iterator.filter(_._1 <= capBound)
              .map { case (sz, n) => n * sz * (sz - 1) / 2 }.sum
            if (keptPairs >= np.toLong * 65536L) spreadExpandingJoinSide(kept)
            else kept
          }
        if (resolved == Long.MaxValue)
          (spreadIfExpanding(b0, Long.MaxValue), Some(a), None)
        else {
          // a cap resolved: pin the count frame (already pinned in Fixed
          // mode) — after this, ok/over/roots are all counts-sized reads
          val counts = countsFixed.getOrElse(Materialize(countsPlan))
          // the ok side re-aliases its keys into FRESH attributes before
          // the semi-join: a groupBy keeps its grouping attributes' expr
          // ids, so joining the aggregate back onto its own source by
          // bare column name is Spark's ambiguous-self-join knife edge
          // (observed resolving trivially-true in a REPL context); the
          // Alias makes the condition unambiguous by construction
          val ok = counts.filter(col("__bs") <= resolved)
            .select(keyCols.map(c => col(c).as(s"__ok_$c")): _*)
          val cond = keyCols.map(c => col(c) === col(s"__ok_$c")).reduce(_ && _)
          val kept = b0.join(ok, cond, "left_semi")
          val stars =
            if (!starEdges || a.excludedBuckets == 0L) None
            else {
              // over-cap members → their bucket's min id, one edge per
              // member row (distinct'd across bands): O(excludedMembers)
              // rows, the linear stand-in for the dropped cliques
              val over = counts.filter(col("__bs") > resolved)
                .select(keyCols.map(c => col(c).as(s"__ov_$c")): _*)
              val condOv = keyCols.map(c => col(c) === col(s"__ov_$c")).reduce(_ && _)
              val members = b0.join(over, condOv, "left_semi")
              val roots = members.groupBy(keys: _*).agg(min(col("__id")).as("__root"))
                .select(keyCols.map(c => col(c).as(s"__rt_$c")) :+ col("__root"): _*)
              val condRt = keyCols.map(c => col(c) === col(s"__rt_$c")).reduce(_ && _)
              Some(members.join(roots, condRt)
                .filter(col("__id") =!= col("__root"))
                // root = bucket min, so root < member: (id1, id2) keeps
                // the family's id1 < id2 convention
                .select(col("__root").as("id1"), col("__id").as("id2"))
                .distinct())
            }
          // re-materialize the FILTERED table: it feeds both join sides
          (spreadIfExpanding(Materialize(kept), resolved), Some(a), stars)
        }
    }
  }

  /** Multiset (integer-weighted) MinHash signature table: MinHash over
    * OCCURRENCE-INDEXED bigram shingles (`shingle#1 … shingle#c`), the
    * explicit-replication reduction (the integer-weight baseline Ioffe
    * 2010's CWS generalizes): bucket-collision probability equals the
    * multiset Jaccard `Σ min(c₁,c₂) / Σ max(c₁,c₂)`, so repetition
    * counts — a page that repeats one boilerplate paragraph 50× near-
    * dups other boilerplate-heavy pages even when their DISTINCT-shingle
    * sets (the [[minhashSigTable]] relation) barely overlap. Same
    * shingle unit as the set variant, so the two relations differ only
    * in whether repeats matter.
    *
    * Scale: one `(doc, shingle)` count exchange (map-side combined —
    * the occurrence expansion happens AFTER counting, so within-doc
    * repeats never shuffle raw), then one per-doc min aggregate.
    * Shingle-less docs drop out (no signature, never a candidate) like
    * the set variant. Hashes follow the same md5/affine-permutation
    * convention, so the DuckDB oracle replays signatures exactly.
    */
  def weightedSigTable(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 8,
                       hashFn: Column => Column = Text.md5HashMod): DataFrame = {
    val p = 1000000007L
    val hashed = df
      .select(col(idCol).as("__id"),
        explode(Text.bigramShingles(Text.tokens(col(textCol)))).as("__t"))
      .groupBy("__id", "__t").agg(count(lit(1)).as("__c"))
      .select(col("__id"),
        explode(transform(sequence(lit(1L), col("__c")),
          i => concat(col("__t"), lit("#"), i.cast("string")))).as("__s"))
      .withColumn("__h", pmod(hashFn(col("__s")), lit(p)))
    val aggs = (0 until k).map { j =>
      val a = 2L * j + 1
      val b = 7919L * j + 13
      min((lit(a) * col("__h") + lit(b)) % lit(p)).as(s"m$j")
    }
    hashed.groupBy("__id").agg(aggs.head, aggs.tail: _*)
  }

  /** Banded LSH candidates under the MULTISET relation — see
    * [[weightedSigTable]]; same banding/self-join shape (and the same
    * single-(band,sig)-exchange scale story) as [[lshCandidates]].
    */
  def weightedLshCandidates(df: DataFrame, textCol: String, idCol: String,
                            k: Int = 8, rowsPerBand: Int = 2,
                            hashFn: Column => Column = Text.md5HashMod,
                            cap: BucketCap = BucketCap.Auto()): DataFrame =
    weightedLshCandidatesAudited(df, textCol, idCol, k, rowsPerBand, hashFn,
      cap)._1

  /** [[weightedLshCandidates]] under the shared mega-bucket guard
    * ([[cappedBandTable]]) — repetition-heavy boilerplate (the exact
    * audience of the multiset relation) is if anything MORE prone to
    * the one-signature mega-bucket than the set variant.
    */
  def weightedLshCandidatesAudited(df: DataFrame, textCol: String, idCol: String,
                                   k: Int = 8, rowsPerBand: Int = 2,
                                   hashFn: Column => Column = Text.md5HashMod,
                                   cap: BucketCap = BucketCap.Auto()): (DataFrame, Option[LshAudit]) = {
    val banded0 = bandRows(weightedSigTable(df, textCol, idCol, k, hashFn),
      k, rowsPerBand)
    val (banded, audit) = cappedBandTable(banded0, Seq("band", "sig"),
      k / rowsPerBand, cap, "weightedLshCandidates")
    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r,
      col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id1"), col("r.__id").as("id2"))
      .distinct()
    (pairs, audit)
  }

  /** Cross-corpus candidates under the MULTISET relation — the weighted
    * twin of [[crossCorpusCandidates]] (new crawl vs training set where
    * repetition matters): same banding, both sides shuffle ONCE on
    * `(band, sig)`, neither assumed small. Output: distinct
    * `(left_id, right_id)`.
    */
  def weightedCrossCorpusCandidates(left: DataFrame, right: DataFrame,
                                    textCol: String, idCol: String,
                                    k: Int = 8, rowsPerBand: Int = 2,
                                    hashFn: Column => Column = Text.md5HashMod,
                                    capLeft: BucketCap = BucketCap.Auto(),
                                    capRight: BucketCap = BucketCap.Auto()): DataFrame =
    weightedCrossCorpusCandidatesAudited(left, right, textCol, idCol, k,
      rowsPerBand, hashFn, capLeft, capRight)._1

  /** [[weightedCrossCorpusCandidates]] under the per-side guard — same
    * contract as [[crossCorpusCandidatesAudited]].
    */
  def weightedCrossCorpusCandidatesAudited(left: DataFrame, right: DataFrame,
                                           textCol: String, idCol: String,
                                           k: Int = 8, rowsPerBand: Int = 2,
                                           hashFn: Column => Column = Text.md5HashMod,
                                           capLeft: BucketCap = BucketCap.Auto(),
                                           capRight: BucketCap = BucketCap.Auto())
      : (DataFrame, Option[LshAudit], Option[LshAudit]) = {
    val (l, auditL) = cappedBandTable(
      bandRows(weightedSigTable(left, textCol, idCol, k, hashFn), k, rowsPerBand),
      Seq("band", "sig"), k / rowsPerBand, capLeft,
      "weightedCrossCorpusCandidates(left)", materializeUnlimited = false)
    val (r, auditR) = cappedBandTable(
      bandRows(weightedSigTable(right, textCol, idCol, k, hashFn), k, rowsPerBand),
      Seq("band", "sig"), k / rowsPerBand, capRight,
      "weightedCrossCorpusCandidates(right)", materializeUnlimited = false)
    val pairs = l.as("l").join(r.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig"))
      .select(col("l.__id").as("left_id"), col("r.__id").as("right_id"))
      .distinct()
    (pairs, auditL, auditR)
  }

  /** Exact multiset Jaccard `Σ min(c₁,c₂) / Σ max(c₁,c₂)` over bigram-
    * shingle counts for given pairs — the verification stage behind
    * [[weightedLshCandidates]], via inclusion-exclusion
    * (`Σ max = n₁ + n₂ − Σ min`, shingle totals = per-doc shingle
    * counts) so only the intersection ever joins. Pair-free of the
    * corpus: the count table is built once; every join after it is
    * candidate-bounded (pairs broadcast when small). Two shingle-less
    * docs score 1.0 (identical) by the same convention as the
    * set-containment verify.
    */
  def multisetJaccard(df: DataFrame, pairs: DataFrame, textCol: String,
                      idCol: String): DataFrame = {
    val sh = Text.bigramShingles(Text.tokens(col(textCol)))
    val cnt = df
      .select(col(idCol).as("__id"), explode(sh).as("__t"))
      .groupBy("__id", "__t").agg(count(lit(1)).as("__c"))
    val lens = df.select(col(idCol).as("__id"),
      size(sh).cast("long").as("__n"))
    val p = pairs.select(col("id1"), col("id2"))
    val inter = p
      .join(cnt.as("a"), col("a.__id") === col("id1"))
      .join(cnt.as("b"), col("b.__id") === col("id2") && col("a.__t") === col("b.__t"))
      .groupBy("id1", "id2")
      .agg(sum(least(col("a.__c"), col("b.__c"))).as("__m"))
    p.join(inter, Seq("id1", "id2"), "left")
      .join(lens.as("l1"), col("l1.__id") === col("id1"))
      .join(lens.as("l2"), col("l2.__id") === col("id2"))
      .select(col("id1"), col("id2"),
        when(col("l1.__n") + col("l2.__n") - coalesce(col("__m"), lit(0L)) === 0L,
          lit(1.0))
          .otherwise(coalesce(col("__m"), lit(0L)).cast("double") /
            (col("l1.__n") + col("l2.__n") - coalesce(col("__m"), lit(0L)))
              .cast("double"))
          .as("wjaccard"))
  }

  /** Cross-corpus MinHash-LSH near-dup candidates: documents of `left`
    * (e.g. a fresh crawl) that collide with documents of `right` (e.g.
    * the existing training set) in at least one LSH band — the fuzzy
    * twin of benchmark decontamination, and the standard "dedup the new
    * crawl against what we already have" pass before ingestion.
    *
    * Same signature/banding parameters as [[lshCandidates]], so a pair
    * reported here would also be reported by the self-join variant run
    * on the union — this is the two-sided restriction of that relation
    * (left×right only, no within-corpus pairs).
    *
    * Scale: both sides shuffle ONCE on `(band, sig)` — the same
    * irreducible exchange as the self-join; candidate volume tracks
    * bucket collision sizes, never |left|×|right|. Neither corpus is
    * assumed small (no broadcast): at 100 TB both sides are fact-sized.
    * Output: distinct `(left_id, right_id)`.
    */
  def crossCorpusCandidates(left: DataFrame, right: DataFrame,
                            textCol: String, idCol: String,
                            k: Int = 8, rowsPerBand: Int = 2,
                            hashFn: Column => Column = Text.md5HashMod,
                            capLeft: BucketCap = BucketCap.Auto(),
                            capRight: BucketCap = BucketCap.Auto()): DataFrame =
    crossCorpusCandidatesAudited(left, right, textCol, idCol, k, rowsPerBand,
      hashFn, capLeft, capRight)._1

  /** [[crossCorpusCandidates]] with the mega-bucket guard applied PER
    * SIDE ([[cappedBandTable]] on each corpus's own band table and doc
    * budget): a cross-bucket emits `l_size × r_size` pairs, so one
    * boilerplate signature shared by 10⁶ docs on each side costs 10¹²
    * rows unguarded; capping each factor independently bounds the
    * product at `cap_l × cap_r` per bucket while keeping the rule
    * replayable per corpus. Returns the pairs plus each side's audit.
    */
  def crossCorpusCandidatesAudited(left: DataFrame, right: DataFrame,
                                   textCol: String, idCol: String,
                                   k: Int = 8, rowsPerBand: Int = 2,
                                   hashFn: Column => Column = Text.md5HashMod,
                                   capLeft: BucketCap = BucketCap.Auto(),
                                   capRight: BucketCap = BucketCap.Auto())
      : (DataFrame, Option[LshAudit], Option[LshAudit]) = {
    val (l, auditL) = cappedBandTable(
      bandedBuckets(left, textCol, idCol, k, rowsPerBand, hashFn),
      Seq("band", "sig"), k / rowsPerBand, capLeft, "crossCorpusCandidates(left)",
      materializeUnlimited = false)
    val (r, auditR) = cappedBandTable(
      bandedBuckets(right, textCol, idCol, k, rowsPerBand, hashFn),
      Seq("band", "sig"), k / rowsPerBand, capRight, "crossCorpusCandidates(right)",
      materializeUnlimited = false)
    val pairs = l.as("l").join(r.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig"))
      .select(col("l.__id").as("left_id"), col("r.__id").as("right_id"))
      .distinct()
    (pairs, auditL, auditR)
  }

  /** One row per id of the capped/derived text payload for a verify
    * join — duplicate-id input rows (crawl refetches; artificially
    * duplicated probe corpora) would otherwise multiply every pair's
    * verify work AND its output rows by dupcount², the quadratic
    * artifact behind dedup_edit_confirm's creeping ×10 ratio.
    * `max` tie-break: deterministic, and the identity when ids are
    * unique (every gated corpus). One map-side-combined exchange of the
    * payload — the same id-keyed exchange the verify join needed anyway.
    */
  private def perIdPayload(df: DataFrame, idCol: String, payload: Column,
                           as: String): DataFrame =
    df.groupBy(col(idCol).as("__id")).agg(max(payload).as(as))

  /** Exact n-gram Jaccard similarity for given pairs (verification stage
    * after LSH): joins the token-set back on both sides — broadcast when
    * the candidate set is small. One verify row per pair even under
    * duplicate-id inputs ([[perIdPayload]]).
    */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sets = perIdPayload(df, idCol, col(textCol), "__txt")
      .select(col("__id"),
        array_distinct(Text.bigramShingles(Text.tokens(col("__txt")))).as("__set"))
    pairs
      .join(sets.withColumnRenamed("__id", "id1").withColumnRenamed("__set", "set1"), "id1")
      .join(sets.withColumnRenamed("__id", "id2").withColumnRenamed("__set", "set2"), "id2")
      // |A∩B| / (|A| + |B| - |A∩B|) — inclusion-exclusion keeps the oracle
      // free of engine-specific union-dedup semantics
      .withColumn("__inter", size(array_intersect(col("set1"), col("set2"))).cast("double"))
      .withColumn("jaccard",
        col("__inter") /
          (size(col("set1")).cast("double") + size(col("set2")).cast("double") - col("__inter")))
      .drop("set1", "set2", "__inter")
  }

  /** Exact n-gram CONTAINMENT for given pairs — the asymmetric companion
    * of [[ngramJaccard]] for quote/wrapper detection: a short document
    * quoted whole inside a long one has tiny Jaccard (the union is
    * dominated by the long side) but containment ~1.0 on the short side.
    * `containment_1in2 = |A∩B| / |A|`, `containment_2in1 = |A∩B| / |B|`
    * (1.0 for an empty side — the empty set is contained in everything).
    * Same join shape and cost as the Jaccard verifier.
    */
  def ngramContainment(df: DataFrame, pairs: DataFrame, textCol: String,
                       idCol: String): DataFrame = {
    val sets = perIdPayload(df, idCol, col(textCol), "__txt")
      .select(col("__id"),
        array_distinct(Text.bigramShingles(Text.tokens(col("__txt")))).as("__set"))
    pairs
      .join(sets.withColumnRenamed("__id", "id1").withColumnRenamed("__set", "set1"), "id1")
      .join(sets.withColumnRenamed("__id", "id2").withColumnRenamed("__set", "set2"), "id2")
      .withColumn("__inter", size(array_intersect(col("set1"), col("set2"))).cast("double"))
      .withColumn("containment_1in2",
        when(size(col("set1")) === 0, lit(1.0))
          .otherwise(col("__inter") / size(col("set1")).cast("double")))
      .withColumn("containment_2in1",
        when(size(col("set2")) === 0, lit(1.0))
          .otherwise(col("__inter") / size(col("set2")).cast("double")))
      .drop("set1", "set2", "__inter")
  }

  /** 32-bit SimHash over token hashes: bit b of the signature is set when
    * the sum of ±1 votes from each token's bit b is positive.
    */
  def simhash(df: DataFrame, textCol: String,
              hashFn: Column => Column = Text.md5Hash64): DataFrame = {
    val hashes = transform(Text.tokens(col(textCol)), t => hashFn(t))
    val sig = (0 until 32).map { b =>
      val vote = aggregate(hashes, lit(0L),
        // bitwiseAND, not % 2: a negative (full-range) hash's bit must
        // vote +1/-1, and (h>>b) % 2 is -1 for negative h
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("simhash", sig)
  }

  /** SimHash near-duplicate pairs at hamming distance ≤ `maxHamming`,
    * via the half-signature pigeonhole (Charikar/Manku et al.): split the
    * 32-bit signature into `maxHamming + 1` bands — any pair within the
    * distance budget must agree EXACTLY on at least one band, so
    * candidates come from equi-joins on (band index, band bits), one
    * shuffle, never all-pairs. Candidates are then verified with an exact
    * `bit_count(xor)` — codegen'd integer ops, no row blowup beyond the
    * banded buckets.
    */
  /** SimHash signatures via the distributed shape (the [[minhashSigTable]]
    * pattern): explode tokens to rows, hash each token EXACTLY ONCE, then
    * 32 per-bit ±1 vote sums with map-side partial combine. The per-row
    * fold ([[simhash]]) re-evaluates the token-hash lambda once per bit —
    * 32× the hashing — because higher-order lambdas are not
    * common-subexpression-eliminated; it stays as the oracle-parity
    * surface. Token-less docs keep signature 0, like the fold.
    */
  def simhashSigTable(df: DataFrame, textCol: String, idCol: String,
                      hashFn: Column => Column = Text.md5Hash64): DataFrame = {
    val hashed = df
      .select(col(idCol).as("__id"), explode(Text.tokens(col(textCol))).as("__t"))
      .withColumn("__h", hashFn(col("__t")))
    val votes = (0 until 32).map { b =>
      sum(shiftright(col("__h"), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"__v$b")
    }
    val sig = (0 until 32).map { b =>
      when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val voted = hashed.groupBy("__id").agg(votes.head, votes.tail: _*)
      .select(col("__id"), sig.as("simhash"))
    df.select(col(idCol).as("__id")).join(voted, Seq("__id"), "left")
      .select(col("__id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  def simhashNearDup(df: DataFrame, textCol: String, idCol: String,
                     maxHamming: Int = 1,
                     hashFn: Column => Column = Text.md5Hash64,
                     cap: BucketCap = BucketCap.Auto()): DataFrame = {
    // signatures feed both sides of the self-join: materialize the tiny
    // (id, sig) table once instead of running the hash pipeline twice
    val sigs = simhashSigTable(df, textCol, idCol, hashFn).transform(Materialize.apply)
    hammingNearDup(sigs, "__id", "simhash", sigBits = 32, maxHamming = maxHamming,
      cap = cap)
  }

  /** Pigeonhole-banded hamming near-dup over ANY ≤64-bit signature column
    * (Charikar/Manku et al.): split the signature into `maxHamming + 1`
    * bands — a pair within the distance budget must agree EXACTLY on at
    * least one band, so candidates come from equi-joins on (band index,
    * band bits), one shuffle, never all-pairs; candidates verify with an
    * exact `bit_count(xor)`. The shared engine behind the text SimHash
    * path (32-bit token signatures) and the image dHash path (64-bit
    * perceptual hashes, [[graft.operators.Multimodal.imageNearDup]]).
    *
    * Output: (id1, id2, hamming) with id1 < id2, hamming ≤ `maxHamming`.
    */
  def hammingNearDup(sigs: DataFrame, idCol: String, sigCol: String,
                     sigBits: Int, maxHamming: Int,
                     cap: BucketCap = BucketCap.Auto()): DataFrame =
    hammingNearDupAudited(sigs, idCol, sigCol, sigBits, maxHamming, cap)._1

  /** [[hammingNearDup]] under the shared mega-bucket guard: the
    * pigeonhole bands have their own canonical mega-bucket — the
    * all-zero signature (empty documents, black images) puts EVERY such
    * row in the same band buckets, and the band equi-join then pays
    * |bucket|² exactly like the MinHash case. Same [[cappedBandTable]]
    * kernel, keyed on `(band, bits)`.
    */
  def hammingNearDupAudited(sigs: DataFrame, idCol: String, sigCol: String,
                            sigBits: Int, maxHamming: Int,
                            cap: BucketCap = BucketCap.Auto()): (DataFrame, Option[LshAudit]) = {
    require(sigBits >= 1 && sigBits <= 64,
      s"hammingNearDup: sigBits must be in [1,64], got $sigBits")
    require(maxHamming >= 0 && maxHamming + 1 <= sigBits,
      s"hammingNearDup: need 0 <= maxHamming < sigBits, got $maxHamming vs $sigBits bits")
    val bands = maxHamming + 1
    val width = sigBits / bands
    val s = sigs.select(col(idCol).as("__id"), col(sigCol).as("__sig"))
    val banded0 = s.select(
      col("__id"), col("__sig"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          // band b = bits [b*width, (b+1)*width); last band absorbs the remainder
          shiftright(col("__sig"), b * width)
            .bitwiseAND(lit(if (b == bands - 1) -1L >>> (64 - (sigBits - b * width)) else (1L << width) - 1))
            .as("bits"))
      }: _*)).as("bk"))
      .select(col("__id"), col("__sig"), col("bk.band"), col("bk.bits"))
    // materializeUnlimited = false: banding here is cheap bit-shift
    // projections over the caller's (usually already-materialized) sigs
    // frame — computing it on both join sides is cheaper than an eager
    // checkpoint copy (guarded modes still materialize: the band table
    // also feeds the count aggregate and the semi-join)
    val (banded, audit) = cappedBandTable(banded0, Seq("band", "bits"),
      bands, cap, "hammingNearDup", materializeUnlimited = false)
    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r, col("l.band") === col("r.band") && col("l.bits") === col("r.bits") &&
        col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id1"), col("r.__id").as("id2"),
        bit_count(col("l.__sig").bitwiseXOR(col("r.__sig"))).cast("long").as("hamming"))
      // filter BEFORE distinct: the dedup shuffle then carries only
      // within-budget pairs, not every band collision
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair agreeing on several bands appears once
    (pairs, audit)
  }

  /** Connected components over a near-dup pair list: every id that appears
    * in a pair is labeled with the MINIMUM id reachable through pairs (its
    * cluster's canonical member) — the step that turns pair output from
    * any dedup device (MinHash-LSH, SimHash, embedding buckets) into a
    * keep/drop decision when duplicates chain (A~B, B~C ⇒ {A,B,C} even if
    * A~C was never emitted).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors' labels; fixpoint
    * when a round changes nothing. Rounds = cluster diameter, and
    * near-dup clusters are dense (LSH emits most in-cluster pairs), so
    * 2–4 rounds in practice; `maxIters` caps pathological chains. Each
    * round is one shuffle of the EDGE list (pairs, both directions — tiny
    * next to the corpus); `localCheckpoint` truncates lineage so plans
    * don't grow with iteration count. The driver only orchestrates and
    * checks an `isEmpty` fixpoint probe per round — no edge data ever
    * leaves the executors.
    *
    * Output: one row per distinct id in `pairs`, columns (`id`, `cluster`).
    */
  def clusterPairs(pairs: DataFrame, id1Col: String = "id1", id2Col: String = "id2",
                   maxIters: Int = 20, onePartitionThreshold: Long = 10000000L): DataFrame = {
    val half = pairs.select(col(id1Col).as("a"), col(id2Col).as("b"))
    // the edge count (the small-graph gate input below) rides the
    // Materialize job as an observed metric instead of a separate
    // count() job over the checkpointed blocks — one fewer job per
    // clustering call on both paths (guide §1.2); plain-count fallback
    // is defensive only
    val edgesSrc = half.union(half.select(col("b").as("a"), col("a").as("b")))
      .distinct().observe("graft_cp_edges", count(lit(1)).as("n"))
    val edges = Materialize(edgesSrc)
    def edgeCount: Long = edgesSrc.queryExecution.observedMetrics
      .get("graft_cp_edges").map(_.getLong(0)).getOrElse(edges.count())

    // Adaptive small-graph path: a pair list far below cluster scale (the
    // common case — LSH pair output is tiny next to the corpus) pays more
    // in per-round job scheduling than in compute. When the edge list
    // fits one task comfortably AND ids are integral, run a single-task
    // union-find (union-by-min + path compression — exact, one pass, an
    // EXECUTOR-side kernel, not a driver collect). Billion-edge graphs
    // and non-integral ids take the iterative path below.
    //
    // 10×-scale-probe note (bench history shows dedup_clusters ratios of
    // 1.7-2.2 between sf0.01 and sf0.1): BOTH bench scale points take
    // THIS path (sf0.1 produces ~157k LSH edges, 60× under the 10M
    // threshold), so the probed ratio says nothing about the iterative
    // label-propagation rounds — it is the upstream LSH candidate
    // pipeline scaling plus this path's fixed multi-job floor (edge
    // count, checkpoint, one single-task kernel). Measured clean-load
    // steady state 2026-08: 0.58s @sf0.01 vs 1.0s @sf0.1 = 1.75; in-bench
    // readings above 2.0 track ambient load / code-cache pressure, not a
    // superlinear operator (which would surface in dedup_minhash_lsh
    // first — same pipeline, no clustering).
    val integralIds = {
      import org.apache.spark.sql.types._
      edges.schema.fields.forall(_.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })
    }
    if (integralIds && edgeCount <= onePartitionThreshold)
      return unionFindLabels(edges)
    // round 1 needs no label join: labels start as the identity, so the
    // propagated label is simply min(self, min neighbor id)
    var labels = edges.groupBy(col("a"))
      .agg(least(min(col("b")), col("a")).as("cluster"))
      .select(col("a").as("id"), col("cluster"))
      .transform(Materialize.apply)
    var it = 1
    var converged = false
    while (!converged && it < maxIters) {
      val neigh = edges.join(labels, edges("b") === labels("id"))
        .groupBy(edges("a").as("id")).agg(min(col("cluster")).as("__nl"))
      // carry old and new labels in ONE checkpointed frame: the fixpoint
      // probe and the next round's labels reuse it without a second join
      val joined = labels.as("l")
        .join(neigh.as("n"), col("l.id") === col("n.id"), "left")
        .select(col("l.id").as("id"), col("l.cluster").as("__prev"),
          least(col("l.cluster"), coalesce(col("__nl"), col("l.cluster"))).as("cluster"))
        .transform(Materialize.apply)
      converged = joined.filter(col("cluster") =!= col("__prev")).isEmpty
      labels = joined.select("id", "cluster")
      it += 1
    }
    // exiting via the iteration cap means labels are still moving —
    // downstream keep/drop decisions would silently split real clusters.
    // Fail loudly: the caller can raise maxIters (rounds = component
    // diameter, so a hit here means a >maxIters-long duplicate chain).
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge after $maxIters rounds — a connected " +
          s"component has diameter > $maxIters; raise maxIters")
    labels.select("id", "cluster")
  }

  /** Single-task union-find (union-by-min + path compression) over an
    * undirected edge list — the exact small-graph path shared by
    * [[clusterPairs]] and [[clusterPairsStar]]: a pair list far below
    * cluster scale (the common case — LSH pair output is tiny next to
    * the corpus) pays more in per-round job scheduling than in compute,
    * so one EXECUTOR-side pass (not a driver collect) labels it in one
    * job. Output: (id, cluster = min reachable id), one row per id in
    * the edge list — bit-identical to the iterative paths' labels.
    */
  private def unionFindLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].coalesce(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          // union by MIN id: the root of every component stays its
          // minimum member, matching the iterative paths' labels
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
        parent.keysIterator.map(id => (id, find(id)))
      }
      .toDF("id", "cluster")
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * diameter-independent twin of [[clusterPairs]]' min-label
    * propagation. Label propagation pays one round per hop of component
    * DIAMETER: a duplicate chain a~b~c~…~z of length 10⁶ (real in
    * boilerplate-heavy web corpora, where page N links near-dups page
    * N+1) needs 10⁶ shuffles and trips the fail-loud cap. Star
    * contraction instead rewires every node to its neighborhood minimum
    * each round, halving-or-better the height of every tree — O(log² n)
    * rounds worst case, ≤ ~log₂(n) in practice — so the round count
    * depends on component SIZE's logarithm, never its shape.
    *
    * Per round: large-star connects every node's strictly-larger
    * neighbors to its neighborhood min (one groupBy on the node = one
    * edge-list shuffle, then a broadcast-free re-join replayed from the
    * same aggregate via explode — no second shuffle of the corpus);
    * small-star does the same for the ≤-side. Fixpoint when large-star
    * changes nothing: every component is then a star centered on its
    * minimum id, and (id, center) IS the label table. Lineage is
    * truncated per round via [[Materialize]] exactly like
    * [[clusterPairs]]; the driver sees only a count per round.
    *
    * Output matches [[clusterPairs]] bit-for-bit: one row per distinct
    * id in `pairs`, columns (`id`, `cluster`), cluster = min reachable
    * id — so the same recursive-CTE oracle gates both paths.
    */
  def clusterPairsStar(pairs: DataFrame, id1Col: String = "id1",
                       id2Col: String = "id2", maxIters: Int = 60,
                       onePartitionThreshold: Long = 10000000L): DataFrame = {
    // materialize the pair list ONCE: it has two consumers here (the
    // singleton-id table and the initial edge set), and `pairs` is
    // usually the UNMATERIALIZED banded LSH self-join — without this the
    // whole candidate pipeline (tokenize → minhash → band → join) ran
    // twice per clustering call (r16 fix, guide §2.4)
    val pr = Materialize(pairs.select(col(id1Col).as("a"), col(id2Col).as("b")))
    val half = pr.filter(col("a") =!= col("b"))
    // singletons in the pair list (a=b rows) still deserve a label row;
    // single consumer (the final join) reading materialized pr blocks —
    // no checkpoint of its own needed
    val selfIds = pr.select(col("a").as("id"))
      .union(pr.select(col("b").as("id"))).distinct()
    // edge count rides the Materialize job (see [[clusterPairs]]) — no
    // separate count() job for the small-graph gate
    val edgesSrc = half.union(half.select(col("b").as("a"), col("a").as("b")))
      .distinct().observe("graft_cps_edges", count(lit(1)).as("n"))
    val edges = Materialize(edgesSrc)
    def edgeCount: Long = edgesSrc.queryExecution.observedMetrics
      .get("graft_cps_edges").map(_.getLong(0)).getOrElse(edges.count())

    // Adaptive small-graph path ([[clusterPairs]]' rule, shared kernel):
    // far below cluster scale the star rounds pay more in per-round job
    // scheduling than in compute — one single-task union-find labels the
    // edge list exactly, in one job. Labels are min-reachable-id either
    // way, so the same oracle gates both paths.
    val integralIds = {
      import org.apache.spark.sql.types._
      edges.schema.fields.forall(_.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      })
    }
    val labels =
      if (integralIds && edgeCount <= onePartitionThreshold)
        unionFindLabels(edges)
      else {
        var cur = edges
        var it = 0
        var converged = false
        while (!converged) {
          // large-star: m(u) = min(N(u) ∪ {u}); emit (v, m(u)) for
          // v ∈ N(u), v > u. One shuffle on u; the (v>u → m) edges come
          // straight out of the same aggregate by collecting the larger
          // neighbors alongside min. The aggregate ALSO carries the
          // fixpoint probe (min neighbor + degree): the graph is a union
          // of min-centered stars ⇔ no node has a smaller neighbor AND
          // any second neighbor — so convergence is read off this frame
          // instead of a separate post-round aggregate job, and a
          // converged graph never pays the (idempotent) round it used to
          // (r16: 4 checkpoints + 1 probe job per round → 2 checkpoints
          // + 1 block-scan probe, and the final round drops entirely)
          val lsAgg = cur.groupBy(col("a"))
            .agg(least(min(col("b")), col("a")).as("m"),
              collect_list(when(col("b") > col("a"), col("b"))).as("big"),
              min(col("b")).as("__mn"), count(lit(1)).as("__cnt"))
            .transform(Materialize.apply)
          converged = lsAgg.filter(col("__mn") < col("a") && col("__cnt") > 1).isEmpty
          if (!converged) {
            if (it >= maxIters)
              throw new IllegalStateException(
                s"clusterPairsStar did not converge after $maxIters rounds — raise maxIters " +
                  "(rounds grow with log of component size; 60 covers any practical graph)")
            val ls = lsAgg.select(explode(col("big")).as("a"), col("m").as("b"))
              .filter(col("a") =!= col("b"))
              .distinct()
            // small-star on large-star's output: m = min(N(u) ∪ {u});
            // emit (v, m) for v ≤ u — with self-loops dropped, (u, m)
            // plus the smaller neighbors re-pointed at m. Pipelined into
            // the round's one edge checkpoint together with the
            // undirected closure (ls and ss each had their own
            // checkpoint before; neither has a second consumer).
            val ss = ls.groupBy(col("a"))
              .agg(least(min(col("b")), col("a")).as("m"),
                collect_list(when(col("b") < col("a"), col("b"))).as("small"))
              .select(explode(concat(col("small"), array(col("a")))).as("a"), col("m").as("b"))
              .filter(col("a") =!= col("b"))
              .distinct()
            cur = ss.union(ss.select(col("b").as("a"), col("a").as("b")))
              .distinct().transform(Materialize.apply)
            it += 1
          }
        }
        // stars: every member's min neighbor (or itself, for the center /
        // singletons) is the component minimum
        cur.groupBy(col("a"))
          .agg(least(min(col("b")), col("a")).as("cluster"))
          .select(col("a").as("id"), col("cluster"))
      }
    selfIds.join(labels, selfIds("id") === labels("id"), "left")
      .select(selfIds("id"),
        coalesce(labels("cluster"), selfIds("id")).as("cluster"))
  }

  /** The deduplicated corpus: drop every row whose id is a NON-canonical
    * member of a near-dup cluster (its cluster label is a smaller id);
    * rows in no pair survive untouched. One anti-join against the
    * (tiny) loser set.
    */
  def dedupByClusters(df: DataFrame, pairs: DataFrame, idCol: String,
                      id1Col: String = "id1", id2Col: String = "id2"): DataFrame = {
    val losers = clusterPairs(pairs, id1Col, id2Col)
      .filter(col("cluster") =!= col("id")).select(col("id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** One-call near-dup pruning — the curation-chain stage: MinHash-LSH
    * candidates ([[lshCandidates]]) → star-contraction components
    * ([[clusterPairsStar]], the diameter-independent path) → keep each
    * cluster's canonical (minimum-id) member. Rows in no candidate pair
    * survive untouched; everything else anti-joins against the loser
    * set (pair-derived, never corpus-sized, broadcast when duplicates
    * are rare — the common case AQE detects).
    *
    * This is [[dedupByClusters]] with the pair generation and the
    * star labeling fused into one call, so a pipeline (or the IR's
    * `near-dup-prune` action) states the POLICY — "drop near-dups, keep
    * the first copy" — without wiring three operators. For keep-best
    * semantics use [[dedupByClustersKeepBest]]; for the exact-Jaccard
    * complement use [[jaccardPrefixJoin]]'s pairs with
    * [[dedupByClusters]].
    */
  def pruneNearDups(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 8, rowsPerBand: Int = 2,
                    hashFn: Column => Column = Text.md5HashMod,
                    cap: BucketCap = BucketCap.Auto()): DataFrame =
    pruneNearDupsAudited(df, textCol, idCol, k, rowsPerBand, hashFn, cap)._1

  /** [[pruneNearDups]] with the guard spec and its audit: the pruned
    * corpus (schema-preserving, as before) plus the one-row
    * [[LshAudit]] when a guard was active. Pruning consumes only the
    * CONNECTIVITY of the pair relation, so the guard runs in its
    * star-edge mode ([[lshCandidatesConnectivity]]): over-cap buckets
    * are exempted from the quadratic pair join but contribute linear
    * member→bucket-min star edges with identical connected components
    * — the pruned corpus under ANY cap equals the unlimited run
    * exactly, and a mega-clique collapses to its one canonical member
    * instead of passing through whole as survivors (the ×100 chain's
    * 146 → 35,745 survivor jump, SCALING.md, is gone by construction).
    */
  def pruneNearDupsAudited(df: DataFrame, textCol: String, idCol: String,
                           k: Int = 8, rowsPerBand: Int = 2,
                           hashFn: Column => Column = Text.md5HashMod,
                           cap: BucketCap = BucketCap.Auto()): (DataFrame, Option[LshAudit]) = {
    val (pairs, audit) =
      lshCandidatesConnectivity(df, textCol, idCol, k, rowsPerBand, hashFn, cap)
    val losers = clusterPairsStar(pairs)
      .filter(col("cluster") =!= col("id")).select(col("id").as("__loser"))
    (df.join(losers, df(idCol) === col("__loser"), "left_anti"), audit)
  }

  /** Leakage-free train/val/test assignment — the split rule evaluation
    * hygiene actually requires: hash-splitting DOCUMENTS puts two
    * near-duplicates of the same page on both sides of the train/test
    * fence (the classic contamination-by-split bug; Lee et al. 2022 §6
    * measure the resulting eval inflation), so the atomic unit must be
    * the near-dup CLUSTER. Every document is assigned the split of its
    * cluster root (min reachable id via diameter-independent
    * [[clusterPairsStar]]); documents in no pair are their own root, so
    * the assignment is total and, for clean corpora, degrades to the
    * plain [[graft.operators.Sampling.splitByHash]].
    *
    * Output: input columns + `split`. Scale: the star-contraction
    * rounds on the PAIR LIST (edge-list-sized, not corpus-sized) plus
    * one broadcast-or-shuffle join of labels back to the corpus; the
    * split itself is a map-side hash.
    */
  def clusterAwareSplit(df: DataFrame, pairs: DataFrame, idCol: String,
                        weights: Seq[(String, Double)],
                        salt: String = "split"): DataFrame = {
    // label columns renamed into the __ namespace BEFORE the join: an
    // input frame that already carries a `cluster` column (a prior
    // clustering pass is exactly when this operator gets used) must not
    // collide with the internal label table
    val labels = clusterPairsStar(pairs)
      .select(col("id").as("__cid"), col("cluster").as("__croot"))
    val rooted = df.join(labels, df(idCol) === col("__cid"), "left")
      .withColumn("__root", coalesce(col("__croot"), df(idCol)))
      .drop("__cid", "__croot")
    graft.operators.Sampling.splitByHash(rooted, "__root", weights, salt)
      .drop("__root")
  }

  /** Near-dup dedup keeping the BEST member of each cluster by a quality
    * column (ties → lowest id) instead of [[dedupByClusters]]'s lowest
    * id — the curation rule "among duplicates, keep the highest-quality
    * copy" (longest, best quality score, freshest). A null quality loses
    * to any non-null one.
    *
    * Same scale shape as the canonical variant: labels are bounded by
    * 2·|pairs| (never corpus-sized), the winner argmax is one
    * cluster-keyed aggregation of that pair-derived table, and the
    * corpus pays a single anti-join against the loser set (broadcast
    * when duplicates are rare — the common case AQE detects).
    */
  def dedupByClustersKeepBest(df: DataFrame, pairs: DataFrame, idCol: String,
                              qualityCol: String,
                              id1Col: String = "id1", id2Col: String = "id2"): DataFrame = {
    val labels = clusterPairs(pairs, id1Col, id2Col)
    val q = df.select(col(idCol).as("id"), col(qualityCol).as("__q"))
    // winner = max (quality, -id): max quality, tie broken to MIN id —
    // ids are unique so the key is total and the argmax deterministic
    val winners = labels.join(q, "id")
      .groupBy("cluster")
      .agg(max_by(col("id"), struct(col("__q"), negate(col("id")))).as("__winner"))
    val losers = labels.join(winners, "cluster")
      .filter(col("id") =!= col("__winner"))
      .select(col("id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Embedding near-duplicates, ALL-PAIRS — O(n²) self-join. This is the
    * small-corpus escape hatch only (exhaustive recall on corpora that fit
    * a broadcast); the scale path is [[embeddingNearDupBucketed]].
    */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val l = emb.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val r = emb.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    l.join(r, col("id1") < col("id2"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineF(col("v1"), col("v2")))
      .filter(col("cosine") > threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Embedding near-duplicates at scale: both sides bucket on the
    * sign-pattern key ([[Similarity.signBucket]]) and pairs are generated
    * only within buckets — one shuffle on the bucket key, candidate count
    * independent of corpus size (near-dups at cosine > ~0.7 almost always
    * share the leading-dimension sign pattern). Trade: recall < 1 near the
    * bucket boundary, like any LSH.
    */
  def embeddingNearDupBucketed(emb: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, bits: Int = 16,
                               extraProbes: Int = 0,
                               cap: BucketCap = BucketCap.Auto()): DataFrame =
    embeddingNearDupBucketedAudited(emb, idCol, vecCol, threshold, bits,
      extraProbes, cap)._1

  /** [[embeddingNearDupBucketed]] under the shared mega-bucket guard:
    * the sign-bucket family's degenerate bucket is a mass of IDENTICAL
    * embeddings (re-encoded boilerplate, zero vectors from failed
    * embedding jobs) — every member lands in one sign bucket and the
    * within-bucket join pays |bucket|² cosine evaluations. The guard
    * caps the HOME bucket table only ([[cappedBandTable]] keyed on the
    * bucket, one row per doc): a dropped bucket finds no join partners,
    * so probe rows into it die in the hash join for free.
    */
  def embeddingNearDupBucketedAudited(emb: DataFrame, idCol: String, vecCol: String,
                                      threshold: Double, bits: Int = 16,
                                      extraProbes: Int = 0,
                                      cap: BucketCap = BucketCap.Auto()): (DataFrame, Option[LshAudit]) = {
    // multi-probe (like Similarity.bucketedTopK): one side additionally
    // visits the buckets reached by flipping its least-confident sign
    // bits, recovering pairs that straddle a bucket boundary — each probe
    // adds one bucket key per row, not a corpus scan. AnnRecallSpec
    // measures the recall lift on planted near-duplicates.
    val l = emb.select(col(idCol).as("id1"), col(vecCol).as("v1"),
      explode(Similarity.probeBuckets(col(vecCol), bits, extraProbes)).as("__bucket"))
    val home = emb.select(col(idCol).as("id2"), col(vecCol).as("v2"),
      Similarity.signBucket(col(vecCol), bits).as("__bucket"))
    val (r, audit) = cappedBandTable(home, Seq("__bucket"), 1, cap,
      "embeddingNearDupBucketed", materializeUnlimited = false)
    val pairs = l.join(r, "__bucket")
      .filter(col("id1") < col("id2"))
      .withColumn("cosine", graft.functions.VectorExpressions.cosineF(col("v1"), col("v2")))
      .filter(col("cosine") > threshold)
      .select(col("id1"), col("id2"), col("cosine"))
    // a straddling pair can be reached from both ends' probes — dedupe
    // only when probing can actually produce duplicates
    (if (extraProbes > 0) pairs.distinct() else pairs, audit)
  }

  /** EXACT token-set Jaccard similarity join with prefix filtering
    * (PPJoin's core filter — Chaudhuri et al. ICDE'06, Xiao et al.
    * WWW'08): every pair with `jaccard >= threshold` is returned, no
    * probabilistic misses — the exact complement to the MinHash/LSH
    * family when recall must be 1.0 (contracts, eval-set hygiene).
    *
    * The pigeonhole that makes it scale: order each document's token
    * SET by ascending global document frequency (rarest first, ties by
    * token) and keep only the first `n − ceil(t·n) + 1` tokens as its
    * prefix; two sets with `J ≥ t` MUST share a prefix token, so the
    * candidate join is an equi-join on PREFIX tokens only — rare ones,
    * by construction, which also kills the hub-token skew of a naive
    * sharing-any-token join. A length filter (`t·|a| ≤ |b|`) prunes
    * further before verification.
    *
    * Scale: one token-frequency aggregate, one candidate exchange on
    * prefix tokens with PPJoin's POSITIONAL filter folded into the
    * candidate aggregate (a shared prefix token at sorted positions
    * `(p1, p2)` bounds the possible overlap by `1 + min(n1−p1, n2−p2)`;
    * pairs whose BEST shared token cannot reach the required overlap
    * `α = ⌈t/(1+t)·(n1+n2)⌉` die before verification — measured 2× on
    * the fixture corpus, far more on skewed real vocabularies), then a
    * verify that joins the two (small, AQE-broadcastable) token-set
    * frames and intersects ARRAYS map-side — no token-explode exchange
    * ever carries candidate × token-count rows. Output: `(id1, id2,
    * jaccard)`, id1 < id2, exact rational values — the candidate-stage
    * filters are exact (published PPJoin bounds with a 1e-9 downward
    * slack on the float α so rounding can only under-prune), so the
    * output set is filter-independent.
    */
  def jaccardPrefixJoin(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold < 1.0,
      s"jaccardPrefixJoin: threshold in (0,1), got $threshold")
    // one row per id first ([[perIdPayload]]): duplicate-id input rows
    // (crawl refetches, duplicated probe corpora) would otherwise
    // inflate token frequencies, prefix tables AND the verify's
    // intersection counts — wrong jaccard values, dupcount²-multiplied
    // candidate work
    val one = perIdPayload(df, idCol, col(textCol), "__txt")
    val tok = graft.operators.Materialize(
      one.select(col("__id").as("doc_id"),
        explode(array_distinct(Text.tokens(col("__txt")))).as("token")))
    val freq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val ordered = graft.operators.Materialize(
      tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(transform(array_sort(collect_list(struct(col("df"), col("token")))),
          s => s.getField("token")).as("sorted"))
        .withColumn("n", size(col("sorted")).cast("long")))
    val prefLen = (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int")
    val pref = ordered
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("sorted"), lit(1), prefLen)))
      .select(col("doc_id"), col("n"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("token"))
    // The candidate join below is an EXPANDING self-join: its output
    // (the pair candidates) is the operator's real work, orders of
    // magnitude larger than its inputs. AQE coalesces `ordered` by
    // BYTES (a corpus of sorted-token arrays is a few MB → ONE
    // partition), the planner then broadcasts the build side — and the
    // whole quadratic expansion runs in a single task on the collapsed
    // stream side (measured: 26M candidate rows from one 135 s task at
    // the keyed ×10 corpus, pinning the 8-vs-32-core ratio to ~1.2).
    // Re-spread the STREAM side when it is under-split — the
    // editConfirmFunnel re-spread, one stage earlier. HASHED by doc_id,
    // not round-robin: a pair (a,b) is generated once per SHARED prefix
    // token, all on a's prefix rows — keeping each doc's rows together
    // lets the candidate aggregate's map-side partial combine those
    // per-token duplicates exactly as the collapsed layout did
    // (measured: round-robin shuffled 97.7M raw candidate rows where
    // doc-hashed shuffles the combined 26M). REPARTITION_BY_NUM
    // survives AQE; one narrow exchange of the prefix table. At
    // production split counts the guard is a no-op (and the planner
    // picks a shuffle join there, which spreads by key on its own).
    val np = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val prefA =
      if (ordered.rdd.getNumPartitions < np) pref.repartition(np, col("doc_id"))
      else pref
    // α with a downward slack: float rounding may only UNDER-prune, so
    // the candidate set stays a superset of the qualifying pairs
    def alpha(n1: Column, n2: Column): Column =
      ceil(lit(threshold / (1.0 + threshold)) * (n1 + n2).cast("double") - lit(1e-9))
    val cand = prefA.as("a").join(pref.as("b"),
      col("a.token") === col("b.token") &&
        col("a.doc_id") < col("b.doc_id") &&
        lit(threshold) * col("a.n") <= col("b.n") &&
        lit(threshold) * col("b.n") <= col("a.n"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(max(lit(1L) + least(col("a.n") - col("a.p"), col("b.n") - col("b.p"))).as("__ub"),
        first(alpha(col("a.n"), col("b.n"))).as("__alpha"))
      .filter(col("__ub") >= col("__alpha"))
      .select(col("id1"), col("id2"))
    // verify map-side: the token-set frame is corpus-keyed (small next
    // to the candidate table) — two broadcast-able joins, one fused
    // array intersect per pair, zero per-token shuffle rows. (No
    // editConfirmFunnel-style round-robin re-spread here: measured
    // no-op — this operator is candidate/output-volume-bound, the
    // prefix join's own aggregate already sizes the verify's partitions
    // to the candidate table.)
    cand
      .join(ordered.select(col("doc_id").as("id1"), col("sorted").as("__s1"),
        col("n").as("__n1")), "id1")
      .join(ordered.select(col("doc_id").as("id2"), col("sorted").as("__s2"),
        col("n").as("__n2")), "id2")
      .withColumn("__i", size(array_intersect(col("__s1"), col("__s2"))).cast("long"))
      .withColumn("jaccard", col("__i").cast("double") /
        (col("__n1") + col("__n2") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every character `k`-gram of
    * the case/whitespace-normalized text, slide a window of `w`
    * consecutive hashes, and keep the MINIMUM hash of each window
    * (rightmost position on ties). The winnowing guarantee: any shared
    * substring of length ≥ `w + k − 1` contributes at least one SHARED
    * fingerprint, and the expected density is `2/(w+1)` — a ~`w/2`-fold
    * reduction over all-grams fingerprinting with a detection floor,
    * which MinHash (a per-DOC sketch) cannot give for local overlap.
    *
    * Scale: selection is the fused [[graft.functions.WinnowSelect]]
    * kernel — one md5 per gram, deque sliding-min, `O(len)` amortized,
    * no shuffle; output is the exploded `(doc_id, pos, fp)` relation,
    * ~`2·len/(w+1)` rows per doc. The md5-prefix hash convention keeps
    * the DuckDB oracle bit-identical.
    *
    * Output: `(<idCol>, pos, fp)` distinct, `pos` = 1-based char offset
    * of the selected gram in the normalized text.
    */
  def winnowFingerprints(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"winnowFingerprints: k must be >= 1, got $k")
    require(w >= 1, s"winnowFingerprints: w must be >= 1, got $w")
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")
    df.select(col(idCol),
        explode(graft.functions.Winnow.select(norm, k, w)).as("__s"))
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.h").as("fp"))
      .distinct()
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints: the
    * local-overlap complement of MinHash-LSH — a plagiarized PARAGRAPH
    * inside an otherwise-unrelated page shares fingerprints even though
    * whole-document Jaccard is tiny. One exchange on the fingerprint
    * value (the LSH-bucket shape); fingerprints shared by more than
    * `maxDf` documents (boilerplate k-grams — the hub-skew killers) are
    * dropped BEFORE the self-join, the standard winnowing-index cap.
    *
    * Output: `(id1, id2, shared)` with `shared >= minShared`, id1 < id2.
    */
  def winnowCandidates(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 5, w: Int = 4, minShared: Int = 2,
                       maxDf: Int = 50): DataFrame = {
    require(minShared >= 1, s"winnowCandidates: minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"winnowCandidates: maxDf must be >= 2, got $maxDf")
    val fps = graft.operators.Materialize(
      winnowFingerprints(df, textCol, idCol, k, w)
        .select(col(idCol).as("doc_id"), col("fp")).distinct())
    val kept = fps.join(
      fps.groupBy("fp").agg(countDistinct(col("doc_id")).as("__df"))
        .filter(col("__df") <= maxDf).select("fp"),
      "fp")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("id1"), col("id2"), col("shared"))
  }

  /** Duplicate-rate ESTIMATE from a deterministic hash sample — the
    * planning probe a 100 TB dedup job runs first: is this corpus 2%
    * duplicated or 40%? (The answer sizes the job: band counts, the
    * cluster pass, whether keep-best is worth its quality join.) The
    * sample is [[Sampling.hashSample]]'s salted-md5 Bernoulli draw, so
    * the estimate is REPRODUCIBLE — same corpus, same fraction, same
    * answer, any partitioning, any engine.
    *
    * Two numbers, because sampling near-dup PAIRS is quadratic: a pair
    * survives sampling only when BOTH endpoints land in it (p²), so
    *  - `dup_rate` = within-sample duplicate-doc share (a lower bound
    *    on the corpus rate, tight when clusters are large), and
    *  - `est_corpus_pairs` = `n_pairs / fraction²`, the unbiased
    *    pair-count extrapolation (the birthday correction).
    * Output: one row `(n_sampled, n_dup, dup_rate, n_pairs,
    * est_corpus_pairs)`.
    */
  def dupRateEstimate(df: DataFrame, textCol: String, idCol: String,
                      fraction: Double, k: Int = 8, rowsPerBand: Int = 2,
                      salt: String = "dupest",
                      cap: BucketCap = BucketCap.Auto()): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"dupRateEstimate: fraction in (0,1], got $fraction")
    val sample = graft.operators.Sampling.hashSample(df, idCol, fraction, salt)
      .transform(graft.operators.Materialize.apply)
    // the CONNECTIVITY face: dup_rate / n_dup derive from connected
    // components, and the star edges keep those EXACT under the default
    // auto guard even when the sample is duplicate-heavy — which is
    // precisely the corpus this probe exists to detect (a guard that
    // silently zeroed the estimate there would greenlight the footgun
    // chain the preflight lint warns about). Only the PAIR counts are
    // affected by capping: n_pairs / est_corpus_pairs count the
    // connectivity list (capped pairs + star edges), a LOWER bound on
    // the unlimited pair count when buckets were dropped (WARN-logged);
    // pass Unlimited for the exact pair extrapolation.
    val (pairs0, audit) = lshCandidatesConnectivity(sample, textCol, idCol, k,
      rowsPerBand, cap = cap)
    // the union with star edges can duplicate a pair that also collided
    // in a kept bucket — dedup only when stars were actually emitted
    // (the clean path keeps its plan identical to the plain pair list)
    val pairs = graft.operators.Materialize(
      if (audit.exists(_.excludedBuckets > 0)) pairs0.distinct() else pairs0)
    val losers = clusterPairsStar(pairs)
      .filter(col("cluster") =!= col("id"))
    val nSampled = sample.count()
    val nPairs = pairs.count()
    val nDup = losers.count()
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nSampled, nDup,
      if (nSampled > 0) nDup.toDouble / nSampled.toDouble else 0.0,
      nPairs, nPairs.toDouble / (fraction * fraction)))
      .toDF("n_sampled", "n_dup", "dup_rate", "n_pairs", "est_corpus_pairs")
  }

  /** Edit-distance CONFIRM stage for a candidate-pair frame: exact
    * character-level Levenshtein similarity `1 − d/max(|a|,|b|)` for each
    * `(id1, id2)` pair, keeping pairs with similarity ≥ `minSim`.
    *
    * This is the last, most expensive verifier in the near-dup funnel
    * (LSH / SimHash / prefix-join candidates → n-gram Jaccard →
    * edit distance): token-set measures are blind to ORDER, so two
    * documents with the same vocabulary but shuffled sentences pass a
    * Jaccard verify — only an alignment measure like Levenshtein
    * separates true revisions from bag-of-words coincidences
    * (reference: mirabelle has no multi-stage near-dup funnel; this is
    * the scale path the LLM-pipeline surface adds).
    *
    * Scale: the quadratic DP runs ONLY on surviving candidate pairs —
    * never corpus × corpus — on text capped at `maxLen` chars, and
    * Spark's codegen'd `levenshtein(l, r, bound)` variant abandons a
    * pair early once the distance provably exceeds the bound implied by
    * `minSim` (returns −1, O(n·bound) not O(n²); the oracle's unbounded
    * distance filters to the identical set). Two id-equi-joins ship the
    * capped texts to the pairs — ONE row per id ([[perIdPayload]]), so
    * duplicate-id inputs can't multiply DP executions quadratically;
    * cost class = the Jaccard verify join.
    *
    * Output: `(id1, id2, edit_dist, edit_sim)`; identical truncated
    * texts give `edit_sim = 1.0`, disjoint ones approach 0.
    */
  def editConfirm(df: DataFrame, pairs: DataFrame, textCol: String,
                  idCol: String, minSim: Double, maxLen: Int = 512): DataFrame = {
    require(minSim >= 0.0 && minSim <= 1.0,
      s"editConfirm: minSim in [0,1], got $minSim")
    require(maxLen >= 1, s"editConfirm: maxLen must be >= 1, got $maxLen")
    val t = perIdPayload(df, idCol, substring(col(textCol), 1, maxLen), "__t")
    val joined = pairs
      .join(t.select(col("__id").as("id1"), col("__t").as("__t1")), "id1")
      .join(t.select(col("__id").as("id2"), col("__t").as("__t2")), "id2")
    val n = greatest(length(col("__t1")), length(col("__t2")))
    // bound: d <= floor((1-minSim)*n) passes; levenshtein's early-exit
    // threshold (a global int — the per-row bound is <= this because
    // n <= maxLen) returns -1 above it, which the filter drops — same
    // surviving set as the oracle's unbounded distance
    val bound = math.floor((1.0 - minSim) * maxLen).toInt + 1
    joined
      .withColumn("edit_dist",
        when(n === 0, lit(0))
          .otherwise(levenshtein(col("__t1"), col("__t2"), bound)))
      .filter(col("edit_dist") >= 0 &&
        (n === 0 || col("edit_dist").cast("double") <= lit(1.0 - minSim) * n.cast("double")))
      .withColumn("edit_sim",
        when(n === 0, lit(1.0))
          .otherwise(lit(1.0) - col("edit_dist").cast("double") / n.cast("double")))
      .select(col("id1"), col("id2"), col("edit_dist").cast("long").as("edit_dist"),
        col("edit_sim"))
  }

  /** The FUSED four-stage near-dup funnel (LSH candidates → n-gram
    * Jaccard ≥ `minJaccard` → bounded Levenshtein ≥ `minSim`) in a
    * single verify pass: one per-id payload table carrying BOTH the
    * shingle set and the capped text (derived from one representative
    * text per id, `max` — identical to the staged composition whenever
    * ids are unique, i.e. every gated corpus), joined onto the pairs
    * ONCE per side. The staged composition
    * ([[ngramJaccard]] then [[editConfirm]]) builds two payload tables
    * and runs four id-joins; at small inputs those extra exchanges were
    * the whole oracle-ratio gap for `dedup_edit_confirm` (measured
    * sf0.01: the exchange overhead, not the DP, dominated — see
    * SCALING.md), and at any scale this halves the verify-join work.
    *
    * The Jaccard filter sits between the two computed columns, so the
    * quadratic DP still runs only on Jaccard survivors — same math,
    * same bounds, same output as the staged composition (spec-pinned in
    * DedupRecallSpec).
    */
  def editConfirmFunnel(df: DataFrame, textCol: String, idCol: String,
                        minJaccard: Double, minSim: Double, maxLen: Int = 512,
                        k: Int = 8, rowsPerBand: Int = 2,
                        cap: BucketCap = BucketCap.Auto()): DataFrame =
    editConfirmFunnelAudited(df, textCol, idCol, minJaccard, minSim, maxLen,
      k, rowsPerBand, cap)._1

  /** [[editConfirmFunnel]] with the guard spec and its audit (same
    * contract as [[lshCandidatesAudited]]'s second return).
    */
  def editConfirmFunnelAudited(df: DataFrame, textCol: String, idCol: String,
                               minJaccard: Double, minSim: Double, maxLen: Int = 512,
                               k: Int = 8, rowsPerBand: Int = 2,
                               cap: BucketCap = BucketCap.Auto()): (DataFrame, Option[LshAudit]) = {
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"editConfirmFunnel: minJaccard in [0,1], got $minJaccard")
    require(minSim >= 0.0 && minSim <= 1.0,
      s"editConfirmFunnel: minSim in [0,1], got $minSim")
    require(maxLen >= 1, s"editConfirmFunnel: maxLen must be >= 1, got $maxLen")
    // Re-spread the candidate table before the verify: AQE coalesces
    // shuffles by BYTES, and a few MB of (id1, id2) pairs lands in ONE
    // partition — which then serializes the whole compute-dense verify
    // stage (set intersection + bounded DP are expensive per byte of
    // input, and the payload joins broadcast, so the pair layout is the
    // stage layout). A round-robin repartition survives as
    // REPARTITION_BY_NUM (AQE honors user-numbered repartitions; a
    // keyed one on (id1,id2) is optimized away as redundant with the
    // distinct's own exchange and then coalesced) and costs one
    // narrow-row exchange. Measured 3.5× on the sf0.1 verify stage.
    val np = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val (pairs0, audit) = lshCandidatesAudited(df, textCol, idCol, k, rowsPerBand,
      cap = cap)
    val pairs = pairs0.repartition(np)
    val pay = df.groupBy(col(idCol).as("__id"))
      .agg(max(col(textCol)).as("__txt"))
      .select(col("__id"),
        array_distinct(Text.bigramShingles(Text.tokens(col("__txt")))).as("__set"),
        substring(col("__txt"), 1, maxLen).as("__t"))
    val joined = pairs
      .join(pay.select(col("__id").as("id1"), col("__set").as("set1"),
        col("__t").as("__t1")), "id1")
      .join(pay.select(col("__id").as("id2"), col("__set").as("set2"),
        col("__t").as("__t2")), "id2")
    val n = greatest(length(col("__t1")), length(col("__t2")))
    val bound = math.floor((1.0 - minSim) * maxLen).toInt + 1
    joined
      .withColumn("__inter", size(array_intersect(col("set1"), col("set2"))).cast("double"))
      .withColumn("jaccard",
        col("__inter") /
          (size(col("set1")).cast("double") + size(col("set2")).cast("double") - col("__inter")))
      .filter(col("jaccard") >= minJaccard)
      .withColumn("edit_dist",
        when(n === 0, lit(0))
          .otherwise(levenshtein(col("__t1"), col("__t2"), bound)))
      .filter(col("edit_dist") >= 0 &&
        (n === 0 || col("edit_dist").cast("double") <= lit(1.0 - minSim) * n.cast("double")))
      .withColumn("edit_sim",
        when(n === 0, lit(1.0))
          .otherwise(lit(1.0) - col("edit_dist").cast("double") / n.cast("double")))
      .select(col("id1"), col("id2"), col("edit_dist").cast("long").as("edit_dist"),
        col("edit_sim")) -> audit
  }
}
