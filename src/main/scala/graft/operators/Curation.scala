package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between dedup and tokenization: duplicate-line removal, quality-ranked
  * token-budget selection, domain mixing toward target shares, and
  * sequence packing.
  *
  * Scale design per operator (the 100 TB question, answered up front):
  *
  *  - [[lineDedup]]: two shuffles total — one on the line hash (the
  *    global duplicate-line window), one on the doc id (reassembly).
  *    That is the known, irreducible cost of corpus-global line dedup
  *    (C4 §2.2, RefinedWeb §3.3 run exactly this shape); both are plain
  *    hash-partitioned exchanges, skew-safe under AQE because line
  *    hashes are near-uniform.
  *  - [[tokenBudgetSelect]]: one shuffle on the group key, then a
  *    window cumsum — identical cost to any per-group ranking.
  *  - [[domainMix]]: one map-side aggregate for group counts (rows =
  *    #domains, broadcast back), then a map-side filter — the corpus
  *    itself is never shuffled.
  *  - [[packConcat]] / [[packNextFit]]: one shuffle on the pack-group
  *    key. Packing is inherently sequential *within* a stream, so the
  *    group key IS the parallelism unit (exactly how multi-worker
  *    tokenizer-packer jobs shard); a corpus-global pack order would be
  *    a single-partition sort and is deliberately not offered.
  */
object Curation {

  /** Output schema of [[vocabDrift]] — the IR validator's `vocab-drift`
    * stub builds its empty probe from this (one source of truth).
    */
  val VocabDriftSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("token", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cnt_a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cnt_b", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p_a", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p_b", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("delta", org.apache.spark.sql.types.DoubleType)))

  val PsiReportSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("n_a", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_b", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("psi", org.apache.spark.sql.types.DoubleType)))

  /** Split a document's tokens into synthetic "lines" of `k` tokens
    * (space-joined). Real corpora would split on newlines; the fixture
    * corpus has none, and fixed-k chunking keeps the oracle exact while
    * exercising the identical plan shape.
    */
  def tokenLines(text: Column, k: Int): Column = {
    require(k >= 1, s"tokenLines: k must be >= 1, got $k")
    val toks = Text.tokens(text)
    val n = size(toks)
    val nLines = ceil(n.cast("double") / k).cast("int")
    when(n > 0,
      transform(sequence(lit(0), nLines - 1),
        i => concat_ws(" ", slice(toks, i * k + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Corpus-global duplicate-line removal (the C4 / RefinedWeb rule):
    * every line keeps only its FIRST occurrence across the whole corpus
    * — first = lowest (id, line position) — and each document is
    * reassembled from its surviving lines.
    *
    * Output: (idCol, n_lines, n_kept, text_clean), one row per input
    * document (documents whose every line was seen earlier come back
    * with n_kept = 0 and an empty text_clean; filtering those is the
    * caller's policy decision).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String, lineTokens: Int): DataFrame = {
    val lines = df.select(col(idCol), posexplode_outer(tokenLines(col(textCol), lineTokens)).as(Seq("pos", "line")))
      .withColumn("__h", md5(col("line")))
    // first occurrence per line = min (id, pos), computed as a map-side-
    // combined aggregate joined back on the hash — NOT row_number over
    // Window.partitionBy(hash): a nav-bar line shared by 10⁸ documents
    // would sort inside one unsplittable window partition, where the
    // aggregate collapses it to one row per input partition and AQE can
    // skew-split (or broadcast) the join back
    val firsts = lines.filter(col("line").isNotNull)
      .groupBy("__h")
      .agg(min(struct(col(idCol).as("__fid"), col("pos").as("__fpos"))).as("__first"))
    val keep = col("line").isNull ||
      (col(idCol) === col("__first.__fid") && col("pos") === col("__first.__fpos"))
    lines.join(firsts, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("line")).as("n_lines"),
        count(when(keep, col("line"))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(keep, struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("text_clean"))
  }

  /** Corpus-global boilerplate-line removal: a line occurring in at
    * least `minDocs` DISTINCT documents (nav bars, cookie banners,
    * license footers) is dropped from EVERY document — the complement
    * of [[lineDedup]]'s first-wins rule, and the standard second half
    * of the C4/RefinedWeb line-level cleanup.
    *
    * Output: (idCol, n_lines, n_kept, text_clean), one row per input
    * document.
    *
    * Scale shape: identical to [[lineDedup]] — distinct-doc counting is
    * a two-stage `groupBy(hash).agg(countDistinct(id))` joined back on
    * the hash (the (hash, id) partial stage spreads a boilerplate
    * line's 10⁸ documents across ALL partitions; the former
    * dense_rank-over-hash window sorted them in one), one shuffle on
    * the doc id to reassemble. The boilerplate threshold never
    * materializes a per-line document set (no `collect_set`).
    */
  def boilerplateRemove(df: DataFrame, idCol: String, textCol: String,
                        lineTokens: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"boilerplateRemove: minDocs must be >= 2, got $minDocs")
    val lines = df.select(col(idCol),
      posexplode_outer(tokenLines(col(textCol), lineTokens)).as(Seq("pos", "line")))
      .withColumn("__h", md5(col("line")))
    val docFreq = lines.filter(col("line").isNotNull)
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__df0"))
    lines.join(docFreq, Seq("__h"), "left")
      .withColumn("__df", when(col("line").isNull, lit(0L)).otherwise(col("__df0")))
      .groupBy(col(idCol))
      .agg(
        count(col("line")).as("n_lines"),
        count(when(col("__df") < minDocs, col("line"))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("__df") < minDocs, struct(col("pos"), col("line"))))),
          s => s.getField("line"))).as("text_clean"))
  }

  /** Drop documents that link to a blocked domain — the opt-out /
    * spam-domain filter every web-corpus pipeline applies. A document
    * is removed iff any URL host in its text resolves (via
    * [[graft.functions.Pii.registrableDomain]], last `levels` labels)
    * to a domain present in `blocklist`.
    *
    * Scale shape: host extraction is map-side regex algebra; the
    * blocklist side of the join is `broadcast()` (a blocklist is
    * model-sized — even 1M domains is tens of MB); the contaminated-id
    * set that comes back is usually tiny, so AQE turns the final
    * `left_anti` into a broadcast join too. The corpus itself never
    * shuffles.
    */
  def domainBlocklistFilter(df: DataFrame, idCol: String, textCol: String,
                            blocklist: DataFrame, domainCol: String = "domain",
                            levels: Int = 3): DataFrame = {
    val hosts = df.select(col(idCol),
      explode(graft.functions.Pii.urlHosts(col(textCol))).as("__host"))
      .select(col(idCol),
        graft.functions.Pii.registrableDomain(col("__host"), levels).as("__dom"))
    val hits = hosts
      .join(broadcast(blocklist.select(col(domainCol).as("__dom"))), Seq("__dom"))
      .select(col(idCol)).distinct()
    df.join(hits, Seq(idCol), "left_anti")
  }

  /** Bad-words hit count per document — the signal behind the C4 rule
    * "remove any page containing a word on the blocklist" (Raffel et al.
    * 2020; the published lists run to hundreds of entries per language).
    *
    * One Aho-Corasick pass per document matches the WHOLE dictionary
    * simultaneously ([[graft.functions.MultiMatch]]) — O(text), not
    * O(text × patterns) like the k-`LIKE` plan a SQL engine runs, and
    * it stays inside whole-stage codegen. Map-side column algebra, zero
    * shuffle; only the pattern strings ride the wire (the DFA builds
    * lazily per executor). Counts include nested/overlapping pattern
    * hits — see the kernel's count-semantics note.
    */
  def badwordsSignal(df: DataFrame, textCol: String, patterns: Seq[String],
                     caseInsensitive: Boolean = true,
                     out: String = "badword_hits"): DataFrame = {
    require(patterns.nonEmpty, "badwordsSignal: empty pattern list")
    val pats = if (caseInsensitive) patterns.map(_.toLowerCase) else patterns
    val text = if (caseInsensitive) lower(col(textCol)) else col(textCol)
    df.withColumn(out, graft.functions.MultiMatch.countOccurrences(text, pats))
  }

  /** The C4 bad-words page filter: keep documents with at most `maxHits`
    * blocklist occurrences (0 = the published rule). Same single-pass
    * scan as [[badwordsSignal]] with the cheaper early-exit containment
    * kernel when `maxHits` is 0.
    */
  def badwordsFilter(df: DataFrame, textCol: String, patterns: Seq[String],
                     caseInsensitive: Boolean = true,
                     maxHits: Long = 0L): DataFrame = {
    require(maxHits >= 0L, s"badwordsFilter: maxHits must be >= 0, got $maxHits")
    val pats = if (caseInsensitive) patterns.map(_.toLowerCase) else patterns
    val text = if (caseInsensitive) lower(col(textCol)) else col(textCol)
    if (maxHits == 0L)
      df.filter(!graft.functions.MultiMatch.containsAny(text, pats))
    else
      df.filter(graft.functions.MultiMatch.countOccurrences(text, pats) <= maxHits)
  }

  /** Corpus vocabulary induction: the `k` most frequent tokens (with
    * counts), ties broken by token ascending — the "count words, keep
    * the top of the Zipf curve" first step of any tokenizer build.
    * Tokens under `minCount` never rank.
    *
    * One map-side-combined aggregate over the exploded token stream
    * (partial counts combine before the single shuffle); the ranked
    * output is vocabulary-sized, so the final sort/limit is trivial.
    */
  def vocabTopK(df: DataFrame, textCol: String, k: Int, minCount: Long = 1L): DataFrame = {
    require(k >= 1, s"vocabTopK: k must be >= 1, got $k")
    df.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("token"))
      .limit(k)
  }

  /** Dictionary redaction: replace every blocklist hit with `mask` —
    * the surgical alternative to [[badwordsFilter]]'s drop-the-page
    * rule (and the dictionary twin of the PII scrubber): keep the
    * document, remove the phrases. Same single Aho-Corasick pass;
    * overlapping hits merge into one mask, disjoint hits mask
    * separately. Case-insensitive mode folds A-Z for matching while
    * the surviving text keeps its original case (non-ASCII case is not
    * folded — documented trade for a byte-exact single pass).
    */
  def badwordsRedact(df: DataFrame, textCol: String, patterns: Seq[String],
                     mask: String = "[REDACTED]",
                     caseInsensitive: Boolean = true,
                     out: String = "text_redacted"): DataFrame = {
    require(patterns.nonEmpty, "badwordsRedact: empty pattern list")
    val pats = if (caseInsensitive) patterns.map(_.toLowerCase) else patterns
    df.withColumn(out, graft.functions.MultiMatch.redact(
      col(textCol), pats, mask, asciiFold = caseInsensitive))
  }

  /** Zipf power-law fit of the corpus vocabulary: the least-squares
    * slope of `ln(freq)` on `ln(rank)` over the full ranked vocabulary
    * (rank by count desc, token asc tie-break — the [[vocabTopK]]
    * order). Natural-language corpora fit slope ≈ −1 (Zipf's law);
    * templated or machine-generated corpora flatten (slope → 0) or
    * step — a one-number vocabulary-health diagnostic corpus reports
    * publish routinely.
    *
    * One map-side-combined vocabulary aggregate, then a DISTRIBUTED
    * rank + regression: rank is a range exchange on `(n desc, token)`
    * with per-partition `row_number` plus a partition-offset broadcast
    * (the [[ksDrift]] prefix-sum shape — the driver sees only the ≤
    * `partitions` subtotal rows), and the four least-squares sums
    * reduce map-side. Nothing vocabulary-sized is ever collected — with
    * `minCount = 1` a web corpus has 10⁸⁺ unique tokens (typos, URLs),
    * which is corpus-shaped, not model-shaped. Returns one row
    * `(v_size, slope, intercept)`; slope/intercept are null when fewer
    * than 2 vocabulary entries exist (also what makes IR validation on
    * an empty frame total). Gates compare at DECIMAL(38,6) — ln sums
    * associate differently across engines.
    */
  def zipfFit(df: DataFrame, textCol: String, minCount: Long = 1L,
              partitions: Int = 32): DataFrame = {
    require(partitions >= 1, s"zipfFit: partitions must be >= 1, got $partitions")
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(explode(Text.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .repartitionByRange(partitions, col("n").desc, col("token"))
      .withColumn("__p", spark_partition_id())
      .transform(Materialize.apply)
    // per-partition sizes -> rank offsets (driver list ≤ partitions rows)
    val sub = counts.groupBy("__p").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val v = sub.map(_._2).sum
    if (v < 2) {
      Seq((v, Option.empty[Double], Option.empty[Double]))
        .toDF("v_size", "slope", "intercept")
    } else {
      val offsets = sub.scanLeft((0, 0L)) {
        case ((_, acc), (p, c)) => (p + 1, acc + c) }
      val offMap = sub.zip(offsets).map { case ((p, _), (_, o)) => (p, o) }.toMap
      val offCol = offMap.foldLeft(lit(0L)) { case (acc, (p, o)) =>
        when(col("__p") === p, lit(o)).otherwise(acc) }
      val w = Window.partitionBy("__p").orderBy(col("n").desc, col("token"))
      val r = counts
        .withColumn("__rank", row_number().over(w).cast("long") + offCol)
        .select(log(col("__rank").cast("double")).as("x"),
          log(col("n").cast("double")).as("y"))
      val row = r.agg(sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx")).head()
      val (sx, sy, sxy, sxx) =
        (row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
      val slope = (v * sxy - sx * sy) / (v * sxx - sx * sx)
      val intercept = (sy - slope * sx) / v
      Seq((v, Some(slope), Some(intercept)))
        .toDF("v_size", "slope", "intercept")
    }
  }

  /** Tokenizer-vocabulary coverage report: per group, total tokens,
    * OOV tokens (absent from `vocab`) and the OOV rate — the standard
    * "what fraction of the corpus does my vocabulary miss, and where"
    * eval run after any [[vocabTopK]]/BPE/unigram vocabulary build.
    * `vocab` is a 1-column token frame (an induced top-k, a trained
    * tokenizer's pieces, or a loaded artifact).
    *
    * One exploded-token aggregate (map-side combined); the vocabulary
    * arrives as a broadcast membership flag, so the corpus pays one
    * group-keyed exchange of partial counts and nothing vocabulary-
    * sized ever shuffles. Groups whose docs produce zero tokens emit
    * no row. The rate is one IEEE division of two exact longs —
    * cross-engine exact.
    */
  def vocabCoverage(df: DataFrame, groupCol: String, textCol: String,
                    vocab: DataFrame, tokenCol: String = "token"): DataFrame = {
    val toks = df.select(col(groupCol).as("__g"),
      explode(Text.tokens(col(textCol))).as("token"))
    val v = broadcast(vocab.select(col(tokenCol).as("token")).distinct()
      .withColumn("__in", lit(1)))
    toks.join(v, Seq("token"), "left")
      .groupBy("__g")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, true)).as("n_oov"))
      .select(col("__g").as(groupCol), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic between corpus snapshots
    * over a numeric column — the bucket-free drift test next to
    * [[psiReport]]: `KS = max over pooled values of |ECDF_a − ECDF_b|`,
    * exact (no edges to choose; PSI's answer changes with its buckets,
    * KS's doesn't). Null values are ignored.
    *
    * Scale shape: each side pays one map-side-combined count per
    * DISTINCT value; the cumulative sums run as a distributed prefix
    * sum over the merged distinct-value table — ONE range exchange,
    * per-partition window cumsums (parallel), and a partition-offset
    * broadcast computed from partition subtotals (driver list bounded
    * by the partition count, never data-sized). The distinct-value
    * table is the only cardinality that matters: quantize continuous
    * metrics upstream (the PSI convention) if it approaches corpus
    * size. Output: one row `(ks, n_a, n_b)`; ks rounds through
    * DECIMAL(38,6).
    */
  /** [[ksDrift]]'s output schema — the IR `ks-drift` validate contract
    * (the comparison corpus is a runtime artifact).
    */
  val KsDriftSchema: StructType = StructType(Seq(
    StructField("ks", org.apache.spark.sql.types.DoubleType),
    StructField("n_a", LongType, nullable = false),
    StructField("n_b", LongType, nullable = false)))

  def ksDrift(a: DataFrame, b: DataFrame, valueCol: String,
              partitions: Int = 32): DataFrame = {
    require(partitions >= 1, s"ksDrift: partitions must be >= 1, got $partitions")
    def counts(df: DataFrame, out: String) =
      df.filter(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as(out))
    val merged = counts(a, "ca").join(counts(b, "cb"), Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .repartitionByRange(partitions, col("v"))
      .withColumn("__p", spark_partition_id())
      .transform(Materialize.apply)
    // partition subtotals -> running offsets (driver-side, ≤ partitions rows)
    val subtotals = merged.groupBy("__p")
      .agg(sum("ca").as("sa"), sum("cb").as("sb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offsets = subtotals.scanLeft((0, 0L, 0L)) {
      case ((_, oa, ob), (p, sa, sb)) => (p + 1, oa + sa, ob + sb)
    }
    val offA = subtotals.zip(offsets).map { case ((p, _, _), (_, oa, _)) => (p, oa) }.toMap
    val offB = subtotals.zip(offsets).map { case ((p, _, _), (_, _, ob)) => (p, ob) }.toMap
    def offCol(m: Map[Int, Long]): Column =
      m.foldLeft(lit(0L)) { case (acc, (p, o)) =>
        when(col("__p") === p, lit(o)).otherwise(acc) }
    val w = Window.partitionBy("__p").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val na = subtotals.map(_._2).sum
    val nb = subtotals.map(_._3).sum
    require(na > 0 && nb > 0, s"ksDrift: both sides need rows (n_a=$na, n_b=$nb)")
    merged
      .withColumn("__cumA", sum("ca").over(w) + offCol(offA))
      .withColumn("__cumB", sum("cb").over(w) + offCol(offB))
      .agg(max(abs(col("__cumA").cast("double") / lit(na.toDouble)
        - col("__cumB").cast("double") / lit(nb.toDouble)))
        .cast("decimal(38,6)").cast("double").as("ks"))
      .select(col("ks"), lit(na).as("n_a"), lit(nb).as("n_b"))
  }

  /** Population Stability Index between two corpus snapshots over a
    * numeric column — the distribution-drift monitor next to the
    * vocabulary-level [[vocabDrift]]: PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over
    * fixed buckets, with the usual reading (<0.1 stable, 0.1–0.25
    * drifting, >0.25 shifted). `edges` (ascending) cut k+1 buckets
    * `(-inf,e₁) [e₁,e₂) … [e_k,inf)`; empty-bucket mass is floored at
    * `eps` before the log (the standard ln(0) guard). Null values are
    * ignored.
    *
    * Each side pays ONE map-side-combined bucket-count aggregate
    * (bucket index is a codegen'd comparison sum, no UDF); everything
    * after is column math on two (k+1)-row model-sized frames joined
    * to a generated bucket spine, so every bucket reports even when
    * both sides are empty there. `psi` is rounded through
    * DECIMAL(38,6) — the repo's ln cross-engine convention.
    */
  def psiReport(a: DataFrame, b: DataFrame, valueCol: String,
                edges: Seq[Double], eps: Double = 1e-6): DataFrame = {
    require(edges.nonEmpty, "psiReport: need at least one bucket edge")
    require(edges == edges.sorted && edges.distinct == edges,
      s"psiReport: edges must be strictly ascending, got $edges")
    require(eps > 0, s"psiReport: eps must be > 0, got $eps")
    val nBuckets = edges.length + 1
    def bucketOf(c: Column): Column =
      edges.map(e => when(c >= lit(e), 1).otherwise(0)).reduce(_ + _)
    def counts(df: DataFrame, out: String) =
      df.filter(col(valueCol).isNotNull)
        .groupBy(bucketOf(col(valueCol)).as("bucket"))
        .agg(count(lit(1)).as(out))
    val spark = a.sparkSession
    val spine = spark.range(nBuckets).select(col("id").cast("int").as("bucket"))
    val joined = spine
      .join(counts(a, "n_a"), Seq("bucket"), "left")
      .join(counts(b, "n_b"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = joined.agg(sum("n_a").as("__ta"), sum("n_b").as("__tb"))
    val withTotals = joined.crossJoin(broadcast(totals))
    // ONLY zero mass floors to eps (empty bucket, or an entirely-empty
    // side whose 0/0 would be NaN) — a tiny nonzero share stays itself,
    // so a newly-appearing rare bucket is visible, never clipped to eps
    def share(n: String, t: String) =
      when(col(t) > 0L && col(n) > 0L,
        col(n).cast("double") / col(t).cast("double"))
        .otherwise(lit(eps))
    val p = share("n_a", "__ta")
    val q = share("n_b", "__tb")
    withTotals.select(col("bucket"), col("n_a"), col("n_b"),
      ((p - q) * log(p / q)).cast("decimal(38,6)").cast("double").as("psi"))
  }

  /** Corpus-wide heavy-hitter n-gram mining: every word `n`-gram
    * occurring in at least `minDocs` DISTINCT documents, with its
    * document frequency and total count — the boilerplate /
    * memorization-risk detector (the inputs a pipeline feeds to
    * [[boilerplateRemove]]-style cuts or contamination review).
    *
    * One exchange on the gram (map-side combined per-doc counts), and
    * the `minDocs` filter prunes to heavy hitters before any output
    * materializes.
    */
  def frequentNgrams(df: DataFrame, idCol: String, textCol: String,
                     n: Int, minDocs: Int): DataFrame = {
    require(n >= 1, s"frequentNgrams: n must be >= 1, got $n")
    require(minDocs >= 1, s"frequentNgrams: minDocs must be >= 1, got $minDocs")
    df.select(col(idCol),
      explode(graft.functions.Quality.ngrams(Text.tokens(col(textCol)), n)).as("gram"))
      .groupBy(col(idCol), col("gram")).agg(count(lit(1)).as("__c"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_total"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Per-group n-gram diversity — the corpus-health dial next to
    * [[corpusProfile]]: for each group, total n-gram occurrences,
    * distinct n-grams, and their ratio (low = template/boilerplate-
    * heavy source, the memorization-risk smell). One exchange on
    * (group, gram) for the distinct count (map-side combined), then a
    * group-sized rollup.
    */
  def ngramDiversity(df: DataFrame, groupCol: String, textCol: String,
                     n: Int): DataFrame = {
    require(n >= 1, s"ngramDiversity: n must be >= 1, got $n")
    df.select(col(groupCol),
      explode(graft.functions.Quality.ngrams(Text.tokens(col(textCol)), n)).as("gram"))
      .groupBy(col(groupCol), col("gram")).agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_grams"),
        count(lit(1)).as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_grams").cast("double"))
  }

  /** Corpus drift report — which tokens changed distribution between two
    * corpora (crawl N vs crawl N+1, or corpus vs reference): Laplace-
    * smoothed unigram probabilities over the UNION vocabulary, one row
    * per token with both counts, both probabilities and the absolute
    * probability delta (the token's total-variation contribution; halve
    * the sum for TV distance). Deliberately log-free — |Δp| ranks drift
    * the same way a KL contribution does for small shifts, and stays
    * libm-free (`ln` rounding differs across engines, breaking
    * replayability — the [[graft.operators.Training]] sigmoid rule).
    *
    * Scale: one map-side-combined count aggregate per corpus, a
    * vocabulary-sized full-outer join materialized ONCE
    * ([[Materialize]]), then a 3-scalar totals read off the materialized
    * frame — corpus text is read once per side.
    *
    * History note (the r8→r9 bench-regression post-mortem): r8 used a
    * never-released `persist()`, which ALSO leaked across bench passes —
    * CacheManager keys on the canonicalized plan, so passes 2-3 of the
    * bench silently read pass 1's cache and the recorded 0.319s measured
    * a warm cache, not the query. r9 dropped the persist and had a
    * one-row totals frame "ride the same plan", betting on ReuseExchange
    * to dedupe the count shuffles; the audit shows it does NOT reliably
    * dedupe across the full-outer-join + aggregate boundary (plan
    * ballooned 1 exchange / 2 scans → 6 / 12). Explicit eager
    * materialization of the multi-consumer intermediate is the policy
    * everywhere else in this codebase (NgramLm, Retrieval, Dedup) — same
    * here: honest per-pass cost, single tokenize+count+join at any scale.
    */
  def vocabDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.select(explode(Text.tokens(col(textCol))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(out))
    val joined = Materialize(
      counts(a, "cnt_a").join(counts(b, "cnt_b"), Seq("token"), "full_outer")
        .select(col("token"),
          coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
          coalesce(col("cnt_b"), lit(0L)).as("cnt_b")))
    // totals are 3 scalars over the materialized (vocabulary-sized) frame
    val Array(totals) = joined
      .agg(coalesce(sum(col("cnt_a")), lit(0L)), coalesce(sum(col("cnt_b")), lit(0L)),
        count(lit(1))).collect()
    val (na, nb, v) = (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    val pA = (col("cnt_a") + 1).cast("double") / lit((na + v).toDouble)
    val pB = (col("cnt_b") + 1).cast("double") / lit((nb + v).toDouble)
    joined.select(col("token"), col("cnt_a"), col("cnt_b"),
      pA.as("p_a"), pB.as("p_b"), abs(pA - pB).as("delta"))
  }

  /** Token-distribution KL divergence `KL(P_a || P_b)` per token —
    * [[vocabDrift]]'s add-1-smoothed distributions with each token's
    * contribution `p_a * ln(p_a / p_b)`. Summing `kl_term` gives the
    * corpus-level divergence ("how surprised is a model of B by A");
    * the per-token frame names WHICH tokens drive the drift, signed
    * (positive = over-represented in A). Same scale shape as
    * vocabDrift: two token-count aggregates, one vocabulary-sized
    * full-outer join, map-side math. `kl_term` passes through
    * DECIMAL(38,6) (the ln-ULP discipline — engines' libm may differ in
    * the last bit).
    */
  def vocabKl(a: DataFrame, b: DataFrame, textCol: String): DataFrame =
    vocabDrift(a, b, textCol)
      .withColumn("kl_term",
        (col("p_a") * log(col("p_a") / col("p_b")))
          .cast("decimal(38,6)").cast("double"))

  /** Per-group metric z-scores + outlier flag: mean/std of `valueCol`
    * within `groupCol` (population std), z = (x - mean) / std (0 where
    * the group is constant), `is_outlier` = |z| > `threshold`. The
    * anomalous-document detector per domain/source.
    *
    * Scale: ONE map-side-combined aggregate to a group-sized stats
    * table (sums go through DECIMAL — exact and ORDER-FREE, the
    * float-sum discipline for corpus-scale groups), broadcast back, z
    * row-wise. Determinism note: inputs that are integers (or already
    * doubles) are exact; the DECIMAL cast of `v*v` matches any engine
    * whose double→decimal rounding agrees on non-tie values.
    */
  def sourceZscores(df: DataFrame, groupCol: String, valueCol: String,
                    threshold: Double = 3.0): DataFrame = {
    val v = col(valueCol).cast("double")
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("__n"),
      sum(v.cast("decimal(38,9)")).as("__s1"),
      sum((v * v).cast("decimal(38,9)")).as("__s2"))
      .select(col(groupCol),
        (col("__s1").cast("double") / col("__n").cast("double")).as("__mean"),
        sqrt(greatest(
          col("__s2").cast("double") / col("__n").cast("double") -
            (col("__s1").cast("double") / col("__n").cast("double")) *
              (col("__s1").cast("double") / col("__n").cast("double")),
          lit(0.0))).as("__std"))
    df.join(broadcast(stats), Seq(groupCol))
      .withColumn("zscore",
        when(col("__std") > 0.0, (v - col("__mean")) / col("__std"))
          .otherwise(lit(0.0)))
      .withColumn("is_outlier", abs(col("zscore")) > threshold)
      .drop("__mean", "__std")
  }

  /** Quality-ranked selection under a per-group token budget: within each
    * `groupCol`, rank rows by (`scoreCol` DESC, `idCol` ASC) and keep rows
    * while the cumulative `tokensCol` (inclusive) stays within `budget` —
    * "take the best documents from each domain until its token quota is
    * full", the standard corpus-composition step.
    *
    * Output: input columns + `cum_tokens` (the inclusive running total).
    *
    * Parallelism caveat: the window cumsum serializes each group into one
    * task — the group key is the parallelism unit. Fine for the usual
    * 100s-1000s of domains; for a corpus dominated by a FEW huge domains
    * use [[tokenBudgetApprox]], whose per-group work is a histogram
    * aggregate (map-side combinable) followed by a map-side filter.
    */
  def tokenBudgetSelect(df: DataFrame, groupCol: String, scoreCol: String,
                        tokensCol: String, idCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokensCol)).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Approximate token-budget selection for few-huge-domain corpora: the
    * scale path of [[tokenBudgetSelect]], trading boundary exactness for
    * full map-side parallelism (no per-group serial cumsum anywhere).
    *
    *  1. per-group score min/max (tiny aggregate, broadcast back);
    *  2. each row maps to one of `buckets` equal-width score buckets;
    *  3. token sums per (group, bucket) — map-side combinable, at most
    *     #groups × `buckets` rows ever shuffled;
    *  4. walking buckets from the top score down, the kept set is the
    *     largest prefix whose token total stays within `budget` (the
    *     straddling bucket is dropped whole — conservative under-fill);
    *  5. thresholds broadcast back; the corpus passes a map-side filter.
    *
    * Deterministic for a given `buckets`, so it oracle-checks exactly; the
    * approximation error is bounded by one bucket's token mass. Output:
    * input columns + `bucket` (the row's score bucket).
    */
  def tokenBudgetApprox(df: DataFrame, groupCol: String, scoreCol: String,
                        tokensCol: String, budget: Long, buckets: Int = 1000): DataFrame = {
    require(buckets >= 1, s"tokenBudgetApprox: buckets must be >= 1, got $buckets")
    val stats = df.groupBy(col(groupCol))
      .agg(min(col(scoreCol)).as("__smin"), max(col(scoreCol)).as("__smax"))
    val bucketed = df.join(broadcast(stats), Seq(groupCol))
      .withColumn("bucket",
        when(col("__smax") === col("__smin"), lit(buckets - 1).cast("long"))
          .otherwise(least(
            floor((col(scoreCol) - col("__smin")) / (col("__smax") - col("__smin")) * buckets),
            lit(buckets - 1).cast("long"))))
      .drop("__smin", "__smax")
    // per-(group, bucket) token mass: bounded cardinality, map-side combined
    val sums = bucketed.groupBy(col(groupCol), col("bucket"))
      .agg(sum(col(tokensCol)).as("__btok"))
    // cumulative from the TOP bucket down; the window runs over at most
    // #groups × buckets rows, so per-group serialization is irrelevant here
    val wDesc = Window.partitionBy(col(groupCol)).orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thresholds = sums
      .withColumn("__cum", sum(col("__btok")).over(wDesc))
      .filter(col("__cum") <= budget)
      .groupBy(col(groupCol)).agg(min(col("bucket")).as("__thr"))
    bucketed.join(broadcast(thresholds), Seq(groupCol))
      .filter(col("bucket") >= col("__thr"))
      .drop("__thr")
  }

  /** Deterministic downsampling toward target domain shares: a domain
    * whose corpus share exceeds `targetShare(domain)` is hash-sampled at
    * `rate = targetShare * total / count(domain)`; under-represented
    * domains keep everything (rate capped at 1 — this operator never
    * upsamples; duplication is a separate, explicit step).
    *
    * The per-domain counts aggregate to #domains rows, come back as a
    * broadcast join, and the corpus passes through a map-side filter —
    * no full-data shuffle at any scale.
    */
  def domainMix(df: DataFrame, domainCol: String, idCol: String,
                targetShare: Map[String, Double], defaultShare: Double,
                salt: String = "mix"): DataFrame = {
    val share = targetShare.foldLeft(lit(defaultShare)) {
      case (acc, (k, v)) => when(col(domainCol) === lit(k), lit(v)).otherwise(acc)
    }
    val counts = df.groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__total", sum(col("__n")).over(Window.partitionBy()))
      .select(col(domainCol), (share * col("__total") / col("__n")).as("__rate"))
    df.join(broadcast(counts), Seq(domainCol))
      .filter(Sampling.hashBucket(col(idCol), salt) <
        floor(least(col("__rate"), lit(1.0)) * 1000000L).cast("long"))
      .drop("__rate")
  }

  /** Deterministic weighted duplication — the "epochs per domain" half of
    * mixture building that [[domainMix]] deliberately does not do: each
    * row is emitted `floor(w)` times plus one more for the hash-chosen
    * `frac(w)` of ids (so a domain at weight 2.4 trains ~2.4 epochs).
    * Weights under 1 downsample (weight 0 drops the domain). Output:
    * input columns + `copy` (0-based duplicate index — downstream
    * shuffles should include it in the id, e.g.
    * `concat(id, '#', copy)` before [[shuffleOrder]]).
    *
    * Map-side only: the weight lookup is a literal CASE, the fractional
    * keep is the same salted hash as [[graft.operators.Sampling]], the
    * explode multiplies rows in place — the corpus never shuffles.
    */
  def upsampleByWeight(df: DataFrame, domainCol: String, idCol: String,
                       weights: Map[String, Double], defaultWeight: Double = 1.0,
                       salt: String = "epochs"): DataFrame = {
    require((weights.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "upsampleByWeight: weights must be >= 0")
    val w = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (k, v)) => when(col(domainCol) === lit(k), lit(v)).otherwise(acc)
    }
    val whole = floor(w).cast("long")
    // floor() in BOTH engines — a bare cast truncates here and rounds in
    // the oracle (the cross-engine pitfall quantizeInt8 documents)
    val extra = when(
      Sampling.hashBucket(col(idCol), salt) < floor((w - floor(w)) * Sampling.Buckets).cast("long"),
      1L).otherwise(0L)
    val copies = whole + extra
    df.withColumn("copy",
      explode(when(copies > 0, sequence(lit(0L), copies - 1))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Temperature-scaled source mixing — the multilingual/multi-source
    * rebalancing step (XLM / mT5 style): sampling mass per source is
    * `n_s^(1/T)` renormalized, so `T = 1` keeps natural proportions and
    * larger `T` flattens the mixture toward uniform (low-resource
    * sources upsampled WITH replacement, high-resource downsampled).
    * Total output size ≈ the input corpus size.
    *
    * Per-source rates are computed driver-side from one tiny
    * `groupBy(source).count` (model-sized), then applied map-side by
    * [[upsampleByWeight]]'s deterministic floor + hash-fraction rule —
    * NO second corpus shuffle; sources absent from the stats (impossible
    * by construction) would drop via `defaultWeight = 0`.
    *
    * Determinism across engines: for `T = 2` the root is IEEE `sqrt`
    * (CORRECTLY-ROUNDED by the standard — bit-identical on every engine,
    * unlike `pow`), the normalizer folds in source-name order, and every
    * other step is exact double arithmetic — so the oracle reproduces the
    * rates bit-for-bit (`temperature_mix` gate). Other temperatures use
    * `StrictMath.pow` (JVM-reproducible; spec-gated).
    */
  def temperatureMix(df: DataFrame, sourceCol: String, idCol: String,
                     temperature: Double = 2.0, salt: String = "tmix"): DataFrame = {
    require(temperature > 0, s"temperatureMix: temperature must be > 0, got $temperature")
    val root: Double => Double =
      if (temperature == 2.0) math.sqrt
      else x => StrictMath.pow(x, 1.0 / temperature)
    val stats = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1))).sortBy(_._1)
    // empty input → zero copies of nothing, keeping validate-on-empty total
    if (stats.isEmpty)
      return upsampleByWeight(df, sourceCol, idCol, Map.empty, 0.0, salt)
    val z = stats.foldLeft(0.0) { case (a, (_, n)) => a + root(n.toDouble) }
    val total = stats.map(_._2).sum
    val rates = stats.map { case (s, n) =>
      s -> total.toDouble * root(n.toDouble) / z / n.toDouble
    }.toMap
    upsampleByWeight(df, sourceCol, idCol, rates, defaultWeight = 0.0, salt)
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling"): distribute a total example
    * budget across sources as UNIFORMLY as possible subject to a
    * per-source epoch cap — the fairness-first alternative to
    * [[temperatureMix]]'s power law. Waterfilling over sources in
    * ascending (n, source) order: each source takes
    * `min(maxEpochs·n, remaining/sourcesLeft)`; whatever a small
    * source cannot absorb flows to the larger ones.
    *
    * Same shape as the temperature mixer: one tiny stats aggregate,
    * a deterministic driver fold over the model-sized source list
    * (every step a fixed IEEE expression, so the oracle's recursive
    * CTE replays it bit-exactly), then the map-side
    * [[upsampleByWeight]] copy rule — integer epochs copy exactly,
    * the fractional remainder keeps a hash-stable subset.
    */
  def unimaxMix(df: DataFrame, sourceCol: String, idCol: String,
                totalBudget: Long, maxEpochs: Double = 4.0,
                salt: String = "unimax"): DataFrame = {
    require(totalBudget >= 0L, s"unimaxMix: negative budget $totalBudget")
    require(maxEpochs > 0, s"unimaxMix: maxEpochs must be > 0, got $maxEpochs")
    val stats = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1)))
      .sortBy { case (s, n) => (n, s) }
    val k = stats.length
    var rem = totalBudget.toDouble
    val rates = stats.zipWithIndex.map { case ((s, n), i) =>
      val b = rem / (k - i).toDouble
      val a = math.min(maxEpochs * n.toDouble, b)
      rem -= a
      s -> a / n.toDouble
    }.toMap
    upsampleByWeight(df, sourceCol, idCol, rates, defaultWeight = 0.0, salt)
  }

  /** Per-group document cap — the C4/RefinedWeb anti-spam rule ("at most
    * k documents per host/URL-prefix"): keep the `k` best rows per group
    * by `(orderCol DESC, idCol ASC)` — highest score wins, ties broken
    * deterministically by id so reruns and engines agree.
    *
    * One shuffle on the group key; the rank is a plain window
    * `row_number`, so skewed groups stream through ExternalSort (no
    * per-group materialization). For a cap by ARRIVAL rather than
    * quality, pass the id column as `orderCol` negated upstream.
    */
  def capPerGroup(df: DataFrame, groupCol: String, orderCol: String,
                  idCol: String, k: Int): DataFrame = {
    require(k >= 1, s"capPerGroup: k must be >= 1, got $k")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).desc, col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** GPT-style concat-and-chop packing: within each `groupCol` stream (in
    * `idCol` order) documents are conceptually concatenated and cut into
    * fixed `seqLen`-token training sequences; each document reports the
    * half-open token span it occupies and the sequence ids it touches.
    *
    * Output: input columns + `tok_start` (exclusive-cumsum offset),
    * `seq_first`, `seq_last`, `n_seqs`. Pure window algebra — documents
    * straddle sequence boundaries by design (that is what makes this
    * packing lossless and fragmentation-free).
    *
    * Parallelism caveat: the window cumsum serializes each group into one
    * task — the group key IS the declared parallelism unit (how
    * multi-worker packer jobs shard). For a corpus dominated by a few
    * huge streams, pre-split the stream key (salt by a hash range) — the
    * per-shard offsets are then independent by construction.
    */
  def packConcat(df: DataFrame, groupCol: String, idCol: String,
                 tokensCol: String, seqLen: Long): DataFrame = {
    require(seqLen >= 1, s"packConcat: seqLen must be >= 1, got $seqLen")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    df.withColumn("tok_start", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("seq_first", floor(col("tok_start") / seqLen))
      .withColumn("seq_last",
        floor((col("tok_start") + greatest(col(tokensCol), lit(1L)) - 1) / seqLen))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  /** The sequence-side view of [[packConcat]] — the document-boundary
    * table a trainer consumes to build per-sequence attention masks
    * (block-diagonal "document masking"): one row per (sequence,
    * document-fragment) with the half-open in-sequence token span the
    * fragment occupies. `begin_tok`/`end_tok` are offsets inside the
    * `seqLen`-token sequence; a document straddling sequences emits one
    * row per sequence it touches. Zero-token documents occupy no span
    * and emit nothing.
    *
    * Same scale shape as packConcat (one per-group window cumsum; the
    * group key is the declared parallelism unit) plus a map-side
    * explode of ≤ `n_seqs` rows per document.
    */
  def sequenceBoundaries(df: DataFrame, groupCol: String, idCol: String,
                         tokensCol: String, seqLen: Long): DataFrame = {
    val L = lit(seqLen)
    packConcat(df, groupCol, idCol, tokensCol, seqLen)
      .filter(col(tokensCol) > 0)
      .select(col(groupCol), col(idCol), col("tok_start"),
        col(tokensCol).cast("long").as("__n"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .select(col(groupCol), col("seq_id"), col(idCol),
        greatest(lit(0L), col("tok_start") - col("seq_id") * L).as("begin_tok"),
        least(L, col("tok_start") + col("__n") - col("seq_id") * L).as("end_tok"))
  }

  /** Token-window chunking with overlap — the RAG/long-context
    * preprocessing step: each document's token stream is cut into chunks
    * of `chunkSize` tokens, consecutive chunks sharing `overlap` tokens
    * (stride = chunkSize - overlap). Every token appears in at least one
    * chunk; the last chunk may be short. Documents with zero tokens emit
    * no rows (filtering/keeping empties is the caller's policy).
    *
    * Output: (idCol, chunk_id, text, n_tokens) — chunk_id is 0-based in
    * token order.
    *
    * Pure map-side projection: tokenize → posexplode over the start
    * offsets → slice. NO shuffle at any scale; chunking pipelines into
    * the scan and the row amplification (~n/stride per doc) streams
    * through the same task.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkTokens: chunkSize must be >= 1, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"chunkTokens: overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    // last chunk must contribute >= 1 new token: starts are 0, stride, …,
    // (nChunks-1)*stride with nChunks = max(1, ceil((n - overlap)/stride))
    val nChunks = greatest(lit(1L),
      ceil((col("__n") - overlap).cast("double") / stride).cast("long"))
    df.withColumn("__toks", Text.tokens(col(textCol)))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"), col("__n"),
        posexplode(sequence(lit(0L), (nChunks - 1) * stride, lit(stride.toLong)))
          .as(Seq("chunk_id", "__start")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("__toks"), (col("__start") + 1).cast("int"), lit(chunkSize)))
          .as("text"),
        least(lit(chunkSize.toLong), col("__n") - col("__start")).as("n_tokens"))
  }

  /** Within-document consecutive-duplicate-line removal — the intra-doc
    * cleanup next to the corpus-global [[lineDedup]]: scraped pages
    * repeat nav/footer lines back-to-back (pagination shells, infinite-
    * scroll stutter); collapsing RUNS of identical lines keeps one copy
    * and never touches legitimate distant repeats (a refrain, a code
    * example used twice). One per-document array fold inside the scan —
    * zero shuffle (the corpus-global variant necessarily exchanges on
    * the line hash; this one is free).
    */
  def dedupConsecutiveLines(df: DataFrame, textCol: String,
                            out: String = "text_dedup"): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")), "\n")
    val folded = aggregate(
      lines,
      struct(lit(null).cast("string").as("prev"), lit("").as("acc"),
        lit(true).as("first")),
      (st, line) => {
        val keepIt = st.getField("prev").isNull || line =!= st.getField("prev")
        struct(
          line.as("prev"),
          when(keepIt,
            when(st.getField("first"), line)
              .otherwise(concat(st.getField("acc"), lit("\n"), line)))
            .otherwise(st.getField("acc")).as("acc"),
          (st.getField("first") && !keepIt).as("first"))
      },
      st => st.getField("acc"))
    df.withColumn(out, folded)
  }

  /** Staged quality cascade: ordered `(stageName, keepPredicate)`
    * stages; every document is labeled with the FIRST stage that
    * rejects it (`drop_stage`, null for survivors) — the standard
    * cheap-filters-first curation shape, where the report's per-stage
    * drop counts ARE the pipeline's tuning dashboard (a stage dropping
    * 40% of a trusted source is a bug, not a filter).
    *
    * The 100 TB point: the cascade compiles to ONE first-match CASE in
    * one projection — a single corpus pass regardless of stage count,
    * with CaseWhen branch laziness keeping expensive later signals
    * unevaluated for rows an earlier stage already dropped. No
    * per-stage materialization, no shuffle.
    */
  def qualityCascade(df: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "qualityCascade: at least one stage")
    val label = stages.foldRight(lit(null).cast("string")) {
      case ((name, keep), acc) => when(!keep, lit(name)).otherwise(acc)
    }
    df.withColumn("drop_stage", label)
  }

  /** Survivors of [[qualityCascade]] — one pass, one filter. */
  def cascadeFilter(df: DataFrame, stages: Seq[(String, Column)]): DataFrame =
    qualityCascade(df, stages).filter(col("drop_stage").isNull).drop("drop_stage")

  /** The tuning dashboard: per-stage drop counts plus the survivor
    * count (`drop_stage = 'kept'`), one aggregation.
    */
  def cascadeReport(df: DataFrame, stages: Seq[(String, Column)]): DataFrame =
    qualityCascade(df, stages)
      .groupBy(coalesce(col("drop_stage"), lit("kept")).as("stage"))
      .agg(count(lit(1)).as("n_docs"))

  /** Per-(group, value) rank statistics for the ANSI window readouts,
    * computed WITHOUT a row-scale window: `groupBy(group, value).count`
    * (map-side combined — a 90%-of-corpus source collapses per input
    * partition), ONE window over the DISTINCT-value table (its hot
    * partition is bounded by distinct values per group, not rows —
    * quality scores are coarse; a web-scale source's row count is not),
    * and the caller joins back on (group, value) — AQE-skew-splittable.
    * Columns: `__g, __v, __cum` (count of rows ≤ v), `__c` (count of
    * rows = v), `__n` (group size).
    */
  private def groupValueRanks(df: DataFrame, groupCol: String,
                              valueCol: String): DataFrame = {
    val gv = df.groupBy(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col("__g")).orderBy(col("__v"))
    gv.withColumn("__cum", sum(col("__c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col("__g"))))
  }

  /** Per-group rank normalization: append the ANSI `percent_rank` of
    * `valueCol` WITHIN each group — the device that makes raw quality
    * scores comparable ACROSS sources (a 0.6 from a high-quality
    * source and a 0.6 from a spammy one mean different things; their
    * within-source ranks mean the same), so one global threshold keeps
    * the same fraction of every source. Ties share a rank (ANSI), the
    * value is `(rank−1)/(n−1)` from integer counts — bit-exact in any
    * engine, and identical to `percent_rank over (partition by group
    * order by value)` — but computed via [[groupValueRanks]], so a
    * group holding most of the corpus never owns a sort partition.
    */
  def rankNormalize(df: DataFrame, groupCol: String, valueCol: String,
                    out: String = "pct_rank"): DataFrame = {
    val ranks = groupValueRanks(df, groupCol, valueCol)
      .select(col("__g"), col("__v"),
        when(col("__n") === 1, lit(0.0)).otherwise(
          (col("__cum") - col("__c")).cast("double")
            / (col("__n") - 1).cast("double")).as(out))
    df.join(ranks, col(groupCol) <=> col("__g") && col(valueCol) <=> col("__v"))
      .drop("__g", "__v")
  }

  /** The thresholding rule [[rankNormalize]] exists for: keep the top
    * `fraction` of every group by `valueCol`. Uses the `cume_dist`
    * readout (the fraction of the group at or below the value), not
    * `percent_rank`: `cume_dist > 1 − fraction` keeps ⌈fraction·n⌉-ish
    * of every group INCLUDING singletons (whose cume_dist is 1; their
    * percent_rank is 0, which would silently drop every one-document
    * source). Same [[groupValueRanks]] shape — no row-scale window.
    */
  def keepTopFraction(df: DataFrame, groupCol: String, valueCol: String,
                      fraction: Double): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"keepTopFraction: fraction in (0,1], got $fraction")
    val ranks = groupValueRanks(df, groupCol, valueCol)
      .select(col("__g"), col("__v"),
        (col("__cum").cast("double") / col("__n").cast("double")).as("__cd"))
    df.join(ranks, col(groupCol) <=> col("__g") && col(valueCol) <=> col("__v"))
      .filter(col("__cd") > lit(1.0 - fraction))
      .drop("__g", "__v", "__cd")
  }

  /** Empirical-Bayes shrunken per-group metric means — the domain-level
    * quality score a curation pipeline filters domains by: a raw mean
    * over a 3-document domain is noise, so small groups shrink toward
    * the corpus prior with pseudo-count weight `k`:
    * `shrunk = (Σv + k·prior) / (n + k)` where `prior` is the global
    * mean (the standard beta/normal-prior posterior-mean estimator —
    * Gelman's partial pooling; MacKay's add-k smoothing is the count
    * special case). A 10k-doc domain barely moves; a 3-doc domain lands
    * near the prior — exactly the ranking you want before cutting
    * domains by mean quality.
    *
    * Determinism: sums round through DECIMAL(38,9) (the repo's sum
    * convention) and the readout is a fixed IEEE expression over those
    * exact sums, so the oracle replays it bit-identically.
    *
    * Output: `(groupCol, n, mean, shrunk_mean)`. Scale: ONE map-side-
    * combined group aggregate + a broadcast one-row global frame; no
    * other shuffle at any corpus size.
    */
  def shrunkGroupMeans(df: DataFrame, groupCol: String, valCol: String,
                       pseudoCount: Double): DataFrame = {
    require(pseudoCount > 0,
      s"shrunkGroupMeans: pseudoCount must be > 0, got $pseudoCount")
    require(!Set("n", "mean", "shrunk_mean").contains(groupCol),
      s"shrunkGroupMeans: groupCol '$groupCol' collides with an output column")
    val g = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(col(valCol).cast("double").cast("decimal(38,9)")).as("__s"))
    // global prior from the GROUP frame, not a second corpus pass:
    // decimal addition is exact, so the sum-of-group-sums equals the
    // direct corpus sum bit-for-bit — and the group aggregate's
    // exchange is structurally shared, so the corpus is scanned once
    val tot = g.agg(
      sum(col("n")).as("__tot_n"),
      sum(col("__s")).as("__tot_s"))
    g.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n"),
        (col("__s").cast("double") / col("n").cast("double")).as("mean"),
        ((col("__s").cast("double") + lit(pseudoCount) *
          (col("__tot_s").cast("double") / col("__tot_n").cast("double"))) /
          (col("n").cast("double") + lit(pseudoCount))).as("shrunk_mean"))
  }

  /** Sentence-aware chunking — [[chunkTokens]]'s RAG-grade sibling: the
    * text splits at sentence boundaries (`[.!?]+` runs followed by
    * whitespace) and CONSECUTIVE sentences pack greedily into chunks of
    * at most `maxTokens` tokens, never splitting mid-sentence (a single
    * over-long sentence becomes its own over-budget chunk rather than
    * being cut — retrieval quality degrades far more from half
    * sentences than from one long chunk). Greedy first-fit on an
    * ordered sequence is the standard retrieval-chunking rule
    * (fixed-window chunkers cut claims in half; LangChain-class
    * splitters all do boundary-respecting greedy packing).
    *
    * The whole decision is ONE per-document array fold (sentence split
    * → running token budget → chunk strings), map-side inside the scan,
    * zero shuffle at any corpus size; and it is a deterministic integer
    * recurrence, so a recursive-CTE walk replays it exactly for the
    * oracle. Output: `(idCol, chunk_id, text, n_tokens)` — empty docs
    * drop (same rule as [[chunkTokens]]).
    */
  def chunkSentences(df: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"chunkSentences: maxTokens must be >= 1, got $maxTokens")
    // U+0001 is the boundary sentinel; hostile crawl text can legally
    // contain a raw 0x01 byte, which would forge sentence boundaries --
    // strip it from the input FIRST (the oracle does the same via
    // chr(1)); the literal is an escape, not a raw byte, for editability.
    val sep = "\u0001"
    val sentences = filter(
      split(regexp_replace(regexp_replace(col(textCol), sep, ""),
        "([.!?]+)\\s+", "$1" + sep), sep),
      s => length(s) > 0)
    def tcount(s: Column): Column = size(Text.tokens(s)).cast("long")
    val folded = aggregate(
      sentences,
      struct(lit(0L).as("cnt"),
        array().cast("array<string>").as("chunks")),
      (st, sen) => {
        val t = tcount(sen)
        val cnt = st.getField("cnt")
        val ch = st.getField("chunks")
        val fits = cnt > 0L && (cnt + t) <= lit(maxTokens.toLong)
        struct(
          when(fits, cnt + t).otherwise(t).as("cnt"),
          when(fits,
            concat(slice(ch, lit(1), size(ch) - 1),
              array(concat(element_at(ch, -1), lit(" "), sen))))
            .otherwise(concat(ch, array(sen))).as("chunks"))
      },
      st => st.getField("chunks"))
    df.select(col(idCol), posexplode(folded).as(Seq("chunk_id", "text")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col("text"), tcount(col("text")).as("n_tokens"))
  }

  /** Per-document top-`k` salient terms by tf-idf — the cheap keyword /
    * topic signal a curation pipeline uses for clustering, mixing and
    * contamination triage.
    *
    * Scoring: `tf * (N+1)/(df+1)` — RATIONAL smoothed idf, deliberately
    * log-free: `ln` is not correctly-rounded on every libm, so a logged
    * idf can differ in the last ulp across engines and break exact
    * reproducibility of distributed runs; the rational form is the same
    * monotone-in-df ranking with bit-exact doubles everywhere. Ties break
    * by term ASC.
    *
    * Cost: one shuffle on (doc, term) for tf, one map-side-combined
    * aggregate on term for df (vocabulary-sized, far smaller than the
    * corpus), a shuffle join tf⋈df on term, and the per-doc top-k window.
    * The corpus text itself is never shuffled — only (doc, term, tf)
    * triples.
    */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"tfidfTopK: k must be >= 1, got $k")
    val nDocs = df.count() // model-sized scalar (same class as broadcast centroids)
    val tf = df.select(col(idCol), explode(Text.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      .withColumn("score", col("tf") * (lit((nDocs + 1).toDouble) / (col("df") + 1)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"), col("score"))
  }

  /** Next-fit bin packing: within each `groupCol` stream (in `idCol`
    * order) a document goes into the current bin if it fits under
    * `budget`, else opens the next bin — documents are never split
    * (instruction-tuning-style packing, where crossing a document
    * boundary inside a sequence is not allowed). A document larger than
    * the budget occupies a bin alone.
    *
    * Inherently a sequential fold per group, so it runs as the
    * secondary-sort pattern: repartition on the group key, sort
    * partitions by (group, id), fold each partition with state reset at
    * group boundaries — one shuffle, no group ever materialized in
    * memory, identical shape to `Analytics.perKeyMetricScan`.
    *
    * Output: (groupCol, idCol, tokensCol, bin, bin_fill) — `bin` is the
    * 0-based bin index within the group, `bin_fill` the bin's running
    * token count after this document.
    */
  def packNextFit(df: DataFrame, groupCol: String, idCol: String,
                  tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"packNextFit: budget must be >= 1, got $budget")
    require(Set(groupCol, idCol, tokensCol).size == 3,
      s"packNextFit: group/id/tokens columns must be distinct, got ($groupCol, $idCol, $tokensCol)")
    val spark = df.sparkSession
    val shuffleP = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val in = df.select(col(groupCol).cast("string"), col(idCol).cast("long"),
      col(tokensCol).cast("long"))
      .repartition(shuffleP, col(groupCol))
      .sortWithinPartitions(col(groupCol), col(idCol))
    val outSchema = StructType(Seq(
      StructField(groupCol, StringType), StructField(idCol, LongType),
      StructField(tokensCol, LongType), StructField("bin", LongType),
      StructField("bin_fill", LongType)))
    val out = in.queryExecution.toRdd.mapPartitions { rows =>
      var key: String = null
      var first = true
      var bin = 0L
      var fill = 0L
      rows.map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
          s"packNextFit: null in ($groupCol, $idCol, $tokensCol); drop or fill nulls upstream")
        val g = r.getUTF8String(0).toString
        val id = r.getLong(1)
        val n = r.getLong(2)
        if (g != key) { key = g; first = true }
        // First doc of a group always starts bin 0 (even oversized); after
        // that the test is unconditional on fill — an empty-looking bin
        // (fill == 0 via zero-token docs) does NOT admit an over-budget doc.
        if (first) { first = false; bin = 0L; fill = n }
        else if (fill + n <= budget) fill += n
        else { bin += 1L; fill = n }
        Row(g, id, n, bin, fill)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Best-fit-decreasing bin packing — the waste-minimizing sibling of
    * [[packNextFit]] for padding-free sequence assembly: within each
    * `groupCol`, documents are taken in (`tokensCol` DESC, `idCol` ASC)
    * order and each is placed into the open bin with the SMALLEST
    * remaining capacity that still fits (lowest bin id on ties); no fit
    * opens a new bin. BFD's classic guarantee is ≤ 11/9·OPT + 4 bins vs
    * next-fit's 2·OPT, and on real length distributions the waste gap is
    * large (spec-pinned: never worse than next-fit-decreasing on the
    * fixtures). A document alone larger than `budget` gets a bin of its
    * own, which is never offered to later documents — the same totality
    * rule as next-fit's oversized-first-doc case.
    *
    * Same distribution shape as [[packNextFit]]: one shuffle
    * (repartition by group), sortWithinPartitions by (group, tokens
    * DESC, id), one streaming fold with state reset at group boundaries.
    * The only per-group memory is the open-bin index — two longs per
    * bin, NOT per document (a 10⁶-doc group at 50% fill holds ~10⁵ bin
    * entries, a few MB; documents themselves stream through).
    *
    * The placement scan is stateful across the whole group — not
    * SQL-expressible (same class as the BPE merge scan), so correctness
    * is spec-gated against the packing laws + an independent in-memory
    * reference; the oracle-gated next-fit twin pins the shared
    * fold machinery.
    *
    * Output: (groupCol, idCol, tokensCol, bin, bin_fill) — `bin` is the
    * 0-based bin index within the group in OPENING order, `bin_fill` the
    * bin's running token count after this document.
    */
  def packBestFit(df: DataFrame, groupCol: String, idCol: String,
                  tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 1, s"packBestFit: budget must be >= 1, got $budget")
    require(Set(groupCol, idCol, tokensCol).size == 3,
      s"packBestFit: group/id/tokens columns must be distinct, got ($groupCol, $idCol, $tokensCol)")
    val spark = df.sparkSession
    val shuffleP = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val in = df.select(col(groupCol).cast("string"), col(idCol).cast("long"),
      col(tokensCol).cast("long"))
      .repartition(shuffleP, col(groupCol))
      .sortWithinPartitions(col(groupCol), col(tokensCol).desc, col(idCol))
    val outSchema = StructType(Seq(
      StructField(groupCol, StringType), StructField(idCol, LongType),
      StructField(tokensCol, LongType), StructField("bin", LongType),
      StructField("bin_fill", LongType)))
    val out = in.queryExecution.toRdd.mapPartitions { rows =>
      var key: String = null
      // remaining -> bin ids at that remaining (ascending both ways)
      var open: java.util.TreeMap[Long, java.util.TreeSet[Long]] = null
      var fills: scala.collection.mutable.LongMap[Long] = null
      var nextBin = 0L
      rows.map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
          s"packBestFit: null in ($groupCol, $idCol, $tokensCol); drop or fill nulls upstream")
        val g = r.getUTF8String(0).toString
        val id = r.getLong(1)
        val n = r.getLong(2)
        if (g != key) {
          key = g
          open = new java.util.TreeMap[Long, java.util.TreeSet[Long]]()
          fills = new scala.collection.mutable.LongMap[Long]()
          nextBin = 0L
        }
        val entry = open.ceilingEntry(n)
        val bin =
          if (entry == null) { // no open bin fits: open a new one
            val b = nextBin; nextBin += 1L
            fills(b) = n
            val rem = budget - n
            if (rem > 0) // full (or oversized) bins never re-enter the index
              open.computeIfAbsent(rem, _ => new java.util.TreeSet[Long]()).add(b)
            b
          } else {
            val b = entry.getValue.first() // lowest id among equal remainders
            entry.getValue.remove(b)
            if (entry.getValue.isEmpty) open.remove(entry.getKey)
            val rem = entry.getKey - n
            if (rem > 0)
              open.computeIfAbsent(rem, _ => new java.util.TreeSet[Long]()).add(b)
            fills(b) += n
            b
          }
        Row(key, id, n, bin, fills(bin))
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Length-bucketed batch assembly — the min-padding batching step a
    * training data loader wants (fairseq/HF `--max-tokens` batching):
    * documents are banded into length buckets (`edges` = inclusive upper
    * bounds, plus an overflow band), sorted ASCENDING by length within
    * each bucket, and greedily chunked into batches under a PADDED token
    * budget: adding a document of length `n` to a batch of `c` rows
    * costs `n × (c+1)` (ascending order makes the incoming length the
    * batch's max), so a batch breaks when that exceeds `maxTokens`.
    * Oversized documents (alone over budget) isolate into their own
    * batch rather than being dropped silently.
    *
    * Output: input columns + `bucket` + `batch` (0-based within bucket)
    * + `batch_rows` (running row count). Deterministic: ties in length
    * break by id.
    *
    * Scale: ONE exchange (repartition by bucket) + a per-partition sort
    * + a linear scan — [[packNextFit]]'s shape. Buckets are the
    * parallelism unit; pick edges so each band holds many batches.
    */
  def lengthBucketBatches(df: DataFrame, idCol: String, tokensCol: String,
                          edges: Seq[Long], maxTokens: Long): DataFrame = {
    require(maxTokens >= 1, s"lengthBucketBatches: maxTokens must be >= 1, got $maxTokens")
    require(edges.nonEmpty && edges == edges.sorted && edges.distinct == edges,
      s"lengthBucketBatches: edges must be non-empty, sorted, distinct; got $edges")
    val spark = df.sparkSession
    val shuffleP = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val bucket = edges.zipWithIndex.foldRight(lit(edges.length)) {
      case ((edge, i), acc) => when(col(tokensCol) <= edge, lit(i)).otherwise(acc)
    }
    val in = df.select(col(idCol).cast("long"), col(tokensCol).cast("long"),
      bucket.cast("long").as("bucket"))
      .repartition(shuffleP, col("bucket"))
      .sortWithinPartitions(col("bucket"), col(tokensCol), col(idCol))
    val outSchema = StructType(Seq(
      StructField(idCol, LongType), StructField(tokensCol, LongType),
      StructField("bucket", LongType), StructField("batch", LongType),
      StructField("batch_rows", LongType)))
    val out = in.queryExecution.toRdd.mapPartitions { rows =>
      var key = -1L
      var batch = 0L
      var cnt = 0L
      rows.map { r =>
        require(!r.isNullAt(0) && !r.isNullAt(1),
          s"lengthBucketBatches: null in ($idCol, $tokensCol); drop or fill nulls upstream")
        val id = r.getLong(0)
        val n = r.getLong(1)
        val b = r.getLong(2)
        if (b != key) { key = b; batch = 0L; cnt = 1L }
        else if (n * (cnt + 1) <= maxTokens) cnt += 1
        else { batch += 1L; cnt = 1L }
        Row(id, n, b, batch, cnt)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Per-group corpus report card — the profiling pass every curation
    * run starts and ends with: document count, total tokens, distinct
    * languages, and the FULL token-length distribution (one row per
    * requested quantile, exact via the mergeable value-counts aggregate
    * [[graft.functions.ExactPercentiles]] — the buffer holds one entry
    * per distinct length, not per document).
    *
    * One shuffle on the group key, all aggregates map-side-partial.
    * `approxDistinct = true` swaps the language count for HLL++
    * (`approx_count_distinct`) — constant memory per group for
    * high-cardinality profile columns (hosts, URLs); the exact default
    * stays oracle-gated.
    */
  def corpusProfile(df: DataFrame, groupCol: String, textCol: String,
                    langCol: String, quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99),
                    approxDistinct: Boolean = false): DataFrame = {
    require(quantiles.nonEmpty, "corpusProfile: at least one quantile")
    val qArr = array(quantiles.map(lit): _*)
    val distinctLangs =
      if (approxDistinct) approx_count_distinct(col("__lang"))
      else countDistinct(col("__lang"))
    df.select(col(groupCol), Text.tokenCount(col(textCol)).as("__tok"),
      col(langCol).as("__lang"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("n_tokens"),
        distinctLangs.cast("long").as("n_langs"),
        graft.functions.PercentileSketch
          .exactPercentiles(col("__tok").cast("double"), quantiles).as("__qs"))
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("n_langs"),
        posexplode(col("__qs")).as(Seq("__qi", "tokens_q")))
      .withColumn("quantile", element_at(qArr, col("__qi") + 1))
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("quantile"), col("tokens_q"))
  }

  /** Rank-fusion of multiple quality signals (the RefinedWeb-style
    * ensemble cut): each signal column is replaced by its global 0-based
    * rank (ascending, ties broken by `idCol` for determinism), and the
    * fused score is the mean rank normalized to [0, 1] — scale-free, so
    * no single signal's calibration or units can dominate the ensemble.
    * Appends `rank_<signal>` per input and `out` (higher = better under
    * every signal). Null signal values sort first (lowest rank).
    *
    * Scale shape: one range-exchange + zipWithIndex pass PER SIGNAL
    * (the distributed-sort ordinal, no single-partition window) plus
    * one count — k+1 corpus passes for k signals, each individually the
    * shape [[shuffleOrder]]/[[curriculumOrder]] already pay. Rank
    * arithmetic is integer-exact; the final mean divides in a fixed
    * shape both engines replay bit-identically.
    */
  def rankFusion(df: DataFrame, idCol: String, signalCols: Seq[String],
                 out: String = "fused_rank"): DataFrame = {
    require(signalCols.nonEmpty, "rankFusion: need at least one signal column")
    // materialize the input AND each ranking pass: zipWithIndex runs two
    // passes over its parent and the next signal's sort would otherwise
    // re-run every earlier sort's lineage (plus the caller's upstream) —
    // the O(k²)-recompute trap the pplBucket fix already documents
    val m = Materialize(df)
    val n = m.count()
    val denom = math.max(n - 1, 1L).toDouble
    val ranked = signalCols.foldLeft(m) { case (acc, c) =>
      Materialize(withGlobalPositionAs(acc, Seq(col(c).asc, col(idCol).asc), s"rank_$c"))
    }
    ranked.withColumn(out,
      signalCols.map(c => col(s"rank_$c")).reduce(_ + _).cast("double")
        / lit(signalCols.size.toDouble) / lit(denom))
  }

  /** Global 0-based `position` for an already-declared total order: sort
    * by `order` (a range exchange — Spark's scalable distributed sort),
    * then number rows with the partition-offset pattern (`zipWithIndex`:
    * one tiny count-per-partition job, then a map). This is the ONLY
    * sane way to materialize a corpus-wide ordinal at 100 TB — a global
    * `row_number()` window would collapse to a single partition.
    *
    * The caller's `order` columns must be a total order (tie-broken),
    * or positions within ties are partition-dependent.
    */
  private def withGlobalPosition(df: DataFrame, order: Seq[Column]): DataFrame =
    withGlobalPositionAs(df, order, "position")

  /** [[withGlobalPosition]] with a caller-chosen ordinal column name —
    * shared with the other global-order consumers ([[NgramLm.pplBucket]]).
    */
  private[operators] def withGlobalPositionAs(df: DataFrame, order: Seq[Column],
                                              posCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(order: _*)
    val schema = StructType(StructField(posCol, LongType) +: sorted.schema.fields)
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) => Row.fromSeq(i +: r.toSeq) },
      schema)
  }

  /** Deterministic corpus shuffle — the training-order materialization
    * step: every epoch-0 data loader wants the corpus in a fixed,
    * reproducible, well-mixed order. Orders rows by a seeded 60-bit
    * hash of the id (ties by id) and assigns a global 0-based
    * `position`. Changing `seed` gives an independent permutation;
    * re-running the job gives byte-identical output (no `rand()`).
    *
    * Scale: one range-exchange sort on the hash + the two
    * `zipWithIndex` passes. Hash keys are uniform by construction, so
    * the sort's range partitions are balanced regardless of id skew.
    */
  def shuffleOrder(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val key = Text.md5Hash64(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    withGlobalPosition(df.withColumn("__shuffle_key", key),
      Seq(col("__shuffle_key"), col(idCol)))
      .drop("__shuffle_key")
  }

  /** Curriculum ordering — easy-to-hard training order with intra-stage
    * mixing: rows are bucketed into `stages` equal-width bands of
    * `scoreCol` (stage 0 = HIGHEST scores first, the "start clean"
    * convention), shuffled deterministically within each stage by the
    * seeded hash, and assigned a global `position`. The inverse
    * direction is just a negated score upstream.
    *
    * Output: input columns + `stage` + `position`.
    *
    * Scale: the score min/max is one tiny aggregate; stage assignment
    * and the shuffle key are map-side; the order materializes through
    * the same single range-exchange sort as [[shuffleOrder]].
    */
  def curriculumOrder(df: DataFrame, idCol: String, scoreCol: String,
                      stages: Int, seed: String = "curriculum"): DataFrame = {
    require(stages >= 1, s"curriculumOrder: stages must be >= 1, got $stages")
    val stats = df.agg(min(col(scoreCol)).as("__lo"), max(col(scoreCol)).as("__hi"))
    val staged = df.crossJoin(broadcast(stats))
      .withColumn("stage",
        when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(least(
            floor((col("__hi") - col(scoreCol)) / (col("__hi") - col("__lo")) * stages),
            lit(stages - 1).cast("long"))))
      .drop("__lo", "__hi")
    val key = Text.md5Hash64(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    withGlobalPosition(staged.withColumn("__ck", key),
      Seq(col("stage"), col("__ck"), col(idCol)))
      .drop("__ck")
  }

  /** Proportional source interleaving: emit documents so that a prefix
    * of the output contains sources in proportion to `weights` — the
    * "mixture schedule" a multi-source training run consumes (a source
    * with weight 2.0 appears twice as densely as one with 1.0).
    *
    * Classic rate-scheduling: document #r (1-based, in seeded-shuffle
    * order within its source) of source `s` is emitted at virtual time
    * `r / weight(s)`; the output is all documents sorted by that time
    * (ties broken by source then rank — deterministic). Sources absent
    * from `weights` fail fast rather than silently defaulting.
    *
    * Scale: the per-source rank is a *partitioned* window (scales with
    * source count × docs), the virtual-time sort is the same range
    * exchange as [[shuffleOrder]]; weights are a when-chain literal —
    * model-sized, no join.
    */
  def interleaveSources(df: DataFrame, sourceCol: String, idCol: String,
                        weights: Map[String, Double],
                        seed: String = "interleave"): DataFrame = {
    require(weights.nonEmpty, "interleaveSources: weights must be non-empty")
    require(weights.values.forall(_ > 0),
      s"interleaveSources: weights must be positive, got $weights")
    // unknown source → raise_error inside the projection: fails the job
    // fast without a separate validation pass over the corpus
    val weightCol = weights.foldLeft(
      raise_error(concat(lit("interleaveSources: no weight for source '"),
        col(sourceCol), lit("'"))).cast("double")) {
      case (acc, (src, w)) => when(col(sourceCol) === src, lit(w)).otherwise(acc)
    }
    val hash = Text.md5Hash64(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    // per-source rank WITHOUT a row-scale window over the source key (a
    // 90%-of-corpus source would own one unsplittable sort partition):
    // one BALANCED range-exchange global position over (source, hash,
    // id) — the seeded hash spreads a hot source across range
    // partitions — minus per-source start offsets from a model-sized
    // count table (sources are enumerated by `weights`; the offset
    // window runs over |sources| rows)
    val pos = withGlobalPositionAs(df.withColumn("__ikey", hash),
      Seq(col(sourceCol), col("__ikey"), col(idCol)), "__gp")
    val off = pos.groupBy(col(sourceCol).as("__src"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(
        Window.orderBy(col("__src")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__src"), col("__off"))
    val keyed = pos
      .join(broadcast(off), col(sourceCol) === col("__src"))
      .withColumn("source_rank", col("__gp") - col("__off") + 1)
      .withColumn("vtime", col("source_rank").cast("double") / weightCol)
      .drop("__src", "__off", "__gp", "__ikey")
    withGlobalPosition(keyed,
      Seq(col("vtime"), col(sourceCol), col("source_rank")))
  }
}
