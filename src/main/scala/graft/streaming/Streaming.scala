package graft.streaming

import graft.model.Event
import graft.operators.Windows
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The Structured Streaming execution path (SURVEY §7.1 modules 6-7).
  *
  * The reference is a streaming engine whose defining property is that all
  * clocks advance on EVENT time (`site/.../riemann-diff/_index.md:15-20`).
  * Its event-time windows (tumbling windows with allowed lateness
  * `:delay`, sessions) are not here: [[graft.operators.Windows]] is the
  * one builder of each, for batch and streaming frames; on a stream it
  * is `withWatermark(delay) + window(duration)`. This object holds the
  * watermarked joins and dedups, the sketch monitors, and the per-key
  * folds.
  *
  * Genuinely sequential operators (count windows, throttle, ewma, changed,
  * smax/smin) use `flatMapGroupsWithState` keyed by the `by` fork fields —
  * the streaming twin of `Analytics.perKeyMetricScan`; state is per-key,
  * spills to the state store, and never crosses a key boundary, so the
  * plan shards across executors exactly like the batch path.
  *
  * Within a micro-batch, events are folded in (time, eventId) order — the
  * deterministic stand-in for the reference's arrival order. Output schema
  * and values match the batch twins on in-order input (asserted per op in
  * StreamingSpec against the batch implementation).
  */
object Streaming {

  /** Stream-stream interval join — the streaming twin of
    * [[graft.operators.Joins.rangeJoin]] for the "events × incident
    * windows" shape: right events open `[time, time + span]` windows;
    * every left event within a window (same `keys`) joins it.
    *
    * Built on Spark's native watermarked stream-stream inner join: both
    * sides carry an event-time watermark and the join condition is a
    * time-RANGE over the two event-time columns, so Spark derives the
    * state retention bound itself (a right row is droppable once the
    * left watermark passes `right.time + span`; a left row once the
    * right watermark passes `left.time`) — bounded state with no manual
    * TTL, the same state-cleanup contract as the TTL'd stateful ops.
    *
    * Output: left columns + `<prefix>` right payload columns +
    * `<prefix>time` (the window's opening time). Append mode; rows emit
    * as soon as both sides have arrived.
    */
  def rangeJoinEvents(spanSeconds: Long, delaySeconds: Long,
                      valueCols: Seq[String], keys: Seq[String],
                      prefix: String = "win_")(left: DataFrame, right: DataFrame): DataFrame = {
    require(keys.nonEmpty, "rangeJoinEvents: at least one key column")
    require(spanSeconds >= 0, s"rangeJoinEvents: negative span ($spanSeconds s) can never match")
    require(delaySeconds >= 0, s"rangeJoinEvents: negative watermark delay ($delaySeconds s)")
    val l = Windows.watermarked(left, delaySeconds)
    val payload = (valueCols :+ "time").distinct
    val r = Windows.watermarked(right, delaySeconds)
      .select(keys.map(col) ++ Seq(col("__ts").as("__rts")) ++
        payload.map(c => col(c).as(s"$prefix$c")): _*)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      l("__ts") >= r("__rts") &&
      l("__ts") <= r("__rts") + expr(s"INTERVAL $spanSeconds seconds")
    val joined = l.join(r, cond, "inner").drop(l("__ts")).drop(r("__rts"))
    keys.foldLeft(joined)((d, k) => d.drop(r(k)))
  }

  /** Streaming exact dedup — the streaming twin of the batch
    * fingerprint/exact dedup family ([[graft.operators.Dedup]]): an event
    * whose `keyCols` tuple was already seen within the watermark horizon
    * is dropped; the FIRST arrival wins and is emitted unchanged.
    *
    * Built on `dropDuplicatesWithinWatermark`, so per-key state is
    * evicted once the watermark passes the key's first-seen event time
    * plus `delaySeconds` — state is bounded by (key arrival rate ×
    * horizon), NOT corpus lifetime. That bound is the documented
    * batch/stream delta: a duplicate arriving after the horizon is
    * emitted again (batch dedup, which sees all data, would drop it). At
    * ingest scale this is the only viable contract — unbounded seen-key
    * state for an infinite stream cannot fit any store — and matches the
    * horizon the reference's own index GC applies to expired events
    * (`index.clj`, expire loop).
    */
  def dedupWithinWatermark(keyCols: Seq[String], delaySeconds: Long)(df: DataFrame): DataFrame = {
    require(keyCols.nonEmpty, "dedupWithinWatermark: at least one key column")
    require(delaySeconds >= 0, s"dedupWithinWatermark: negative horizon ($delaySeconds s)")
    Windows.watermarked(df, delaySeconds)
      .dropDuplicatesWithinWatermark(keyCols)
      .drop("__ts")
  }

  /** Streaming corpus profile — the live twin of
    * [[graft.operators.Curation.corpusProfile]]: per event-time window
    * and group, document count, total tokens, approximate distinct
    * languages (HLL++ — exact `countDistinct` is not available under a
    * streaming aggregate, and the profile column may be unbounded
    * anyway), and exact token-length quantiles through the mergeable
    * value-counts aggregate. Emits each closed window once the
    * watermark passes (append mode), one row per quantile.
    *
    * This is ingest-quality monitoring: the same report card the batch
    * pass computes corpus-wide, continuously over the arriving stream,
    * with state bounded by open windows × groups.
    */
  def corpusProfileWindow(durationSeconds: Long, delaySeconds: Long,
                          groupCol: String, textCol: String, langCol: String,
                          tsCol: String, quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99))
                         (df: DataFrame): DataFrame = {
    require(quantiles.nonEmpty, "corpusProfileWindow: at least one quantile")
    val qArr = array(quantiles.map(lit): _*)
    df.withColumn("__ts", col(tsCol).cast("timestamp"))
      // tokenize ONCE per document — aggregate inputs are not
      // CSE-deduplicated across aggs, and tokenization dominates the
      // per-row cost of this monitor
      .withColumn("__tok", graft.functions.Text.tokenCount(col(textCol)))
      .withWatermark("__ts", s"$delaySeconds seconds")
      .groupBy(window(col("__ts"), s"$durationSeconds seconds").as("__w"), col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        approx_count_distinct(col(langCol)).cast("long").as("n_langs"),
        graft.functions.PercentileSketch.exactPercentiles(
          col("__tok").cast("double"), quantiles).as("__qs"))
      .select(Windows.windowStartNs, col(groupCol), col("n_docs"), col("n_tokens"), col("n_langs"),
        posexplode(col("__qs")).as(Seq("__qi", "tokens_q")))
      .withColumn("quantile", element_at(qArr, col("__qi") + 1))
      .select(col("window_start"), col(groupCol), col("n_docs"), col("n_tokens"), col("n_langs"),
        col("quantile"), col("tokens_q"))
  }

  /** Streaming vocabulary monitor — the live twin of the batch sketch
    * family ([[graft.operators.Sketches]]): per closed event-time window,
    * token count, HyperLogLog distinct-token estimate and the Misra-Gries
    * top tokens, all through the same mergeable fixed-memory aggregates
    * the batch path uses. State per open window is `2^b` bytes + `k`
    * counters — ingest-rate independent, vocabulary independent.
    *
    * The HLL estimate (FFGM07 bias-corrected harmonic mean with
    * linear-counting small range) is computed as Column algebra over the
    * register array with the SAME arithmetic as
    * [[graft.functions.Hll.estimate]] — StreamingSpec pins stream ==
    * batch == driver-math equality exactly. The Misra-Gries list is the
    * summary's items (heaviest first): approximate by design — the
    * monitor answer, not the exact recount
    * ([[graft.operators.Sketches.heavyHitters]] is the batch exact path).
    */
  def vocabSketchWindow(durationSeconds: Long, delaySeconds: Long,
                        textCol: String, tsCol: String, b: Int = 12,
                        seed: String = "hll", k: Int = 32)(df: DataFrame): DataFrame = {
    val m = 1 << b
    val alpha = graft.functions.Hll.alpha(m)
    val toks = df.withColumn("__ts", col(tsCol).cast("timestamp"))
      .withWatermark("__ts", s"$delaySeconds seconds")
      .select(col("__ts"),
        explode(graft.functions.Text.tokens(col(textCol))).as("__tok"))
    val agged = toks
      .groupBy(window(col("__ts"), s"$durationSeconds seconds").as("__w"))
      .agg(count(lit(1)).as("n_tokens"),
        graft.functions.Hll.hll(col("__tok"), b, seed).as("__regs"),
        graft.functions.MisraGries.misraGries(col("__tok"), k).as("__hh"))
    val denom = aggregate(
      transform(col("__regs"), r => pow(lit(2.0), -r.cast("double"))),
      lit(0.0), (a, x) => a + x)
    val zeros = size(filter(col("__regs"), _ === 0))
    val raw = lit(alpha * m.toDouble * m.toDouble) / denom
    val est = when(raw <= lit(graft.functions.Hll.LinearCutoff * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double"))).otherwise(raw)
    agged.select(
      Windows.windowStartNs,
      col("n_tokens"), est.as("vocab_est"),
      transform(col("__hh"), h => h.getField("item")).as("top_tokens"))
  }

  /** Streaming metric-quantile monitor over the KMV bottom-k sample
    * ([[graft.functions.BottomKAgg]]): per closed window, the row count
    * and empirical quantile estimates of `valueCol` from the k-row
    * uniform sample — fixed `k * 16` bytes of state per open window, so
    * the monitor survives any stream rate.
    *
    * The quantile readout is Column algebra over the sample array using
    * the SAME index formula as the batch face
    * ([[graft.operators.Sketches.kmvQuantiles]]'s
    * `floor((m-1) * q)` on the value-sorted sample), so stream == batch
    * == driver math exactly (the spec pins the equality). Output:
    * (window_start, n_rows, quantiles array<struct<q, value>>).
    */
  def metricSketchWindow(durationSeconds: Long, delaySeconds: Long,
                         idCol: String, valueCol: String, tsCol: String,
                         k: Int = 256, seed: String = "kmv",
                         qs: Seq[Double] = Seq(0.5, 0.9, 0.99))(df: DataFrame): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"metricSketchWindow: quantiles must be in [0, 1], got $qs")
    val agged = df.withColumn("__ts", col(tsCol).cast("timestamp"))
      .withWatermark("__ts", s"$delaySeconds seconds")
      .groupBy(window(col("__ts"), s"$durationSeconds seconds").as("__w"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.BottomK.bottomK(
          graft.functions.Text.md5Hash64(
            concat_ws("|", lit(seed), col(idCol).cast("string"))),
          col(valueCol).cast("double"), k).as("__s"))
    val vals = array_sort(transform(col("__s"), p => p.getField("value")))
    val idx = (q: Double) =>
      (floor((size(vals) - 1).cast("double") * lit(q)) + 1).cast("int")
    // A window whose sample is empty (every event had a null metric or
    // null id — both legal in the serve Event model) must read out null,
    // not crash: idx(q) = floor(-q)+1 = 0 there, and element_at(_, 0)
    // throws unconditionally ("SQL array indices start at 1").
    val quants = array(qs.map { q =>
      struct(lit(q).as("q"),
        when(size(vals) > 0, element_at(vals, idx(q)))
          .otherwise(lit(null).cast("double")).as("value"))
    }: _*)
    agged.select(Windows.windowStartNs, col("n_rows"), quants.as("quantiles"))
  }

  /** One near-dup candidate: `doc_id` collides with the earlier
    * bucket-owner `dup_of` in LSH band `band`. A document pairs once per
    * shared band — `distinct` on (doc_id, dup_of) downstream for unique
    * pairs.
    *
    * AUDIT sentinel (`band == -1`): the bucket's match budget or its
    * bounded candidate window actually SUPPRESSED a candidate this
    * micro-batch (an eviction from the bounded fold, a truncation by
    * the remaining lifetime budget, or arrivals into a bucket whose
    * budget is spent) — `doc_id` is the bucket OWNER, `dup_of` the
    * number of ARRIVALS not matched this batch (conservative: same-
    * batch re-arrivals of matched docs count too, so the value bounds
    * the suppressed-doc count from above; it is exact on re-arrival-
    * free streams). Mere re-arrivals with the cap untouched do NOT
    * fire the sentinel. One sentinel per bucket per batch with
    * suppressions, so "no near-dups" and "near-dups exempted by cap"
    * stay distinguishable in-band, exactly like the batch guard's
    * [[graft.operators.Dedup.LshAudit]]. Filter `band >= 0` for pure
    * matches.
    */
  final case class NearDupMatch(doc_id: Long, dup_of: Long, band: Long)

  /** Streaming MinHash-LSH near-dup — "dedup the crawl as it arrives":
    * every incoming document is banded exactly like the batch
    * [[graft.operators.Dedup.lshCandidates]] (same signature arithmetic,
    * same band/row split), and flagged against the EARLIEST document
    * that claimed each band bucket within the watermark horizon.
    *
    * Semantics per bucket: the first document (by event time, then id)
    * becomes the bucket owner; every later document sharing the bucket
    * emits a [[NearDupMatch]] against that owner. State per bucket is
    * one (owner, lastSeen) pair, evicted once the stream's event clock
    * passes `horizonSeconds` beyond the bucket's last activity — so
    * state is bounded by (bucket arrival rate × horizon), not corpus
    * lifetime, and a near-dup arriving after the horizon re-opens the
    * bucket silently (the documented batch/stream delta, as
    * [[dedupWithinWatermark]]).
    *
    * On a BATCH frame the identical fold runs with no watermark/timeout
    * (one group per bucket over all data): owner = global (ts, id)
    * minimum — a deterministic twin the `near_dup_stream_twin` oracle
    * gate replays in SQL, and the equality `stream == batch` is pinned
    * in StreamingSpec. Under the default cap ([[AutoMatchCap]]) a batch
    * frame additionally resolves the guard from its FULL bucket
    * histogram — the same [[graft.operators.Dedup.BucketCap.Auto]]
    * arithmetic as `lshCandidates`, replayed by the
    * `near_dup_twin_auto` oracle gate — instead of the stream's fixed
    * online cap, so organic batch corpora through the twin are exact.
    *
    * Documents with fewer than 2 tokens have no shingles and are
    * dropped, exactly like the batch explode.
    *
    * Scale: banding is map-side (k minhashes per doc, `bands` rows
    * exploded); the ONLY shuffle is the groupBy on the bucket key —
    * the same single exchange as the batch self-join, with uniform
    * hash-valued keys.
    */
  def nearDupWithinWatermark(idCol: String, textCol: String, tsCol: String,
                             horizonSeconds: Long, k: Int = 8,
                             rowsPerBand: Int = 2,
                             maxMatchesPerBucket: Int = AutoMatchCap)(df: DataFrame): Dataset[NearDupMatch] = {
    require(k % rowsPerBand == 0, s"nearDupWithinWatermark: k=$k not divisible by rowsPerBand=$rowsPerBand")
    require(horizonSeconds >= 0, s"nearDupWithinWatermark: negative horizon ($horizonSeconds s)")
    require(maxMatchesPerBucket >= 1 || maxMatchesPerBucket == AutoMatchCap,
      s"nearDupWithinWatermark: maxMatchesPerBucket must be >= 1 (or AutoMatchCap), got $maxMatchesPerBucket")
    val spark = df.sparkSession
    import spark.implicits._
    val streaming = df.isStreaming
    val base0 = df.select(col(idCol).cast("long").as("__doc"),
      col(tsCol).cast("timestamp").as("__ts"), col(textCol).as("__text"))
    val base = if (streaming) base0.withWatermark("__ts", s"$horizonSeconds seconds") else base0
    val bands = k / rowsPerBand
    val banded = graft.operators.Dedup.minhashSignature(base, "__text", k)
      .filter(size(graft.functions.Text.tokens(col("__text"))) >= 2)
      .select(col("__doc"), col("__ts"),
        explode(array((0 until bands).map { b =>
          struct(lit(b.toLong).as("band"),
            concat_ws(":", (0 until rowsPerBand).map(r =>
              element_at(col("minhash"), b * rowsPerBand + r + 1)): _*).as("sig"))
        }: _*)).as("bk"))
      // carry event time ALSO as µs-precision long: Timestamp.getTime is
      // ms-truncated, which would both mis-order sub-ms arrivals for the
      // owner tie-break and feed a truncated clock to the timeout
      .select(col("__doc"), col("__ts"), unix_micros(col("__ts")).as("us"),
        col("bk.band").as("band"), col("bk.sig").as("sig"))
      .as[(Long, java.sql.Timestamp, Long, Long, String)]
      .transform(materializeForCapResolve(streaming, maxMatchesPerBucket))
    earliestOwnerMatches(banded, streaming,
      resolveMatchCap(banded.toDF(), streaming, maxMatchesPerBucket,
        nDocsFromHist = Some(bands), "nearDupWithinWatermark"))
  }

  /** On the BATCH face under [[AutoMatchCap]] the keyed table has TWO
    * consumers — the cap-resolving bucket histogram and the owner fold —
    * so without this the whole upstream pipeline (tokenize → minhash →
    * band → explode, or winnow/sign-bucket) runs twice per call.
    * Materialize it once (guide §2.4); a true stream (no checkpointable
    * blocks) or an explicit cap (single consumer) passes through.
    */
  private def materializeForCapResolve[T](streaming: Boolean, cap: Int)(
      keyed: Dataset[T]): Dataset[T] =
    if (!streaming && cap == AutoMatchCap)
      graft.operators.Materialize.dataset(keyed)
    else keyed

  /** Default-cap sentinel for the stream-twin family: a true STREAM
    * takes the fixed online per-bucket match cap
    * ([[OnlineMatchCapDefault]] — the only cap resolvable without the
    * corpus's full bucket histogram, which an unbounded stream never
    * has); a BATCH frame, where the histogram IS available, resolves
    * [[graft.operators.Dedup.BucketCap.Auto]] against it with exactly
    * [[graft.operators.Dedup.solveBucketCap]]'s arithmetic — the same
    * guard the rest of the batch family applies, so a batch caller
    * going through the twin no longer gets a coarser (fixed-4096)
    * guard than the same corpus through `lshCandidates`: organic
    * corpora resolve to unlimited (the twin is EXACT), adversarial
    * ones to a finite bucket-size cap `c`, which maps to a per-bucket
    * match budget of `c - 1` (a kept bucket of size s emits s-1
    * matches, so buckets within the cap stay emission-identical to
    * the unguarded fold). An EXPLICIT `maxMatchesPerBucket` applies
    * verbatim in both modes.
    */
  val AutoMatchCap: Int = -1

  /** The fixed online cap a true stream falls back to under
    * [[AutoMatchCap]] (the pre-r16 default).
    */
  val OnlineMatchCapDefault: Int = 4096

  /** Resolve the per-bucket match cap for the shared state machine —
    * see [[AutoMatchCap]]. `keyed` must carry the bucket key in its
    * 4th/5th columns (the family's tuple layout). `nDocsFromHist`:
    * rows-per-doc when every doc contributes exactly that many bucket
    * rows (MinHash bands); `None` counts distinct docs (winnow, where
    * fingerprints-per-doc varies).
    */
  private def resolveMatchCap(keyed: DataFrame, streaming: Boolean,
                              maxMatchesPerBucket: Int,
                              nDocsFromHist: Option[Int],
                              what: String): Int = {
    if (maxMatchesPerBucket != AutoMatchCap) return maxMatchesPerBucket
    if (streaming) return OnlineMatchCapDefault
    val cols = keyed.columns
    val bucketKeys = Seq(col(cols(3)), col(cols(4)))
    val hist = keyed.groupBy(bucketKeys: _*).agg(count(lit(1)).as("__bs"))
      .groupBy(col("__bs")).agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    if (hist.isEmpty) return Int.MaxValue
    val nDocs = nDocsFromHist match {
      case Some(rowsPerDoc) =>
        hist.iterator.map { case (sz, n) => sz * n }.sum / math.max(1, rowsPerDoc)
      case None => keyed.select(col(cols(0))).distinct().count()
    }
    val auto = graft.operators.Dedup.BucketCap.Auto()
    val resolved = graft.operators.Dedup.solveBucketCap(
      hist, nDocs, auto.pairsPerDoc, auto.floor)
    if (resolved == Long.MaxValue) Int.MaxValue
    else {
      org.slf4j.LoggerFactory.getLogger("graft.streaming.Streaming").warn(
        s"$what (batch face): bucket histogram resolved the auto guard to " +
          s"max bucket $resolved over ${nDocs} docs — per-bucket match budget " +
          s"${resolved - 1}; over-budget arrivals surface as band == -1 sentinels")
      math.max(1L, resolved - 1L).min(Int.MaxValue.toLong).toInt
    }
  }

  /** The shared earliest-owner-per-bucket state machine behind
    * [[nearDupWithinWatermark]] and [[winnowNearDupWithinWatermark]]:
    * keyed `(doc, ts, us, bucket, sig)` rows; the first (event-time,
    * then id) arrival in a bucket owns it within the horizon, later
    * arrivals emit matches against the owner.
    *
    * THE STREAMING MEGA-BUCKET GUARD (the stream-side mirror of
    * [[graft.operators.Dedup.BucketCap]]): a degenerate signature
    * (empty pages, parked-domain boilerplate) funnels every arrival
    * into ONE bucket — unguarded, each arrival both joins an unbounded
    * per-micro-batch group materialization and emits a match forever,
    * so the output stream itself becomes the blow-up. `maxMatches`
    * bounds each bucket to that many LIFETIME match emissions
    * (count-bounded state, the only cap resolvable online: the batch
    * guard's Auto needs the corpus's full bucket histogram, which an
    * unbounded stream never has — a BATCH frame through
    * [[resolveMatchCap]] resolves that histogram instead). Within the
    * cap the kept matches are the (event-time, id)-EARLIEST arrivals —
    * deterministic, so on in-order (or re-arrival-free, batch-aligned)
    * streams the capped stream face equals the capped batch face
    * (StreamingSpec). The qualifier is load-bearing: the lifetime
    * budget is spent incrementally, so an in-horizon OUT-OF-ORDER
    * arrival in a later micro-batch (supported by the lastSeen-max
    * rule) cannot reclaim budget already spent on later-timestamp
    * matches, while the batch face picks the global (us, id)-earliest
    * N. Per-batch group memory is O(cap), never O(bucket): rows are
    * folded through a bounded heap, not `.toSeq`-materialized. When the
    * budget or the bounded window actually suppresses a candidate, the
    * suppression surfaces in-band as a `band == -1` audit sentinel (see
    * [[NearDupMatch]]) plus a WARN log. Organic buckets sit far under
    * the default, where the fold is emission-for-emission identical to
    * the unguarded r14 machine and no sentinel ever fires.
    *
    * CHECKPOINT COMPATIBILITY: r15 widened the state tuple with the
    * emitted-match count — streaming checkpoints written by the r14
    * two-field state do not restore into this machine (start a fresh
    * checkpoint dir, the standard Spark rule for state schema changes).
    */
  private def earliestOwnerMatches(
      keyed: Dataset[(Long, java.sql.Timestamp, Long, Long, String)],
      streaming: Boolean, maxMatches: Int): Dataset[NearDupMatch] = {
    val spark = keyed.sparkSession
    import spark.implicits._
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    keyed.groupByKey((r: (Long, java.sql.Timestamp, Long, Long, String)) => r._4 + ":" + r._5)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (_: String, rows: Iterator[(Long, java.sql.Timestamp, Long, Long, String)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prior = state.getOption
            val priorOwner = prior.map(_._1)
            val emittedSoFar = prior.map(_._3).getOrElse(0L)
            val remaining = math.max(0L, maxMatches.toLong - emittedSoFar)
            // bounded fold: keep the (us, id)-smallest `remaining` match
            // candidates (+1 slot for ownership resolution when no prior
            // owner), ONE ENTRY PER DOC — without the per-doc dedup, a
            // burst of same-id re-arrivals at the earliest timestamps
            // (the eventual owner included) would occupy every slot and
            // evict genuine near-dup docs below the cap. Everything else
            // is counted, never buffered — group memory is O(cap) on a
            // mega-bucket. The dedup also collapses a doc's multiple
            // same-batch arrivals to ONE match (its earliest), which the
            // family's distinct-on-(doc_id, dup_of) convention already
            // assumed downstream.
            val keep = (remaining + (if (priorOwner.isEmpty) 1L else 0L))
              .min(Int.MaxValue.toLong).toInt
            // doc -> (us, band) earliest arrival; ordered index for the
            // bounded eviction of the (us, doc)-largest entry
            val best = scala.collection.mutable.HashMap.empty[Long, (Long, Long)]
            val order = scala.collection.mutable.TreeSet.empty[(Long, Long)] // (us, doc)
            var nRows = 0L
            var ownerReArrivals = 0L // prior owner re-arriving: never a match
            var maxUs = Long.MinValue
            // did the budget/window actually SUPPRESS a candidate? The
            // sentinel fires only then — a burst of re-arrivals on a
            // bucket far under its cap must not cry "cap" (evictions
            // from the bounded window, take(remaining) truncation, and
            // arrivals into a spent budget all count; an evicted doc
            // that later re-enters with a smaller us counts once
            // spuriously — conservative, never silent)
            var suppressed = 0L
            rows.foreach { case (doc, _, us, band, _) =>
              nRows += 1
              if (us > maxUs) maxUs = us
              if (priorOwner.contains(doc)) ownerReArrivals += 1
              else if (keep > 0) {
                best.get(doc) match {
                  case Some((oldUs, _)) =>
                    if (us < oldUs) { order.remove((oldUs, doc)); best(doc) = (us, band); order.add((us, doc)) }
                  case None =>
                    best(doc) = (us, band); order.add((us, doc))
                    if (order.size > keep) {
                      val worst = order.last
                      order.remove(worst); best.remove(worst._2)
                      suppressed += 1
                    }
                }
              } else suppressed += 1
            }
            val ordered = order.toSeq.map { case (us, doc) => (us, doc, best(doc)._2) }
            val (owner, cands) = priorOwner match {
              case Some(o) => (o, ordered)
              case None    => (ordered.head._2, ordered.tail)
            }
            val windowed = cands.collect {
              case (_, doc, band) if doc != owner => NearDupMatch(doc, owner, band)
            }
            val out = windowed.take(remaining.min(Int.MaxValue.toLong).toInt)
            suppressed += windowed.size - out.size
            // exempted counts ARRIVALS (rows), not docs: dupes of matched
            // docs and everything past the bounded window count as
            // exempted — conservative, and exact on re-arrival-free
            // streams (the StreamingSpec pin)
            val nonOwnerRows = nRows - ownerReArrivals -
              (if (priorOwner.isEmpty) 1L else 0L)
            val exempted = math.max(0L, nonOwnerRows - out.size)
            // lastSeen keeps its MAX across batches: an out-of-order (older
            // but in-horizon) arrival must not pull the eviction deadline
            // backward and shorten the advertised horizon
            val lastMs = math.max(maxUs / 1000L,
              prior.map(_._2).getOrElse(Long.MinValue))
            state.update((owner, lastMs, emittedSoFar + out.size))
            if (streaming)
              state.setTimeoutTimestamp(
                math.max(lastMs + 1, state.getCurrentWatermarkMs() + 1))
            val audit =
              if (suppressed > 0 && exempted > 0) {
                org.slf4j.LoggerFactory.getLogger("graft.streaming.Streaming").warn(
                  s"near-dup bucket cap: owner=$owner exempted=$exempted arrivals " +
                    s"this batch (cap=$maxMatches, emitted=${emittedSoFar + out.size})")
                Iterator.single(NearDupMatch(owner, exempted, -1L))
              } else Iterator.empty
            out.iterator ++ audit
          }
      }
  }

  /** Winnowing twin of [[nearDupWithinWatermark]]: buckets are the MOSS
    * fingerprints ([[graft.operators.Dedup.winnowFingerprints]]'s fused
    * kernel) instead of MinHash band signatures — the LOCAL-overlap
    * near-dup detector running on the stream ("this paragraph already
    * came past within the horizon"). Same earliest-owner state machine,
    * same horizon-bounded eviction; the emitted `band` field carries
    * the shared fingerprint value. Pairs sharing many fingerprints are
    * emitted once per shared fingerprint — `dropDuplicates` downstream
    * if a distinct pair stream is wanted.
    */
  def winnowNearDupWithinWatermark(idCol: String, textCol: String, tsCol: String,
                                   horizonSeconds: Long, k: Int = 5,
                                   w: Int = 4,
                                   maxMatchesPerBucket: Int = AutoMatchCap)(df: DataFrame): Dataset[NearDupMatch] = {
    require(horizonSeconds >= 0,
      s"winnowNearDupWithinWatermark: negative horizon ($horizonSeconds s)")
    require(maxMatchesPerBucket >= 1 || maxMatchesPerBucket == AutoMatchCap,
      s"winnowNearDupWithinWatermark: maxMatchesPerBucket must be >= 1 (or AutoMatchCap), got $maxMatchesPerBucket")
    val spark = df.sparkSession
    import spark.implicits._
    val streaming = df.isStreaming
    val base0 = df.select(col(idCol).cast("long").as("__doc"),
      col(tsCol).cast("timestamp").as("__ts"), col(textCol).as("__text"))
    val base = if (streaming) base0.withWatermark("__ts", s"$horizonSeconds seconds") else base0
    val norm = regexp_replace(lower(col("__text")), "[^a-z0-9]", "")
    val keyed = base
      .select(col("__doc"), col("__ts"), unix_micros(col("__ts")).as("us"),
        explode(graft.functions.Winnow.select(norm, k, w)).as("__s"))
      .select(col("__doc"), col("__ts"), col("us"),
        col("__s.h").as("fp"), lit("").as("sig"))
      .as[(Long, java.sql.Timestamp, Long, Long, String)]
      .transform(materializeForCapResolve(streaming, maxMatchesPerBucket))
    earliestOwnerMatches(keyed, streaming,
      resolveMatchCap(keyed.toDF(), streaming, maxMatchesPerBucket,
        nDocsFromHist = None, "winnowNearDupWithinWatermark"))
  }

  /** Embedding (sign-bucket) twin of [[nearDupWithinWatermark]]: buckets
    * are the leading-dimension sign patterns
    * ([[graft.operators.Similarity.signBucket]], the batch
    * [[graft.operators.Dedup.embeddingNearDupBucketed]] key) instead of
    * MinHash band signatures — "flag re-encoded boilerplate as the
    * embeddings arrive". Same earliest-owner state machine, same
    * horizon-bounded eviction and cap/audit semantics; the emitted
    * `band` field carries the shared sign bucket. Like the batch face's
    * candidate stage this emits bucket-collision CANDIDATES, not
    * cosine-verified pairs: the state machine keeps only (owner,
    * lastSeen) per bucket, so verification is a stateless downstream
    * join of both ids' vectors plus one
    * [[graft.functions.VectorExpressions.cosineF]] filter — map-side,
    * composable, and exactly the verify the batch face applies after
    * its bucket join.
    */
  def embeddingNearDupWithinWatermark(idCol: String, vecCol: String, tsCol: String,
                                      horizonSeconds: Long, bits: Int = 16,
                                      maxMatchesPerBucket: Int = AutoMatchCap)(df: DataFrame): Dataset[NearDupMatch] = {
    require(horizonSeconds >= 0,
      s"embeddingNearDupWithinWatermark: negative horizon ($horizonSeconds s)")
    require(bits >= 1 && bits <= 62,
      s"embeddingNearDupWithinWatermark: bits in [1, 62], got $bits")
    require(maxMatchesPerBucket >= 1 || maxMatchesPerBucket == AutoMatchCap,
      s"embeddingNearDupWithinWatermark: maxMatchesPerBucket must be >= 1 (or AutoMatchCap), got $maxMatchesPerBucket")
    val spark = df.sparkSession
    import spark.implicits._
    val streaming = df.isStreaming
    val base0 = df.select(col(idCol).cast("long").as("__doc"),
      col(tsCol).cast("timestamp").as("__ts"), col(vecCol).as("__vec"))
    val base = if (streaming) base0.withWatermark("__ts", s"$horizonSeconds seconds") else base0
    val keyed = base
      .select(col("__doc"), col("__ts"), unix_micros(col("__ts")).as("us"),
        graft.operators.Similarity.signBucket(col("__vec"), bits).as("bucket"),
        lit("").as("sig"))
      .as[(Long, java.sql.Timestamp, Long, Long, String)]
      .transform(materializeForCapResolve(streaming, maxMatchesPerBucket))
    earliestOwnerMatches(keyed, streaming,
      resolveMatchCap(keyed.toDF(), streaming, maxMatchesPerBucket,
        nDocsFromHist = Some(1), "embeddingNearDupWithinWatermark"))
  }

  // --------------------------------------------------------------------
  // Stateful ops: flatMapGroupsWithState keyed by the `by` fork fields.
  // --------------------------------------------------------------------

  /** Default idle-key TTL — the reference's `(or fork-ttl 3600)`
    * (`action.clj:1592-1596`).
    */
  val DefaultForkTtlSeconds: Long = 3600

  /** Emitted by [[fixedEventWindow]]: one complete count-window per key. */
  final case class EventWindow(key: String, windowId: Long, events: Seq[Event])

  /** Project to the Event schema. `extra` columns ride along un-dropped —
    * `as[Event]` binds fields by name and tolerates surplus columns — so
    * the TTL path can carry the watermark-tagged `__ts` attribute into
    * `flatMapGroupsWithState`'s child output (Spark's analyzer requires a
    * watermarked attribute there for `EventTimeTimeout`).
    */
  private def typed(df: DataFrame,
                    extra: Seq[org.apache.spark.sql.Column] = Nil): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(Seq(
      col("host"), col("service"), col("name"), col("state"),
      col("metric"), col("time"), col("ttl"), col("description"),
      col("tags"), col("attributes"), col("eventId")) ++ extra: _*).as[Event]
  }

  /** Shared harness for the sequential per-key ops: orders each
    * micro-batch's events, applies `fold`, and — the streaming twin of the
    * reference's fork-TTL GC (`action.clj:1559-1596`: forks idle past
    * `:fork-ttl` on the event clock are cleared) — registers an
    * event-time timeout per key so the state store drops keys idle past
    * the TTL instead of accumulating state forever over high-cardinality
    * key spaces.
    *
    * Mechanics: the input gets a watermark with delay = TTL; each batch
    * re-arms the key's timeout at its last event time, so the timeout
    * fires once the stream's event clock is TTL past the key's last
    * event — the reference's `(- current-time fork-ttl) > fork.time` test
    * with the watermark as `current-time`. Because the watermark also
    * bounds lateness, an event arriving more than TTL behind the stream
    * maximum is dropped; the reference would process it against a freshly
    * recreated fork (its old fork being GC'd) — a documented edge delta,
    * same steady-state behavior. `forkTtl = None` restores unbounded
    * state (and is the path batch execution takes regardless, where the
    * fold runs once per key and state never outlives the job).
    *
    * CHECKPOINT COMPATIBILITY: switching between `forkTtl = Some(_)` and
    * `None` changes the streaming plan shape (watermark node +
    * `EventTimeTimeout` vs `NoTimeout`), so existing checkpoints written
    * under the other setting will not restart — use a fresh checkpoint
    * location when changing TTL mode.
    */
  private def statefulFlat[S, O](df: DataFrame, keys: Seq[String], forkTtl: Option[Long])(
      fold: (String, Seq[Event], Option[S]) => (Seq[O], Option[S]))(
      implicit stateEnc: org.apache.spark.sql.Encoder[S],
      outEnc: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    val spark = df.sparkSession
    import spark.implicits._
    val ttlOpt = forkTtl.filter(_ => df.isStreaming)
    val (src, timeoutConf) = ttlOpt match {
      case Some(ttl) =>
        // __ts must survive the projection: it is the only attribute
        // carrying the watermark metadata, and EventTimeTimeout requires
        // one in the child output (see typed()'s scaladoc)
        (typed(Windows.watermarked(df, ttl), Seq(col("__ts"))),
          GroupStateTimeout.EventTimeTimeout)
      case None => (typed(df), GroupStateTimeout.NoTimeout)
    }
    src.groupByKey(keyFn(keys))
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (key: String, events: Iterator[Event], state: GroupState[S]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val es = ordered(events)
            val (out, next) = fold(key, es, state.getOption)
            next match {
              case Some(s) => state.update(s)
              case None    => if (state.exists) state.remove()
            }
            if (next.isDefined && es.nonEmpty) ttlOpt.foreach { _ =>
              // fires once the watermark (= stream max - TTL) passes this
              // key's last event; must stay strictly above the current
              // watermark or Spark rejects the timestamp
              val lastMs = es.iterator.map(_.time).max / 1000000L
              state.setTimeoutTimestamp(
                math.max(lastMs + 1, state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  private def keyFn(keys: Seq[String])(e: Event): String =
    keys.map {
      case "host"    => e.host.getOrElse("")
      case "service" => e.service.getOrElse("")
      case "name"    => e.name.getOrElse("")
      case "state"   => e.state.getOrElse("")
      case other     => e.attributes.getOrElse(other, "")
    }.mkString("\u0000")

  private def ordered(events: Iterator[Event]): Seq[Event] =
    events.toSeq.sortBy(e => (e.time, e.eventId))

  /** `fixed-event-window` over a stream (`action.clj:233-262`): per-key
    * buffer of the current partial window in state; every N-th event
    * flushes a complete window.
    */
  def fixedEventWindow(n: Int, keys: Seq[String] = Nil,
                       forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[EventWindow] = {
    val spark = df.sparkSession
    import spark.implicits._
    statefulFlat[(Long, Seq[Event]), EventWindow](df, keys, forkTtl) { (key, events, st) =>
      var (nextId, buf) = st.getOrElse((0L, Seq.empty[Event]))
      val out = scala.collection.mutable.ListBuffer[EventWindow]()
      events.foreach { e =>
        buf = buf :+ e
        if (buf.size == n) {
          out += EventWindow(key, nextId, buf)
          nextId += 1
          buf = Seq.empty
        }
      }
      (out.toSeq, Some((nextId, buf)))
    }
  }

  /** Emitted by the moving windows: the triggering event plus its window
    * payload (flatten with `select("event.*", "events")` for the batch
    * twin's shape).
    */
  final case class Enriched(event: Event, events: Seq[Event])

  /** `moving-event-window` over a stream (`action.clj:1220-1246`): last-N
    * events per key held in state; every input emits its window.
    */
  def movingEventWindow(n: Int, keys: Seq[String] = Nil,
                        forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Enriched] = {
    val spark = df.sparkSession
    import spark.implicits._
    statefulFlat[Seq[Event], Enriched](df, keys, forkTtl) { (_, events, st) =>
      var buf = st.getOrElse(Seq.empty[Event])
      val out = events.map { e =>
        buf = (buf :+ e).takeRight(n)
        Enriched(e, buf)
      }
      (out, Some(buf))
    }
  }

  /** `moving-time-window` over a stream (`action.clj:2596-2639`): events of
    * the last N seconds per key held in state, pruned as the per-key event
    * clock advances; every input emits its window.
    *
    * Tie delta: the batch twin's `rangeBetween` frame also includes
    * same-timestamp events that sort AFTER the current one; this sequential
    * path (like the reference) only sees events already processed.
    */
  def movingTimeWindow(seconds: Long, keys: Seq[String] = Nil,
                       forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Enriched] = {
    val spark = df.sparkSession
    import spark.implicits._
    val spanNs = seconds * Event.NsPerSecond
    statefulFlat[Seq[Event], Enriched](df, keys, forkTtl) { (_, events, st) =>
      var buf = st.getOrElse(Seq.empty[Event])
      val out = events.map { e =>
        // batch twin frame: [t - N + 1ns, t] (rangeBetween -(N-1), 0)
        buf = (buf :+ e).filter(x => x.time > e.time - spanNs)
        Enriched(e, buf)
      }
      (out, Some(buf))
    }
  }

  /** `throttle` over a stream (`action.clj:1163-1217`): at most `count`
    * events pass per duration; the window opens at the first event and
    * re-opens at the first event past `start + duration` — same fold as
    * `Analytics.throttle`.
    */
  def throttle(count: Int, durationSeconds: Long, keys: Seq[String] = Nil,
               forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    val durNs = durationSeconds * Event.NsPerSecond
    statefulFlat[(Long, Int), Event](df, keys, forkTtl) { (_, events, st) =>
      var (start, n) = st.getOrElse((Long.MinValue, 0))
      val out = events.filter { e =>
        if (start == Long.MinValue || e.time >= start + durNs) {
          start = e.time; n = 1; true
        } else if (n >= count) false
        else { n += 1; true }
      }
      (out, Some((start, n)))
    }
  }

  /** `ewma-timeless` over a stream (`action.clj:1249-1276`):
    * m' = (1-r)*m + r*x, seeded at 0, one output per input.
    */
  def ewmaTimeless(r: Double, keys: Seq[String] = Nil,
                   forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    statefulFlat[Double, Event](df, keys, forkTtl) { (_, events, st) =>
      var m = st.getOrElse(0.0)
      val out = events.map { e =>
        e.metric match {
          case Some(x) => m = (1 - r) * m + r * x; e.copy(metric = Some(m))
          case None    => e
        }
      }
      (out, Some(m))
    }
  }

  /** `changed` over a stream (`action.clj:1329-1375`): pass only on field
    * transition vs the previous event; `init` seeds the comparison. The
    * comparison field is selected at plan time like the batch twin.
    */
  def changed(field: String, init: String, keys: Seq[String] = Nil,
              forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    val get: Event => String = field match {
      case "host"    => _.host.orNull
      case "service" => _.service.orNull
      case "name"    => _.name.orNull
      case "state"   => _.state.orNull
      case other     => _.attributes.get(other).orNull
    }
    statefulFlat[(Boolean, String), Event](df, keys, forkTtl) { (_, events, st) =>
      // state tuple carries an "initialized" flag so a legitimately-null
      // previous value is distinguishable from absent state
      var prev = st match {
        case Some((_, v)) => v
        case None         => init
      }
      val out = events.filter { e =>
        val v = get(e)
        val pass = v != prev
        prev = v
        pass
      }
      (out, Some((true, prev)))
    }
  }

  /** `ddt` / `ddt-pos` over a stream (`action.clj:1042-1083`):
    * d(metric)/d(time) vs the previous event per key; zero-dt pairs skip,
    * the first event emits nothing, `-pos` drops negative derivatives.
    */
  def ddt(keys: Seq[String] = Nil, removeNeg: Boolean = false,
          forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    statefulFlat[(Long, Double), Event](df, keys, forkTtl) { (_, events, st) =>
      var prev = st
      val out = events.flatMap { e =>
        val r = (prev, e.metric) match {
          case (Some((pt, pm)), Some(m)) if e.time != pt =>
            val d = (m - pm) / (e.time - pt)
            if (removeNeg && d < 0) None else Some(e.copy(metric = Some(d)))
          case _ => None
        }
        e.metric.foreach(m => prev = Some((e.time, m)))
        r
      }
      (out, prev)
    }
  }

  /** `above-dt`/`below-dt`/`between-dt`/`outside-dt`/`cond-dt` over a
    * stream (`action.clj:476-647`): the predicate must hold continuously
    * for more than `dt` seconds, then matching events pass until it
    * breaks. State = the start of the current holding run.
    */
  def condDt(pred: Event => Boolean, dtSeconds: Long, keys: Seq[String] = Nil,
             forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    val dtNs = dtSeconds * Event.NsPerSecond
    statefulFlat[(Boolean, Long), Event](df, keys, forkTtl) { (_, events, st) =>
      var run = st.filter(_._1).map(_._2)
      val out = events.filter { e =>
        if (pred(e)) {
          if (run.isEmpty) run = Some(e.time)
          e.time > run.get + dtNs
        } else { run = None; false }
      }
      (out, Some((run.isDefined, run.getOrElse(0L))))
    }
  }

  def aboveDt(threshold: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): Dataset[Event] =
    condDt(_.metric.exists(_ > threshold), dtSeconds, keys)(df)
  def belowDt(threshold: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): Dataset[Event] =
    condDt(_.metric.exists(_ < threshold), dtSeconds, keys)(df)
  def betweenDt(low: Double, high: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): Dataset[Event] =
    condDt(_.metric.exists(m => m > low && m < high), dtSeconds, keys)(df)
  def outsideDt(low: Double, high: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): Dataset[Event] =
    condDt(_.metric.exists(m => m < low || m > high), dtSeconds, keys)(df)

  /** `stable` over a stream (`action.clj:2053-2138`): flap damping — a run
    * of equal values buffers until it has lasted `dt` seconds, then the
    * whole buffer flushes and subsequent run events pass through; runs
    * that die early emit nothing.
    */
  def stable(dtSeconds: Long, field: String, keys: Seq[String] = Nil,
             forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    val dtNs = dtSeconds * Event.NsPerSecond
    val get: Event => String = field match {
      case "host"    => _.host.orNull
      case "service" => _.service.orNull
      case "name"    => _.name.orNull
      case "state"   => _.state.orNull
      case other     => _.attributes.get(other).orNull
    }
    final case class St(value: String, start: Long, buffer: Seq[Event], flushed: Boolean)
    statefulFlat[(String, Long, Seq[Event], Boolean), Event](df, keys, forkTtl) { (_, events, stRaw) =>
      var st = stRaw.map((St.apply _).tupled)
      val out = scala.collection.mutable.ListBuffer[Event]()
      events.foreach { e =>
        val v = get(e)
        st match {
          case Some(s) if s.value == v =>
            if (s.flushed) out += e
            else if (e.time > s.start + dtNs) {
              out ++= s.buffer :+ e
              st = Some(s.copy(buffer = Seq.empty, flushed = true))
            } else st = Some(s.copy(buffer = s.buffer :+ e))
          case _ =>
            st = Some(St(v, e.time, Seq(e), flushed = false))
        }
      }
      (out.toSeq, st.map(s => (s.value, s.start, s.buffer, s.flushed)))
    }
  }

  /** `smax` / `smin` over a stream (`action.clj:2742-2795`): running
    * extremum metric, re-emitted per input.
    */
  def smax(keys: Seq[String] = Nil,
           forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] =
    runningExtremum(df, keys, isMax = true, forkTtl)
  def smin(keys: Seq[String] = Nil,
           forkTtl: Option[Long] = Some(DefaultForkTtlSeconds))(df: DataFrame): Dataset[Event] =
    runningExtremum(df, keys, isMax = false, forkTtl)

  private def runningExtremum(df: DataFrame, keys: Seq[String], isMax: Boolean,
                              forkTtl: Option[Long]): Dataset[Event] = {
    val spark = df.sparkSession
    import spark.implicits._
    statefulFlat[Double, Event](df, keys, forkTtl) { (_, events, st) =>
      var cur = st
      val out = events.map { e =>
        e.metric match {
          case Some(x) =>
            cur = Some(cur.fold(x)(c => if (isMax) math.max(c, x) else math.min(c, x)))
            e.copy(metric = cur)
          case None => e
        }
      }
      (out, cur)
    }
  }

  /** Online ANN serving from a PERSISTED IVF-PQ index
    * ([[graft.operators.Similarity.buildIvfPqIndex]]): a `foreachBatch`
    * body answering each micro-batch of query vectors from the stored
    * codes — every batch's scan is pruned to ITS probed cells, so a
    * trickle of queries reads a sliver of the index. `handler` receives
    * the `(query_id, rank, nn_id, score)` answers per batch.
    *
    * Usage: `queries.writeStream.foreachBatch(Streaming.annServeBatch(
    * path, "vec_id", "embedding", k)(handler)).start()`. The model half
    * (centroids + codebooks) is re-read per batch — two model-sized
    * parquet reads; cache behind your own `loadIvfPqModel` if the
    * trigger rate makes that matter.
    */
  def annServeBatch(indexPath: String, idCol: String, vecCol: String,
                    k: Int, nProbe: Int = 4)(
                    handler: (org.apache.spark.sql.DataFrame, Long) => Unit): (org.apache.spark.sql.DataFrame, Long) => Unit =
    (batch, batchId) => handler(
      graft.operators.Similarity.queryIvfPqIndex(
        batch.sparkSession, indexPath, batch, idCol, vecCol, k, nProbe),
      batchId)

  /** Online sparse-retrieval serving from a PERSISTED BM25 postings
    * index ([[graft.operators.Retrieval.buildBm25Index]]) — the lexical
    * twin of [[annServeBatch]], completing the store trilogy's serving
    * faces: each micro-batch of `(query_id, text)` rows is answered
    * from the stored postings through the SAME
    * [[graft.operators.Retrieval.queryBm25Index]] plan as the batch
    * face (score-identical by construction), so every batch's postings
    * scan is pruned to the term buckets ITS queries touch (partition
    * filter on `termbucket`, parquet blooms skipping row groups inside
    * touched partitions — the pruning proof lives in RetrievalSpec and
    * applies verbatim here). `handler` receives the
    * `(query_id, rank, doc_id, score)` answers per batch.
    *
    * Usage: `queries.writeStream.foreachBatch(Streaming.bm25ServeBatch(
    * path, "query_id", "text", k)(handler)).start()`. The meta read is
    * one 1-row parquet per batch; cache upstream if the trigger rate
    * makes that matter.
    */
  def bm25ServeBatch(indexPath: String, qIdCol: String, qTextCol: String,
                     k: Int, k1: Double = 1.2, b: Double = 0.75)(
                     handler: (org.apache.spark.sql.DataFrame, Long) => Unit): (org.apache.spark.sql.DataFrame, Long) => Unit =
    (batch, batchId) => handler(
      graft.operators.Retrieval.queryBm25Index(
        batch.sparkSession, indexPath, batch, qIdCol, qTextCol, k, k1, b),
      batchId)
}
