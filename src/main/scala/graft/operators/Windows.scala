package graft.operators

import graft.conditions.Condition
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time tumbling-window aggregations (SURVEY §2.5), the session
  * window, and the collection (window-payload) aggregates (§2.6).
  *
  * The reference implements one shared `aggregation*` machine
  * (`src/clojure/mirabelle/action.clj:2387-2454`): window index =
  * `(time - start) / duration`, allowed lateness via `:delay`, pluggable
  * accumulate/finalize pairs (`action.clj:2285-2374`) — exactly Spark's
  * partial/final aggregate split. Here each window op is a single
  * `groupBy(window, keys).agg(...)`: map-side partial aggregation,
  * one shuffle on (window, keys), whole-stage codegen — the plan scales
  * linearly with input and never materializes per-window buffers except
  * for the ops that genuinely emit the window payload (`collect_list`).
  *
  * One builder serves batch and streaming frames. On a stream every
  * window op groups through [[grouped]]: `window(__ts, d)` (or
  * `session_window`) under `withWatermark(__ts, delay)`. That is the
  * reference's flush rule — a window is emitted once
  * `clock - delay >= window_end`, the watermark standing in for
  * `clock - delay` and advancing at micro-batch boundaries instead of per
  * event (documented delta, SURVEY §7.4.3). A batch frame groups all data
  * at once on the same window keys (see [[windowAgg]]). `delaySeconds` is
  * the reference's allowed lateness; batch callers leave it at 0.
  *
  * Windows are epoch-aligned and floor event time (the reference aligns
  * to the first event seen, `action.clj:2407-2417` — a single-process
  * notion that has no distributed equivalent; epoch alignment is the
  * deterministic, partition-friendly choice and is what the DuckDB oracle
  * mirrors, `Queries.winSqlOf`). Event time is a ns-long; `__ts` is its µs-precision
  * timestamp and `window_start` is projected back to ns.
  */
object Windows {

  /** `df` with the µs-precision event-time column `__ts` the watermark
    * machinery needs (event time stays a ns long everywhere else), under
    * a watermark of `delaySeconds`.
    */
  private[graft] def watermarked(df: DataFrame, delaySeconds: Long): DataFrame =
    df.withColumn("__ts", timestamp_micros(expr("time div 1000")))
      .withWatermark("__ts", s"$delaySeconds seconds")

  /** Start (ns) of the window column `__w` — the ns twin of `__w.start`. */
  private[graft] val windowStartNs: Column =
    (unix_micros(col("__w.start")) * 1000).as("window_start")

  /** The one event-time grouping: `window` (built over `__ts`) as `__w`,
    * then `keys`.
    */
  private def grouped(df: DataFrame, delaySeconds: Long, window: Column, keys: Seq[String]) =
    watermarked(df, delaySeconds).groupBy(window.as("__w") +: keys.map(col): _*)

  /** Tumbling-window aggregate: one row per (window, keys) with
    * `window_start`, the keys, then `aggs`. A stream groups on
    * `window(__ts, d)`, the key its watermark closes. A batch frame has no
    * watermark (Spark drops it at analysis), so it groups on that
    * window's start as a ns long — the same floor of µs event time to
    * `d` — without the struct key and its per-row projection, which added
    * 15% to the median ack of a served stream's push (perfbench
    * `tcp_small_frames`, 4 vCPU).
    */
  private def windowAgg(df: DataFrame, durationSeconds: Long, delaySeconds: Long,
                        keys: Seq[String])(aggs: Column*): DataFrame =
    if (df.isStreaming) {
      val out = grouped(df, delaySeconds, window(col("__ts"), s"$durationSeconds seconds"), keys)
        .agg(aggs.head, aggs.tail: _*)
      out.select(windowStartNs +: out.columns.tail.map(col): _*)
    } else {
      val us = expr("time div 1000")
      val start = (us - pmod(us, lit(durationSeconds * 1000000L))) * 1000
      df.groupBy(start.as("window_start") +: keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }

  /** Deterministic "latest event" ordering key: ties on `time` broken by
    * `eventId` (the reference keeps first-seen on ties, `math.clj:39-63`;
    * arrival order does not exist in a distributed engine, so we pin a
    * total order instead).
    */
  private val latestKey: Column = struct(col("time"), col("eventId"))

  /** Collect a window payload as an array of event structs, sorted by
    * `key` (default (time, eventId)) regardless of column order.
    */
  private[graft] def collectOrdered(cols: Seq[String], key: Column = latestKey): Column =
    transform(
      array_sort(
        collect_list(struct(key.as("__k"), struct(cols.map(col): _*).as("__e"))),
        // events may carry MapType fields (attributes), which Spark's
        // natural struct ordering rejects — compare the orderable key only
        (a, b) => keyCompare(a.getField("__k"), b.getField("__k"))),
      x => x.getField("__e"))

  private def keyCompare(x: Column, y: Column): Column =
    when(x < y, -1).when(x > y, 1).otherwise(0)

  /** `fixed-time-window` — tumbling window emitting the list of events
    * (`action.clj:2564-2594`), ordered by (time, eventId).
    */
  def fixedTimeWindow(durationSeconds: Long, keys: Seq[String] = Nil,
                      delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    windowAgg(df, durationSeconds, delaySeconds, keys)(collectOrdered(df.columns.toSeq).as("events"))

  /** `sum` — per-window sum of `metric`, payload = latest event
    * (`action.clj:2468-2490`).
    */
  def sumWindow(durationSeconds: Long, keys: Seq[String] = Nil, delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    customWindow(durationSeconds, sum(col("metric")), keys, delaySeconds)(df)

  /** `mean` — per-window mean (`action.clj:2540-2562`). */
  def meanWindow(durationSeconds: Long, keys: Seq[String] = Nil, delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    customWindow(durationSeconds, avg(col("metric")), keys, delaySeconds)(df)

  /** `rate` — count/duration per window (`action.clj:2836-2843`). */
  def rateWindow(durationSeconds: Long, keys: Seq[String] = Nil, delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    customWindow(durationSeconds, count(lit(1)).cast(DoubleType) / lit(durationSeconds.toDouble),
      keys, delaySeconds)(df)

  /** Pluggable aggregation-pair surface (SURVEY §2.9): the reference's
    * window aggregations are user-extensible accumulate/finalize pairs
    * (`keyword->aggr-fn`, `action.clj:2285-2374`); the Spark twin is "any
    * aggregation `Column`" — built-ins, `udaf()`-wrapped typed
    * [[org.apache.spark.sql.expressions.Aggregator]]s
    * (see [[graft.functions.Aggregators]]), whatever composes. The
    * aggregate lands on `metric` of the window's latest event, like every
    * built-in window op.
    */
  def customWindow(durationSeconds: Long, metricAgg: Column, keys: Seq[String] = Nil,
                   delaySeconds: Long = 0)(df: DataFrame): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    windowAgg(df, durationSeconds, delaySeconds, keys)(max_by(all, latestKey).as("base"), metricAgg.as("m"))
      .select(col("window_start"), col("base.*"), col("m"))
      .drop("metric").withColumnRenamed("m", "metric")
  }

  /** `top` / `bottom` — per-window event with the max/min metric
    * (`action.clj:2492-2538`); ties broken by (time, eventId) so the
    * result is a total function of the data.
    */
  def topWindow(durationSeconds: Long, keys: Seq[String] = Nil, delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    extremumWindow(df, durationSeconds, delaySeconds, keys, isTop = true)
  def bottomWindow(durationSeconds: Long, keys: Seq[String] = Nil, delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    extremumWindow(df, durationSeconds, delaySeconds, keys, isTop = false)

  private def extremumWindow(df: DataFrame, durationSeconds: Long, delaySeconds: Long,
                             keys: Seq[String], isTop: Boolean): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    // the reference's :max/:min folds keep the NEW event on a metric tie
    // (`action.clj:2286-2311` — strict > / < against the state), so the
    // LATEST tied event wins for top AND bottom; min_by therefore
    // negates the arrival component of the ordering
    val pick =
      if (isTop) max_by(all, struct(col("metric"), col("time"), col("eventId")))
      else min_by(all, struct(col("metric"), -col("time"), -col("eventId")))
    windowAgg(df, durationSeconds, delaySeconds, keys)(pick.as("base"))
      .select(col("window_start"), col("base.*"))
  }

  /** `ratio` — per-window ratio of events (or metric sums) matching cond1
    * vs cond2 (`action.clj:2975-3009`); Double semantics (the reference
    * yields Clojure rationals — SURVEY §7.4.5 pins Double here).
    */
  def ratioWindow(durationSeconds: Long, c1: Condition, c2: Condition,
                  useMetric: Boolean = false, keys: Seq[String] = Nil,
                  delaySeconds: Long = 0)(df: DataFrame): DataFrame = {
    def side(c: Condition): Column =
      if (useMetric) sum(when(c.column, col("metric")).otherwise(lit(0.0)))
      else sum(when(c.column, lit(1.0)).otherwise(lit(0.0)))
    // try_divide: a window where nothing matches cond2 yields a NULL
    // ratio instead of aborting the job under ANSI mode (and NULL is
    // DuckDB's x/0 result, so the oracle pins it)
    windowAgg(df, durationSeconds, delaySeconds, keys)(try_divide(side(c1), side(c2)).as("metric"))
  }

  /** `ssort` — buffer per window, emit events sorted by a field
    * (`action.clj:2641-2691`). One shuffle; the sort happens inside each
    * window's array, not as a global sort. On a stream each window's
    * events are re-emitted once the watermark closes it — the streaming
    * sort-with-lateness.
    */
  def ssort(durationSeconds: Long, field: String, keys: Seq[String] = Nil,
            emitPos: Boolean = false, delaySeconds: Long = 0)(df: DataFrame): DataFrame = {
    val sorted = windowAgg(df, durationSeconds, delaySeconds, keys)(
      collectOrdered(df.columns.toSeq, struct(col(field), col("eventId"))).as("sorted"))
    // emitPos surfaces the emission index so tests can assert the one thing
    // ssort adds over its input: the per-window emitted order.
    if (emitPos)
      sorted.select(col("window_start"), posexplode(col("sorted")).as(Seq("pos", "event")))
        .select(col("window_start"), col("pos"), col("event.*"))
    else
      sorted.select(explode(col("sorted")).as("event")).select(col("event.*"))
  }

  /** `coalesce` — every duration, emit the latest non-expired event per
    * `fields` combination (`action.clj:721-821`). Expiry clock = max event
    * time within the window (batch analog of the reference's running
    * clock).
    */
  def coalesceWindow(durationSeconds: Long, fields: Seq[String],
                     delaySeconds: Long = 0)(df: DataFrame): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    windowAgg(df, durationSeconds, delaySeconds, fields)(
      max_by(all, latestKey).as("base"), max(col("time")).as("__clock"))
      .select(col("window_start"), col("base.*"), col("__clock"))
      .filter(!Stateless.expiredPredicate(col("__clock")))
      .drop("__clock")
  }

  /** Sessionize: group events into per-key sessions separated by gaps of
    * more than `gapSeconds`, one output row per session with its start,
    * end, and event count: (keys, session_start, session_end, n_events),
    * µs-aligned ns, the session end being `last event + gap`. Spark's
    * native session window — on a stream, state per open (key, session)
    * only, merged on overlap, emitted once the watermark passes the
    * session end.
    */
  def sessionize(gapSeconds: Long, keys: Seq[String] = Nil,
                 delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    grouped(df, delaySeconds, session_window(col("__ts"), s"$gapSeconds seconds"), keys)
      .agg(count(lit(1)).as("n_events"))
      .select(keys.map(col) ++ Seq(
        (unix_micros(col("__w.start")) * 1000).as("session_start"),
        (unix_micros(col("__w.end")) * 1000).as("session_end"),
        col("n_events")): _*)

  /** `project` — latest event matching each of N conditions
    * (`action.clj:1377-1463`): one pass, N conditional max_by aggregates —
    * no self-join, no extra shuffle. On a streaming frame this same plan
    * is the continuously-updated "current state" view: run the sink in
    * update/complete mode (append mode has nothing to emit for an
    * unwindowed aggregate, and Spark rejects it with a clear error).
    */
  def project(conditions: Seq[Condition])(df: DataFrame): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    val aggs = conditions.zipWithIndex.map { case (c, i) =>
      max_by(when(c.column, all), when(c.column, latestKey)).as(s"match_$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** `percentiles` — per-window quantiles, one row per quantile with the
    * quantile echoed (`action.clj:2845-2929`). Uses the reference's exact
    * index formula `idx = min(n-1, floor(n*q))` over metric-sorted values
    * (Riemann's `sorted-sample-extract`, `math.clj:109-131`) rather than
    * interpolation, through the mergeable value-counts sketch (a
    * [[graft.functions.ExactPercentiles]] `TypedImperativeAggregate`):
    * one shuffle, the per-group state is a value→count map bounded by
    * DISTINCT metric values (monitoring metrics repeat heavily), map-side
    * partial aggregation, exact index formula at eval. For cluster-scale
    * data prefer [[percentilesApprox]].
    */
  def percentiles(durationSeconds: Long, quantiles: Seq[Double], keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val qArr = array(quantiles.map(lit): _*)
    windowAgg(df, durationSeconds, 0, keys)(graft.functions.PercentileSketch
        .exactPercentiles(col("metric").cast("double"), quantiles).as("__ms"))
      .select(col("*"), posexplode(col("__ms")).as(Seq("__qi", "metric")))
      .withColumn("quantile", element_at(qArr, col("__qi") + 1))
      .drop("__ms", "__qi")
  }

  /** The naive percentile plan — `collect_list` the window payload, sort,
    * index. Kept as the reference semantics twin for the property test;
    * [[percentiles]] computes the same values through the mergeable
    * value-counts sketch ([[graft.functions.ExactPercentiles]]) without
    * ever materializing a window's payload in one buffer.
    */
  private[graft] def percentilesNaive(durationSeconds: Long, quantiles: Seq[Double], keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val qArr = array(quantiles.map(lit): _*)
    windowAgg(df, durationSeconds, 0, keys)(array_sort(collect_list(col("metric"))).as("sorted"))
      .withColumn("quantile", explode(qArr))
      .withColumn("metric",
        expr("sorted[cast(least(size(sorted) - 1, floor(size(sorted) * quantile)) as int)]"))
      .drop("sorted")
  }

  /** Sketch-based percentiles for the 100 TB path: constant-memory
    * per-window state, mergeable across partitions.
    */
  def percentilesApprox(durationSeconds: Long, quantiles: Seq[Double], accuracy: Int = 10000,
                        keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    windowAgg(df, durationSeconds, 0, keys)(
      percentile_approx(col("metric"), array(quantiles.map(lit): _*), lit(accuracy)).as("metrics"))
      .select(col("window_start") +: keys.map(col) :+
        posexplode(col("metrics")).as(Seq("qi", "metric")): _*)

  /** `coll-increase` — counter increase over a window: newest minus oldest
    * metric, drop non-positive (counter reset) (`action.clj:2693-2740`).
    */
  def collIncrease(durationSeconds: Long, keys: Seq[String] = Nil,
                   delaySeconds: Long = 0)(df: DataFrame): DataFrame =
    windowAgg(df, durationSeconds, delaySeconds, keys)(
      (max_by(col("metric"), latestKey) - min_by(col("metric"), latestKey)).as("metric"))
      .filter(col("metric") > 0)

  // --------------------------------------------------------------------
  // §2.6 collection aggregates — higher-order functions over the window
  // payload (`events` array column produced by fixedTimeWindow). These run
  // entirely inside a row (no extra shuffle).
  // --------------------------------------------------------------------

  /** `coll-mean` (`action.clj:264-284`): mean of metrics; payload = latest
    * event. A null metric counts as 0 but still divides (`math.clj:5-14`
    * folds `(:metric %2 0)` over ALL events).
    */
  def collMean(df: DataFrame): DataFrame = collAgg(df,
    aggregate(col("events"), lit(0.0),
      (acc, e) => acc + coalesce(e.getField("metric"), lit(0.0))) / size(col("events")))

  /** `coll-sum` (`action.clj:324-343`); null metric = 0 (`math.clj:64-71`). */
  def collSum(df: DataFrame): DataFrame = collAgg(df,
    aggregate(col("events"), lit(0.0),
      (acc, e) => acc + coalesce(e.getField("metric"), lit(0.0))))

  /** `coll-count` (`action.clj:1465-1487`). */
  def collCount(df: DataFrame): DataFrame = collAgg(df, size(col("events")).cast(DoubleType))

  /** `coll-rate` — sum / (maxTime - minTime) in seconds, sum if the
    * interval is zero (`math.clj:80-106`).
    */
  def collRate(df: DataFrame): DataFrame = {
    // nil metric folds as 0, as coll-sum (the reference's rate would NPE
    // on a nil metric — undefined there; 0 keeps the family consistent)
    val sumM = aggregate(col("events"), lit(0.0),
      (acc, e) => acc + coalesce(e.getField("metric"), lit(0.0)))
    val span = (array_max(transform(col("events"), _.getField("time"))) -
      array_min(transform(col("events"), _.getField("time")))).cast(DoubleType) / lit(1e9)
    collAgg(df, when(span === 0.0, sumM).otherwise(sumM / span))
  }

  /** `coll-quotient` — first metric divided by the rest sequentially
    * (`math.clj:16-26`). The reference throws on a zero divisor —
    * viable when one event's exception kills one event, not when it
    * kills a 100 TB job — so the distributed semantics here is
    * `try_divide`: a zero divisor turns that window's quotient into
    * NULL (and NULL then absorbs the rest of the fold), which is also
    * exactly DuckDB's x/0 behavior, so the oracle pins it.
    */
  def collQuotient(df: DataFrame): DataFrame = {
    val ms = transform(col("events"), _.getField("metric"))
    collAgg(df, aggregate(slice(ms, 2, 1000000), element_at(ms, 1), (acc, x) => try_divide(acc, x)))
  }

  /** `coll-max` / `coll-min` — the extreme event itself (`math.clj:39-78`). */
  def collMax(df: DataFrame): DataFrame = collPick(df, asc = false)
  def collMin(df: DataFrame): DataFrame = collPick(df, asc = true)

  /** Columns to carry through a coll-aggregate: everything except the
    * payload itself and anything shadowed by the payload's fields (group
    * keys are also event fields — the payload's copy wins).
    */
  private def carriedCols(df: DataFrame): Seq[Column] = {
    val eventFields = df.schema("events").dataType match {
      case ArrayType(s: StructType, _) => s.fieldNames.toSet
      case _ => Set.empty[String]
    }
    df.columns.filterNot(c => c == "events" || c == "event" || eventFields(c)).map(col).toSeq
  }

  /** Null-metric events are not candidates for metric-ordered picks —
    * the reference's `extremum`/`sorted-sample` skip them explicitly
    * (`math.clj:38-56,107-119`; pinned by its own `math_test.clj`).
    */
  private def withoutNullMetric: Column =
    filter(col("events"), e => e.getField("metric").isNotNull)

  private def collPick(df: DataFrame, asc: Boolean): DataFrame = {
    // reference `extremum` reduces with >= / <= over arrival order
    // (`math.clj:38-56`): among metric-TIED events the LATEST wins, for
    // max AND min — so the pick's tie-break is eventId DESC in both
    // directions (unlike the stable sorts below)
    val sorted = array_sort(col("events"), (a, b) => {
      val (x, y) = if (asc) (a, b) else (b, a)
      when(x.getField("metric") < y.getField("metric"), -1)
        .when(x.getField("metric") > y.getField("metric"), 1)
        .when(a.getField("eventId") > b.getField("eventId"), -1)
        .when(a.getField("eventId") < b.getField("eventId"), 1)
        .otherwise(0)
    })
    val carried = carriedCols(df)
    df.withColumn("events", withoutNullMetric)
      .filter(size(col("events")) > 0) // all-null payload → no event (math.clj extremum → nil)
      .withColumn("event", element_at(sorted, 1)).drop("events")
      .select(carried :+ col("event.*"): _*)
  }

  /** Metric order with STABLE ties (arrival = eventId ascending, in both
    * directions) — the reference's `sort-by`/`sorted-sample` are stable
    * Clojure sorts, so metric-tied events keep arrival order.
    */
  private def sortedByMetric(asc: Boolean): Column =
    array_sort(col("events"), (a, b) => {
      val (x, y) = if (asc) (a, b) else (b, a)
      when(x.getField("metric") < y.getField("metric"), -1)
        .when(x.getField("metric") > y.getField("metric"), 1)
        .when(a.getField("eventId") < b.getField("eventId"), -1)
        .when(a.getField("eventId") > b.getField("eventId"), 1)
        .otherwise(0)
    })

  /** `coll-percentiles` — event-identity quantiles over the window payload
    * (`action.clj:1528-1556`, `math.clj:109-138`): events sorted by metric,
    * the event at `idx = min(n-1, floor(n*q))` is emitted once per
    * quantile, with the quantile echoed in `attributes.quantile` (string,
    * as the reference does) and as a `quantile` column.
    */
  def collPercentiles(quantiles: Seq[Double])(df: DataFrame): DataFrame = {
    val carried = carriedCols(df)
    val out = df.withColumn("events", withoutNullMetric)
      .filter(size(col("events")) > 0) // sorted-sample of no samples → '()
      .withColumn("__sorted", sortedByMetric(asc = true)).drop("events")
      .withColumn("quantile", explode(array(quantiles.map(lit): _*)))
      .withColumn("event",
        expr("__sorted[cast(least(size(__sorted) - 1, floor(size(__sorted) * quantile)) as int)]"))
      .select(carried ++ Seq(col("quantile"), col("event.*")): _*)
    if (out.columns.contains("attributes"))
      out.withColumn("attributes",
        map_concat(coalesce(col("attributes"), map()),
          map(lit("quantile"), col("quantile").cast(StringType))))
    else out
  }

  /** `coll-top` / `coll-bottom` — top/bottom N events by metric
    * (`action.clj:2007-2051`).
    */
  def collTop(n: Int)(df: DataFrame): DataFrame =
    df.withColumn("events", withoutNullMetric)
      .withColumn("events", slice(sortedByMetric(asc = false), 1, n))
  def collBottom(n: Int)(df: DataFrame): DataFrame =
    df.withColumn("events", withoutNullMetric)
      .withColumn("events", slice(sortedByMetric(asc = true), 1, n))

  /** `coll-sort` — sort the payload by a field (`action.clj:368-389`). */
  def collSort(field: String)(df: DataFrame): DataFrame =
    df.withColumn("events", array_sort(col("events"), (a, b) =>
      when(a.getField(field) < b.getField(field), -1)
        .when(a.getField(field) > b.getField(field), 1)
        .when(a.getField("eventId") < b.getField("eventId"), -1)
        .when(a.getField("eventId") > b.getField("eventId"), 1)
        .otherwise(0)))

  /** `coll-where` — filter inside the payload (`action.clj:115-137`)
    * with the full condition language (and/or nesting, nested paths like
    * `attributes.x`, regex, contains), compiled against the payload's
    * struct elements instead of top-level columns.
    */
  def collWhere(condition: Condition)(df: DataFrame): DataFrame =
    df.withColumn("events", filter(col("events"), e =>
      Condition.compileWith(condition, f =>
        f.path.tail.foldLeft(e.getField(f.path.head))((c, k) => c.getItem(k)))))

  /** Single-comparison convenience form of [[collWhere]]. */
  def collWhere(field: String, op: String, value: Any)(df: DataFrame): DataFrame =
    collWhere(Condition.parse(Seq(op, field, value)))(df)

  /** Shared shape for scalar coll-aggregates: metric := agg(payload),
    * other fields from the latest event in the payload.
    */
  private def collAgg(df: DataFrame, metricExpr: Column): DataFrame = {
    val latest = element_at(array_sort(col("events"), (a, b) =>
      when(a.getField("time") > b.getField("time"), -1)
        .when(a.getField("time") < b.getField("time"), 1)
        .when(a.getField("eventId") > b.getField("eventId"), -1)
        .when(a.getField("eventId") < b.getField("eventId"), 1)
        .otherwise(0)), 1)
    val carried = carriedCols(df)
    df.withColumn("__m", metricExpr)
      .withColumn("event", latest)
      .drop("events")
      .select(carried ++ Seq(col("event.*"), col("__m")): _*)
      .drop("metric").withColumnRenamed("__m", "metric")
  }
}
