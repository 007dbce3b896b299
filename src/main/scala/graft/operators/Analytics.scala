package graft.operators

import graft.conditions.Condition
import graft.model.Event
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Order-sensitive operators (SURVEY §2.5 "stateful" rows): batch
  * implementations over analytic window functions, plus a scalable
  * per-key ordered scan for the genuinely sequential folds.
  *
  * Design for scale: every operator partitions by the `by`-keys (the
  * reference's per-key fork, `action.clj:1559-1641`) — state never crosses
  * a key boundary, so Spark distributes these as one shuffle on the keys
  * followed by a per-partition sort (external, spillable). Running them
  * keyless reproduces the reference's single-stream semantics but forces a
  * single partition — supported for parity, not the scale path.
  */
object Analytics {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val warnedKeyless = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Keyless mode reproduces the reference's single-stream semantics but
    * collapses the whole input into ONE partition — a 100×-scale footgun.
    * It stays supported for parity/small data, but never silently: one
    * loud warning per operator per JVM.
    */
  private def warnKeyless(op: String, keys: Seq[String]): Unit =
    if (keys.isEmpty && warnedKeyless.add(op))
      log.warn(s"graft: keyless '$op' collapses to a SINGLE partition — " +
        "pass grouping keys (the `by` fields) for any data that doesn't fit one executor")

  private def orderedWindow(keys: Seq[String]): WindowSpec = {
    warnKeyless("analytic-window", keys)
    val w = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    w.orderBy(col("time"), col("eventId"))
  }

  /** `ddt` / `ddt-pos` — d(metric)/d(time) between consecutive events
    * (`action.clj:1042-1083`). The reference divides by the raw ns time
    * delta; `ddt-pos` drops negative derivatives (counter resets), zero-dt
    * pairs are skipped, the first event emits nothing.
    */
  def ddt(keys: Seq[String] = Nil, removeNeg: Boolean = false)(df: DataFrame): DataFrame = {
    val w = orderedWindow(keys)
    val dm = col("metric") - lag(col("metric"), 1).over(w)
    val dt = col("time") - lag(col("time"), 1).over(w)
    val out = df.withColumn("__dm", dm).withColumn("__dt", dt)
      .filter(col("__dt").isNotNull && col("__dt") =!= 0L)
      .withColumn("metric", col("__dm") / col("__dt"))
      .drop("__dm", "__dt")
    if (removeNeg) out.filter(col("metric") >= 0) else out
  }
  def ddtPos(keys: Seq[String] = Nil)(df: DataFrame): DataFrame = ddt(keys, removeNeg = true)(df)

  /** `changed` — pass only when the field differs from the previous
    * event's value; an initial value seeds the comparison
    * (`action.clj:1329-1375`).
    */
  def changed(field: String, init: Any, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val prev = coalesce(lag(col(field), 1).over(orderedWindow(keys)), lit(init))
    df.withColumn("__prev", prev).filter(!(col(field) <=> col("__prev"))).drop("__prev")
  }

  /** `smax` / `smin` — running extremum event, re-emitted per input
    * (`action.clj:2742-2795`): metric becomes the running max/min.
    */
  def smax(keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    df.withColumn("metric",
      max(col("metric")).over(orderedWindow(keys).rowsBetween(Window.unboundedPreceding, 0)))
  def smin(keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    df.withColumn("metric",
      min(col("metric")).over(orderedWindow(keys).rowsBetween(Window.unboundedPreceding, 0)))

  /** `moving-event-window` — sliding last-N-events payload, one output per
    * input (`action.clj:1220-1246`).
    */
  def movingEventWindow(n: Int, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val w = orderedWindow(keys).rowsBetween(-(n - 1), 0)
    df.withColumn("events", collect_list(struct(df.columns.map(col): _*)).over(w))
  }

  /** `moving-time-window` — sliding last-N-seconds payload
    * (`action.clj:2596-2639`). Range frame over the ns-long time axis.
    */
  def movingTimeWindow(seconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    warnKeyless("moving-time-window", keys)
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val w = base.orderBy(col("time")).rangeBetween(-(seconds * Event.NsPerSecond - 1), 0)
    df.withColumn("events", collect_list(struct(df.columns.map(col): _*)).over(w))
  }

  /** `fixed-event-window` — count-based tumbling window of size N
    * (`action.clj:233-262`); only complete windows emit.
    */
  def fixedEventWindow(n: Int, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val rn = row_number().over(orderedWindow(keys))
    val winId = expr(s"(__rn - 1) div $n")
    df.withColumn("__rn", rn).withColumn("window_id", winId)
      .groupBy((keys.map(col) :+ col("window_id")): _*)
      .agg(Windows.collectOrdered(df.columns.toSeq).as("events"))
      .filter(size(col("events")) === n)
  }

  /** `above-dt` / `below-dt` / `between-dt` / `outside-dt` / `cond-dt` —
    * the condition must hold for more than `dt` seconds, then matching
    * events pass until it breaks (`action.clj:476-647`). Batch shape:
    * run-length groups of consecutive matching events; an event passes iff
    * `time > run_start + dt` (strict, as in the reference:
    * `(> event-time (+ time dt))`).
    */
  def condDt(condition: Condition, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val w = orderedWindow(keys)
    val ok = condition.column
    val breaks = sum(when(ok, 0).otherwise(1)).over(w.rowsBetween(Window.unboundedPreceding, 0))
    val d = df.withColumn("__ok", ok).withColumn("__grp", breaks)
    val runW = (if (keys.isEmpty) Window.partitionBy(col("__grp"))
                else Window.partitionBy((keys.map(col) :+ col("__grp")): _*))
    val runStart = min(when(col("__ok"), col("time"))).over(runW)
    d.withColumn("__start", runStart)
      .filter(col("__ok") && col("time") > col("__start") + lit(dtSeconds * Event.NsPerSecond))
      .drop("__ok", "__grp", "__start")
  }

  def aboveDt(threshold: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    condDt(Condition.Gt(Condition.Field("metric"), threshold), dtSeconds, keys)(df)
  def belowDt(threshold: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    condDt(Condition.Lt(Condition.Field("metric"), threshold), dtSeconds, keys)(df)
  def betweenDt(low: Double, high: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    condDt(Condition.And.of(
      Condition.Gt(Condition.Field("metric"), low),
      Condition.Lt(Condition.Field("metric"), high)), dtSeconds, keys)(df)
  def outsideDt(low: Double, high: Double, dtSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    condDt(Condition.Or.of(
      Condition.Lt(Condition.Field("metric"), low),
      Condition.Gt(Condition.Field("metric"), high)), dtSeconds, keys)(df)

  /** `stable` — flap damping: events pass only if the field's value stays
    * constant for at least `dt` seconds (`action.clj:2053-2138`). A run of
    * equal values either reaches `dt` (first event past `run_start+dt`
    * flushes the whole buffered run) and then every event of the run is
    * emitted, or dies early and emits nothing.
    */
  def stable(dtSeconds: Long, field: String, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val w = orderedWindow(keys)
    val flips = sum(
      when(lag(col(field), 1).over(w).isNull || !(lag(col(field), 1).over(w) <=> col(field)), 1)
        .otherwise(0)).over(w.rowsBetween(Window.unboundedPreceding, 0))
    val d = df.withColumn("__run", flips)
    val runW = (if (keys.isEmpty) Window.partitionBy(col("__run"))
                else Window.partitionBy((keys.map(col) :+ col("__run")): _*))
    d.withColumn("__start", min(col("time")).over(runW))
      .withColumn("__end", max(col("time")).over(runW))
      .filter(col("__end") > col("__start") + lit(dtSeconds * Event.NsPerSecond))
      .drop("__run", "__start", "__end")
  }

  // --------------------------------------------------------------------
  // Genuinely sequential folds: one shuffle on the keys, external sort,
  // then a linear per-partition scan — the batch twin of
  // mapGroupsWithState. O(n) state, spill-safe, no collect().
  // --------------------------------------------------------------------

  /** Per-row verdict of a [[perKeyMetricScan]] step. */
  sealed trait Emit
  object Emit {
    /** Drop the event. */
    case object Drop extends Emit
    /** Emit the event unchanged. */
    case object Keep extends Emit
    /** Emit the event with `metric` replaced. */
    final case class SetMetric(m: Double) extends Emit
  }

  /** Sequential per-key fold whose step reads only `(time, metric)` and
    * either passes, drops, or rewrites `metric` — the shape of the
    * reference's throttle/ewma family (`action.clj:1163-1276`).
    *
    * It never decodes the row into an `Event`: after the shuffle +
    * external sort it walks the Tungsten rows directly, reading the two
    * fixed-width fields and the key columns lazily. The `tags` array and
    * `attributes` map stay as undecoded bytes (unless a key names an
    * attribute), so the per-row cost is two field reads instead of a full
    * 11-column `Event` encoder round-trip.
    */
  def perKeyMetricScan[S](df: DataFrame, keys: Seq[String])(init: () => S)(
      step: (S, Long, java.lang.Double) => (S, Emit)): DataFrame = {
    warnKeyless("per-key-scan", keys)
    val spark = df.sparkSession
    val schema = df.schema
    val sortCols = keys.map(col) ++ Seq(col("time"), col("eventId"))
    val parted =
      if (keys.isEmpty) df.repartition(1).sortWithinPartitions(sortCols: _*)
      else df.repartition(keys.map(col): _*).sortWithinPartitions(sortCols: _*)
    val timeOrd = schema.fieldIndex("time")
    val metricOrd = schema.fieldIndex("metric")
    val topLevel = schema.fieldNames.toSet
    val attrOrd = if (topLevel("attributes")) schema.fieldIndex("attributes") else -1
    // Per key: Left(top-level ordinal) or Right(attribute name).
    // Attribute keys scan the map's key array in place.
    // Only string-typed top-level columns may be read via getUTF8String —
    // a numeric ordinal would read garbage bytes from the UnsafeRow, so
    // reject it at plan construction instead.
    val keyGetters: Array[Either[Int, org.apache.spark.unsafe.types.UTF8String]] =
      keys.map { k =>
        if (topLevel(k)) {
          val f = schema(k)
          if (f.dataType != org.apache.spark.sql.types.StringType)
            throw new IllegalArgumentException(
              s"per-key-scan key '$k' is a top-level ${f.dataType.simpleString} column; " +
                "only string columns (or attribute-map keys) can be grouping keys")
          Left(schema.fieldIndex(k))
        } else Right(org.apache.spark.unsafe.types.UTF8String.fromString(k))
      }.toArray

    val rdd = Bridge.toInternalRows(parted).mapPartitions { it =>
      val nk = keyGetters.length
      var cur = new Array[String](nk)
      var tmp = new Array[String](nk)
      var started = false
      var state: S = null.asInstanceOf[S]
      it.flatMap { row =>
        var changed = !started
        var i = 0
        while (i < nk) {
          val v: String = keyGetters(i) match {
            case Left(ord) =>
              if (row.isNullAt(ord)) null else row.getUTF8String(ord).toString
            case Right(name) =>
              if (attrOrd < 0 || row.isNullAt(attrOrd)) null
              else {
                val m = row.getMap(attrOrd)
                val ka = m.keyArray(); val va = m.valueArray()
                var j = 0; var found: String = null
                val n = ka.numElements()
                while (j < n && found == null) {
                  if (name == ka.getUTF8String(j))
                    found = if (va.isNullAt(j)) null else va.getUTF8String(j).toString
                  j += 1
                }
                found
              }
          }
          tmp(i) = v
          if (!changed && v != cur(i)) changed = true
          i += 1
        }
        if (changed) {
          val t = cur; cur = tmp; tmp = t
          started = true
          state = init()
        }
        val metric: java.lang.Double =
          if (row.isNullAt(metricOrd)) null else row.getDouble(metricOrd)
        val (s2, emit) = step(state, row.getLong(timeOrd), metric)
        state = s2
        emit match {
          case Emit.Keep => Iterator.single(row)
          case Emit.Drop => Iterator.empty
          case Emit.SetMetric(v) =>
            // The sorter reuses its row buffer; copy before mutating.
            val r2 = row.copy()
            r2.setDouble(metricOrd, v)
            Iterator.single(r2)
        }
      }
    }
    Bridge.fromInternalRows(spark, rdd, schema)
  }

  /** `ewma-timeless` — EWMA with ratio r, seeded at 0, one output per
    * input (`action.clj:1249-1276`): m' = (1-r)*m + r*x.
    */
  def ewmaTimeless(r: Double, keys: Seq[String] = Nil)(df: DataFrame): DataFrame =
    perKeyMetricScan(df, keys)(() => Double.box(0.0)) { (m, _, x) =>
      if (x == null) (m, Emit.Keep)
      else {
        val m2 = (1 - r) * m.doubleValue() + r * x.doubleValue()
        (Double.box(m2), Emit.SetMetric(m2))
      }
    }

  /** `throttle` — let at most N events pass per duration; the window opens
    * at the first event's time and re-opens at the first event past
    * `start + duration` (`action.clj:1163-1217`).
    */
  def throttle(count: Int, durationSeconds: Long, keys: Seq[String] = Nil)(df: DataFrame): DataFrame = {
    val durNs = durationSeconds * Event.NsPerSecond
    final case class St(var start: Long, var n: Int)
    perKeyMetricScan(df, keys)(() => St(Long.MinValue, 0)) { (s, t, _) =>
      if (s.start == Long.MinValue || t >= s.start + durNs) {
        s.start = t; s.n = 1; (s, Emit.Keep)
      } else if (s.n >= count) (s, Emit.Drop)
      else { s.n += 1; (s, Emit.Keep) }
    }
  }
}
