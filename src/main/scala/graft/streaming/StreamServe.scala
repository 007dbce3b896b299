package graft.streaming

import graft.operators.Windows
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Config-declared long-running Structured Streaming queries — the serve
  * path that proves the streaming plans end-to-end OUTSIDE tests: a
  * `:streaming {:queries [...]}` section in the main `config.edn` boots
  * `readStream → TTL'd stateful op → writeStream` with a checkpoint, so a
  * crashed/restarted server resumes per-key state instead of reseeding
  * (exactly the reference's always-on daemon behavior, re-expressed as
  * Structured Streaming recovery).
  *
  * EDN shape (all keywords become plain strings through [[graft.ir.Edn]]):
  * {{{
  * :streaming {:queries [{:name   "ewma-hosts"
  *                        :source {:type "file" :path "in/" :format "json"}
  *                        :op     {:action "ewma" :r 0.5 :keys ["host"]}
  *                        :sink   {:path "out/" :checkpoint "ck/"
  *                                 :format "json"}}]}
  * }}}
  *
  * Sources: `file` (a directory of Event-schema json/parquet files — new
  * files are discovered per micro-batch, the standard landing-zone
  * pattern) and `rate` (the built-in rate source mapped onto synthetic
  * events; smoke/load use). Sinks: `json` or `parquet` directory with a
  * MANDATORY checkpoint — an unset checkpoint location would silently
  * restart from scratch, which is precisely the failure mode this path
  * exists to rule out.
  *
  * Ops cover one representative of each streaming family: `ewma`,
  * `changed`, `throttle` (TTL'd via [[Streaming]]'s eviction harness),
  * `dedup`, and the windowed aggregates `sum-window` / `mean-window` /
  * `rate-window` / `fixed-time-window` ([[graft.operators.Windows]], the
  * builders the batch path calls).
  */
object StreamServe {

  final case class QuerySpec(
      name: String,
      source: Map[String, Any],
      op: Map[String, Any],
      sink: Map[String, Any])

  /** Parse the `:streaming` section of a parsed config root; unknown or
    * malformed queries become warnings, never silent drops.
    */
  def parse(root: Map[String, Any]): (Seq[QuerySpec], Seq[String]) = {
    val warnings = Seq.newBuilder[String]
    val specs = Seq.newBuilder[QuerySpec]
    root.get("streaming") match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].get("queries") match {
          case Some(qs: Seq[_]) =>
            qs.zipWithIndex.foreach {
              case (q: Map[_, _], i) =>
                val qm = q.asInstanceOf[Map[String, Any]]
                def sec(k: String): Option[Map[String, Any]] = qm.get(k) match {
                  case Some(s: Map[_, _]) => Some(s.asInstanceOf[Map[String, Any]])
                  case _                  => None
                }
                (sec("source"), sec("op"), sec("sink")) match {
                  case (Some(src), Some(op), Some(snk)) =>
                    specs += QuerySpec(
                      qm.get("name").map(_.toString).getOrElse(s"stream-$i"), src, op, snk)
                  case _ =>
                    warnings += s"streaming query #$i needs :source, :op and :sink maps; skipped"
                }
              case (other, i) =>
                warnings += s"streaming query #$i: expected a map, got $other; skipped"
            }
          case Some(other) =>
            warnings += s"streaming :queries must be a vector, got $other"
          case None => warnings += "streaming section without :queries"
        }
      case Some(other) => warnings += s"streaming section must be a map, got $other"
      case None        =>
    }
    (specs.result(), warnings.result())
  }

  private def str(m: Map[String, Any], k: String, what: String): String =
    m.getOrElse(k, throw new IllegalArgumentException(s"$what needs :$k")).toString
  private def num(m: Map[String, Any], k: String, default: Double): Double =
    m.get(k).map(_.asInstanceOf[Number].doubleValue()).getOrElse(default)
  private def keys(m: Map[String, Any]): Seq[String] = m.get("keys") match {
    case Some(xs: Seq[_]) => xs.map(_.toString)
    case _                => Nil
  }

  /** Streaming source frame in the canonical Event schema. */
  def source(spark: SparkSession, src: Map[String, Any]): DataFrame =
    str(src, "type", "streaming source") match {
      case "file" =>
        val path = str(src, "path", "file source")
        val reader = spark.readStream.schema(graft.model.Event.schema)
          // bound per-micro-batch work on a busy landing zone
          .option("maxFilesPerTrigger",
            src.get("max-files-per-trigger").map(_.toString).getOrElse("100"))
        src.get("format").map(_.toString).getOrElse("json") match {
          case "json"    => reader.json(path)
          case "parquet" => reader.parquet(path)
          case other => throw new IllegalArgumentException(
            s"file source format must be json|parquet, got '$other'")
        }
      case "rate" =>
        val hosts = num(src, "hosts", 4).toInt
        spark.readStream.format("rate")
          .option("rowsPerSecond", num(src, "rows-per-second", 10).toInt.toString)
          .load()
          .select(
            concat(lit("h"), pmod(col("value"), lit(hosts))).as("host"),
            lit("rate").as("service"), lit("rate").as("name"),
            lit("ok").as("state"),
            col("value").cast("double").as("metric"),
            (unix_micros(col("timestamp")) * 1000).as("time"),
            lit(graft.model.Event.DefaultTtlSeconds).as("ttl"),
            lit(null).cast("string").as("description"),
            array().cast("array<string>").as("tags"),
            map().cast("map<string,string>").as("attributes"),
            col("value").as("eventId"))
      case other =>
        throw new IllegalArgumentException(s"streaming source type must be file|rate, got '$other'")
    }

  /** Op dispatch — one representative per streaming family, every
    * stateful one on the TTL'd eviction harness.
    */
  def transform(op: Map[String, Any]): DataFrame => DataFrame = {
    val action = str(op, "action", "streaming op")
    action match {
      case "ewma" =>
        df => Streaming.ewmaTimeless(num(op, "r", 0.5), keys(op))(df).toDF()
      case "changed" =>
        df => Streaming.changed(str(op, "field", "changed op"),
          str(op, "init", "changed op"), keys(op))(df).toDF()
      case "throttle" =>
        df => Streaming.throttle(num(op, "count", 1).toInt,
          num(op, "seconds", 60).toLong, keys(op))(df).toDF()
      case "stable" =>
        // buffer-state representative: runs of equal field values hold
        // until they last `seconds`, then flush whole — restart must
        // resume a half-buffered run from the checkpoint
        df => Streaming.stable(num(op, "seconds", 60).toLong,
          str(op, "field", "stable op"), keys(op))(df).toDF()
      case "dedup" =>
        df => Streaming.dedupWithinWatermark(
          keys(op) match { case Nil => Seq("host", "service"); case ks => ks },
          num(op, "delay-seconds", 60).toLong)(df)
      case "sum-window" =>
        Windows.sumWindow(num(op, "seconds", 60).toLong, keys(op),
          num(op, "delay-seconds", 60).toLong)
      case "mean-window" =>
        Windows.meanWindow(num(op, "seconds", 60).toLong, keys(op),
          num(op, "delay-seconds", 60).toLong)
      case "rate-window" =>
        Windows.rateWindow(num(op, "seconds", 60).toLong, keys(op),
          num(op, "delay-seconds", 60).toLong)
      case "fixed-time-window" =>
        Windows.fixedTimeWindow(num(op, "seconds", 60).toLong, keys(op),
          num(op, "delay-seconds", 60).toLong)
      case "metric-quantiles" =>
        // KMV quantile monitor over the event stream: k*16 bytes of state
        // per open window regardless of rate (ns event time -> timestamp
        // derived here; the monitor's cast is then a no-op)
        df => Streaming.metricSketchWindow(num(op, "seconds", 60).toLong,
          num(op, "delay-seconds", 60).toLong, "eventId", "metric", "__evt_ts",
          k = num(op, "k", 256).toInt,
          qs = op.get("qs") match {
            case Some(s: Seq[_]) => s.map(x => x.asInstanceOf[Number].doubleValue())
            case _               => Seq(0.5, 0.9, 0.99)
          })(df.withColumn("__evt_ts",
            timestamp_micros(expr("time div 1000"))))
      case other => throw new IllegalArgumentException(
        s"streaming op '$other' not supported (ewma|changed|throttle|stable|dedup|" +
          "sum-window|mean-window|rate-window|fixed-time-window|metric-quantiles)")
    }
  }

  /** Boot one query: source → op → checkpointed file sink. Restarting with
    * the same checkpoint resumes state and source offsets.
    */
  def start(spark: SparkSession, q: QuerySpec): StreamingQuery = {
    val out = transform(q.op)(source(spark, q.source))
    val sinkPath = str(q.sink, "path", s"streaming sink of '${q.name}'")
    val ck = str(q.sink, "checkpoint", s"streaming sink of '${q.name}'")
    out.writeStream
      .queryName(s"graft-${q.name}")
      .format(q.sink.get("format").map(_.toString).getOrElse("json"))
      .option("path", sinkPath)
      .option("checkpointLocation", ck)
      .outputMode("append")
      .start()
  }
}
