package graft

import graft.sources.{Decode, RiemannCodec, Tables, WireCodecs}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated queries for the §2.7 source decode mappings: the events
  * table is packed into the exact nested wire shapes (Prometheus
  * remote-write / OTLP trace export) and decoded back through
  * [[graft.sources.Decode]]; the DuckDB oracle computes the expected flat
  * events directly — any drift in the label→attribute mapping, ms→ns
  * conversion or enum decode mismatches.
  */
object QueriesSources {

  /** Events packed into the ExportMetricsServiceRequest struct shape
    * [[Decode.otlpMetrics]] consumes: event_id%5 routes each event into
    * gauge / sum / histogram / exponential histogram / summary (the
    * histogram point pre-aggregates count = event_id%7+1, the
    * exponential one count = event_id%5+1, each with sum = value*count;
    * the summary point carries count = event_id%9+1 and TWO quantile
    * readouts — φ=0.5 at value and φ=0.99 at value*2 — which the decode
    * fans out to one event each), grouped into one request per service
    * (user_id%5) like the trace gates.
    */
  private def otlpMetricsRequests(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRaw(s, dir)
    def tNs = expr("(ts div 1000) * 1000")
    val attrs = array(struct(lit("eid").as("key"),
      col("event_id").cast("string").as("value")))
    val numPt = struct(tNs.as("startTimeUnixNano"), tNs.as("timeUnixNano"),
      col("value").as("asDouble"), attrs.as("attributes"))
    val histN = (pmod(col("event_id"), lit(7)) + 1).cast("long")
    val histPt = struct(tNs.as("startTimeUnixNano"), tNs.as("timeUnixNano"),
      histN.as("count"), (col("value") * histN.cast("double")).as("sum"),
      array(lit(1L), lit(2L)).as("bucketCounts"),
      array(lit(10.0)).as("explicitBounds"),
      attrs.as("attributes"))
    val expN = (pmod(col("event_id"), lit(5)) + 1).cast("long")
    val expPt = struct(tNs.as("startTimeUnixNano"), tNs.as("timeUnixNano"),
      expN.as("count"), (col("value") * expN.cast("double")).as("sum"),
      lit(3L).as("scale"), lit(0L).as("zeroCount"),
      attrs.as("attributes"))
    val sumN = (pmod(col("event_id"), lit(9)) + 1).cast("long")
    val summaryPt = struct(tNs.as("startTimeUnixNano"), tNs.as("timeUnixNano"),
      sumN.as("count"), (col("value") * sumN.cast("double")).as("sum"),
      array(
        struct(lit(0.5).as("quantile"), col("value").as("value")),
        struct(lit(0.99).as("quantile"), (col("value") * 2).as("value")))
        .as("quantileValues"),
      attrs.as("attributes"))
    val m5 = pmod(col("event_id"), lit(5))
    val metric = struct(
      concat(lit("m_"), col("event_type")).as("name"),
      lit("ms").as("unit"),
      struct(filter(array(numPt), _ => m5 === 0).as("dataPoints")).as("gauge"),
      struct(filter(array(numPt), _ => m5 === 1).as("dataPoints"),
        lit(true).as("isMonotonic")).as("sum"),
      struct(filter(array(histPt), _ => m5 === 2).as("dataPoints")).as("histogram"),
      struct(filter(array(expPt), _ => m5 === 3).as("dataPoints")).as("expHistogram"),
      struct(filter(array(summaryPt), _ => m5 === 4).as("dataPoints")).as("summary"))
    raw.select(pmod(col("user_id"), lit(5)).as("svc"), metric.as("m"))
      .groupBy("svc")
      .agg(collect_list(col("m")).as("metrics"))
      .select(array(struct(
        struct(array(struct(lit("service.name").as("key"),
          concat(lit("svc-"), col("svc").cast("string")).as("value")))
          .as("attributes")).as("resource"),
        array(struct(col("metrics"))).as("scopeMetrics"))).as("resourceMetrics"))
  }

  /** Shared oracle for both OTLP metrics gates (struct + wire): the
    * expected flat rows for all five point families, summary points
    * fanning out to one row per quantile (φ as a VARCHAR `quantile`
    * column; null for the other families).
    */
  private val otlpMetricsOracleSql: String =
    """WITH base AS (
      |  SELECT event_id AS eid, 'm_' || event_type AS name,
      |         'svc-' || CAST(user_id % 5 AS VARCHAR) AS service,
      |         (epoch_ns(ts) // 1000) * 1000 AS time,
      |         value AS v, event_id % 5 AS fam,
      |         CAST(event_id % 7 + 1 AS BIGINT) AS hn,
      |         CAST(event_id % 5 + 1 AS BIGINT) AS en,
      |         CAST(event_id % 9 + 1 AS BIGINT) AS sn
      |  FROM events),
      |rows AS (
      |  SELECT eid, name,
      |         CASE fam WHEN 0 THEN 'gauge' WHEN 1 THEN 'sum'
      |              WHEN 2 THEN 'histogram'
      |              ELSE 'exponential_histogram' END AS mtype,
      |         service, time,
      |         CASE fam WHEN 2 THEN v * CAST(hn AS DOUBLE)
      |              WHEN 3 THEN v * CAST(en AS DOUBLE) ELSE v END AS metric,
      |         CASE fam WHEN 2 THEN hn WHEN 3 THEN en
      |              ELSE CAST(1 AS BIGINT) END AS cnt,
      |         CAST(NULL AS VARCHAR) AS quantile
      |  FROM base WHERE fam <> 4
      |  UNION ALL
      |  SELECT eid, name, 'summary', service, time, v, sn, '0.5'
      |  FROM base WHERE fam = 4
      |  UNION ALL
      |  SELECT eid, name, 'summary', service, time, v * 2, sn, '0.99'
      |  FROM base WHERE fam = 4)
      |SELECT * FROM rows ORDER BY eid, coalesce(quantile, '')""".stripMargin

  /** Events packed into the ExportLogsServiceRequest struct shape
    * [[Decode.otlpLogs]] consumes: severity = event_id%27 (covering all
    * six spec ranges plus out-of-range → unspecified), body = props,
    * trace/span ids in %016x hex, observed time 5 ms after event time,
    * one request per service (user_id%5).
    */
  private def otlpLogsRequests(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRaw(s, dir)
    def tNs = expr("(ts div 1000) * 1000")
    val attrs = array(struct(lit("eid").as("key"),
      col("event_id").cast("string").as("value")))
    val sev = pmod(col("event_id"), lit(27)).cast("long")
    def hex16(c: org.apache.spark.sql.Column) = lower(lpad(hex(c), 16, "0"))
    val rec = struct(
      tNs.as("timeUnixNano"),
      (tNs + lit(5000000L)).as("observedTimeUnixNano"),
      sev.as("severityNumber"),
      concat(lit("S"), sev.cast("string")).as("severityText"),
      col("props").as("body"),
      hex16(col("user_id")).as("traceId"),
      hex16(col("event_id")).as("spanId"),
      attrs.as("attributes"))
    raw.select(pmod(col("user_id"), lit(5)).as("svc"), rec.as("r"))
      .groupBy("svc")
      .agg(collect_list(col("r")).as("logRecords"))
      .select(array(struct(
        struct(array(struct(lit("service.name").as("key"),
          concat(lit("svc-"), col("svc").cast("string")).as("value")))
          .as("attributes")).as("resource"),
        array(struct(col("logRecords"))).as("scopeLogs"))).as("resourceLogs"))
  }

  /** Shared oracle for both OTLP logs gates (struct + wire). */
  private val otlpLogsOracleSql: String =
    """SELECT event_id AS eid,
      |       (epoch_ns(ts) // 1000) * 1000 AS time,
      |       (epoch_ns(ts) // 1000) * 1000 + 5000000 AS observed_time,
      |       CAST(event_id % 27 AS BIGINT) AS severity_number,
      |       'S' || CAST(event_id % 27 AS VARCHAR) AS severity_text,
      |       CASE WHEN event_id % 27 BETWEEN 1 AND 4 THEN 'trace'
      |            WHEN event_id % 27 BETWEEN 5 AND 8 THEN 'debug'
      |            WHEN event_id % 27 BETWEEN 9 AND 12 THEN 'info'
      |            WHEN event_id % 27 BETWEEN 13 AND 16 THEN 'warn'
      |            WHEN event_id % 27 BETWEEN 17 AND 20 THEN 'error'
      |            WHEN event_id % 27 BETWEEN 21 AND 24 THEN 'fatal'
      |            ELSE 'unspecified' END AS state,
      |       props AS description,
      |       printf('%016x', user_id) AS trace_id,
      |       printf('%016x', event_id) AS span_id,
      |       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service
      |FROM events ORDER BY eid""".stripMargin

  def registerAll(register: (String, String) => (((SparkSession, String) => DataFrame) => Unit)): Unit = {

    register("prom_rw_decode",
      """SELECT 'm_' || event_type AS name, CAST(user_id AS VARCHAR) AS host,
        |       value AS metric,
        |       (epoch_ns(ts) // 1000000) * 1000000 AS time
        |FROM events ORDER BY name, host, time, metric""".stripMargin) { (s, dir) =>
      val raw = Tables.eventsRaw(s, dir)
      val series = raw
        .groupBy(col("user_id"), col("event_type"))
        .agg(collect_list(struct(
          col("value").as("value"),
          expr("ts div 1000000").as("timestamp"))).as("samples"))
        .select(col("user_id"),
          struct(
            array(
              struct(lit("__name__").as("name"),
                concat(lit("m_"), col("event_type")).as("value")),
              struct(lit("host").as("name"),
                col("user_id").cast("string").as("value"))).as("labels"),
            col("samples")).as("series"))
      val requests = series.groupBy("user_id")
        .agg(collect_list(col("series")).as("timeseries"))
      Decode.prometheusWrite(requests)
        .select(col("name"), element_at(col("attributes"), "host").as("host"),
          col("metric"), col("time"))
        .orderBy("name", "host", "time", "metric")
    }

    register("otlp_decode",
      """SELECT 't' || CAST(user_id AS VARCHAR) AS trace_id,
        |       's' || CAST(event_id AS VARCHAR) AS span_id,
        |       event_type AS name,
        |       CASE event_id % 8 WHEN 0 THEN 'unspecified' WHEN 1 THEN 'internal'
        |            WHEN 2 THEN 'server' WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
        |            WHEN 5 THEN 'consumer' ELSE 'unrecognized' END AS kind,
        |       CASE event_id % 3 WHEN 2 THEN 'error' WHEN 1 THEN 'ok'
        |            ELSE 'unset' END AS state,
        |       event_id % 3 AS status,
        |       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service,
        |       (epoch_ns(ts) // 1000) * 1000 AS start_time,
        |       (epoch_ns(ts) // 1000) * 1000 + CAST(floor(value * 1000) AS BIGINT) AS time,
        |       CAST(floor(value * 1000) AS BIGINT) AS metric
        |FROM events ORDER BY trace_id, span_id""".stripMargin) { (s, dir) =>
      val raw = Tables.eventsRaw(s, dir)
      val spans = raw.select(
        struct(
          concat(lit("t"), col("user_id").cast("string")).as("traceId"),
          concat(lit("s"), col("event_id").cast("string")).as("spanId"),
          lit("").as("parentSpanId"),
          col("event_type").as("name"),
          pmod(col("event_id"), lit(8)).cast("long").as("kind"),
          expr("(ts div 1000) * 1000").as("startTimeUnixNano"),
          (expr("(ts div 1000) * 1000") +
            floor(col("value") * 1000).cast("long")).as("endTimeUnixNano"),
          struct(pmod(col("event_id"), lit(3)).cast("long").as("code"),
            lit("msg").as("message")).as("status"),
          array(struct(lit("k").as("key"), col("props").as("value"))).as("attributes")
        ).as("span"),
        pmod(col("user_id"), lit(5)).as("svc"))
      val requests = spans.groupBy("svc")
        .agg(collect_list(col("span")).as("spans"))
        .select(array(struct(
          struct(array(struct(lit("service.name").as("key"),
            concat(lit("svc-"), col("svc").cast("string")).as("value"))).as("attributes")).as("resource"),
          array(struct(col("spans"))).as("scopeSpans"))).as("resourceSpans"))
      Decode.otlpSpans(requests)
        .select(col("trace_id"), col("span_id"), col("name"), col("kind"),
          col("state"), col("status"), col("service"), col("start_time"),
          col("time"), col("metric"))
        .orderBy("trace_id", "span_id")
    }

    // TCP Riemann protocol (§2.7 row 1): canonical events → protobuf Msg
    // payloads with 4-byte frame headers (one simulated TCP byte stream
    // per host, 50 events per Msg) → framing split + wire-format decode →
    // flat events. The oracle computes the expected events directly from
    // parquet, so a drift anywhere in the codec (varint, zigzag, fixed64,
    // field numbers, µs/ns conversion, host→attributes fold) mismatches.
    // Wire-format byte-level parity is additionally pinned by golden byte
    // fixtures in RiemannCodecSpec.
    register("riemann_decode",
      """SELECT event_id AS eid,
        |       (epoch_ns(ts) // 1000) * 1000 AS time,
        |       CAST(user_id AS VARCHAR) AS host,
        |       event_type AS service,
        |       CASE WHEN value > 150 THEN 'critical'
        |            WHEN value > 100 THEN 'warning' ELSE 'ok' END AS state,
        |       value AS metric,
        |       120.0 AS ttl,
        |       props AS description,
        |       event_type || ',u' || CAST(user_id % 10 AS VARCHAR) AS tags_str
        |FROM events ORDER BY eid""".stripMargin) { (s, dir) =>
      import s.implicits._
      // fanOut=false: the groupByKey exchange below re-partitions anyway
      val ev = Tables.events(s, dir, fanOut = false).select(
        col("eventId"), col("time"), col("host"), col("service"),
        col("state"), col("metric"), col("ttl"), col("description"), col("tags"))
      val streams = ev
        .groupByKey(_.getAs[String]("host"))
        .mapGroups { (host: String, it: Iterator[Row]) =>
          val evs = it.toSeq.sortBy(_.getAs[Long]("eventId")).map { r =>
            RiemannCodec.RiemannEvent(
              time = Some(r.getAs[Long]("time")),
              state = Some(r.getAs[String]("state")),
              service = Some(r.getAs[String]("service")),
              description = Some(r.getAs[String]("description")),
              tags = r.getSeq[String](r.fieldIndex("tags")).toList,
              ttl = Some(r.getAs[Double]("ttl").toFloat),
              metric = Some(r.getAs[Double]("metric")),
              attributes = Map("host" -> host,
                "eid" -> r.getAs[Long]("eventId").toString))
          }
          val stream = evs.grouped(50)
            .map(g => RiemannCodec.frame(RiemannCodec.encodeMsg(g, ok = Some(true))))
            .foldLeft(Array.emptyByteArray)(_ ++ _)
          (host, stream)
        }(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
        .toDF("host", "stream")
      RiemannCodec.decodeStreams(streams)
        .select(
          element_at(col("attributes"), "eid").cast("long").as("eid"),
          col("time"),
          element_at(col("attributes"), "host").as("host"),
          col("service"), col("state"), col("metric"),
          col("ttl").cast("double").as("ttl"),
          col("description"),
          array_join(col("tags"), ",").as("tags_str"))
        .orderBy("eid")
    }

    // OTLP WIRE decode (§2.7): spans → protobuf ExportTraceServiceRequest
    // payloads (one per service group) → distributed wire decode → the
    // SAME gated Column mapping (Decode.otlpSpans) as otlp_decode. Ids are
    // %016x hex (the wire carries id BYTES; the struct path carries
    // strings, so that gate uses plain strings — both mappings share the
    // downstream plan).
    register("otlp_wire_decode",
      """SELECT printf('%016x', user_id) AS trace_id,
        |       printf('%016x', event_id) AS span_id,
        |       event_type AS name,
        |       CASE event_id % 8 WHEN 0 THEN 'unspecified' WHEN 1 THEN 'internal'
        |            WHEN 2 THEN 'server' WHEN 3 THEN 'client' WHEN 4 THEN 'producer'
        |            WHEN 5 THEN 'consumer' ELSE 'unrecognized' END AS kind,
        |       CASE event_id % 3 WHEN 2 THEN 'error' WHEN 1 THEN 'ok'
        |            ELSE 'unset' END AS state,
        |       event_id % 3 AS status,
        |       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service,
        |       (epoch_ns(ts) // 1000) * 1000 AS start_time,
        |       (epoch_ns(ts) // 1000) * 1000 + CAST(floor(value * 1000) AS BIGINT) AS time,
        |       CAST(floor(value * 1000) AS BIGINT) AS metric
        |FROM events ORDER BY trace_id, span_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val payloads = Tables.eventsRaw(s, dir, fanOut = false)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("(ts div 1000) * 1000").as("start_ns"),
          floor(col("value") * 1000).cast("long").as("dur"),
          col("props"))
        .groupByKey(r => r.getAs[Long]("user_id") % 5)
        .mapGroups { (svc: Long, it: Iterator[Row]) =>
          val spans = it.toSeq.sortBy(_.getAs[Long]("event_id")).map { r =>
            val eid = r.getAs[Long]("event_id")
            WireCodecs.OtlpSpan(
              traceId = f"${r.getAs[Long]("user_id")}%016x",
              spanId = f"$eid%016x",
              parentSpanId = "",
              name = r.getAs[String]("event_type"),
              kind = eid % 8,
              startTimeUnixNano = r.getAs[Long]("start_ns"),
              endTimeUnixNano = r.getAs[Long]("start_ns") + r.getAs[Long]("dur"),
              status = WireCodecs.OtlpStatus(eid % 3, "msg"),
              attributes = Seq(WireCodecs.OtlpKV("k", r.getAs[String]("props"))))
          }
          WireCodecs.encodeOtlpTraceRequest(WireCodecs.OtlpTraceRequest(Seq(
            WireCodecs.OtlpResourceSpans(
              WireCodecs.OtlpResource(Seq(WireCodecs.OtlpKV("service.name", s"svc-$svc"))),
              Seq(WireCodecs.OtlpScopeSpans(spans))))))
        }(Encoders.BINARY)
        .toDF("payload")
      Decode.otlpSpans(WireCodecs.decodeOtlpFrames(payloads))
        .select(col("trace_id"), col("span_id"), col("name"), col("kind"),
          col("state"), col("status"), col("service"), col("start_time"),
          col("time"), col("metric"))
        .orderBy("trace_id", "span_id")
    }

    // OTLP METRICS decode (beyond-reference §2.7: the reference covers
    // metrics only via Prometheus remote-write; OTLP metrics is the
    // OpenTelemetry-SDK default). Events fan into the FIVE point
    // families by event_id%5 — gauge / sum (value points) / histogram /
    // exponential histogram (pre-aggregated count+sum) / summary (one
    // event per φ-quantile, φ landing under the `quantile` attribute) —
    // and the oracle computes the expected flat rows directly, so drift
    // in family routing, the (sum, count) reduction, the quantile
    // fan-out, or resource→service mapping mismatches.
    register("otlp_metrics_decode",
      otlpMetricsOracleSql) { (s, dir) =>
      Decode.otlpMetrics(otlpMetricsRequests(s, dir))
        .select(element_at(col("attributes"), "eid").cast("long").as("eid"),
          col("name"), col("mtype"), col("service"), col("time"),
          col("metric"), col("count").as("cnt"),
          element_at(col("attributes"), "quantile").as("quantile"))
        .orderBy(col("eid"), coalesce(col("quantile"), lit("")))
    }

    // OTLP METRICS WIRE decode: the same rows through the hand-rolled
    // ExportMetricsServiceRequest protobuf codec (encode per service
    // group → distributed byte-level decode → the SAME gated Column
    // mapping), like otlp_wire_decode for traces.
    register("otlp_metrics_wire_decode",
      otlpMetricsOracleSql) { (s, dir) =>
      import s.implicits._
      // payload grouping key is user_id % 40 (NOT % 5): 40 encode tasks
      // instead of 5, and since 5 | 40 the key still determines the
      // request's service (k % 5) — the x10 scale probe showed the
      // 5-group encode serializing (8.9x at x10 data) while the decode
      // side is per-split; this is builder parallelism, same oracle
      val payloads = Tables.eventsRaw(s, dir, fanOut = false)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("(ts div 1000) * 1000").as("t_ns"), col("value"))
        .groupByKey(r => r.getAs[Long]("user_id") % 40)
        .mapGroups { (grp: Long, it: Iterator[Row]) =>
          val svc = grp % 5
          val metrics = it.toSeq.sortBy(_.getAs[Long]("event_id")).map { r =>
            val eid = r.getAs[Long]("event_id")
            val tNs = r.getAs[Long]("t_ns")
            val v = r.getAs[Double]("value")
            val attrs = Seq(WireCodecs.OtlpKV("eid", eid.toString))
            val numPt = WireCodecs.OtlpNumPoint(tNs, tNs, v, attrs)
            val histN = eid % 7 + 1
            val histPt = WireCodecs.OtlpHistPoint(tNs, tNs, histN,
              v * histN.toDouble, Seq(1L, 2L), Seq(10.0), attrs)
            val expN = eid % 5 + 1
            val expPt = WireCodecs.OtlpExpHistPoint(tNs, tNs, expN,
              v * expN.toDouble, scale = 3L, zeroCount = 0L,
              positive = WireCodecs.OtlpExpBuckets(1L, Seq(expN)),
              negative = WireCodecs.OtlpExpBuckets(0L, Nil),
              attributes = attrs)
            val sumN = eid % 9 + 1
            val summaryPt = WireCodecs.OtlpSummaryPoint(tNs, tNs, sumN,
              v * sumN.toDouble,
              Seq(WireCodecs.OtlpQuantileValue(0.5, v),
                WireCodecs.OtlpQuantileValue(0.99, v * 2)),
              attrs)
            WireCodecs.OtlpMetric(
              name = "m_" + r.getAs[String]("event_type"), unit = "ms",
              gauge = WireCodecs.OtlpGauge(
                if (eid % 5 == 0) Seq(numPt) else Nil),
              sum = WireCodecs.OtlpSum(
                if (eid % 5 == 1) Seq(numPt) else Nil, isMonotonic = true),
              histogram = WireCodecs.OtlpHistogram(
                if (eid % 5 == 2) Seq(histPt) else Nil),
              expHistogram = WireCodecs.OtlpExpHistogram(
                if (eid % 5 == 3) Seq(expPt) else Nil),
              summary = WireCodecs.OtlpSummary(
                if (eid % 5 == 4) Seq(summaryPt) else Nil))
          }
          WireCodecs.encodeOtlpMetricsRequest(WireCodecs.OtlpMetricsRequest(Seq(
            WireCodecs.OtlpResourceMetrics(
              WireCodecs.OtlpResource(Seq(WireCodecs.OtlpKV("service.name", s"svc-$svc"))),
              Seq(WireCodecs.OtlpScopeMetrics(metrics))))))
        }(Encoders.BINARY)
        .toDF("payload")
      Decode.otlpMetrics(WireCodecs.decodeOtlpMetricFrames(payloads))
        .select(element_at(col("attributes"), "eid").cast("long").as("eid"),
          col("name"), col("mtype"), col("service"), col("time"),
          col("metric"), col("count").as("cnt"),
          element_at(col("attributes"), "quantile").as("quantile"))
        .orderBy(col("eid"), coalesce(col("quantile"), lit("")))
    }

    // OTLP LOGS decode (the third OTLP signal next to traces and
    // metrics): one event per LogRecord — severity range name as
    // `state` (the spec's six 4-wide ranges), body as description,
    // trace/span correlation ids carried through. The oracle computes
    // the expected flat rows directly, so drift in the range mapping,
    // the AnyValue body decode, or the id hex forms mismatches.
    register("otlp_logs_decode", otlpLogsOracleSql) { (s, dir) =>
      Decode.otlpLogs(otlpLogsRequests(s, dir))
        .select(element_at(col("attributes"), "eid").cast("long").as("eid"),
          col("time"), col("observed_time"), col("severity_number"),
          col("severity_text"), col("state"), col("description"),
          col("trace_id"), col("span_id"), col("service"))
        .orderBy("eid")
    }

    // OTLP LOGS WIRE decode: the same rows through the hand-rolled
    // ExportLogsServiceRequest protobuf codec (encode per group →
    // distributed byte-level decode → the SAME gated Column mapping).
    register("otlp_logs_wire_decode", otlpLogsOracleSql) { (s, dir) =>
      import s.implicits._
      val payloads = Tables.eventsRaw(s, dir, fanOut = false)
        .select(col("event_id"), col("user_id"),
          expr("(ts div 1000) * 1000").as("t_ns"), col("props"))
        .groupByKey(r => r.getAs[Long]("user_id") % 40)
        .mapGroups { (grp: Long, it: Iterator[Row]) =>
          val svc = grp % 5
          val recs = it.toSeq.sortBy(_.getAs[Long]("event_id")).map { r =>
            val eid = r.getAs[Long]("event_id")
            val tNs = r.getAs[Long]("t_ns")
            val sev = eid % 27
            WireCodecs.OtlpLogRecord(
              timeUnixNano = tNs,
              observedTimeUnixNano = tNs + 5000000L,
              severityNumber = sev,
              severityText = s"S$sev",
              body = r.getAs[String]("props"),
              traceId = f"${r.getAs[Long]("user_id")}%016x",
              spanId = f"$eid%016x",
              attributes = Seq(WireCodecs.OtlpKV("eid", eid.toString)))
          }
          WireCodecs.encodeOtlpLogsRequest(WireCodecs.OtlpLogsRequest(Seq(
            WireCodecs.OtlpResourceLogs(
              WireCodecs.OtlpResource(Seq(WireCodecs.OtlpKV("service.name", s"svc-$svc"))),
              Seq(WireCodecs.OtlpScopeLogs(recs))))))
        }(Encoders.BINARY)
        .toDF("payload")
      Decode.otlpLogs(WireCodecs.decodeOtlpLogFrames(payloads))
        .select(element_at(col("attributes"), "eid").cast("long").as("eid"),
          col("time"), col("observed_time"), col("severity_number"),
          col("severity_text"), col("state"), col("description"),
          col("trace_id"), col("span_id"), col("service"))
        .orderBy("eid")
    }

    // RSS/Atom feed discovery (crawl-frontier sibling of sitemap_urls):
    // per source, even docs publish through one RSS body and odd docs
    // through one Atom body (with a decoy rel="self" link exercising
    // the alternate-link rule); format-sniffed parse must recover every
    // entry. Oracle computes the expected rows directly.
    register("feed_urls",
      """SELECT CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS feed_type,
        |       source,
        |       'https://ex.org/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
        |       'doc ' || CAST(doc_id AS VARCHAR) AS title,
        |       'p' || CAST(doc_id AS VARCHAR) AS published,
        |       'g' || CAST(doc_id AS VARCHAR) AS entry_id
        |FROM documents ORDER BY entry_id, feed_type""".stripMargin) { (s, dir) =>
      val d = graft.sources.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("id", col("doc_id").cast("string"))
        .withColumn("url", concat(lit("https://ex.org/"), col("source"),
          lit("/"), col("id")))
      def feedBodies(even: Boolean): DataFrame = {
        val part = d.filter(pmod(col("doc_id"), lit(2)) === (if (even) 0 else 1))
        val entry =
          if (even)
            concat(lit("<item><link>"), col("url"),
              lit("</link><title>doc "), col("id"),
              lit("</title><pubDate>p"), col("id"),
              lit("</pubDate><guid>g"), col("id"), lit("</guid></item>"))
          else
            concat(lit("<entry><link rel=\"self\" href=\"https://ex.org/feed\"/>"),
              lit("<link rel=\"alternate\" href=\""), col("url"),
              lit("\"/><title>doc "), col("id"),
              lit("</title><updated>p"), col("id"),
              lit("</updated><id>g"), col("id"), lit("</id></entry>"))
        val body = part.withColumn("e", entry)
          .groupBy("source")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), "").as("es"))
        if (even)
          body.select(col("source"), concat(lit("<rss version=\"2.0\"><channel>"),
            col("es"), lit("</channel></rss>")).as("xml"))
        else
          body.select(col("source"), concat(
            lit("<feed xmlns=\"http://www.w3.org/2005/Atom\">"),
            col("es"), lit("</feed>")).as("xml"))
      }
      graft.sources.Feed.parseFeeds(
          feedBodies(even = true).unionByName(feedBodies(even = false)))
        .select(col("feed_type"), col("source"), col("url"), col("title"),
          col("published"), col("entry_id"))
        .orderBy("entry_id", "feed_type")
    }

    // Feed event time (completes the feed source into the Event model):
    // RFC-822 and RFC-3339 published strings — named zones, numeric
    // offsets, fractional seconds, plus garbage and impossible dates —
    // parse to ns or null, never throw. The oracle computes the
    // expected epoch directly from the same doc_id arithmetic, so any
    // drift in zone handling, the weekday strip, or the µs→ns scaling
    // mismatches.
    register("feed_times",
      """WITH b AS (
        |  SELECT doc_id, doc_id % 6 AS fam,
        |         CAST(doc_id % 28 + 1 AS BIGINT) AS d,
        |         CAST(doc_id % 24 AS BIGINT) AS h,
        |         CAST(doc_id % 60 AS BIGINT) AS mi
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, fam,
        |         epoch_ns(make_timestamp(2024, 3, d, h, mi, 30)) AS base
        |  FROM b)
        |SELECT doc_id,
        |       CASE fam WHEN 0 THEN base
        |            WHEN 1 THEN base - 9000000000000
        |            WHEN 2 THEN base
        |            WHEN 3 THEN base + 18000000000000 + 250000000
        |            ELSE NULL END AS time
        |FROM e ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = graft.sources.Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("fam", pmod(col("doc_id"), lit(6)))
        .withColumn("d", (pmod(col("doc_id"), lit(28)) + 1).cast("long"))
        .withColumn("hh", lpad(pmod(col("doc_id"), lit(24)).cast("string"), 2, "0"))
        .withColumn("mm", lpad(pmod(col("doc_id"), lit(60)).cast("string"), 2, "0"))
        .withColumn("dd", lpad(col("d").cast("string"), 2, "0"))
      val published = when(col("fam") === 0,
          concat(lit("Fri, "), col("d"), lit(" Mar 2024 "), col("hh"),
            lit(":"), col("mm"), lit(":30 GMT")))
        .when(col("fam") === 1,
          concat(col("d"), lit(" Mar 2024 "), col("hh"), lit(":"), col("mm"),
            lit(":30 +0230")))
        .when(col("fam") === 2,
          concat(lit("2024-03-"), col("dd"), lit("T"), col("hh"), lit(":"),
            col("mm"), lit(":30Z")))
        .when(col("fam") === 3,
          concat(lit("2024-03-"), col("dd"), lit("T"), col("hh"), lit(":"),
            col("mm"), lit(":30.250-05:00")))
        .when(col("fam") === 4, lit("not a date at all"))
        .otherwise(lit("Wed, 31 Feb 2024 10:00:00 GMT")) // impossible date
      graft.sources.Feed.withEventTime(d.withColumn("published", published))
        .select(col("doc_id"), col("time"))
        .orderBy("doc_id")
    }

    // Prometheus remote-write WIRE decode (§2.7): canonical events →
    // protobuf WriteRequest payloads (one per host, one TimeSeries per
    // event) → distributed varint-level decode → one row per sample. The
    // oracle recomputes the expected rows from parquet directly, so any
    // drift in the codec (field numbers, fixed64 doubles, ms→ns) or the
    // label→attribute fold mismatches. Byte-level parity is additionally
    // pinned by WireCodecsSpec round-trips.
    register("prom_wire_decode",
      """SELECT event_id AS eid,
        |       event_type AS name,
        |       CAST(user_id AS VARCHAR) AS host,
        |       value AS metric,
        |       (epoch_ns(ts) // 1000000) * 1000000 AS time
        |FROM events ORDER BY eid""".stripMargin) { (s, dir) =>
      import s.implicits._
      // fanOut=false: the groupByKey exchange below re-partitions anyway
      val ev = Tables.events(s, dir, fanOut = false)
        .select(col("eventId"), col("time"), col("host"), col("service"), col("metric"))
      val payloads = ev
        .groupByKey(_.getAs[String]("host"))
        .mapGroups { (host: String, it: Iterator[Row]) =>
          val series = it.toSeq.sortBy(_.getAs[Long]("eventId")).map { r =>
            WireCodecs.PromSeries(
              labels = Seq(
                WireCodecs.PromLabel("__name__", r.getAs[String]("service")),
                WireCodecs.PromLabel("host", host),
                WireCodecs.PromLabel("eid", r.getAs[Long]("eventId").toString)),
              samples = Seq(WireCodecs.PromSample(
                r.getAs[Double]("metric"), r.getAs[Long]("time") / 1000000L)))
          }
          WireCodecs.encodePromWriteRequest(WireCodecs.PromWriteRequest(series))
        }(Encoders.BINARY)
        .toDF("payload")
      WireCodecs.decodePromFrames(payloads)
        .select(
          element_at(col("attributes"), "eid").cast("long").as("eid"),
          col("name"),
          element_at(col("attributes"), "host").as("host"),
          col("metric"), col("time"))
        .orderBy("eid")
    }

    // fluentbit logs (§2.7): events shaped as fluentbit records ({date:
    // seconds, log: line}, handler.clj:89-95) and decoded back. Dates are
    // whole seconds so the s→ns conversion stays exact through doubles.
    register("fluentbit_decode",
      """SELECT event_id AS eid,
        |       (epoch_ns(ts) // 1000000000) * 1000000000 AS time,
        |       props AS description
        |FROM events ORDER BY eid""".stripMargin) { (s, dir) =>
      val logs = Tables.eventsRaw(s, dir).select(
        col("event_id").as("eid"),
        expr("ts div 1000000000").cast("double").as("date"),
        col("props").as("log"))
      Decode.fluentbit(logs)
        .select(col("eid"), col("time"), col("description"))
        .orderBy("eid")
    }

    // HTTP push API (§2.7): events serialized as the PUT body JSON
    // ({"events":[...]}, handler.clj:51-58) and decoded back.
    register("http_push_decode",
      """SELECT event_id AS eid,
        |       (epoch_ns(ts) // 1000) * 1000 AS time,
        |       CAST(user_id AS VARCHAR) AS host,
        |       event_type AS service,
        |       CASE WHEN value > 150 THEN 'critical'
        |            WHEN value > 100 THEN 'warning' ELSE 'ok' END AS state,
        |       value AS metric,
        |       120.0 AS ttl,
        |       event_type || ',u' || CAST(user_id % 10 AS VARCHAR) AS tags_str
        |FROM events ORDER BY eid""".stripMargin) { (s, dir) =>
      val bodies = Tables.events(s, dir)
        .groupBy(col("host").as("h"))
        .agg(to_json(struct(collect_list(struct(
          col("time"), col("state"), col("service"), col("host"),
          col("tags"), col("ttl"), col("metric"),
          map(lit("eid"), col("eventId").cast("string")).as("attributes")))
          .as("events"))).as("body"))
      Decode.httpEvents(bodies)
        .select(
          element_at(col("attributes"), "eid").cast("long").as("eid"),
          col("time"), col("host"), col("service"), col("state"),
          col("metric"), col("ttl"),
          array_join(col("tags"), ",").as("tags_str"))
        .orderBy("eid")
    }

    // gzip-JSONL corpus interchange round trip: documents (with a
    // deliberately hostile suffix — quote, backslash, newline, tab,
    // accented char, astral-adjacent snowman — the JSON-escaping
    // minefield) are EXPORTED as range-partitioned .json.gz shards and
    // read back schema-first; the oracle hashes the same strings
    // straight from parquet, so any writer/reader mangling (escaping,
    // charset, truncation, line splitting) breaks the md5
    register("jsonl_roundtrip",
      """SELECT doc_id,
        |       md5(text || chr(34) || chr(92) || chr(10) || chr(9)
        |           || 'caf' || chr(233) || ' ' || chr(9731)) AS h,
        |       CAST(len(text || chr(34) || chr(92) || chr(10) || chr(9)
        |           || 'caf' || chr(233) || ' ' || chr(9731)) AS BIGINT) AS n
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val hostile = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit("\"\\\n\tcaf\u00e9 \u2603")).as("text"))
      val tmp = QueriesPipeline.gateStoreDir("jsonl_rt")
      graft.sources.Jsonl.writeShards(hostile, s"$tmp/shards", "doc_id", shards = 4)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.sources.Jsonl.read(s, s"$tmp/shards", schema)
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).cast("long").as("n"))
        .orderBy("doc_id")
    }

    // CSV round trip: the same hostile-suffix contract as jsonl — every
    // doc gains an embedded delimiter, quote, newline, tab and unicode;
    // the RFC 4180 quote-escape must carry all of it back byte-exact
    register("csv_roundtrip",
      """SELECT doc_id,
        |       md5(text || chr(44) || chr(34) || chr(10) || chr(9)
        |           || 'caf' || chr(233) || ' ' || chr(9731)) AS h,
        |       CAST(len(text || chr(44) || chr(34) || chr(10) || chr(9)
        |           || 'caf' || chr(233) || ' ' || chr(9731)) AS BIGINT) AS n
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val hostile = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(",\"\n\tcafé ☃")).as("text"))
      val tmp = QueriesPipeline.gateStoreDir("csv_rt")
      graft.sources.Csv.writeShards(hostile, s"$tmp/shards", "doc_id", shards = 4)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      graft.sources.Csv.read(s, s"$tmp/shards", schema, multiLine = true)
        .select(col("doc_id"), md5(col("text")).as("h"),
          length(col("text")).cast("long").as("n"))
        .orderBy("doc_id")
    }

    // TFRecord round trip: every document framed per the public
    // TensorFlow wire format (LE length + masked-CRC32C guards) and
    // walked back through the byte-level parser — both CRCs verified on
    // the way in, so any framing drift breaks the recovery; the oracle
    // reads the same strings straight from parquet
    register("tfrecord_roundtrip",
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n,
        |       text
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val framed = Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.sources.TfRecord.frame(encode(col("text"), "UTF-8")).as("rec"))
      graft.sources.TfRecord.records(framed, "rec")
        .select(col("doc_id"),
          length(col("payload")).cast("long").as("n"),
          decode(col("payload"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }

    // Morton z-curve key: the same 64-term shift/mask interleave in both
    // engines (pure integer bit algebra — exact by construction). The
    // layout face (writeZOrdered pruning) is spec-proven in LayoutSpec;
    // this gates the curve arithmetic itself.
    locally {
      val bits = 16
      val terms = (0 until bits).flatMap(b => Seq(
        s"((((doc_id & 65535) >> $b) & 1) << ${2 * b})",
        s"((((n_chars & 65535) >> $b) & 1) << ${2 * b + 1})"))
      register("zorder_key",
        s"""SELECT doc_id, CAST(${terms.mkString(" | ")} AS BIGINT) AS z
           |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), graft.sources.Layout.zValue(Seq(
            col("doc_id").bitwiseAND(lit(65535L)),
            col("n_chars").bitwiseAND(lit(65535L))), bits).as("z"))
          .orderBy("doc_id")
      }
    }

    // Hilbert curve key: the oracle replays the per-bit rotate-fold as a
    // chained-CTE integer recurrence GENERATED FROM THE SAME step
    // emitter the Column algebra unrolls (Layout.hilbertStepSql) — the
    // two implementations cannot drift. Integer-exact.
    locally {
      val bits = 8
      val seed =
        s"""c$bits AS (SELECT doc_id,
           |  CAST(doc_id & 255 AS BIGINT) AS x,
           |  CAST(n_chars & 255 AS BIGINT) AS y,
           |  CAST(0 AS BIGINT) AS d FROM documents)""".stripMargin
      val chain = (bits - 1 to 0 by -1).map(i =>
        s"c$i AS (SELECT doc_id,\n${graft.sources.Layout.hilbertStepSql(i)}\nFROM c${i + 1})")
        .mkString(",\n")
      register("hilbert_key",
        s"""WITH $seed,
           |$chain
           |SELECT doc_id, d AS h FROM c0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"), graft.sources.Layout.hilbertValue(
            col("doc_id").bitwiseAND(lit(255L)),
            col("n_chars").bitwiseAND(lit(255L)), bits).as("h"))
          .orderBy("doc_id")
      }
    }
  }
}
