package graft.model

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The engine's single data abstraction: a monitoring event.
  *
  * Mirrors the reference's free-schema event map (mirabelle
  * `site/mirabelle/content/howto/stream/_index.md:44-57`): every field is
  * optional, arbitrary dimensions live in `attributes`. Event time is a
  * `Long` in **nanoseconds** since epoch, exactly like the reference
  * (`src/clojure/mirabelle/time.clj:3-6`) — Spark's µs `TimestampType` is
  * derived only where the streaming runtime needs it (watermarks).
  *
  * `ttl` is in seconds, default 120 (`src/clojure/mirabelle/time.clj:8`).
  */
case class Event(
    host: Option[String],
    service: Option[String],
    name: Option[String],
    state: Option[String],
    metric: Option[Double],
    time: Long,
    ttl: Option[Double],
    description: Option[String],
    tags: Seq[String],
    attributes: Map[String, String],
    eventId: Long
)

object Event {
  /** Nanoseconds per second — all DSL durations (seconds) convert to ns at
    * plan-build time, as the reference does in its compiler
    * (`src/clojure/mirabelle/action.clj:35-40`).
    */
  val NsPerSecond: Long = 1000000000L

  def secondsToNs(s: Double): Long = (s * NsPerSecond).toLong

  /** Default TTL in seconds (`src/clojure/mirabelle/time.clj:8`). */
  val DefaultTtlSeconds: Double = 120.0

  /** Canonical wide schema (SURVEY §1.3): fixed typed core + free tail. */
  val schema: StructType = StructType(Seq(
    StructField("host", StringType),
    StructField("service", StringType),
    StructField("name", StringType),
    StructField("state", StringType),
    StructField("metric", DoubleType),
    StructField("time", LongType, nullable = false),
    StructField("ttl", DoubleType),
    StructField("description", StringType),
    StructField("tags", ArrayType(StringType)),
    StructField("attributes", MapType(StringType, StringType)),
    StructField("eventId", LongType, nullable = false)
  ))

  /** Events as a frame over [[schema]], with rows converted straight to
    * the schema (no encoder derived per call): the plan is a bare
    * `LocalRelation`, equal in schema and rows to
    * `spark.createDataset(events).toDF()`. The serving path builds every
    * pushed frame with it.
    */
  def frame(spark: SparkSession, events: Seq[Event]): DataFrame =
    spark.createDataFrame(events.map(toRow).asJava, schema)

  private def toRow(e: Event): Row =
    Row(e.host.orNull, e.service.orNull, e.name.orNull, e.state.orNull,
      e.metric.map(Double.box).orNull, e.time, e.ttl.map(Double.box).orNull,
      e.description.orNull, e.tags, e.attributes, e.eventId)
}
