package graft

import graft.model.Event
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Keyless operator fixtures are exercised deliberately here; the
    // engine's own once-per-op warning stays, but Spark's per-plan
    // WindowExec "No Partition Defined" spam would drown the test log.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.classic.ExpressionColumnNode", org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** The run's one directory under the JVM temp dir; a shutdown hook
    * deletes it with everything below it.
    */
  private lazy val tempRoot: Path = {
    val root = Files.createTempDirectory("graft-test-")
    sys.addShutdownHook {
      val walk = Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
    root
  }

  /** A fresh directory for one test's files, below the run's temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(tempRoot, prefix)

  /** Literal event fixtures, reference-test style
    * (`test/mirabelle/action_test.clj`): sparse maps with metric/time/etc.
    */
  def events(rows: Event*): DataFrame = {
    val s = spark
    import s.implicits._
    s.createDataset(rows).toDF()
  }

  def ev(metric: Double, timeNs: Long, host: String = "h1", service: String = "s1",
         state: String = "ok", id: Long = -1, tags: Seq[String] = Nil,
         attributes: Map[String, String] = Map.empty): Event =
    Event(Some(host), Some(service), None, Some(state), Some(metric),
      timeNs, Some(120.0), None, tags, attributes,
      if (id >= 0) id else timeNs)

  val S: Long = Event.NsPerSecond
}
