package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The crash law of the shared store protocol: a crash after any step
  * of [[BucketedStore.swap]] leaves a state that
  * [[BucketedStore.recover]] turns into exactly one complete live image
  * (the old one before the rename in, the new one after it), and a
  * second recover changes nothing. The four stores' own specs pin the
  * same law through their public entry points.
  */
class BucketedStoreSpec extends AnyFunSuite {
  import TestSpark.spark

  private val dirs = BucketedStore.Dirs("live", "live_compact_tmp")
  private val oldIds = (0L until 10L).toSet
  private val newIds = (100L until 110L).toSet

  private final class Crash extends RuntimeException("simulated crash")

  private def image(ids: Set[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toSeq.toDF("id").selectExpr("id", "id % 4 AS bucket")
  }

  private def writeImage(ids: Set[Long], dir: String): Unit =
    BucketedStore.write(image(ids), dir, "bucket", Some("id"), 4, "overwrite")

  /** A store root holding the old live image and a delta dir. */
  private def store(): String = {
    val root = java.nio.file.Files.createTempDirectory("bucketed_store").toString
    writeImage(oldIds, s"$root/live")
    writeImage(Set(5L), s"$root/delta")
    root
  }

  private def listing(root: String): Set[String] =
    new java.io.File(root).list().toSet

  private def liveIds(root: String): Set[Long] =
    spark.read.parquet(s"$root/live").select("id").collect().map(_.getLong(0)).toSet

  private def rmrf(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
      .toSeq.reverse.foreach(f => java.nio.file.Files.deleteIfExists(f))
  }

  /** Recover twice; both times the root holds `files` and live holds `ids`. */
  private def assertRecovers(root: String, files: Set[String], ids: Set[Long]): Unit =
    (1 to 2).foreach { _ =>
      BucketedStore.recover(spark, root, dirs)
      assert(listing(root) == files)
      assert(liveIds(root) == ids)
    }

  private def swapNew(root: String)(afterSwap: => Unit): Unit =
    BucketedStore.swap(spark, root, dirs)(tmp => writeImage(newIds, tmp))(afterSwap)

  test("a completed swap leaves only the new image") {
    val root = store()
    try {
      swapNew(root)(BucketedStore.delete(spark, s"$root/delta"))
      assert(listing(root) == Set("live"))
      assertRecovers(root, Set("live"), newIds)
    } finally rmrf(root)
  }

  test("crash after the stage: live untouched, the stage is swept") {
    val root = store()
    try {
      intercept[Crash] {
        BucketedStore.swap(spark, root, dirs) { tmp =>
          writeImage(newIds, tmp)
          throw new Crash
        }(fail("afterSwap must not run"))
      }
      assert(listing(root) == Set("live", "delta", "live_compact_tmp"))
      assert(liveIds(root) == oldIds)
      assertRecovers(root, Set("live", "delta"), oldIds)
    } finally rmrf(root)
  }

  test("crash after the rename aside: the old image is renamed back") {
    val root = store()
    try {
      // the first two steps of swap, then the crash
      writeImage(newIds, s"$root/live_compact_tmp")
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$root/live"),
        java.nio.file.Paths.get(s"$root/live_old"))
      assertRecovers(root, Set("live", "delta"), oldIds)
    } finally rmrf(root)
  }

  test("crash after the rename in, before afterSwap: the new image stays, old is swept") {
    val root = store()
    try {
      intercept[Crash](swapNew(root)(throw new Crash))
      assert(listing(root) == Set("live", "live_old", "delta"))
      assertRecovers(root, Set("live", "delta"), newIds)
    } finally rmrf(root)
  }

  test("crash before the delete of old: the new image stays, old is swept") {
    val root = store()
    try {
      intercept[Crash](swapNew(root) {
        BucketedStore.delete(spark, s"$root/delta")
        throw new Crash
      })
      assert(listing(root) == Set("live", "live_old"))
      assertRecovers(root, Set("live"), newIds)
    } finally rmrf(root)
  }
}
