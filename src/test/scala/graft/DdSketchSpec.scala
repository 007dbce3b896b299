package graft

import graft.operators.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DDSketch laws (Masson, Rim & Lee, VLDB 2019): the published
  * relative-error guarantee against exact rank quantiles, the merge
  * law (shard sketches re-summed == whole-corpus sketch), partitioning
  * invariance (deterministic buckets — the trade vs randomized KLL),
  * bounded bucket count, and totality over zeros / negatives / nulls.
  * The oracle gate `dd_quantiles` replays the same fold in DuckDB.
  */
class DdSketchSpec extends AnyFunSuite {
  import TestSpark.spark

  private val Gamma = 1.02
  private val Alpha = (Gamma - 1) / (Gamma + 1)

  private def df(xs: Seq[Double]) = {
    val s = spark
    import s.implicits._
    xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
  }

  // log-spaced positives over 6 decades plus a linear band — the shape
  // a latency/metric column actually has
  private val values: Seq[Double] =
    (0 until 2000).map(i => math.exp(i % 137 * 0.1) * (1.0 + i % 7 * 0.003)) ++
      (1 to 500).map(_ * 3.7)

  test("quantile estimates obey the relative-error bound alpha = (g-1)/(g+1)") {
    val qs = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)
    val got = Sketches.ddQuantiles(df(values), "v", Gamma, qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got.size == qs.size)
    val sorted = values.sorted
    qs.foreach { q =>
      val want = sorted(math.floor(q * (sorted.length - 1)).toInt)
      val rel = math.abs(got(q) - want) / want
      assert(rel <= Alpha + 1e-5, s"q=$q est=${got(q)} true=$want rel=$rel")
    }
  }

  test("merge law: unioned shard sketches re-summed == whole-corpus sketch") {
    val (a, b) = values.splitAt(700)
    val merged = Sketches.ddBuckets(df(a), "v", Gamma)
      .unionByName(Sketches.ddBuckets(df(b), "v", Gamma))
      .groupBy("sign", "idx").agg(sum("cnt").as("cnt"))
    val whole = Sketches.ddBuckets(df(values), "v", Gamma)
    val m = merged.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val w = whole.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m == w)
    // and the served quantiles are identical through either face
    val qs = Seq(0.5, 0.95)
    val viaMerged = Sketches.ddQuantilesOf(merged, Gamma, qs).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    val viaWhole = Sketches.ddQuantiles(df(values), "v", Gamma, qs).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    assert(viaMerged == viaWhole)
  }

  test("buckets are partitioning-invariant and bounded") {
    val one = Sketches.ddBuckets(df(values).repartition(1), "v", Gamma).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val many = Sketches.ddBuckets(df(values).repartition(13), "v", Gamma).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(one == many)
    // 2500 rows over ~6 decades collapse to O(log range / log gamma)
    // buckets — the bounded-state point of the sketch
    val bound = (math.log(values.max / values.min) / math.log(Gamma)).toInt + 2
    assert(one.length <= bound, s"${one.length} buckets > bound $bound")
    assert(one.map(_._3).sum == values.length)
  }

  test("total on zeros, negatives and nulls; sign ordering holds") {
    val s = spark
    import s.implicits._
    val mixed = Seq[(Long, Option[Double])](
      (0L, Some(-100.0)), (1L, Some(-0.5)), (2L, Some(0.0)), (3L, None),
      (4L, Some(0.25)), (5L, Some(8.0)), (6L, Some(8.0))).toDF("id", "v")
    val buckets = Sketches.ddBuckets(mixed, "v", Gamma)
    // null dropped: 6 counted values
    assert(buckets.agg(sum("cnt")).head.getLong(0) == 6L)
    val qs = Sketches.ddQuantiles(mixed, "v", Gamma, Seq(0.0, 0.4, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    // q=0 -> most negative bucket; q=0.4 (rank 3) -> the zero bucket;
    // q=1 -> top bucket; negatives mirror with the same relative error
    assert(math.abs(qs(0.0) - (-100.0)) / 100.0 <= Alpha + 1e-5)
    assert(qs(0.4) == 0.0)
    assert(math.abs(qs(1.0) - 8.0) / 8.0 <= Alpha + 1e-5)
  }

  test("empty input yields an empty quantile frame") {
    val empty = df(Nil)
    assert(Sketches.ddQuantiles(empty, "v", Gamma, Seq(0.5)).count() == 0L)
  }

  test("persisted store: append(build(A), B) == build(A ∪ B); gamma travels with the store") {
    val dir = TestSpark.tempDir("ddspec").toString
    val (a, b) = values.splitAt(1000)
    Sketches.writeDdSketch(Sketches.ddBuckets(df(a), "v", Gamma), dir, Gamma)
    Sketches.appendDdSketch(df(b), "v", dir)
    val (stored, g) = Sketches.readDdSketch(spark, dir)
    assert(g == Gamma)
    val s = stored.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = Sketches.ddBuckets(df(values), "v", Gamma).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(s == whole)
    val qs = Seq(0.1, 0.5, 0.99)
    val served = Sketches.ddQuantilesStored(spark, dir, qs).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    val direct = Sketches.ddQuantiles(df(values), "v", Gamma, qs).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toSeq.sortBy(_._1)
    assert(served == direct)
    // append swap left no debris
    assert(!new java.io.File(s"$dir/buckets_old").exists())
    assert(!new java.io.File(s"$dir/buckets_tmp").exists())
  }

  test("recoverDdSketch repairs a half-finished swap and sweeps debris") {
    val dir = TestSpark.tempDir("ddspec2").toString
    Sketches.writeDdSketch(Sketches.ddBuckets(df(values), "v", Gamma), dir, Gamma)
    val before = Sketches.ddQuantilesStored(spark, dir, Seq(0.5)).collect().head.getDouble(1)
    // simulate a crash between the two renames: live moved aside, tmp gone
    val live = new java.io.File(s"$dir/buckets")
    assert(live.renameTo(new java.io.File(s"$dir/buckets_old")))
    Sketches.recoverDdSketch(spark, dir)
    assert(live.exists())
    assert(Sketches.ddQuantilesStored(spark, dir, Seq(0.5)).collect().head.getDouble(1) == before)
    // idempotent, and stale debris next to a live store is swept
    new java.io.File(s"$dir/buckets_tmp").mkdirs()
    Sketches.recoverDdSketch(spark, dir)
    assert(live.exists() && !new java.io.File(s"$dir/buckets_tmp").exists())
  }

  test("every read repairs a half-finished swap without an explicit recover") {
    val dir = TestSpark.tempDir("ddspec3").toString
    Sketches.writeDdSketch(Sketches.ddBuckets(df(values), "v", Gamma), dir, Gamma)
    val before = Sketches.ddQuantilesStored(spark, dir, Seq(0.5)).collect().head.getDouble(1)
    assert(new java.io.File(s"$dir/buckets").renameTo(new java.io.File(s"$dir/buckets_old")))
    assert(Sketches.ddQuantilesStored(spark, dir, Seq(0.5)).collect().head.getDouble(1) == before)
    assert(!new java.io.File(s"$dir/buckets_old").exists())
  }
}
