// Jobs-and-wall probe for Dedup.clusterPairs (connected components) on a
// seeded random pair list. Times one collect() of the labels per call and
// reports its Spark JOB count and wall, for the default path (single-task
// union-find below the edge threshold) and for the forced star rounds
// (onePartitionThreshold = 0), then checks that both label maps are equal.
// PROBE_PAIRS / PROBE_IDS size the graph (default 4000 pairs over 5000
// ids, seed 7); PROBE_CALLS sets the timed calls per path (default 5,
// after one warm-up call). Run the same script against two builds'
// classes (spark-shell --driver-class-path), one at a time on the same box:
// the printed labels_fp must be identical, only jobs/wall may differ.
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
spark.sparkContext.addSparkListener(new SparkListener { override def onJobStart(j: SparkListenerJobStart): Unit = { jobCounter.incrementAndGet(); () } })
val nPairs = sys.env.getOrElse("PROBE_PAIRS", "4000").toInt
val nIds = sys.env.getOrElse("PROBE_IDS", "5000").toInt
val nCalls = sys.env.getOrElse("PROBE_CALLS", "5").toInt
val rng = new scala.util.Random(7)
val pairs = spark.createDataFrame(Seq.fill(nPairs)((rng.nextInt(nIds).toLong, rng.nextInt(nIds).toLong))).toDF("id1", "id2")
def labels(threshold: Long): Map[Long, Long] = graft.operators.Dedup.clusterPairs(pairs, onePartitionThreshold = threshold).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
def timed(threshold: Long): (Int, Double, Map[Long, Long]) = { val j0 = jobCounter.get; val t0 = System.nanoTime(); val m = labels(threshold); ((jobCounter.get - j0), (System.nanoTime() - t0) / 1e9, m) }
def face(name: String, threshold: Long): Map[Long, Long] = { timed(threshold); val runs = Seq.fill(nCalls)(timed(threshold)); val walls = runs.map(_._2).sorted; println(f"[cc_jobs_probe] $name jobs=${runs.map(_._1).max} wall_min=${walls.head}%.2f s wall_median=${walls(walls.size / 2)}%.2f s wall_max=${walls.last}%.2f s"); runs.head._3 }
val viaDefault = face("default", 10000000L)
val viaRounds = face("forced_rounds", 0L)
println(s"[cc_jobs_probe] pairs=$nPairs ids=${viaDefault.size} clusters=${viaDefault.values.toSet.size} labels_equal=${viaDefault == viaRounds} labels_fp=${java.security.MessageDigest.getInstance("MD5").digest(viaDefault.toSeq.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)}")
