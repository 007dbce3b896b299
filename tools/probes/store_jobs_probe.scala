// Jobs-and-wall probe for the persisted stores' faces. Times each face
// separately on the oracle gates' exact splits and reports its Spark JOB
// count and wall:
//  - BM25 (bm25_incremental gate): build on the even half, append the
//    odd half, query the gate's batch;
//  - IncrementalDedup.dedupDelta (incremental_dedup gate): store = even
//    docs, delta = odd docs plus copies of every 20th doc;
//  - SubstringStore.probeDelta / appendDelta (substring_store_probe
//    gate, minLen 8): store = even docs, delta = odd docs.
// Run the same script against two builds' classes (spark-shell
// --driver-class-path), one at a time on the same box: the fingerprints
// printed must be identical, only jobs/wall may differ.
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
val jobCounter = new java.util.concurrent.atomic.AtomicInteger(0)
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(j: SparkListenerJobStart): Unit = { jobCounter.incrementAndGet(); () }
})
val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val d = graft.sources.Tables.documents(spark, sfDir)
val queries = d.filter(col("doc_id") < 8).select(col("doc_id").as("qid"), concat_ws(" ", slice(graft.functions.Text.tokens(col("text")), 1, 5)).as("qtext"))
// warm the scan shape so the timed faces measure the protocol, not parquet-footer setup
val nDocs = d.count()
def face(name: String)(body: => Unit): Unit = { val j0 = jobCounter.get; val t0 = System.nanoTime(); body; println(f"[store_jobs_probe] $name jobs=${jobCounter.get - j0} wall=${(System.nanoTime() - t0) / 1e9}%.2f s") }
def fp(rows: Array[org.apache.spark.sql.Row]): String = java.security.MessageDigest.getInstance("MD5").digest(rows.map(_.toString).mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
val even = d.filter(pmod(col("doc_id"), lit(2)) === 0)
val odd = d.filter(pmod(col("doc_id"), lit(2)) === 1)
val tmp = java.nio.file.Files.createTempDirectory("bm25_probe").toString
face("bm25_build")  { graft.operators.Retrieval.buildBm25Index(even, "doc_id", "text", tmp, nBuckets = 16) }
face("bm25_append") { graft.operators.Retrieval.appendBm25Index(odd, "doc_id", "text", tmp) }
var bm25Fp = ""
face("bm25_query")  { bm25Fp = fp(graft.operators.Retrieval.queryBm25Index(spark, tmp, queries, "qid", "qtext", 10).orderBy("query_id", "rank").collect()) }
val dedupDir = java.nio.file.Files.createTempDirectory("dedup_probe").toString
val dedupStore = d.select("doc_id", "text").filter(col("doc_id") % 2 === 0)
val dedupDelta = d.select("doc_id", "text").filter(col("doc_id") % 2 === 1).unionAll(d.filter(col("doc_id") % 20 === 0).select((col("doc_id") + 1000001).as("doc_id"), col("text"))).unionAll(d.filter(col("doc_id") % 20 === 1).select((col("doc_id") + 2000001).as("doc_id"), col("text")))
graft.operators.IncrementalDedup.writeStore(dedupStore, "text", "doc_id", dedupDir, nBuckets = 16)
var dedupFp = ""
face("dedup_delta") { dedupFp = fp(graft.operators.IncrementalDedup.dedupDelta(dedupDelta, "text", "doc_id", dedupDir).orderBy("doc_id").collect()) }
val substrDir = java.nio.file.Files.createTempDirectory("substr_probe").toString
graft.operators.SubstringStore.writeStore(even, "text", "doc_id", substrDir, minLen = 8, nBuckets = 16)
var probeFp = ""
face("substr_probe")  { probeFp = fp(graft.operators.SubstringStore.probeDelta(odd, "text", "doc_id", substrDir).orderBy("doc_id", "begin_tok").collect()) }
face("substr_append") { graft.operators.SubstringStore.appendDelta(odd, "text", "doc_id", substrDir) }
val appendedFp = fp(graft.operators.SubstringStore.probeDelta(odd, "text", "doc_id", substrDir).orderBy("doc_id", "begin_tok").collect())
println(s"[store_jobs_probe] docs=$nDocs bm25_fp=$bm25Fp dedup_fp=$dedupFp substr_probe_fp=$probeFp substr_appended_fp=$appendedFp")
