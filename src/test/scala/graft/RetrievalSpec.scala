package graft

import graft.operators.Retrieval
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sparse retrieval semantics: BM25 scores match the closed-form formula
  * on a hand-computed fixture (rational idf, saturation, length
  * normalization), tf-idf cosine pairs are a true cosine in the df-capped
  * subspace, and the df cap actually drops ubiquitous terms.
  */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark._

  private def docsDf(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("bm25TopK matches the hand-computed formula; rarer term dominates; dl normalizes") {
    // corpus: N=4, total tokens 2+2+2+6=12, avgdl=3.0
    val docs = docsDf(
      (1L, "apple banana"),
      (2L, "apple cherry"),
      (3L, "cherry durian"),
      (4L, "apple apple apple apple apple apple"))
    val queries = docsDf((100L, "apple banana")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext", k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(2), r.getDouble(3)))

    // hand computation, k1=1.2 b=0.75, idf(t)=(N-df+0.5)/(df+0.5):
    //   idf(apple)=(4-3+0.5)/3.5=3/7; idf(banana)=(4-1+0.5)/1.5=7/3
    def part(tf: Long, dl: Long, idf: Double): BigDecimal =
      BigDecimal(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / 3.0))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val d1 = (part(1, 2, 3.0 / 7) + part(1, 2, 7.0 / 3)).toDouble // apple + banana
    val d2 = part(1, 2, 3.0 / 7).toDouble
    val d4 = part(6, 6, 3.0 / 7).toDouble
    assert(out.map(_._1).toSeq == Seq(1L, 4L, 2L)) // doc 3 shares no term: absent
    assert(out(0)._2 == d1 && out(2)._2 == d2)
    assert(out(1)._2 == d4)
    // saturation sanity: 6x the tf in a 3x-longer doc beats tf=1 but
    // cannot approach the (k1+1) ceiling times idf unscathed
    assert(d4 > d2 && d4 < 2.2 * 3.0 / 7)
  }

  test("bm25TopK: k caps per query, ties break by doc_id, absent query terms drop out") {
    val docs = docsDf((1L, "x y"), (2L, "x y"), (3L, "x y"), (4L, "z"))
    val queries = docsDf((7L, "x qzqzqz")).toDF("qid", "qtext")
    val out = Retrieval.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext", k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    // docs 1,2,3 identical scores -> doc_id ascending; k=2 cuts doc 3
    assert(out.toSeq.sorted == Seq((1L, 1L), (2L, 2L)))
    intercept[IllegalArgumentException](
      Retrieval.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext", k = 0))
  }

  test("luceneIdf reorders a multi-term ranking against the rational default") {
    // N=4, df(apple)=3, df(banana)=1, avgdl=(8+30+2+2)/4=10.5:
    //   idf ratio banana/apple — rational 5.44, clamped-ln 3.38.
    // d1 is apple-heavy (tf=8, dl=8 → tf-part 1.9587), d2 holds the rare
    // banana once in a long doc (dl=30 → tf-part 0.56827); the parts'
    // ratio 3.45 sits BETWEEN the two idf ratios, so the rational form
    // ranks d2 first (rare term amplified) and the ln form ranks d1
    // first (common terms relatively heavier under compression).
    val docs = docsDf(
      (1L, Seq.fill(8)("apple").mkString(" ")),
      (2L, ("banana " + Seq.fill(29)("pad").mkString(" ")).trim),
      (3L, "apple cat"),
      (4L, "apple dog"))
    val queries = docsDf((9L, "apple banana")).toDF("qid", "qtext")
    def ranking(idf: Long => (org.apache.spark.sql.Column => org.apache.spark.sql.Column)) =
      Retrieval.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext",
        k = 4, idf = idf).orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(ranking(Retrieval.rationalIdf) == Seq(2L, 1L, 3L, 4L))
    assert(ranking(Retrieval.luceneIdf) == Seq(1L, 2L, 3L, 4L))
    // exact closed form for the lucene top doc: idf_ln(apple) * tf-part(d1)
    val got = Retrieval.bm25TopK(docs, queries, "doc_id", "text", "qid", "qtext",
      k = 1, idf = Retrieval.luceneIdf).collect().head.getDouble(3)
    val part = 8 * 2.2 / (8 + 1.2 * (0.25 + 0.75 * 8 / 10.5))
    // the decimal-stable sum rounds at 6 dp (same device as the first test)
    val want = BigDecimal(math.log(1.0 + (4 - 3 + 0.5) / 3.5) * part)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == want, s"got $got want $want")
  }

  test("tfidfCosinePairs: identical docs hit cosine ~1, disjoint docs absent, threshold cuts") {
    val df = docsDf(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),   // exact dup of 1
      (3L, "alpha beta delta"),   // partial overlap
      (4L, "epsilon zeta eta"))   // disjoint
    val out = Retrieval.tfidfCosinePairs(df, "doc_id", "text", threshold = 0.0, maxDf = 50)
      .orderBy("id1", "id2").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L))) // no self, no disjoint, id1<id2
    assert(math.abs(out((1L, 2L)) - 1.0) < 1e-6)
    assert(out((1L, 3L)) > 0 && out((1L, 3L)) < 1)
    assert(out((1L, 3L)) == out((2L, 3L))) // symmetric weights -> equal cosines
    val cut = Retrieval.tfidfCosinePairs(df, "doc_id", "text",
      threshold = 0.9, maxDf = 50).collect()
    assert(cut.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("tfidfCosinePairs: the df cap drops ubiquitous terms from the subspace") {
    // "common" is in all 4 docs; with maxDf=3 it leaves the subspace, so
    // docs sharing ONLY it never pair and the 1~2 cosine is computed from
    // the remaining terms alone (here: identical remainder -> ~1)
    val df = docsDf(
      (1L, "common rare1"),
      (2L, "common rare1"),
      (3L, "common rare2"),
      (4L, "common rare3"))
    val capped = Retrieval.tfidfCosinePairs(df, "doc_id", "text",
      threshold = 0.0, maxDf = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.keySet == Set((1L, 2L)))
    assert(math.abs(capped((1L, 2L)) - 1.0) < 1e-6)
    // without the cap, every doc pairs with every other through "common"
    val uncapped = Retrieval.tfidfCosinePairs(df, "doc_id", "text",
      threshold = 0.0, maxDf = 50).collect()
    assert(uncapped.length == 6)
  }

  test("mmrRerank: λ=1 is pure relevance order; near-duplicate of pick 1 is demoted at low λ") {
    val s = TestSpark.spark; import s.implicits._
    // candidates for one query: 10 ~= 11 (near-identical vectors, top-2
    // relevance), 12 orthogonal-ish with lower relevance
    val cands = Seq(
      (1L, 10L, 0.95, Seq(1.0f, 0.0f, 0.0f)),
      (1L, 11L, 0.94, Seq(0.999f, 0.01f, 0.0f)),
      (1L, 12L, 0.60, Seq(0.0f, 1.0f, 0.0f)),
      (1L, 13L, 0.55, Seq(0.0f, 0.9f, 0.4f))
    ).toDF("query_id", "nn_id", "rel", "vec")
    def picks(lam: Double) =
      Retrieval.mmrRerank(cands, "query_id", "nn_id", "rel", "vec", k = 3, lambda = lam)
        .orderBy("mmr_rank").collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    val pure = picks(1.0)
    assert(pure.map(_._2).toSeq == Seq(10L, 11L, 12L), "λ=1 must be relevance order")
    assert(math.abs(pure(0)._3 - 0.95) < 1e-12, "λ=1 score is the raw relevance")
    val div = picks(0.5)
    assert(div(0)._2 == 10L, "pick 1 is always the relevance argmax")
    assert(div(1)._2 == 12L, "the near-duplicate of pick 1 must be demoted at λ=0.5")
    // hand replay of pick 2's score: 0.5*rel(12) - 0.5*max(0, sim(12,10))
    val sim = 0.0 // orthogonal
    assert(math.abs(div(1)._3 - (0.5 * 0.60 - 0.5 * sim)) < 1e-12)
    // ranks are 1..k and scores non-increasing is NOT guaranteed across
    // rounds (maxSim grows), but every pick is a fresh per-round argmax:
    // replay the greedy loop independently
    assert(div.map(_._1).toSeq == Seq(1, 2, 3))
  }

  test("mmrRerank: ties break to the lower id; k past the candidate count stops cleanly") {
    val s = TestSpark.spark; import s.implicits._
    val cands = Seq(
      (7L, 3L, 0.8, Seq(1.0f, 0.0f)),
      (7L, 2L, 0.8, Seq(0.0f, 1.0f))
    ).toDF("query_id", "nn_id", "rel", "vec")
    val out = Retrieval.mmrRerank(cands, "query_id", "nn_id", "rel", "vec", k = 5, lambda = 0.75)
      .orderBy("mmr_rank").collect()
    assert(out.length == 2, "k caps at the candidate count")
    assert(out(0).getLong(2) == 2L, "equal scores: the lower id wins")
  }

  test("IR mmr-rerank: declarable, validate total, bad lambda loud") {
    import graft.ir.{Engine, EngineCtx, Node}
    val s = TestSpark.spark; import s.implicits._
    val cands = Seq(
      (1L, 10L, 0.9, Seq(1.0f, 0.0f)), (1L, 11L, 0.8, Seq(0.0f, 1.0f)),
      (1L, 12L, 0.7, Seq(0.9f, 0.1f))
    ).toDF("query_id", "nn_id", "rel", "vec")
    val out = Engine.run(Node.fromJson(
      """{"action":"mmr-rerank","params":[{"query":"query_id","id":"nn_id",
        | "rel":"rel","vec":"vec","k":2,"lambda":0.5}],
        | "children":[{"action":"tap","params":["t"]}]}""".stripMargin),
      cands, EngineCtx(testMode = true)).taps("t").orderBy("mmr_rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(10L, 11L))
    val ok = Engine.validate(Node.fromJson(
      """{"action":"mmr-rerank","params":[{"query":"query_id","id":"nn_id",
        | "rel":"rel","vec":"vec","k":2}],
        | "children":[{"action":"tap","params":["t"]}]}""".stripMargin),
      s, EngineCtx(testMode = true), cands.schema)
    assert(ok.isEmpty, ok.mkString("; "))
    val bad = Engine.validate(Node.fromJson(
      """{"action":"mmr-rerank","params":[{"query":"query_id","id":"nn_id",
        | "rel":"rel","vec":"vec","k":2,"lambda":1.5}],
        | "children":[{"action":"tap","params":["t"]}]}""".stripMargin),
      s, EngineCtx(testMode = true), cands.schema)
    assert(bad.nonEmpty)
  }

  test("persisted BM25 index: score-identical to the in-one-go operator; IR faces") {
    val s = TestSpark.spark
    import s.implicits._
    val docs = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "the catalyst optimizer prunes columns"),
      (3L, "shuffle partitions size executor memory"),
      (4L, "unrelated prose about gardens and tea")).toDF("doc_id", "text")
    val queries = Seq((10L, "shuffle partitions"), (11L, "catalyst optimizer")).toDF("qid", "qtext")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val direct = canon(graft.operators.Retrieval.bm25TopK(
      docs, queries, "doc_id", "text", "qid", "qtext", 3))
    val dir = TestSpark.tempDir("bm25spec").toString
    graft.operators.Retrieval.buildBm25Index(docs, "doc_id", "text", dir, nBuckets = 8)
    val stored = canon(graft.operators.Retrieval.queryBm25Index(
      s, dir, queries, "qid", "qtext", 3))
    assert(stored == direct, "persisted path must reproduce exact scores and ranks")
    assert(direct.nonEmpty)

    // IR: io-gated build validates; query validates artifact-total and runs
    import graft.ir.{Engine, EngineCtx, Node}
    assert(Engine.validate(Node.fromJson(
      """{"action":"output-bm25-index","params":[{"id":"doc_id","text":"text","path":"/x"}],
        | "children":[]}""".stripMargin), s, schema = docs.schema).isEmpty)
    assert(Engine.validate(Node.fromJson(
      """{"action":"bm25-query","params":[{"id":"qid","text":"qtext","k":3,"index-path":"/does/not/exist"}],
        | "children":[]}""".stripMargin), s, schema = queries.schema).isEmpty)
    val ir = canon(Engine.run(Node.fromJson(
      s"""{"action":"bm25-query","params":[{"id":"qid","text":"qtext","k":3,"index-path":"$dir"}],
         | "children":[{"action":"tap","params":["out"]}]}""".stripMargin),
      queries, EngineCtx(testMode = true)).taps("out"))
    assert(ir == direct)
  }

  test("appendBm25Index: append(build(A), B) answers identically to build(A ∪ B)") {
    val s = TestSpark.spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val corpus = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "the catalyst optimizer prunes columns"),
      (3L, "shuffle partitions size executor memory"),
      (4L, "catalyst expressions compile to bytecode"),
      (5L, "data stages shuffle through memory"),
      (6L, "unrelated prose about gardens and tea")).toDF("doc_id", "text")
    val queries = Seq((10L, "shuffle memory"), (11L, "catalyst columns")).toDF("qid", "qtext")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val full = TestSpark.tempDir("bm25_full").toString
    graft.operators.Retrieval.buildBm25Index(corpus, "doc_id", "text", full, nBuckets = 8)
    val inc = TestSpark.tempDir("bm25_incr").toString
    graft.operators.Retrieval.buildBm25Index(
      corpus.filter(col("doc_id") <= 3), "doc_id", "text", inc, nBuckets = 8)
    graft.operators.Retrieval.appendBm25Index(
      corpus.filter(col("doc_id") > 3), "doc_id", "text", inc)
    val a = canon(graft.operators.Retrieval.queryBm25Index(s, full, queries, "qid", "qtext", 4))
    val b = canon(graft.operators.Retrieval.queryBm25Index(s, inc, queries, "qid", "qtext", 4))
    assert(a == b, s"incremental index diverged:\nfull=$a\nincr=$b")
    assert(a.nonEmpty)
    // the merged df table must have ONE row per (bucket, term) — a
    // double-counted merge would shift every idf
    val dfTable = s.read.parquet(s"$inc/df")
    assert(dfTable.groupBy("termbucket", "term").count()
      .filter(col("count") > 1).isEmpty, "df merge produced duplicate term rows")
    // meta accumulated: n_docs covers both halves
    assert(s.read.parquet(s"$inc/meta").head.getAs[Long]("n_docs") == 6L)
    // compaction folds the append's small files; answers identical and
    // the per-bucket file count shrinks to one data file
    graft.operators.Retrieval.compactBm25Index(s, inc)
    val c = canon(graft.operators.Retrieval.queryBm25Index(s, inc, queries, "qid", "qtext", 4))
    assert(c == a, "compaction must not change any answer")
    val bucketDirs = new java.io.File(s"$inc/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("termbucket="))
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${d.getName}: expected 1 compacted file, found $parts")
    }
    // compaction crash recovery: a crash between the two renames leaves
    // postings_old only — the next query self-recovers; stale leftovers
    // next to a live dir are swept
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$inc/postings"),
      java.nio.file.Paths.get(s"$inc/postings_old"))
    val d2 = canon(graft.operators.Retrieval.queryBm25Index(s, inc, queries, "qid", "qtext", 4))
    assert(d2 == a, "query must self-recover from postings_old")
    assert(new java.io.File(s"$inc/postings").exists)
    assert(!new java.io.File(s"$inc/postings_old").exists)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$inc/postings_old"))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$inc/postings_compact_tmp"))
    assert(canon(graft.operators.Retrieval.queryBm25Index(s, inc, queries, "qid", "qtext", 4)) == a)
    assert(!new java.io.File(s"$inc/postings_old").exists)
    assert(!new java.io.File(s"$inc/postings_compact_tmp").exists)
  }
}
