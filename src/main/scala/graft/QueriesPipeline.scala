package graft

import graft.functions.{Pii, Quality, Text}
import graft.operators.{Curation, Decontam, Dedup, Importance, Multimodal, Sampling, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated queries for the LLM-training-data pipeline operators
  * (dedup / similarity / text analysis / multimodal) over the
  * `documents` and `embeddings` tables.
  *
  * The DuckDB oracles replicate each hash/fold bit-for-bit: polynomial
  * string hash = identical integer fold; cosine = identical left fold in
  * index order; so even MinHash-LSH candidate pairs hash-match.
  */
object QueriesPipeline {

  /** Shared DuckDB token view (mirrors [[Text.tokens]]). */
  private val DocsView =
    """WITH docs AS (
      |  SELECT doc_id, text, lang, source, n_chars,
      |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                     t -> len(t) > 0) AS toks
      |  FROM documents
      |)""".stripMargin

  /** DuckDB polynomial hash over a string expression (mirrors
    * [[Text.polyHash]]): fold of acc*31+codepoint mod 1e9+7.
    */
  private def sqlPolyHash(s: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (a, x) -> (a * 31 + x) % 1000000007)""".stripMargin.replace("\n", " ")

  /** DuckDB mirror of [[Text.md5Hash64]]: first 15 md5 hex chars folded to
    * an integer (hex digit value via ascii arithmetic — slow here is fine,
    * the oracle's speed is irrelevant).
    */
  private[graft] def sqlMd5Hash64(s: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split(substr(md5($s), 1, 15), ''),
       |    c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
       |                   ELSE ascii(c) - 48 END AS BIGINT))),
       |  (a, x) -> a * 16 + x)""".stripMargin.replace("\n", " ")

  /** DuckDB mirror of [[Text.md5HashMod]]. */
  private[graft] def sqlMd5HashMod(s: String): String =
    s"(${sqlMd5Hash64(s)} % 1000000007)"

  /** DuckDB bigram shingles from a token-list expression (mirrors
    * [[Text.bigramShingles]]).
    */
  private def sqlShingles(toks: String): String =
    s"""list_filter(list_transform(list_zip($toks, $toks[2:]),
       |  z -> z[1] || ' ' || z[2]), x -> x IS NOT NULL)""".stripMargin.replace("\n", " ")

  /** DuckDB word n-grams (mirrors [[Quality.ngrams]]): null-padded zip of
    * shifted slices, nulls propagate through `||` and are filtered.
    */
  private[graft] def sqlNgrams(toks: String, n: Int): String =
    if (n == 1) toks
    else {
      val slices = (1 until n).map(i => s"$toks[${i + 1}:]").mkString(", ")
      val grams = (1 to n).map(i => s"z[$i]").mkString(" || ' ' || ")
      s"list_filter(list_transform(list_zip($toks, $slices), z -> $grams), x -> x IS NOT NULL)"
    }

  /** DuckDB cosine similarity between two float-list expressions (mirrors
    * [[Similarity.cosine]]'s index-order fold).
    */
  private def sqlCosine(a: String, b: String): String = {
    def fold(l: String) = s"list_reduce(list_prepend(0.0, $l), (acc, x) -> acc + x)"
    val dot = fold(s"list_transform(list_zip($a, $b), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))")
    val na = fold(s"list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    val nb = fold(s"list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
    s"($dot / (sqrt($na) * sqrt($nb)))"
  }

  /** Delete a directory tree, children first; a missing path is a no-op. */
  private def deleteTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  private val gateStoreDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  sys.addShutdownHook(gateStoreDirs.forEach(d => deleteTree(d)))

  /** A fresh temp directory for a gate's persisted store or written
    * files, deleted with its contents at JVM exit. The gate's result still
    * reads the directory lazily when the caller forces it, so the gate
    * cannot delete it itself without forcing the result first — an extra
    * Spark job inside a timed gate body.
    */
  private[graft] def gateStoreDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    gateStoreDirs.add(dir)
    dir
  }

  /** Unrolled full-batch-GD CTE chain for the shared probe model
    * (classifier / el2n / cartography gates): from `base(vec_id, x, y)`,
    * `nn(n)` and `w0(w)` CTEs, produces `w1..w<epochs>` replaying
    * [[graft.operators.Training.trainLogisticExact]] bit-for-bit
    * (sorted gradient folds, algebraic sigmoid).
    */
  private[graft] def sqlProbeIters(d1: Int, epochs: Int, lr: Double): String =
    (1 to epochs).map { t =>
      val prev = if (t == 1) "w0" else s"w${t - 1}"
      s"""z$t AS (
         |  SELECT b.vec_id, b.x, b.y,
         |         list_reduce(list_prepend(0.0,
         |           list_transform(list_zip(b.x, (SELECT w FROM $prev)), p -> p[1] * p[2])),
         |           (a, c) -> a + c) AS z
         |  FROM base b),
         |p$t AS (SELECT vec_id, x, y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM z$t),
         |c$t AS (SELECT vec_id, d.d AS dim, x[CAST(d.d AS INT) + 1] * (p - y) AS c
         |        FROM p$t, (SELECT unnest(range($d1)) AS d) d),
         |g$t AS (SELECT dim,
         |               list_reduce(list_prepend(0.0, list(c ORDER BY vec_id)), (a, b) -> a + b)
         |                 / (SELECT CAST(n AS DOUBLE) FROM nn) AS g
         |        FROM c$t GROUP BY dim),
         |w$t AS (SELECT list(wv - $lr * g ORDER BY dim) AS w
         |        FROM (SELECT dim, g,
         |                     (SELECT w FROM $prev)[CAST(dim AS INT) + 1] AS wv
         |              FROM g$t))""".stripMargin
    }.mkString(",\n")

  /** The shared probe preamble: feature/label base over `embeddings`,
    * row count, zero weights.
    */
  private[graft] def sqlProbeBase(d1: Int): String =
    s"""base AS (
       |  SELECT vec_id,
       |         list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), 1.0) AS x,
       |         CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
       |  FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM base),
       |w0 AS (SELECT list_transform(range($d1), d -> 0.0) AS w)""".stripMargin

  /** End-to-end curation chain parameters, shared by the operator-face
    * gates (`curation_e2e*`) and the IR twin (`ir_curation_e2e`).
    */
  private[graft] val CurationLshK = 8
  private[graft] val CurationMinHits = 40L

  /** The end-to-end curation chain as one DuckDB CTE prefix ending in
    * `clean` — quality gate (gopher thresholds) → exact dedup →
    * MinHash-LSH near-dup prune (recursive-CTE closure, cluster root
    * survives) → exact-shingle decontamination against the held-out
    * split. One definition gates the hand-written chain AND the IR
    * twin, so the three faces can never drift.
    */
  private[graft] lazy val CurationChainSql: String = {
    val k = CurationLshK
    val p = 1000000007L
    val bucket = s"(${sqlMd5Hash64("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
    val en = Text.LangStopwords.toMap.apply("en").map(w => s"'$w'").mkString("[", ", ", "]")
    val meanLen =
      """CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(toks, t -> CAST(len(t) AS BIGINT))),
        |  (a, x) -> a + x) AS DOUBLE) / CAST(len(toks) AS DOUBLE)""".stripMargin.replace("\n", " ")
    val mins = (0 until k).map { j =>
      val a = 2L * j + 1
      val b = 7919L * j + 13
      s"list_min(list_transform(hh, h -> ($a * h + $b) % $p)) AS m$j"
    }.mkString(",\n         ")
    val bandSelects = (0 until k / 2).map { bnd =>
      s"SELECT doc_id, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM sigs"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |                     t -> len(t) > 0) AS toks
       |  FROM documents),
       |base AS (SELECT * FROM corpus WHERE $bucket < 800000),
       |docs AS (
       |  SELECT * FROM base
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text, toks FROM base),
       |benchsh AS (
       |  SELECT DISTINCT unnest(list_distinct(${sqlShingles("toks")})) AS shingle
       |  FROM corpus WHERE $bucket >= 900000),
       |g2 AS (SELECT doc_id, unnest(${sqlNgrams("toks", 2)}) AS g FROM docs),
       |g3 AS (SELECT doc_id, unnest(${sqlNgrams("toks", 3)}) AS g FROM docs),
       |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
       |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
       |s2 AS (SELECT doc_id, max(c * len(g)) AS bc, sum(c * len(g)) AS tc
       |       FROM c2 GROUP BY doc_id),
       |s3 AS (SELECT doc_id,
       |              coalesce(sum(CASE WHEN c > 1 THEN c * len(g) END), 0) AS dc,
       |              sum(c * len(g)) AS tc
       |       FROM c3 GROUP BY doc_id),
       |sig AS (
       |  SELECT d.doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CASE WHEN len(toks) > 0 THEN $meanLen ELSE 0.0 END AS mean_word_len,
       |    CASE WHEN len(toks) > 0
       |         THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
       |              / CAST(len(toks) AS DOUBLE)
       |         ELSE 0.0 END AS alpha_frac,
       |    CAST(len(list_filter($en, w -> list_contains(toks, w))) AS BIGINT) AS stop_hits,
       |    CASE WHEN s2.tc > 0 THEN CAST(s2.bc AS DOUBLE) / CAST(s2.tc AS DOUBLE)
       |         ELSE 0.0 END AS top2_frac,
       |    CASE WHEN s3.tc > 0 THEN CAST(s3.dc AS DOUBLE) / CAST(s3.tc AS DOUBLE)
       |         ELSE 0.0 END AS dup3_frac
       |  FROM docs d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)),
       |q AS (
       |  SELECT d.doc_id, d.text, d.toks
       |  FROM docs d JOIN sig s USING (doc_id)
       |  WHERE s.n_words BETWEEN 20 AND 100000
       |    AND s.mean_word_len BETWEEN 3.0 AND 10.0
       |    AND s.alpha_frac >= 0.8 AND s.stop_hits >= 2
       |    AND s.top2_frac <= 0.20 AND s.dup3_frac <= 0.60),
       |ex AS (
       |  SELECT doc_id, text, toks FROM (
       |    SELECT q.*, row_number() OVER (PARTITION BY md5(text)
       |             ORDER BY doc_id) AS rn FROM q) WHERE rn = 1),
       |sh AS (SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM ex),
       |hh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
       |sigs AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hh),
       |buckets AS (
       |  $bandSelects),
       |prs AS (
       |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
       |  FROM buckets l JOIN buckets r
       |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
       |edges AS (SELECT id1 AS a, id2 AS b FROM prs UNION SELECT id2, id1 FROM prs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |labels AS (SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
       |pruned AS (
       |  SELECT e.* FROM ex e
       |  WHERE NOT EXISTS (SELECT 1 FROM labels l
       |                    WHERE l.doc_id = e.doc_id AND l.cluster <> e.doc_id)),
       |psh AS (SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS shingle
       |        FROM pruned),
       |flagged AS (
       |  SELECT doc_id FROM psh JOIN benchsh USING (shingle)
       |  GROUP BY doc_id HAVING count(*) >= $CurationMinHits),
       |clean AS (SELECT * FROM pruned WHERE doc_id NOT IN (SELECT doc_id FROM flagged))""".stripMargin
  }

  /** The shared final projection over [[CurationChainSql]]'s `clean`. */
  private[graft] val CurationFinalSql: String =
    """SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
      |FROM clean ORDER BY doc_id""".stripMargin

  def registerAll(register: (String, String) => (((SparkSession, String) => DataFrame) => Unit)): Unit = {

    def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
    def emb(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

    // ---------------- text analysis ----------------

    register("text_tokens",
      s"""$DocsView
         |SELECT doc_id, len(toks) AS n_tokens FROM docs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    }

    // Harman s-stemmer vocabulary: a plural-rich suffix is appended so
    // every rule and every exception fires on the fixture; both engines
    // run the identical longest-suffix-first CASE chain
    register("stem_vocab",
      s"""WITH aug AS (SELECT text || ' tables queries classes buses stories bus pass movies toes trees aliases species kiss campus' AS t2
         |             FROM documents),
         |t AS (SELECT unnest(list_filter(string_split_regex(lower(t2), '[^a-z0-9]+'),
         |                    x -> len(x) > 0)) AS w FROM aug),
         |st AS (SELECT CASE
         |         WHEN ends_with(w,'eies') OR ends_with(w,'aies') THEN w
         |         WHEN ends_with(w,'ies') THEN substr(w, 1, len(w)-3) || 'y'
         |         WHEN ends_with(w,'aes') OR ends_with(w,'ees') OR ends_with(w,'oes') THEN w
         |         WHEN ends_with(w,'es') THEN substr(w, 1, len(w)-1)
         |         WHEN ends_with(w,'us') OR ends_with(w,'ss') THEN w
         |         WHEN ends_with(w,'s') THEN substr(w, 1, len(w)-1)
         |         ELSE w END AS stem FROM t)
         |SELECT stem, count(*) AS n FROM st GROUP BY stem ORDER BY stem""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(explode(Text.tokens(concat(col("text"),
          lit(" tables queries classes buses stories bus pass" +
            " movies toes trees aliases species kiss campus")))).as("w"))
        .select(Text.sStem(col("w")).as("stem"))
        .groupBy("stem").agg(count(lit(1)).as("n"))
        .orderBy("stem")
    }

    register("text_bpe_tokens",
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '${Text.BpePretokenPattern}')) AS BIGINT) AS n_bpe
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"), Text.bpeTokenCount(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }

    register("text_fingerprint",
      s"""$DocsView
         |SELECT doc_id,
         |       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |FROM docs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }

    locally {
      val scoreCols = Text.LangStopwords.map { case (lang, ws) =>
        val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($arr, w -> list_contains(toks, w))) AS s_$lang"
      }.mkString(",\n         ")
      val langs = Text.LangStopwords.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l = $best AND $best > 0 THEN '$l'").mkString(" ")
      register("text_langid",
        s"""$DocsView
           |, scored AS (
           |  SELECT doc_id,
           |         $scoreCols
           |  FROM docs)
           |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
           |FROM scored ORDER BY doc_id""".stripMargin) { (s, dir) =>
        docs(s, dir).select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id")
      }
    }

    register("text_quality",
      s"""$DocsView
         |SELECT doc_id,
         |       least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
         |       (CASE WHEN len(toks) > 0
         |             AND CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                   list_transform(toks, t -> CAST(len(t) AS BIGINT))),
         |                   (a, x) -> a + x) AS DOUBLE) / len(toks) BETWEEN 3 AND 8
         |             THEN 1.0 ELSE 0.5 END) * 0.3 +
         |       (CASE WHEN len(toks) > 0
         |             THEN least(CAST(len(toks) AS DOUBLE) / 40.0, 1.0)
         |             ELSE 0.0 END) * 0.3 AS quality
         |FROM docs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }

    // ---------------- repetition / quality-filter rules ----------------

    // shared CTEs: per-doc per-n-gram counts -> best / duplicate / total
    // gram chars. The Spark side computes the same statistics as a
    // single-pass sorted-run fold (no explode, no shuffle); the oracle is
    // the independent relational formulation.
    locally {
      val gramStats =
        s"""g2 AS (SELECT doc_id, unnest(${sqlNgrams("toks", 2)}) AS g FROM docs),
           |g3 AS (SELECT doc_id, unnest(${sqlNgrams("toks", 3)}) AS g FROM docs),
           |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
           |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
           |s2 AS (SELECT doc_id, max(c * len(g)) AS bc, sum(c * len(g)) AS tc
           |       FROM c2 GROUP BY doc_id),
           |s3 AS (SELECT doc_id, max(c * len(g)) AS bc,
           |              coalesce(sum(CASE WHEN c > 1 THEN c * len(g) END), 0) AS dc,
           |              sum(c * len(g)) AS tc
           |       FROM c3 GROUP BY doc_id)""".stripMargin

      register("text_repetition",
        s"""$DocsView,
           |$gramStats
           |SELECT d.doc_id,
           |  CASE WHEN len(toks) > 0
           |       THEN CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
           |       ELSE 0.0 END AS distinct_ratio,
           |  CASE WHEN s2.tc > 0 THEN CAST(s2.bc AS DOUBLE) / CAST(s2.tc AS DOUBLE)
           |       ELSE 0.0 END AS top2_frac,
           |  CASE WHEN s3.tc > 0 THEN CAST(s3.bc AS DOUBLE) / CAST(s3.tc AS DOUBLE)
           |       ELSE 0.0 END AS top3_frac,
           |  CASE WHEN s3.tc > 0 THEN CAST(s3.dc AS DOUBLE) / CAST(s3.tc AS DOUBLE)
           |       ELSE 0.0 END AS dup3_frac
           |FROM docs d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val toks = Text.tokens(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          Quality.distinctTokenRatio(toks).as("distinct_ratio"),
          Quality.topNgramCharFraction(toks, 2).as("top2_frac"),
          Quality.topNgramCharFraction(toks, 3).as("top3_frac"),
          Quality.dupNgramCharFraction(toks, 3).as("dup3_frac"))
          .orderBy("doc_id")
      }

      locally {
        val en = Text.LangStopwords.toMap.apply("en").map(w => s"'$w'").mkString("[", ", ", "]")
        val meanLen =
          """CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
            |  list_transform(toks, t -> CAST(len(t) AS BIGINT))),
            |  (a, x) -> a + x) AS DOUBLE) / CAST(len(toks) AS DOUBLE)""".stripMargin.replace("\n", " ")
        register("gopher_filter",
          s"""$DocsView,
             |$gramStats,
             |sig AS (
             |  SELECT d.doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_words,
             |    CASE WHEN len(toks) > 0 THEN $meanLen ELSE 0.0 END AS mean_word_len,
             |    CASE WHEN len(toks) > 0
             |         THEN CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
             |              / CAST(len(toks) AS DOUBLE)
             |         ELSE 0.0 END AS alpha_frac,
             |    CAST(len(list_filter($en, w -> list_contains(toks, w))) AS BIGINT) AS stop_hits,
             |    CASE WHEN s2.tc > 0 THEN CAST(s2.bc AS DOUBLE) / CAST(s2.tc AS DOUBLE)
             |         ELSE 0.0 END AS top2_frac,
             |    CASE WHEN s3.tc > 0 THEN CAST(s3.dc AS DOUBLE) / CAST(s3.tc AS DOUBLE)
             |         ELSE 0.0 END AS dup3_frac
             |  FROM docs d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id))
             |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
             |       top2_frac, dup3_frac,
             |       CAST(CASE WHEN n_words BETWEEN 20 AND 100000
             |                  AND mean_word_len BETWEEN 3.0 AND 10.0
             |                  AND alpha_frac >= 0.8
             |                  AND stop_hits >= 2
             |                  AND top2_frac <= 0.20
             |                  AND dup3_frac <= 0.60
             |            THEN 1 ELSE 0 END AS BIGINT) AS keep
             |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
          docs(s, dir)
            .select(col("doc_id"), Quality.gopherSignals(col("text")).as("g"))
            .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
              col("g.alpha_frac"), col("g.stop_hits"), col("g.top2_frac"),
              col("g.dup3_frac"), col("g.keep"))
            .orderBy("doc_id")
        }
      }

      // the text-health pass DECLARED AS DATA: corrupted docs (injected
      // cp1252 suffix) drop at the mojibake-filter stage, survivors
      // flow into the readability bundle — one IR chain, same oracle
      // algebra as the standalone gates
      locally {
        val dirty = " donâ€™t stop hÃ©re"
        val sylGroups = "len(regexp_extract_all(t, '[aeiouy]+'))"
        val syl =
          s"""greatest(CASE WHEN t LIKE '%e' AND t NOT LIKE '%le'
             |                AND $sylGroups > 1
             |           THEN $sylGroups - 1 ELSE $sylGroups END,
             |         CAST(1 AS BIGINT))""".stripMargin.replace("\n", " ")
        register("ir_text_health",
          s"""WITH t AS (SELECT doc_id,
             |  CASE WHEN doc_id % 3 = 0 THEN text || '$dirty' ELSE text END AS text
             |  FROM documents),
             |surv AS (SELECT doc_id, text FROM t WHERE doc_id % 3 <> 0),
             |tok AS (SELECT doc_id,
             |          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                      x -> len(x) > 0) AS toks,
             |          text
             |        FROM surv)
             |SELECT doc_id,
             |       CAST(len(toks) AS BIGINT) AS n_words,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT),
             |         list_transform(toks, t -> CAST($syl AS BIGINT))),
             |         (a, x) -> a + x) AS n_syllables
             |FROM tok ORDER BY doc_id""".stripMargin) { (s, dir) =>
          val t = docs(s, dir).select(col("doc_id"),
            when(col("doc_id") % 3 === 0, concat(col("text"), lit(dirty)))
              .otherwise(col("text")).as("text"))
          val node = graft.ir.Node.fromJson(
            """{"action":"mojibake-filter","params":[{"text":"text","max-score":0.0001}],
              | "children":[{"action":"readability","params":[{"text":"text","out":"r"}],
              |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
          graft.ir.Engine.run(node, t, graft.ir.EngineCtx(testMode = true))
            .taps("out")
            .select(col("doc_id"), col("r.n_words"), col("r.n_syllables"))
            .orderBy("doc_id")
        }
      }

      // staged quality cascade: first-rejector labels, per-stage drop
      // counts — the identical first-match CASE replayed in SQL
      locally {
        val en = Text.LangStopwords.toMap.apply("en").map(w => s"'$w'").mkString("[", ", ", "]")
        register("quality_cascade",
          s"""$DocsView,
             |sig AS (
             |  SELECT doc_id, n_chars, lang,
             |         CAST(len(list_filter($en, w -> list_contains(toks, w))) AS BIGINT) AS stop_hits
             |  FROM docs),
             |labeled AS (
             |  SELECT CASE WHEN NOT (n_chars >= 100) THEN 'too_short'
             |              WHEN NOT (lang = 'en') THEN 'not_english'
             |              WHEN NOT (stop_hits >= 2) THEN 'few_stops'
             |              ELSE 'kept' END AS stage
             |  FROM sig)
             |SELECT stage, count(*) AS n_docs
             |FROM labeled GROUP BY stage ORDER BY stage""".stripMargin) { (s, dir) =>
          Curation.cascadeReport(docs(s, dir), Seq(
              "too_short" -> (col("n_chars") >= 100),
              "not_english" -> (col("lang") === "en"),
              "few_stops" -> (Quality.stopwordCount(Text.tokens(col("text"))) >= 2L)))
            .orderBy("stage")
        }
      }

      // Flesch / Flesch-Kincaid readability: the same vowel-group
      // syllable heuristic (silent final 'e' unless '..le', floor 1)
      // folded per doc in both engines; the two float indices round
      // through DECIMAL(38,6) per the repo's double-sum convention.
      locally {
        val sylGroups = "len(regexp_extract_all(t, '[aeiouy]+'))"
        val syl =
          s"""greatest(CASE WHEN t LIKE '%e' AND t NOT LIKE '%le'
             |                AND $sylGroups > 1
             |           THEN $sylGroups - 1 ELSE $sylGroups END,
             |         CAST(1 AS BIGINT))""".stripMargin.replace("\n", " ")
        register("readability",
          s"""$DocsView,
             |sig AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_words,
             |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
             |             CAST(1 AS BIGINT)) AS n_sentences,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(toks, t -> CAST($syl AS BIGINT))),
             |      (a, x) -> a + x) AS n_syllables
             |  FROM docs)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  CAST(CAST(CASE WHEN n_words > 0
             |    THEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             |                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
             |    ELSE 0.0 END AS DECIMAL(38,6)) AS DOUBLE) AS fre,
             |  CAST(CAST(CASE WHEN n_words > 0
             |    THEN 0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
             |         + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59
             |    ELSE 0.0 END AS DECIMAL(38,6)) AS DOUBLE) AS fk_grade
             |FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
          docs(s, dir)
            .select(col("doc_id"),
              Quality.readabilitySignals(col("text")).as("r"))
            .select(col("doc_id"), col("r.n_words"), col("r.n_sentences"),
              col("r.n_syllables"),
              col("r.fre").cast("decimal(38,6)").cast("double").as("fre"),
              col("r.fk_grade").cast("decimal(38,6)").cast("double").as("fk_grade"))
            .orderBy("doc_id")
        }
      }
    }

    // ---------------- PII scrubbing / URL analysis ----------------

    // The fixture corpus is PII-free word salad, so both engines append
    // the SAME deterministic id-derived PII spans (emails on doc_id%3=0,
    // IPv4s on %4=0, phone numbers on %5=0) before scrubbing — the gate
    // then compares real found/redacted spans, not a vacuous all-zeros.
    locally {
      val piiSql =
        """text ||
          |CASE WHEN doc_id % 3 = 0
          |     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
          |          || CAST(doc_id % 5 AS VARCHAR) || '.example.com' ELSE '' END ||
          |CASE WHEN doc_id % 4 = 0
          |     THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.'
          |          || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
          |CASE WHEN doc_id % 5 = 0
          |     THEN ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR) || '-'
          |          || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END""".stripMargin.replace("\n", " ")

      def piiCol = concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@mail"),
            pmod(col("doc_id"), lit(5)).cast("string"), lit(".example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" from 10."), pmod(col("doc_id"), lit(200)).cast("string"), lit(".0."),
            pmod(col("doc_id"), lit(250)).cast("string"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" call 555-"), (lit(100) + pmod(col("doc_id"), lit(900))).cast("string"),
            lit("-"), (lit(1000) + pmod(col("doc_id"), lit(9000))).cast("string"))).otherwise(lit("")))

      register("pii_redact",
        s"""WITH pii AS (SELECT doc_id, $piiSql AS s FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(s, '${Pii.EmailPattern}')) AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(s, '${Pii.Ipv4Pattern}')) AS BIGINT) AS n_ips,
           |  CAST(len(regexp_extract_all(s, '${Pii.PhonePattern}')) AS BIGINT) AS n_phones,
           |  regexp_replace(regexp_replace(regexp_replace(s,
           |    '${Pii.EmailPattern}', '<EMAIL>', 'g'),
           |    '${Pii.Ipv4Pattern}', '<IP>', 'g'),
           |    '${Pii.PhonePattern}', '<PHONE>', 'g') AS redacted
           |FROM pii ORDER BY doc_id""".stripMargin) { (s, dir) =>
        docs(s, dir).select(col("doc_id"), piiCol.as("s"))
          .select(col("doc_id"),
            Pii.emailCount(col("s")).as("n_emails"),
            Pii.ipCount(col("s")).as("n_ips"),
            Pii.phoneCount(col("s")).as("n_phones"),
            Pii.redact(col("s")).as("redacted"))
          .orderBy("doc_id")
      }

      val urlSql =
        """text || ' see https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.site'
          | || CAST(doc_id % 23 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) ||
          |CASE WHEN doc_id % 2 = 0
          |     THEN ' and http://site' || CAST(doc_id % 23 AS VARCHAR) || '.example.org/q'
          |     ELSE '' END""".stripMargin.replace("\n", " ")

      def urlCol = concat(col("text"),
        lit(" see https://cdn"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".site"),
        pmod(col("doc_id"), lit(23)).cast("string"), lit(".example.org/p/"),
        col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" and http://site"), pmod(col("doc_id"), lit(23)).cast("string"),
            lit(".example.org/q"))).otherwise(lit("")))

      register("url_hosts",
        s"""WITH u AS (SELECT doc_id, $urlSql AS s FROM documents)
           |SELECT doc_id,
           |       array_to_string(regexp_extract_all(s, '${Pii.UrlHostPattern}', 1), ',') AS hosts
           |FROM u ORDER BY doc_id""".stripMargin) { (s, dir) =>
        docs(s, dir).select(col("doc_id"), urlCol.as("s"))
          .select(col("doc_id"), array_join(Pii.urlHosts(col("s")), ",").as("hosts"))
          .orderBy("doc_id")
      }

      // host-level link edges: document host -> every host its text
      // mentions, the edge-mining step feeding LinkGraph.pageRank (same
      // synthetic URL augmentation as url_hosts)
      register("host_edges",
        s"""WITH u AS (SELECT doc_id, $urlSql AS s FROM documents),
           |e AS (SELECT 'd' || CAST(doc_id % 50 AS VARCHAR) AS src,
           |             unnest(regexp_extract_all(s, '${Pii.UrlHostPattern}', 1)) AS dst
           |      FROM u)
           |SELECT src, dst, count(*) AS n_links
           |FROM e GROUP BY src, dst ORDER BY src, dst""".stripMargin) { (s, dir) =>
        graft.operators.LinkGraph.hostEdges(
            docs(s, dir).select(
              concat(lit("d"), pmod(col("doc_id"), lit(50)).cast("string")).as("host"),
              urlCol.as("s")),
            "host", "s")
          .orderBy("src", "dst")
      }

      // anchor-tag link edges: the HTML twin of host_edges — hrefs in
      // both quote styles plus a relative link that must NOT edge; the
      // synthetic page is built identically in both engines
      locally {
        val htmlSql =
          """'<p><A HREF="http://a' || CAST(doc_id % 13 AS VARCHAR)
            || '.example.com/x">one</a> <a class=''c'' href=''https://b'
            || CAST(doc_id % 7 AS VARCHAR)
            || '.example.net/y''>two</a> <a href="/relative/z">three</a></p>'"""
            .replace("\n", " ")
        val htmlCol = concat(
          lit("<p><A HREF=\"http://a"), pmod(col("doc_id"), lit(13)).cast("string"),
          lit(".example.com/x\">one</a> <a class='c' href='https://b"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".example.net/y'>two</a> <a href=\"/relative/z\">three</a></p>"))
        register("anchor_edges",
          s"""WITH u AS (SELECT doc_id, $htmlSql AS h FROM documents),
             |e AS (SELECT 'd' || CAST(doc_id % 50 AS VARCHAR) AS src,
             |             regexp_extract(t.u, '${Pii.UrlHostPattern}', 1) AS dst
             |      FROM u, unnest(regexp_extract_all(h, '${Pii.HrefPattern.replace("'", "''")}', 1)) AS t(u))
             |SELECT src, dst, count(*) AS n_links
             |FROM e WHERE dst <> '' GROUP BY src, dst
             |ORDER BY src, dst""".stripMargin) { (s, dir) =>
          graft.operators.LinkGraph.anchorEdges(
              docs(s, dir).select(
                concat(lit("d"), pmod(col("doc_id"), lit(50)).cast("string")).as("host"),
                htmlCol.as("h")),
              "host", "h")
            .orderBy("src", "dst")
        }
      }

      // rel=canonical + <title> extraction: both attribute orders and
      // quote styles across the fixture thirds, plus a declares-none
      // third — identical synthetic pages in both engines
      locally {
        val esc = (p: String) => p.replace("'", "''")
        val htmlSql =
          """CASE WHEN doc_id % 3 = 0 THEN
               '<head><title>Page ' || CAST(doc_id AS VARCHAR)
               || '</title><link rel="canonical" href="http://c' || CAST(doc_id % 11 AS VARCHAR)
               || '.example.com/p"></head>'
             WHEN doc_id % 3 = 1 THEN
               '<head><LINK href=''http://r' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.org/q'' rel=''canonical''><title>T</title></head>'
             ELSE '<head><title>No canonical here</title></head>' END"""
            .replace("\n", " ")
        val htmlCol = when(col("doc_id") % 3 === 0,
            concat(lit("<head><title>Page "), col("doc_id").cast("string"),
              lit("</title><link rel=\"canonical\" href=\"http://c"),
              pmod(col("doc_id"), lit(11)).cast("string"),
              lit(".example.com/p\"></head>")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("<head><LINK href='http://r"),
              pmod(col("doc_id"), lit(5)).cast("string"),
              lit(".example.org/q' rel='canonical'><title>T</title></head>")))
          .otherwise(lit("<head><title>No canonical here</title></head>"))
        register("html_meta",
          s"""WITH u AS (SELECT doc_id, $htmlSql AS h FROM documents),
             |x AS (SELECT doc_id,
             |        regexp_extract(h, '${esc(Pii.CanonicalPattern)}', 1) AS fwd,
             |        regexp_extract(h, '${esc("(?i)<link\\s[^>]*href\\s*=\\s*[\"']([^\"'>]+)[\"'][^>]*rel\\s*=\\s*[\"']canonical[\"']")}', 1) AS rev,
             |        regexp_extract(h, '${esc(Pii.TitlePattern)}', 1) AS title
             |      FROM u)
             |SELECT doc_id,
             |       CASE WHEN fwd <> '' THEN fwd ELSE rev END AS canonical,
             |       title
             |FROM x ORDER BY doc_id""".stripMargin) { (s, dir) =>
          docs(s, dir)
            .select(col("doc_id"), htmlCol.as("h"))
            .select(col("doc_id"),
              Pii.canonicalTarget(col("h")).as("canonical"),
              Pii.htmlTitle(col("h")).as("title"))
            .orderBy("doc_id")
        }
      }

      // feed autodiscovery from HTML <link> tags — both attribute
      // orders, mixed case/quoting, with decoy stylesheet/canonical
      // links that must NOT match; tag-scan + filter algebra replayed
      // identically in SQL
      locally {
        val htmlSql =
          """CASE WHEN doc_id % 3 = 0 THEN
               '<head><link rel="alternate" type="application/rss+xml" href="http://f'
               || CAST(doc_id % 7 AS VARCHAR)
               || '.example.com/rss"><link rel="stylesheet" href="/css"></head>'
             WHEN doc_id % 3 = 1 THEN
               '<head><LINK href=''http://f' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.org/atom.xml'' TYPE=''application/atom+xml'' REL=alternate><title>x</title></head>'
             ELSE '<head><link rel="canonical" href="http://c.example.com/"></head>' END"""
            .replace("\n", " ")
        val htmlCol = when(col("doc_id") % 3 === 0,
            concat(lit("<head><link rel=\"alternate\" type=\"application/rss+xml\" href=\"http://f"),
              pmod(col("doc_id"), lit(7)).cast("string"),
              lit(".example.com/rss\"><link rel=\"stylesheet\" href=\"/css\"></head>")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("<head><LINK href='http://f"),
              pmod(col("doc_id"), lit(5)).cast("string"),
              lit(".example.org/atom.xml' TYPE='application/atom+xml' REL=alternate><title>x</title></head>")))
          .otherwise(lit("<head><link rel=\"canonical\" href=\"http://c.example.com/\"></head>"))
        register("feed_discovery",
          s"""WITH u AS (SELECT doc_id, $htmlSql AS h FROM documents),
             |t AS (SELECT doc_id, unnest(regexp_extract_all(h, '(?i)<link\\s[^>]*>')) AS tag
             |      FROM u),
             |f AS (SELECT doc_id,
             |        regexp_extract(tag, '(?i)href\\s*=\\s*["'']([^"''>]+)["'']', 1) AS feed_url
             |      FROM t
             |      WHERE regexp_matches(tag, '(?i)rel\\s*=\\s*["'']?alternate')
             |        AND regexp_matches(tag, '(?i)type\\s*=\\s*["'']application/(rss|atom)\\+xml'))
             |SELECT doc_id, feed_url FROM f WHERE feed_url <> ''
             |ORDER BY doc_id, feed_url""".stripMargin) { (s, dir) =>
          docs(s, dir)
            .select(col("doc_id"), htmlCol.as("h"))
            .select(col("doc_id"),
              explode(graft.sources.Feed.discoveryLinks(col("h"))).as("feed_url"))
            .orderBy("doc_id", "feed_url")
        }
      }

      register("url_domain_stats",
        s"""WITH u AS (SELECT doc_id, $urlSql AS s FROM documents),
           |h AS (SELECT doc_id, unnest(regexp_extract_all(s, '${Pii.UrlHostPattern}', 1)) AS host
           |      FROM u),
           |d AS (SELECT doc_id,
           |             array_to_string(string_split(host, '.')[greatest(len(string_split(host, '.')) - 2, 1):], '.') AS domain
           |      FROM h)
           |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
           |FROM d
           |WHERE domain NOT IN ('site1.example.org', 'site7.example.org')
           |GROUP BY domain ORDER BY domain""".stripMargin) { (s, dir) =>
        val blocked = Seq("site1.example.org", "site7.example.org")
        docs(s, dir).select(col("doc_id"), urlCol.as("s"))
          .select(col("doc_id"), explode(Pii.urlHosts(col("s"))).as("host"))
          .select(col("doc_id"), Pii.registrableDomain(col("host"), 3).as("domain"))
          .filter(!col("domain").isInCollection(blocked))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_urls"), countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("domain")
      }

      // URL canonicalization for URL-level dedup: fragment cut, host
      // lowercasing, default-port strip, tracking-param drop + sorted
      // survivors — messy variants synthesized per doc_id, rule-for-rule
      // replayed by the oracle (DuckDB backrefs are \1, Spark's $1)
      val messySql =
        """CASE WHEN doc_id % 11 = 0 THEN 'not a url at all'
          |     WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.Site' || CAST(doc_id % 5 AS VARCHAR)
          |       || '.COM:80/Path/' || CAST(doc_id AS VARCHAR)
          |       || '?utm_source=x&b=2&a=1&gclid=z'
          |       || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END
          |     ELSE 'HTTPS://Example' || CAST(doc_id % 5 AS VARCHAR)
          |       || '.ORG:443/Path/' || CAST(doc_id AS VARCHAR)
          |       || '?b=2&a=1&fbclid=q'
          |       || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END END""".stripMargin
          .replace("\n", " ")
      def messyCol =
        when(pmod(col("doc_id"), lit(11)) === 0, lit("not a url at all"))
          .when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("HTTP://WWW.Site"), pmod(col("doc_id"), lit(5)).cast("string"),
              lit(".COM:80/Path/"), col("doc_id").cast("string"),
              lit("?utm_source=x&b=2&a=1&gclid=z"),
              when(pmod(col("doc_id"), lit(3)) === 0, lit("#frag")).otherwise(lit(""))))
          .otherwise(
            concat(lit("HTTPS://Example"), pmod(col("doc_id"), lit(5)).cast("string"),
              lit(".ORG:443/Path/"), col("doc_id").cast("string"),
              lit("?b=2&a=1&fbclid=q"),
              when(pmod(col("doc_id"), lit(3)) === 0, lit("#frag")).otherwise(lit(""))))

      register("url_canonicalize",
        s"""WITH u AS (SELECT doc_id, $messySql AS s FROM documents),
           |c AS (SELECT doc_id, s, regexp_replace(s, '#.*$$', '') AS nofrag FROM u),
           |d AS (SELECT doc_id, s, nofrag,
           |        regexp_extract(nofrag, '^([a-zA-Z]+://[^/?]+)', 1) AS prefix FROM c),
           |e AS (SELECT doc_id, s, lower(prefix) AS lowered,
           |        substr(nofrag, len(prefix) + 1) AS rest,
           |        regexp_replace(regexp_replace(lower(prefix),
           |          '^(http://[^:/?]+):80$$', '\\1'),
           |          '^(https://[^:/?]+):443$$', '\\1') AS noport
           |      FROM d),
           |f AS (SELECT doc_id, s, lowered, noport,
           |        CASE WHEN strpos(rest, '?') > 0
           |             THEN substr(rest, 1, strpos(rest, '?') - 1) ELSE rest END AS path,
           |        CASE WHEN strpos(rest, '?') > 0
           |             THEN substr(rest, strpos(rest, '?') + 1) ELSE '' END AS query
           |      FROM e),
           |g AS (SELECT doc_id, s, lowered, noport, path,
           |        list_sort(list_filter(string_split(query, '&'),
           |          p -> len(p) > 0 AND NOT regexp_matches(p, '${Pii.TrackingParamPattern}'))) AS kept
           |      FROM f)
           |SELECT doc_id,
           |       CASE WHEN lowered LIKE 'http://%' OR lowered LIKE 'https://%'
           |            THEN noport || path ||
           |                 CASE WHEN len(kept) > 0
           |                      THEN '?' || array_to_string(kept, '&') ELSE '' END
           |            ELSE s END AS canonical_url
           |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
        docs(s, dir).select(col("doc_id"), messyCol.as("s"))
          .select(col("doc_id"), Pii.canonicalizeUrl(col("s")).as("canonical_url"))
          .orderBy("doc_id")
      }
    }

    // ---------------- deterministic sampling / splitting ----------------

    locally {
      // DuckDB mirror of Sampling.hashBucket: md5Hash64("salt:" || id) % 1e6
      // (the 15-hex-char hash is non-negative, so % == pmod)
      def sqlBucket(salt: String) =
        s"(${sqlMd5Hash64(s"'$salt:' || CAST(doc_id AS VARCHAR)")} % 1000000)"

      register("sample_hash",
        s"""SELECT doc_id FROM documents
           |WHERE ${sqlBucket("sample")} < 200000 ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Sampling.hashSample(docs(s, dir), "doc_id", 0.2)
          .select("doc_id").orderBy("doc_id")
      }

      register("sample_stratified",
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${sqlBucket("sample")} <
           |  CASE lang WHEN 'en' THEN 300000 WHEN 'de' THEN 700000 ELSE 1000000 END
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Sampling.stratifiedSample(docs(s, dir), "lang", "doc_id",
          Map("en" -> 0.3, "de" -> 0.7))
          .select("doc_id", "lang").orderBy("doc_id")
      }

      register("split_by_hash",
        s"""SELECT doc_id,
           |       CASE WHEN ${sqlBucket("split")} < 800000 THEN 'train'
           |            WHEN ${sqlBucket("split")} < 900000 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Sampling.splitByHash(docs(s, dir), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "split").orderBy("doc_id")
      }

      register("sample_exact_k",
        s"""WITH r AS (
           |  SELECT doc_id, source,
           |         row_number() OVER (PARTITION BY source
           |           ORDER BY ${sqlBucket("sample")}, doc_id) AS sample_rank
           |  FROM documents)
           |SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
           |FROM r WHERE sample_rank <= 7 ORDER BY source, sample_rank""".stripMargin) { (s, dir) =>
        Sampling.sampleExactK(docs(s, dir), "source", "doc_id", 7)
          .select("doc_id", "source", "sample_rank")
          .orderBy("source", "sample_rank")
      }
    }

    // ---------------- corpus curation (line dedup / budgets / packing) ----------------

    locally {
      // corpus-global duplicate-line removal (C4 §2.2 rule); "lines" are
      // fixed-7-token chunks (the fixture corpus has no newlines — same
      // plan shape, exact oracle)
      val k = 7
      register("line_dedup",
        s"""$DocsView,
           |ls AS (
           |  SELECT doc_id,
           |         list_transform(range(CAST(ceil(CAST(len(toks) AS DOUBLE) / $k) AS BIGINT)),
           |           i -> {'pos': i,
           |                 'line': array_to_string(toks[CAST(i AS INT) * $k + 1 : CAST(i AS INT) * $k + $k], ' ')}) AS lines
           |  FROM docs WHERE len(toks) > 0),
           |l AS (SELECT doc_id, unnest(lines) AS u FROM ls),
           |r AS (SELECT doc_id, u.pos AS pos, u.line AS line,
           |             row_number() OVER (PARTITION BY md5(u.line) ORDER BY doc_id, u.pos) AS rn
           |      FROM l),
           |agg AS (
           |  SELECT doc_id, count(*) AS n_lines,
           |         count(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
           |         coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY pos), '') AS text_clean
           |  FROM r GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(a.n_lines, 0) AS n_lines,
           |       coalesce(a.n_kept, 0) AS n_kept,
           |       coalesce(a.text_clean, '') AS text_clean
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Curation.lineDedup(docs(s, dir), "doc_id", "text", k).orderBy("doc_id")
      }

      // quality-ranked per-domain selection under a token budget
      val budget = 600L
      register("token_budget_select",
        s"""$DocsView,
           |q AS (
           |  SELECT doc_id, source,
           |         least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
           |         (CASE WHEN len(toks) > 0
           |               AND CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           |                     list_transform(toks, t -> CAST(len(t) AS BIGINT))),
           |                     (a, x) -> a + x) AS DOUBLE) / len(toks) BETWEEN 3 AND 8
           |               THEN 1.0 ELSE 0.5 END) * 0.3 +
           |         (CASE WHEN len(toks) > 0
           |               THEN least(CAST(len(toks) AS DOUBLE) / 40.0, 1.0)
           |               ELSE 0.0 END) * 0.3 AS quality,
           |         CAST(len(toks) AS BIGINT) AS n_tokens
           |  FROM docs),
           |c AS (
           |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
           |    ORDER BY quality DESC, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
           |  FROM q)
           |SELECT doc_id, source, n_tokens, cum_tokens FROM c
           |WHERE cum_tokens <= $budget ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val base = docs(s, dir).select(col("doc_id"), col("source"),
          Text.qualityScore(col("text")).as("quality"),
          Text.tokenCount(col("text")).as("n_tokens"))
        Curation.tokenBudgetSelect(base, "source", "quality", "n_tokens", "doc_id", budget)
          .select("doc_id", "source", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      }

      // approx token-budget: per-group score histogram -> threshold bucket
      // -> map-side filter (the few-huge-domains scale path; the oracle
      // replays the identical deterministic bucketing)
      locally {
        // 64 buckets / budget 1000 keeps 48 of 500 fixture docs: coarse
        // enough to exercise the straddling-bucket drop, fine enough that
        // the kept set is non-trivial
        val nb = 64
        val approxBudget = 1000L
        register("token_budget_approx",
          s"""$DocsView,
             |q AS (
             |  SELECT doc_id, source,
             |         least(CAST(length(text) AS DOUBLE) / 200.0, 1.0) * 0.4 +
             |         (CASE WHEN len(toks) > 0
             |               AND CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |                     list_transform(toks, t -> CAST(len(t) AS BIGINT))),
             |                     (a, x) -> a + x) AS DOUBLE) / len(toks) BETWEEN 3 AND 8
             |               THEN 1.0 ELSE 0.5 END) * 0.3 +
             |         (CASE WHEN len(toks) > 0
             |               THEN least(CAST(len(toks) AS DOUBLE) / 40.0, 1.0)
             |               ELSE 0.0 END) * 0.3 AS quality,
             |         CAST(len(toks) AS BIGINT) AS n_tokens
             |  FROM docs),
             |st AS (SELECT source, min(quality) AS smin, max(quality) AS smax
             |       FROM q GROUP BY source),
             |b AS (
             |  SELECT q.*, CASE WHEN st.smax = st.smin THEN CAST(${nb - 1} AS BIGINT)
             |    ELSE least(CAST(floor((q.quality - st.smin) / (st.smax - st.smin) * $nb) AS BIGINT),
             |               CAST(${nb - 1} AS BIGINT)) END AS bucket
             |  FROM q JOIN st USING (source)),
             |s AS (SELECT source, bucket, sum(n_tokens) AS btok FROM b GROUP BY source, bucket),
             |c AS (
             |  SELECT *, CAST(sum(btok) OVER (PARTITION BY source ORDER BY bucket DESC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
             |  FROM s),
             |t AS (SELECT source, min(bucket) AS thr FROM c WHERE cum <= $approxBudget GROUP BY source)
             |SELECT b.doc_id, b.source, b.n_tokens, b.bucket
             |FROM b JOIN t USING (source) WHERE b.bucket >= t.thr
             |ORDER BY doc_id""".stripMargin) { (s, dir) =>
          val base = docs(s, dir).select(col("doc_id"), col("source"),
            Text.qualityScore(col("text")).as("quality"),
            Text.tokenCount(col("text")).as("n_tokens"))
          Curation.tokenBudgetApprox(base, "source", "quality", "n_tokens", approxBudget, nb)
            .select("doc_id", "source", "n_tokens", "bucket")
            .orderBy("doc_id")
        }
      }

      // deterministic downsampling toward target domain shares: over-
      // represented sources are hash-sampled down, rates computed from
      // the corpus' own counts (never upsamples)
      locally {
        val boosted = Seq("src0", "src1", "src2")
        val (hi, lo) = (0.15, 0.02)
        val inList = boosted.map(s => s"'$s'").mkString(", ")
        def sqlBucket = s"(${sqlMd5Hash64("'mix:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
        register("domain_mix",
          s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
             |t AS (SELECT source, n, (SELECT sum(n) FROM c) AS total FROM c),
             |r AS (SELECT source,
             |        CASE WHEN source IN ($inList) THEN $hi ELSE $lo END
             |          * CAST(total AS DOUBLE) / CAST(n AS DOUBLE) AS rate
             |      FROM t)
             |SELECT d.doc_id, d.source FROM documents d JOIN r USING (source)
             |WHERE $sqlBucket < CAST(floor(least(rate, 1.0) * 1000000) AS BIGINT)
             |ORDER BY doc_id""".stripMargin) { (s, dir) =>
          Curation.domainMix(docs(s, dir), "source", "doc_id",
            boosted.map(_ -> hi).toMap, lo)
            .select("doc_id", "source").orderBy("doc_id")
        }
      }

      // GPT-style concat-and-chop packing spans (per-source streams)
      val seqLen = 128L
      register("pack_concat",
        s"""$DocsView,
           |q AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens FROM docs),
           |c AS (
           |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
           |  FROM q)
           |SELECT doc_id, source, n_tokens, tok_start,
           |       CAST(tok_start // $seqLen AS BIGINT) AS seq_first,
           |       CAST((tok_start + greatest(n_tokens, 1) - 1) // $seqLen AS BIGINT) AS seq_last,
           |       CAST((tok_start + greatest(n_tokens, 1) - 1) // $seqLen
           |         - tok_start // $seqLen + 1 AS BIGINT) AS n_seqs
           |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val base = docs(s, dir).select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).as("n_tokens"))
        Curation.packConcat(base, "source", "doc_id", "n_tokens", seqLen)
          .select("doc_id", "source", "n_tokens", "tok_start",
            "seq_first", "seq_last", "n_seqs")
          .orderBy("doc_id")
      }

      // next-fit bin packing (documents never split across bins): the
      // oracle replays the sequential fold as a recursive CTE walking each
      // source's rows in rank order
      val binBudget = 200L
      register("pack_nextfit",
        s"""WITH RECURSIVE docs AS (
           |  SELECT doc_id, source,
           |         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                              t -> len(t) > 0)) AS BIGINT) AS n_tokens
           |  FROM documents),
           |d AS (
           |  SELECT doc_id, source, n_tokens,
           |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           |  FROM docs),
           |p AS (
           |  SELECT doc_id, source, n_tokens, rn,
           |         CAST(0 AS BIGINT) AS bin, n_tokens AS bin_fill
           |  FROM d WHERE rn = 1
           |  UNION ALL
           |  SELECT d.doc_id, d.source, d.n_tokens, d.rn,
           |         CASE WHEN p.bin_fill + d.n_tokens <= $binBudget THEN p.bin ELSE p.bin + 1 END,
           |         CASE WHEN p.bin_fill + d.n_tokens <= $binBudget
           |              THEN p.bin_fill + d.n_tokens ELSE d.n_tokens END
           |  FROM p JOIN d ON d.source = p.source AND d.rn = p.rn + 1)
           |SELECT doc_id, source, n_tokens, bin, bin_fill FROM p
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val base = docs(s, dir).select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).as("n_tokens"))
        Curation.packNextFit(base, "source", "doc_id", "n_tokens", binBudget)
          .select("doc_id", "source", "n_tokens", "bin", "bin_fill")
          .orderBy("doc_id")
      }
    }

    // concat-and-chop sequence boundaries: the per-sequence document-mask
    // table (seq_id, doc, [begin, end) in-sequence span) — the oracle
    // replays the exclusive cumsum and the touched-sequence unnest
    locally {
      val L = 128L
      register("pack_boundaries",
        s"""$DocsView,
           |d AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n
           |      FROM docs WHERE len(toks) > 0),
           |c AS (SELECT doc_id, source, n,
           |             CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |               CAST(0 AS BIGINT)) AS BIGINT) AS s
           |      FROM d),
           |e AS (SELECT source, doc_id, n, s,
           |             unnest(range(CAST(s // $L AS BIGINT),
           |                          CAST((s + n - 1) // $L + 1 AS BIGINT))) AS q
           |      FROM c)
           |SELECT source, CAST(q AS BIGINT) AS seq_id, doc_id,
           |       CAST(greatest(CAST(0 AS BIGINT), s - q * $L) AS BIGINT) AS begin_tok,
           |       CAST(least($L, s + n - q * $L) AS BIGINT) AS end_tok
           |FROM e ORDER BY source, seq_id, doc_id""".stripMargin) { (s, dir) =>
        val base = docs(s, dir).select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).as("n_tokens"))
        Curation.sequenceBoundaries(base, "source", "doc_id", "n_tokens", L)
          .select("source", "seq_id", "doc_id", "begin_tok", "end_tok")
          .orderBy("source", "seq_id", "doc_id")
      }
    }

    // length-bucketed batch assembly (fairseq/HF --max-tokens batching):
    // ascending-length greedy chunking under a PADDED token budget,
    // replayed by the oracle as a per-bucket recursive scan
    locally {
      val maxTok = 256L
      register("length_batches",
        s"""WITH RECURSIVE docs AS (
           |  SELECT doc_id,
           |         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                              t -> len(t) > 0)) AS BIGINT) AS n_tokens
           |  FROM documents),
           |bk AS (
           |  SELECT doc_id, n_tokens,
           |         CAST(CASE WHEN n_tokens <= 32 THEN 0 WHEN n_tokens <= 64 THEN 1
           |                   WHEN n_tokens <= 96 THEN 2 ELSE 3 END AS BIGINT) AS bucket
           |  FROM docs),
           |d AS (
           |  SELECT doc_id, n_tokens, bucket,
           |         row_number() OVER (PARTITION BY bucket ORDER BY n_tokens, doc_id) AS rn
           |  FROM bk),
           |p AS (
           |  SELECT doc_id, n_tokens, bucket, rn,
           |         CAST(0 AS BIGINT) AS batch, CAST(1 AS BIGINT) AS batch_rows
           |  FROM d WHERE rn = 1
           |  UNION ALL
           |  SELECT d.doc_id, d.n_tokens, d.bucket, d.rn,
           |         CASE WHEN d.n_tokens * (p.batch_rows + 1) <= $maxTok
           |              THEN p.batch ELSE p.batch + 1 END,
           |         CASE WHEN d.n_tokens * (p.batch_rows + 1) <= $maxTok
           |              THEN p.batch_rows + 1 ELSE CAST(1 AS BIGINT) END
           |  FROM p JOIN d ON d.bucket = p.bucket AND d.rn = p.rn + 1)
           |SELECT doc_id, n_tokens, bucket, batch, batch_rows FROM p
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val base = docs(s, dir).select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"))
        Curation.lengthBucketBatches(base, "doc_id", "n_tokens",
          Seq(32L, 64L, 96L), maxTok)
          .orderBy("doc_id")
      }
    }

    // hashed linear quality-classifier score (fastText-style filtering
    // plumbing; deterministic pseudo-weights, see Quality.classifierScore)
    locally {
      val thr = 0.02
      val wSum = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        |  list_transform(toks, t -> ${sqlMd5Hash64("'qw:' || t")} % 2001 - 1000)),
        |  (a, x) -> a + x)""".stripMargin.replace("\n", " ")
      register("classifier_score",
        s"""$DocsView
           |SELECT doc_id,
           |  CASE WHEN len(toks) > 0
           |       THEN CAST($wSum AS DOUBLE) / (CAST(len(toks) AS DOUBLE) * 1000.0)
           |       ELSE 0.0 END AS score,
           |  CAST(CASE WHEN len(toks) > 0
           |            AND CAST($wSum AS DOUBLE) / (CAST(len(toks) AS DOUBLE) * 1000.0) >= $thr
           |       THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM docs ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val score = Quality.classifierScore(col("text"))
        docs(s, dir).select(col("doc_id"), score.as("score"),
          (score >= thr).cast("long").as("keep"))
          .orderBy("doc_id")
      }
    }

    // SemDeDup: cluster-then-prune semantic dedup; the oracle replays the
    // deterministic cell assignment (same rule as the gated IVF index)
    // and the within-cell lower-id-neighbor drop
    locally {
      val (nCells, thr) = (16, 0.35)
      register("semantic_dedup",
        s"""WITH cent AS (
           |  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
           |  ORDER BY vec_id LIMIT $nCells),
           |assign AS (
           |  SELECT vec_id, embedding, cell FROM (
           |    SELECT e.vec_id, e.embedding, c.cell,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
           |dropped AS (
           |  SELECT DISTINCT b.vec_id
           |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |  WHERE ${sqlCosine("a.embedding", "b.embedding")} >= $thr)
           |SELECT vec_id FROM embeddings
           |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
           |ORDER BY vec_id""".stripMargin) { (s, dir) =>
        Similarity.semanticDedup(emb(s, dir), "vec_id", "embedding", nCells, thr)
          .select("vec_id").orderBy("vec_id")
      }
    }

    // ---------------- benchmark decontamination ----------------

    locally {
      // train/bench sides reuse the split_by_hash buckets: train = the
      // 80% slice, benchmark = the 10% test slice — decontaminating the
      // training split against the held-out split, the real-world shape.
      def sqlBucket = s"(${sqlMd5Hash64(s"'split:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      val minHits = 40L
      val reportSql =
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, $sqlBucket AS b, unnest(list_distinct(${sqlShingles("toks")})) AS shingle
           |  FROM docs),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE b >= 900000)
           |SELECT doc_id, count(*) AS hits
           |FROM sh JOIN bench USING (shingle) WHERE b < 800000
           |GROUP BY doc_id HAVING count(*) >= $minHits ORDER BY doc_id""".stripMargin

      def trainBench(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
        val d = docs(s, dir)
        val bucket = Sampling.hashBucket(col("doc_id"), "split")
        (d.filter(bucket < 800000), d.filter(bucket >= 900000))
      }

      register("decontam_report", reportSql) { (s, dir) =>
        val (train, bench) = trainBench(s, dir)
        Decontam.contaminationReport(train, bench, "doc_id", "text", minHits)
          .orderBy("doc_id")
      }

      // The Bloom scale path must return IDENTICAL rows — same oracle.
      register("decontam_bloom", reportSql) { (s, dir) =>
        val (train, bench) = trainBench(s, dir)
        Decontam.contaminationBloom(train, bench, "doc_id", "text", minHits,
          expectedItems = 100000L, fpp = 0.01)
          .orderBy("doc_id")
      }

      // leak attribution: per (train, bench) pair with enough shared
      // distinct shingles — bench ids ride the same broadcast join
      register("decontam_pairs",
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, $sqlBucket AS b, unnest(list_distinct(${sqlShingles("toks")})) AS shingle
           |  FROM docs)
           |SELECT t.doc_id, bn.doc_id AS bench_id, count(*) AS shared
           |FROM sh t JOIN sh bn USING (shingle)
           |WHERE t.b < 800000 AND bn.b >= 900000
           |GROUP BY t.doc_id, bn.doc_id HAVING count(*) >= $minHits
           |ORDER BY t.doc_id, bench_id""".stripMargin) { (s, dir) =>
        val (train, bench) = trainBench(s, dir)
        Decontam.contaminationPairs(train, bench, "doc_id", "text", minHits)
          .orderBy("doc_id", "bench_id")
      }

      // the map-side streaming-safe flag must agree with the join-based
      // report on every doc, including the zero-hit majority
      register("decontam_flag",
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, $sqlBucket AS b, unnest(list_distinct(${sqlShingles("toks")})) AS shingle
           |  FROM docs),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE b >= 900000),
           |hits AS (
           |  SELECT doc_id, count(*) AS h
           |  FROM sh JOIN bench USING (shingle) WHERE b < 800000
           |  GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(h, 0) AS bench_hits,
           |       COALESCE(h, 0) >= $minHits AS contaminated
           |FROM documents d LEFT JOIN hits USING (doc_id)
           |WHERE (${sqlMd5Hash64(s"'split:' || CAST(d.doc_id AS VARCHAR)")} % 1000000) < 800000
           |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
        val (train, bench) = trainBench(s, dir)
        Decontam.flagContaminated(train, bench, "doc_id", "text", minHits)
          .select("doc_id", "bench_hits", "contaminated").orderBy("doc_id")
      }

      register("decontam_clean",
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, $sqlBucket AS b, unnest(list_distinct(${sqlShingles("toks")})) AS shingle
           |  FROM docs),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE b >= 900000),
           |flagged AS (
           |  SELECT doc_id FROM sh JOIN bench USING (shingle) WHERE b < 800000
           |  GROUP BY doc_id HAVING count(*) >= $minHits)
           |SELECT doc_id FROM documents
           |WHERE $sqlBucket < 800000 AND doc_id NOT IN (SELECT doc_id FROM flagged)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val (train, bench) = trainBench(s, dir)
        Decontam.decontaminate(train, bench, "doc_id", "text", minHits)
          .select("doc_id").orderBy("doc_id")
      }
    }

    // ---------------- dedup ----------------

    // exact dedup over a corpus with synthetic exact duplicates
    register("dedup_exact",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
         |SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |  FROM corpus) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val corpus = d.unionAll(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      Dedup.exact(corpus, "text", "doc_id").select("doc_id").orderBy("doc_id")
    }

    // fingerprint dedup: reversed-token variants collapse onto originals
    register("dedup_fingerprint",
      s"""$DocsView
         |, corpus AS (
         |  SELECT doc_id, text FROM docs
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id,
         |         array_to_string(list_reverse(toks), ' ') AS text
         |  FROM docs)
         |, fp AS (
         |  SELECT doc_id,
         |         md5(array_to_string(list_sort(list_distinct(
         |           list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                       t -> len(t) > 0))), ' ')) AS f
         |  FROM corpus)
         |SELECT doc_id FROM (
         |  SELECT doc_id, row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
         |  FROM fp) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select("doc_id", "text")
      val reversed = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", reverse(Text.tokens(col("text")))).as("text"))
      Dedup.byFingerprint(d.unionAll(reversed), "text", "doc_id")
        .select("doc_id").orderBy("doc_id")
    }

    locally {
      val k = 8
      val p = 1000000007L
      val mins = (0 until k).map { j =>
        val a = 2L * j + 1
        val b = 7919L * j + 13
        s"list_min(list_transform(hh, h -> ($a * h + $b) % $p)) AS m$j"
      }.mkString(",\n         ")
      val bandSelects = (0 until 4).map { bnd =>
        s"SELECT doc_id, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      val lshPrefix =
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM docs),
           |hh AS (
           |  SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
           |sigs AS (
           |  SELECT doc_id,
           |         $mins
           |  FROM hh),
           |buckets AS (
           |  $bandSelects)""".stripMargin

      register("dedup_minhash_lsh",
        s"""$lshPrefix
           |SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
           |FROM buckets l JOIN buckets r
           |  ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        Dedup.lshCandidates(docs(s, dir), "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
          .orderBy("id1", "id2")
      }

      // mega-bucket guard: buckets over the cap dropped whole BEFORE the
      // self-join (the production boilerplate-signature defense) — the
      // oracle replays the identical qualify-then-join
      locally {
        val cap = 3
        register("dedup_minhash_lsh_capped",
          s"""$lshPrefix,
             |ok AS (SELECT band, sig FROM buckets
             |       GROUP BY band, sig HAVING count(*) <= $cap),
             |kept AS (SELECT b.* FROM buckets b JOIN ok USING (band, sig))
             |SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
             |FROM kept l JOIN kept r
             |  ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
             |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
          Dedup.lshCandidates(docs(s, dir), "text", "doc_id", k = k,
              rowsPerBand = 2, cap = Dedup.BucketCap.Fixed(cap))
            .orderBy("id1", "id2")
        }

        // mega-bucket cap PLANNER: sampled probe -> bucket-size stats ->
        // recommended maxBucket (headroom x extrapolated largest organic
        // bucket). The oracle replays the sampled banding and the exact
        // discrete p99 index rule.
        register("lsh_cap_plan",
          s"""$DocsView
             |, fd AS (
             |  SELECT doc_id, toks FROM docs
             |  WHERE (${sqlMd5Hash64("'capplan:' || CAST(doc_id AS VARCHAR)")} % 1000000) < 500000),
             |sh AS (
             |  SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM fd),
             |hh AS (
             |  SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
             |sigs AS (
             |  SELECT doc_id,
             |         $mins
             |  FROM hh),
             |buckets AS (
             |  $bandSelects),
             |bs AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS c
             |       FROM buckets GROUP BY 1, 2),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets,
             |              CAST(max(c) AS BIGINT) AS max_bucket FROM bs),
             |srt AS (SELECT c, row_number() OVER (ORDER BY c) - 1 AS rn FROM bs),
             |p99 AS (SELECT c FROM srt, st
             |        WHERE rn = least(st.n_buckets - 1,
             |                         CAST(floor(0.99 * st.n_buckets) AS BIGINT))),
             |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled FROM fd)
             |SELECT ns.n_sampled, st.n_buckets, st.max_bucket,
             |       p99.c AS p99_bucket,
             |       greatest(CAST(16 AS BIGINT),
             |                CAST(ceil(4.0 * CAST(st.max_bucket AS DOUBLE) / 0.5) AS BIGINT))
             |         AS recommended_max_bucket
             |FROM ns, st, p99""".stripMargin) { (s, dir) =>
          Dedup.maxBucketPlan(docs(s, dir), "text", "doc_id",
            fraction = 0.5, k = k, rowsPerBand = 2)
        }
      }

      // connected components over the LSH pairs: the oracle computes the
      // same min-reachable-id labels via transitive closure (recursive
      // CTE — fine at oracle scale; Spark side is iterative label
      // propagation, one edge shuffle per round). Builds on whatever
      // `buckets` CTE the surrounding prefix defines.
      val closure =
        s"""pairs AS (
           |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
           |  FROM buckets l JOIN buckets r
           |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |edges AS (
           |  SELECT id1 AS a, id2 AS b FROM pairs
           |  UNION SELECT id2, id1 FROM pairs),
           |reach(a, b) AS (
           |  SELECT a, b FROM edges
           |  UNION
           |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
           |labels AS (
           |  SELECT a AS doc_id, least(a, min(b)) AS cluster
           |  FROM reach GROUP BY a)""".stripMargin

      // ---- AUTO mega-bucket guard: the r14 default path ----
      //
      // Adversarial fixture: every document replicated 40× with a replica
      // token appended (rep 0 = the original — the ScaleCorpus text
      // convention), so each band bucket's membership multiplies ~40× and
      // the corpus's total candidate-pair emissions blow past the
      // 32-per-doc budget. The AUTO guard (the default every LSH-composing
      // IR action now gets) must resolve a finite cap from the exact
      // bucket-size histogram and drop the mega buckets whole. The oracle
      // replays the ENTIRE decision — histogram, banded-doc count, budget,
      // largest-qualifying size, the 16 floor — then the qualify-then-join,
      // so a drift in any part of the resolution breaks the hash. (On the
      // UNREPLICATED corpus the same default resolves to unlimited and is
      // bit-identical to the unguarded join — that is what keeps every
      // pre-r14 LSH gate green with auto as the new default.)
      locally {
        val reps = 40
        val autoPrefix =
          s"""WITH corpus AS (
             |  SELECT doc_id + rep * 1000000 AS doc_id,
             |         CASE WHEN rep = 0 THEN text
             |              ELSE text || ' rep' || CAST(rep AS VARCHAR) END AS text
             |  FROM documents CROSS JOIN (SELECT unnest(range($reps)) AS rep)),
             |docs AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                     t -> len(t) > 0) AS toks
             |  FROM corpus),
             |sh AS (
             |  SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM docs),
             |hh AS (
             |  SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
             |sigs AS (
             |  SELECT doc_id,
             |         $mins
             |  FROM hh),
             |buckets AS (
             |  $bandSelects),
             |bs AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS c
             |       FROM buckets WHERE sig IS NOT NULL GROUP BY 1, 2),
             |hist AS (SELECT c AS s, CAST(count(*) AS BIGINT) AS n FROM bs GROUP BY c),
             |nd AS (SELECT CAST(sum(s * n) AS BIGINT) // ${k / 2} AS n_docs FROM hist),
             |bdg AS (SELECT CAST(ceil(32.0 * n_docs) AS BIGINT) AS budget FROM nd),
             |sol AS (
             |  SELECT CASE WHEN (SELECT CAST(sum(n * ((s * (s - 1)) // 2)) AS BIGINT) FROM hist)
             |                   <= bdg.budget
             |              THEN CAST(9223372036854775807 AS BIGINT)
             |              ELSE greatest(CAST(16 AS BIGINT), coalesce((
             |                SELECT CAST(max(s) AS BIGINT) FROM (
             |                  SELECT s, sum(n * ((s * (s - 1)) // 2)) OVER (ORDER BY s) AS cum
             |                  FROM hist)
             |                WHERE cum <= bdg.budget), CAST(0 AS BIGINT)))
             |         END AS cap
             |  FROM bdg),
             |kept AS (SELECT b.* FROM buckets b JOIN bs USING (band, sig), sol
             |         WHERE bs.c <= sol.cap)""".stripMargin

        def advCorpus(s: SparkSession, dir: String) =
          docs(s, dir).select(col("doc_id"), col("text"))
            .withColumn("rep", explode(sequence(lit(0L), lit(reps - 1L))))
            .select((col("doc_id") + col("rep") * 1000000L).as("doc_id"),
              when(col("rep") === 0L, col("text"))
                .otherwise(concat(col("text"), lit(" rep"), col("rep"))).as("text"))

        register("dedup_minhash_lsh_auto",
          s"""$autoPrefix
             |SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
             |FROM kept l JOIN kept r
             |  ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
             |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
          // through the IR action with NO max-bucket param — the exact
          // path a naive user declares; the default must be the guard
          val node = graft.ir.Node.fromJson(
            s"""{"action":"dedup-minhash-lsh",
               | "params":[{"id":"doc_id","text":"text","k":$k,"rows-per-band":2}],
               | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
          graft.ir.Engine.run(node, advCorpus(s, dir),
              graft.ir.EngineCtx(testMode = true)).taps("out")
            .orderBy("id1", "id2")
        }

        // the guard's one-row account — what a capped run excluded. This
        // is the in-band observability row (`audit-path` in the IR): a
        // production run can tell "no near-dups" from "near-dups exempted
        // by cap" without scraping driver logs.
        register("lsh_auto_audit",
          s"""$autoPrefix
             |SELECT sol.cap AS resolved_max_bucket,
             |       nd.n_docs,
             |       (SELECT CAST(count(*) AS BIGINT) FROM bs) AS n_buckets,
             |       (SELECT CAST(coalesce(max(c), 0) AS BIGINT) FROM bs) AS largest_bucket,
             |       (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM hist, sol
             |        WHERE s > sol.cap) AS excluded_buckets,
             |       (SELECT CAST(coalesce(sum(s * n), 0) AS BIGINT) FROM hist, sol
             |        WHERE s > sol.cap) AS excluded_members
             |FROM sol, nd""".stripMargin) { (s, dir) =>
          val audit = Dedup.lshCandidatesAudited(advCorpus(s, dir), "text", "doc_id",
            k = k, rowsPerBand = 2, cap = Dedup.BucketCap.Auto())._2
          audit.get.toDF(s)
        }

      }

      // ---- r15: the guard's CONNECTIVITY face is EXACT ----
      //
      // For consumers that feed the pairs into connected components
      // (cluster-split, near-dup-prune), over-cap buckets emit linear
      // member→bucket-min star edges with the same components as their
      // dropped cliques. The strongest possible gate: the Spark side
      // runs the CAPPED default (auto resolves a finite cap on this
      // corpus — the 200-copy boilerplate clique blows the 32-per-doc
      // budget), while the ORACLE replays the UNLIMITED closure. Hash
      // equality means capping cost the split/prune NOTHING — at
      // O(bucket) instead of O(bucket²) cost. (The clique is a SINGLE
      // planted mega-bucket, unlike dedup_minhash_lsh_auto's 40×
      // whole-corpus replication, so the oracle's transitive closure
      // stays small: organic pairs + one 200² clique.)
      locally {
        val boiler = "parked domain boilerplate placeholder page body verbatim"
        val clones = 200
        val starPrefix =
          s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT 2000000 + i AS doc_id, '$boiler' AS text
             |  FROM (SELECT unnest(range($clones)) AS i)),
             |docs AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                     t -> len(t) > 0) AS toks
             |  FROM corpus),
             |sh AS (
             |  SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM docs),
             |hh AS (
             |  SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
             |sigs AS (
             |  SELECT doc_id,
             |         $mins
             |  FROM hh),
             |buckets AS (
             |  $bandSelects)""".stripMargin
        def starCorpus(s: SparkSession, dir: String) = {
          val extra = s.range(clones.toLong)
            .select((col("id") + 2000000L).as("doc_id"), lit(boiler).as("text"))
          docs(s, dir).select(col("doc_id"), col("text")).unionAll(extra)
        }
        val splitCase =
          s"""CASE WHEN (${sqlMd5Hash64(
                  "'cs:' || CAST(coalesce(l.cluster, c.doc_id) AS VARCHAR)")} % 1000000)
             |       < 800000 THEN 'train'
             |     WHEN (${sqlMd5Hash64(
                  "'cs:' || CAST(coalesce(l.cluster, c.doc_id) AS VARCHAR)")} % 1000000)
             |       < 900000 THEN 'val'
             |     ELSE 'test' END""".stripMargin
        register("cluster_split_star",
          s"""${starPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
             |$closure
             |SELECT c.doc_id, $splitCase AS split
             |FROM corpus c LEFT JOIN labels l ON c.doc_id = l.doc_id
             |ORDER BY c.doc_id""".stripMargin) { (s, dir) =>
          val node = graft.ir.Node.fromJson(
            s"""{"action":"cluster-split","params":[{"id":"doc_id","text":"text",
               |   "k":$k,"rows-per-band":2,"salt":"cs",
               |   "weights":[{"name":"train","weight":0.8},
               |              {"name":"val","weight":0.1},
               |              {"name":"test","weight":0.1}]}],
               | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
          graft.ir.Engine.run(node, starCorpus(s, dir),
              graft.ir.EngineCtx(testMode = true)).taps("out")
            .select("doc_id", "split").orderBy("doc_id")
        }

        register("near_dup_prune_star",
          s"""${starPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
             |$closure
             |SELECT c.doc_id FROM corpus c
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM labels l
             |  WHERE l.doc_id = c.doc_id AND l.cluster <> l.doc_id)
             |ORDER BY doc_id""".stripMargin) { (s, dir) =>
          val node = graft.ir.Node.fromJson(
            s"""{"action":"near-dup-prune",
               | "params":[{"id":"doc_id","text":"text","k":$k,"rows-per-band":2}],
               | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
          graft.ir.Engine.run(node, starCorpus(s, dir),
              graft.ir.EngineCtx(testMode = true)).taps("out")
            .select("doc_id").orderBy("doc_id")
        }
      }

      register("dedup_clusters",
        s"""${lshPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$closure
           |SELECT doc_id, cluster FROM labels ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val pairs = Dedup.lshCandidates(docs(s, dir), "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        Dedup.clusterPairs(pairs)
          .select(col("id").as("doc_id"), col("cluster")).orderBy("doc_id")
      }

      // the same query as `dedup_clusters` (both IR names reach one
      // operator); kept under this name, which the batch benchmark times
      register("dedup_clusters_star",
        s"""${lshPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$closure
           |SELECT doc_id, cluster FROM labels ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val pairs = Dedup.lshCandidates(docs(s, dir), "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        Dedup.clusterPairs(pairs)
          .select(col("id").as("doc_id"), col("cluster")).orderBy("doc_id")
      }

      // leakage-free split: near-dup clusters are atomic split units —
      // every doc gets the split of its cluster root (docs in no pair
      // root at themselves); the oracle replays closure + root hashing
      register("cluster_split",
        s"""${lshPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$closure
           |SELECT d.doc_id,
           |       CASE WHEN (${sqlMd5Hash64(
                      "'cs:' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)")} % 1000000)
           |              < 800000 THEN 'train'
           |            WHEN (${sqlMd5Hash64(
                      "'cs:' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)")} % 1000000)
           |              < 900000 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
           |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val pairs = Dedup.lshCandidates(d, "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        Dedup.clusterAwareSplit(d, pairs, "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "cs")
          .select("doc_id", "split").orderBy("doc_id")
      }

      // the same split via the DECLARED pipeline (IR composes the LSH
      // pair generation in-action) — one oracle gates both faces
      register("ir_cluster_split",
        s"""${lshPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$closure
           |SELECT d.doc_id,
           |       CASE WHEN (${sqlMd5Hash64(
                      "'cs:' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)")} % 1000000)
           |              < 800000 THEN 'train'
           |            WHEN (${sqlMd5Hash64(
                      "'cs:' || CAST(coalesce(l.cluster, d.doc_id) AS VARCHAR)")} % 1000000)
           |              < 900000 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
           |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
        import graft.ir.{Engine, EngineCtx, Node}
        val node = Node.fromJson(
          s"""{"action":"cluster-split","params":[{"id":"doc_id","text":"text",
             |   "k":$k,"rows-per-band":2,"salt":"cs",
             |   "weights":[{"name":"train","weight":0.8},
             |              {"name":"val","weight":0.1},
             |              {"name":"test","weight":0.1}]}],
             | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
        Engine.run(node, docs(s, dir), EngineCtx(testMode = true)).taps("out")
          .select("doc_id", "split").orderBy("doc_id")
      }

      // the composition the preflight lint steers users toward: a
      // CLUSTER-AWARE train/bench fence feeding exact-shingle
      // decontamination. split-by-hash before decontam is the measured
      // footgun (near-dup family members straddle the fence and decontam
      // flags every duplicated train doc — the ×100 chain's clean = 0
      // row, SCALING.md); cluster-split keeps families atomic, so only
      // genuine cross-family contamination is flagged. The oracle
      // replays closure → root hash split → shared-distinct-shingle
      // counting end to end.
      register("cluster_fence_decontam",
        s"""${lshPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$closure,
           |roots AS (
           |  SELECT d.doc_id, coalesce(l.cluster, d.doc_id) AS root
           |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id),
           |sp AS (
           |  SELECT doc_id,
           |         CASE WHEN (${sqlMd5Hash64(
                  "'fence:' || CAST(root AS VARCHAR)")} % 1000000)
           |                < 900000 THEN 'train' ELSE 'bench' END AS split
           |  FROM roots),
           |shd AS (
           |  SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM sh),
           |bsh AS (
           |  SELECT DISTINCT shingle FROM shd JOIN sp USING (doc_id)
           |  WHERE sp.split = 'bench'),
           |flagged AS (
           |  SELECT shd.doc_id FROM shd
           |  JOIN sp USING (doc_id) JOIN bsh USING (shingle)
           |  WHERE sp.split = 'train'
           |  GROUP BY shd.doc_id HAVING count(*) >= 3)
           |SELECT d.doc_id FROM documents d JOIN sp ON d.doc_id = sp.doc_id
           |WHERE sp.split = 'train'
           |  AND d.doc_id NOT IN (SELECT doc_id FROM flagged)
           |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val pairs = Dedup.lshCandidates(d, "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        val sp = Dedup.clusterAwareSplit(d, pairs, "doc_id",
          Seq("train" -> 0.9, "bench" -> 0.1), salt = "fence")
        val train = sp.filter(col("split") === "train").select("doc_id", "text")
        val bench = sp.filter(col("split") === "bench").select("doc_id", "text")
        Decontam.decontaminate(train, bench, "doc_id", "text", 3)
          .select("doc_id").orderBy("doc_id")
      }

      // duplicate-rate planning estimate: deterministic md5 sample ->
      // within-sample LSH + closure -> rates; the oracle replays the
      // sample membership, the signatures, and the transitive closure
      locally {
        import graft.operators.{Dedup => D}
        val frac = 0.3
        val bandSel = (0 until 4).map { bnd =>
          s"SELECT doc_id, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM sigs"
        }.mkString("\n  UNION ALL\n  ")
        register("dup_rate_estimate",
          s"""WITH RECURSIVE sample AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE ${sqlMd5Hash64("'dupest:' || CAST(doc_id AS VARCHAR)")} % 1000000
             |        < ${(frac * 1000000).toLong}),
             |tok AS (
             |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                             t -> len(t) > 0) AS toks
             |  FROM sample),
             |sh AS (SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM tok),
             |hh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
             |sigs AS (SELECT doc_id, $mins FROM hh),
             |buckets AS (
             |  $bandSel),
             |pairs AS (
             |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
             |  FROM buckets l JOIN buckets r
             |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
             |edges AS (
             |  SELECT id1 AS a, id2 AS b FROM pairs
             |  UNION SELECT id2, id1 FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |labels AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
             |stats AS (
             |  SELECT (SELECT count(*) FROM sample) AS n_sampled,
             |         (SELECT count(*) FROM labels WHERE cluster <> doc_id) AS n_dup,
             |         (SELECT count(*) FROM pairs) AS n_pairs)
             |SELECT CAST(n_sampled AS BIGINT) AS n_sampled,
             |       CAST(n_dup AS BIGINT) AS n_dup,
             |       CASE WHEN n_sampled > 0
             |            THEN CAST(n_dup AS DOUBLE) / CAST(n_sampled AS DOUBLE)
             |            ELSE 0.0 END AS dup_rate,
             |       CAST(n_pairs AS BIGINT) AS n_pairs,
             |       CAST(n_pairs AS DOUBLE) / ${frac * frac} AS est_corpus_pairs
             |FROM stats""".stripMargin) { (s, dir) =>
          D.dupRateEstimate(docs(s, dir), "text", "doc_id", frac,
            cap = D.BucketCap.Unlimited)
        }
      }

      // fuzzy decontamination: near-dup (banded-MinHash) benchmark leaks
      // — bench = every 7th doc, so each bench doc at least flags itself
      // and the natural LSH near-dups flag their train-side twins
      register("fuzzy_decontam",
        s"""$lshPrefix
           |SELECT l.doc_id AS doc_id, min(r.doc_id) AS bench_dup_of
           |FROM buckets l JOIN buckets r
           |  ON l.band = r.band AND l.sig = r.sig AND r.doc_id % 7 = 0
           |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        graft.operators.Decontam.fuzzyContamination(
            d, d.filter(col("doc_id") % 7 === 0), "doc_id", "text")
          .orderBy("doc_id")
      }

      // incremental dedup against a persisted signature store: store =
      // even docs, delta = odd docs + exact copies of some evens (must
      // come back dup_store) + within-delta twin copies of some odds
      // (must come back dup_delta pointing at their twin). The oracle
      // replays BOTH stages: min colliding store id, then transitive
      // closure over rest-only LSH pairs.
      locally {
        import graft.operators.IncrementalDedup
        val bandSel = (0 until 4).map { bnd =>
          s"SELECT doc_id, is_store, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM sigs"
        }.mkString("\n  UNION ALL\n  ")
        register("incremental_dedup",
          s"""WITH RECURSIVE corpus AS (
             |  SELECT doc_id, text, doc_id % 2 = 0 AS is_store FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000001, text, false FROM documents WHERE doc_id % 20 = 0
             |  UNION ALL
             |  SELECT doc_id + 2000001, text, false FROM documents WHERE doc_id % 20 = 1),
             |tok AS (
             |  SELECT doc_id, is_store,
             |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                     t -> len(t) > 0) AS toks
             |  FROM corpus),
             |sh AS (SELECT doc_id, is_store, ${sqlShingles("toks")} AS shingles FROM tok),
             |hh AS (SELECT doc_id, is_store,
             |              list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
             |sigs AS (
             |  SELECT doc_id, is_store,
             |         $mins
             |  FROM hh),
             |buckets AS (
             |  $bandSel),
             |shits AS (
             |  SELECT d.doc_id, min(s.doc_id) AS dup_of
             |  FROM buckets d JOIN buckets s
             |    ON d.band = s.band AND d.sig = s.sig AND s.is_store AND NOT d.is_store
             |  GROUP BY d.doc_id),
             |rest AS (
             |  SELECT doc_id FROM corpus
             |  WHERE NOT is_store AND doc_id NOT IN (SELECT doc_id FROM shits)),
             |pairs AS (
             |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
             |  FROM buckets l JOIN buckets r
             |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
             |   AND NOT l.is_store AND NOT r.is_store
             |  WHERE l.doc_id IN (SELECT doc_id FROM rest)
             |    AND r.doc_id IN (SELECT doc_id FROM rest)),
             |edges AS (
             |  SELECT id1 AS a, id2 AS b FROM pairs
             |  UNION SELECT id2, id1 FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, b FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |labels AS (
             |  SELECT a AS doc_id, least(a, min(b)) AS cluster
             |  FROM reach GROUP BY a)
             |SELECT c.doc_id,
             |       CASE WHEN sh.dup_of IS NOT NULL THEN 'dup_store'
             |            WHEN l.cluster IS NOT NULL AND l.cluster <> c.doc_id THEN 'dup_delta'
             |            ELSE 'kept' END AS status,
             |       COALESCE(sh.dup_of,
             |                CASE WHEN l.cluster <> c.doc_id THEN l.cluster END,
             |                -1) AS dup_of
             |FROM corpus c
             |LEFT JOIN shits sh USING (doc_id)
             |LEFT JOIN labels l USING (doc_id)
             |WHERE NOT c.is_store ORDER BY doc_id""".stripMargin) { (s, dir) =>
          val d = docs(s, dir).select("doc_id", "text")
          val store = d.filter(col("doc_id") % 2 === 0)
          val delta = d.filter(col("doc_id") % 2 === 1)
            .unionAll(d.filter(col("doc_id") % 20 === 0)
              .select((col("doc_id") + 1000001).as("doc_id"), col("text")))
            .unionAll(d.filter(col("doc_id") % 20 === 1)
              .select((col("doc_id") + 2000001).as("doc_id"), col("text")))
          val tmp = gateStoreDir("inc_dedup")
          IncrementalDedup.writeStore(store, "text", "doc_id", tmp, nBuckets = 16)
          IncrementalDedup.dedupDelta(delta, "text", "doc_id", tmp)
            .select(col("doc_id"), col("status"),
              coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
            .orderBy("doc_id")
        }
      }

      register("dedup_cluster_canonical",
        s"""${lshPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$closure
           |SELECT d.doc_id FROM docs d
           |WHERE NOT EXISTS (
           |  SELECT 1 FROM labels l
           |  WHERE l.doc_id = d.doc_id AND l.cluster <> l.doc_id)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val pairs = Dedup.lshCandidates(d, "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        Dedup.dedupByClusters(d, pairs, "doc_id")
          .select("doc_id").orderBy("doc_id")
      }

      // keep-best variant: among each cluster's members the LONGEST doc
      // survives (tie -> lowest id), not the lowest id — "keep the
      // highest-quality duplicate". Same closure; the oracle's
      // max-then-min-id two-step is exactly the engine's
      // max_by(id, (quality, -id)) argmax.
      register("dedup_cluster_keep_best",
        s"""${lshPrefix.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |$closure,
           |lq AS (SELECT l.doc_id, l.cluster, d.n_chars
           |       FROM labels l JOIN docs d ON l.doc_id = d.doc_id),
           |best AS (SELECT cluster, max(n_chars) AS mq FROM lq GROUP BY cluster),
           |winners AS (SELECT lq.cluster, min(lq.doc_id) AS keeper
           |            FROM lq JOIN best
           |              ON lq.cluster = best.cluster AND lq.n_chars = best.mq
           |            GROUP BY lq.cluster),
           |losers AS (SELECT lq.doc_id FROM lq JOIN winners
           |             ON lq.cluster = winners.cluster
           |           WHERE lq.doc_id <> winners.keeper)
           |SELECT d.doc_id FROM docs d
           |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val pairs = Dedup.lshCandidates(d, "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        Dedup.dedupByClustersKeepBest(d, pairs, "doc_id", "n_chars")
          .select("doc_id").orderBy("doc_id")
      }

      register("dedup_ngram_jaccard",
        s"""$lshPrefix,
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
           |  FROM buckets l JOIN buckets r
           |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh)
           |SELECT p.id1, p.id2,
           |       CAST(len(list_filter(s1.ss, x -> list_contains(s2.ss, x))) AS DOUBLE) /
           |       (len(s1.ss) + len(s2.ss) - len(list_filter(s1.ss, x -> list_contains(s2.ss, x)))) AS jaccard
           |FROM pairs p
           |JOIN sets s1 ON s1.doc_id = p.id1
           |JOIN sets s2 ON s2.doc_id = p.id2
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val pairs = Dedup.lshCandidates(d, "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        Dedup.ngramJaccard(d, pairs, "text", "doc_id")
          .select("id1", "id2", "jaccard").orderBy("id1", "id2")
      }

      // asymmetric containment over the same LSH pairs: the
      // quote/wrapper signal Jaccard misses (a short doc quoted whole
      // inside a long one)
      register("dedup_ngram_containment",
        s"""$lshPrefix,
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
           |  FROM buckets l JOIN buckets r
           |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh)
           |SELECT p.id1, p.id2,
           |       CASE WHEN len(s1.ss) = 0 THEN 1.0
           |            ELSE CAST(len(list_filter(s1.ss, x -> list_contains(s2.ss, x))) AS DOUBLE)
           |                 / len(s1.ss) END AS containment_1in2,
           |       CASE WHEN len(s2.ss) = 0 THEN 1.0
           |            ELSE CAST(len(list_filter(s1.ss, x -> list_contains(s2.ss, x))) AS DOUBLE)
           |                 / len(s2.ss) END AS containment_2in1
           |FROM pairs p
           |JOIN sets s1 ON s1.doc_id = p.id1
           |JOIN sets s2 ON s2.doc_id = p.id2
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val pairs = Dedup.lshCandidates(d, "text", "doc_id", k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        Dedup.ngramContainment(d, pairs, "text", "doc_id")
          .select("id1", "id2", "containment_1in2", "containment_2in1")
          .orderBy("id1", "id2")
      }

      // character-level Levenshtein CONFIRM as the FULL funnel (LSH
      // candidates -> n-gram Jaccard >= 0.3 -> alignment confirm): the
      // quadratic DP runs only on the Jaccard survivors — the funnel
      // order the operator scaladocs prescribe; skipping the middle
      // stage made this the whole suite's hot spot at sf0.1 (95 s on
      // 157k raw LSH pairs). The oracle computes the unbounded
      // distance, the operator the early-exit bounded one: identical
      // surviving sets by the bound argument in Dedup.editConfirm's
      // scaladoc. Divisions are per-row double arithmetic from integer
      // numerators — exact cross-engine, so the 0.3 cut is too.
      register("dedup_edit_confirm",
        s"""$lshPrefix,
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
           |  FROM buckets l JOIN buckets r
           |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
           |jp AS (
           |  SELECT p.id1, p.id2
           |  FROM pairs p
           |  JOIN sets s1 ON s1.doc_id = p.id1
           |  JOIN sets s2 ON s2.doc_id = p.id2
           |  WHERE CAST(len(list_filter(s1.ss, x -> list_contains(s2.ss, x))) AS DOUBLE) /
           |        (len(s1.ss) + len(s2.ss) - len(list_filter(s1.ss, x -> list_contains(s2.ss, x)))) >= 0.3),
           |t AS (SELECT doc_id, substr(text, 1, 200) AS tt FROM documents),
           |d AS (SELECT p.id1, p.id2,
           |             greatest(len(t1.tt), len(t2.tt)) AS n,
           |             levenshtein(t1.tt, t2.tt) AS dist
           |      FROM jp p
           |      JOIN t t1 ON t1.doc_id = p.id1
           |      JOIN t t2 ON t2.doc_id = p.id2)
           |SELECT id1, id2, CAST(dist AS BIGINT) AS edit_dist,
           |       CASE WHEN n = 0 THEN 1.0
           |            ELSE 1.0 - CAST(dist AS DOUBLE) / CAST(n AS DOUBLE) END AS edit_sim
           |FROM d
           |WHERE n = 0 OR CAST(dist AS DOUBLE) <= 0.5 * CAST(n AS DOUBLE)
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        Dedup.editConfirmFunnel(docs(s, dir), "text", "doc_id",
          minJaccard = 0.3, minSim = 0.5, maxLen = 200, k = k, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
          .select("id1", "id2", "edit_dist", "edit_sim")
          .orderBy("id1", "id2")
      }

      // the same funnel DECLARED AS DATA: the composed `edit-confirm` IR
      // action (LSH inside the dispatch case) must hash-match the
      // hand-written pipeline's oracle
      register("ir_edit_confirm",
        s"""$lshPrefix,
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
           |  FROM buckets l JOIN buckets r
           |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
           |jp AS (
           |  SELECT p.id1, p.id2
           |  FROM pairs p
           |  JOIN sets s1 ON s1.doc_id = p.id1
           |  JOIN sets s2 ON s2.doc_id = p.id2
           |  WHERE CAST(len(list_filter(s1.ss, x -> list_contains(s2.ss, x))) AS DOUBLE) /
           |        (len(s1.ss) + len(s2.ss) - len(list_filter(s1.ss, x -> list_contains(s2.ss, x)))) >= 0.3),
           |t AS (SELECT doc_id, substr(text, 1, 200) AS tt FROM documents),
           |d AS (SELECT p.id1, p.id2,
           |             greatest(len(t1.tt), len(t2.tt)) AS n,
           |             levenshtein(t1.tt, t2.tt) AS dist
           |      FROM jp p
           |      JOIN t t1 ON t1.doc_id = p.id1
           |      JOIN t t2 ON t2.doc_id = p.id2)
           |SELECT id1, id2, CAST(dist AS BIGINT) AS edit_dist,
           |       CASE WHEN n = 0 THEN 1.0
           |            ELSE 1.0 - CAST(dist AS DOUBLE) / CAST(n AS DOUBLE) END AS edit_sim
           |FROM d
           |WHERE n = 0 OR CAST(dist AS DOUBLE) <= 0.5 * CAST(n AS DOUBLE)
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        val node = graft.ir.Node.fromJson(
          s"""{"action":"edit-confirm",
             | "params":[{"id":"doc_id","text":"text","min-sim":0.5,"max-len":200,
             |            "min-jaccard":0.3,"k":$k,"rows-per-band":2}],
             | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
        graft.ir.Engine.run(node, docs(s, dir),
            graft.ir.EngineCtx(testMode = true)).taps("out")
          .select("id1", "id2", "edit_dist", "edit_sim")
          .orderBy("id1", "id2")
      }

      // ---------------- winnowing (MOSS) fingerprints ----------------
      // Schleimer-Wilkerson-Aiken 2003: min-hash per sliding window over
      // char k-gram hashes, rightmost tie-break. The oracle replays the
      // identical selection with list folds; md5Hash64 keeps hashes
      // bit-identical. k=5, w=4 here so the tiny fixture docs still emit
      // multi-fingerprint sets.
      val (wk, ww) = (5, 4)
      def winnowSql(body: String) =
        s"""WITH nrm AS (SELECT doc_id,
           |               regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
           |             FROM documents),
           |g AS (SELECT doc_id,
           |             list_transform(range(1, greatest(len(t) - $wk + 2, 1)),
           |               i -> struct_pack(pos := i,
           |                      h := ${sqlMd5Hash64(s"substr(t, CAST(i AS INT), $wk)")}))
           |               AS grams
           |      FROM nrm),
           |sel AS (SELECT doc_id,
           |               list_transform(range(1, greatest(len(grams) - $ww + 2, 1)),
           |                 j -> list_reduce(list_slice(grams, j, j + $ww - 1),
           |                   (acc, x) -> CASE WHEN x.h < acc.h OR
           |                                    (x.h = acc.h AND x.pos > acc.pos)
           |                               THEN x ELSE acc END)) AS fps
           |        FROM g)
           |$body""".stripMargin

      register("winnow_fingerprints",
        winnowSql(
          """SELECT DISTINCT doc_id, CAST(u.pos AS BIGINT) AS pos, u.h AS fp
            |FROM sel, unnest(fps) AS t(u)
            |ORDER BY doc_id, pos, fp""".stripMargin)) { (s, dir) =>
        Dedup.winnowFingerprints(docs(s, dir), "text", "doc_id", k = wk, w = ww)
          .orderBy("doc_id", "pos", "fp")
      }

      register("winnow_candidates",
        winnowSql(
          """,fp AS (SELECT DISTINCT doc_id, u.h AS fp
            |        FROM sel, unnest(fps) AS t(u)),
            |kept AS (SELECT a.doc_id, a.fp FROM fp a
            |         JOIN (SELECT fp FROM fp GROUP BY fp
            |               HAVING count(DISTINCT doc_id) <= 50) f ON f.fp = a.fp)
            |SELECT a.doc_id AS id1, b.doc_id AS id2,
            |       CAST(count(*) AS BIGINT) AS shared
            |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
            |GROUP BY 1, 2 HAVING count(*) >= 2
            |ORDER BY id1, id2""".stripMargin)) { (s, dir) =>
        Dedup.winnowCandidates(docs(s, dir), "text", "doc_id", k = wk, w = ww,
            minShared = 2, maxDf = 50)
          .orderBy("id1", "id2")
      }

      // multiset (integer-weighted) MinHash: the occurrence-indexed
      // expansion makes repetition count — same md5/affine convention,
      // so the oracle replays signatures, banding and candidates exactly
      val bandSelectsW = (0 until 4).map { bnd =>
        s"SELECT doc_id, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM wsigs"
      }.mkString("\n  UNION ALL\n  ")
      val weightedPrefix =
        s"""$DocsView,
           |wsh AS (SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM docs),
           |wcnt AS (
           |  SELECT doc_id, token, count(*) AS c
           |  FROM (SELECT doc_id, unnest(shingles) AS token FROM wsh) GROUP BY 1, 2),
           |wexp AS (
           |  SELECT doc_id,
           |         token || '#' || CAST(unnest(range(1, c + 1)) AS VARCHAR) AS s
           |  FROM wcnt),
           |whh AS (SELECT doc_id, list(${sqlMd5HashMod("s")}) AS hh FROM wexp GROUP BY doc_id),
           |wsigs AS (SELECT doc_id, $mins FROM whh),
           |wbuckets AS (
           |  $bandSelectsW),
           |wpairs AS (
           |  SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
           |  FROM wbuckets l JOIN wbuckets r
           |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id)""".stripMargin

      register("dedup_weighted_lsh",
        s"""$weightedPrefix
           |SELECT id1, id2 FROM wpairs ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        Dedup.weightedLshCandidates(docs(s, dir), "text", "doc_id",
            k = k, rowsPerBand = 2, cap = Dedup.BucketCap.Unlimited)
          .orderBy("id1", "id2")
      }

      // exact multiset Jaccard verify over the weighted candidates:
      // Σmin via the intersection join, Σmax by inclusion-exclusion
      // (token totals = doc lengths) — every count integer-exact, the
      // final ratio one IEEE division
      register("dedup_weighted_jaccard",
        s"""$weightedPrefix,
           |lens AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM wsh),
           |inter AS (
           |  SELECT p.id1, p.id2, CAST(sum(least(a.c, b.c)) AS BIGINT) AS m
           |  FROM wpairs p
           |  JOIN wcnt a ON a.doc_id = p.id1
           |  JOIN wcnt b ON b.doc_id = p.id2 AND a.token = b.token
           |  GROUP BY 1, 2)
           |SELECT p.id1, p.id2,
           |       CASE WHEN l1.n + l2.n - coalesce(i.m, 0) = 0 THEN 1.0
           |            ELSE CAST(coalesce(i.m, 0) AS DOUBLE)
           |                 / (l1.n + l2.n - coalesce(i.m, 0)) END AS wjaccard
           |FROM wpairs p
           |LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
           |JOIN lens l1 ON l1.doc_id = p.id1
           |JOIN lens l2 ON l2.doc_id = p.id2
           |ORDER BY p.id1, p.id2""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val pairs = Dedup.weightedLshCandidates(d, "text", "doc_id",
          k = k, rowsPerBand = 2, cap = Dedup.BucketCap.Unlimited)
        Dedup.multisetJaccard(d, pairs, "text", "doc_id")
          .select("id1", "id2", "wjaccard").orderBy("id1", "id2")
      }

      // cross-corpus face of the multiset relation: new-crawl half vs
      // training half under the same hash-split as dedup_cross_corpus
      val wXBucket = s"(${sqlMd5Hash64("'xcorp:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      val bandSelectsWX = (0 until 4).map { bnd =>
        s"SELECT doc_id, cb, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM wxsigs"
      }.mkString("\n  UNION ALL\n  ")
      register("dedup_weighted_cross",
        s"""$DocsView,
           |wxsh AS (SELECT doc_id, $wXBucket AS cb,
           |                ${sqlShingles("toks")} AS shingles FROM docs),
           |wxcnt AS (
           |  SELECT doc_id, cb, token, count(*) AS c
           |  FROM (SELECT doc_id, cb, unnest(shingles) AS token FROM wxsh)
           |  GROUP BY 1, 2, 3),
           |wxexp AS (
           |  SELECT doc_id, cb,
           |         token || '#' || CAST(unnest(range(1, c + 1)) AS VARCHAR) AS s
           |  FROM wxcnt),
           |wxhh AS (SELECT doc_id, cb, list(${sqlMd5HashMod("s")}) AS hh
           |         FROM wxexp GROUP BY 1, 2),
           |wxsigs AS (SELECT doc_id, cb, $mins FROM wxhh),
           |wxb AS (
           |  $bandSelectsWX)
           |SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
           |FROM wxb l JOIN wxb r ON l.band = r.band AND l.sig = r.sig
           |WHERE l.cb < 500000 AND r.cb >= 500000
           |ORDER BY left_id, right_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val bucket = Sampling.hashBucket(col("doc_id"), "xcorp")
        Dedup.weightedCrossCorpusCandidates(
          d.filter(bucket < 500000), d.filter(bucket >= 500000),
          "text", "doc_id", k = k, rowsPerBand = 2,
          capLeft = Dedup.BucketCap.Unlimited,
          capRight = Dedup.BucketCap.Unlimited)
          .orderBy("left_id", "right_id")
      }
    }

    // exact-substring dedup signal (Lee et al. 2022): per-doc duplicated
    // n-gram window stats; the oracle replays the identical window
    // hashing and corpus-wide count
    locally {
      val n = 8
      register("dup_ngram_stats",
        s"""$DocsView,
           |w AS (
           |  SELECT doc_id, unnest(list_transform(${sqlNgrams("toks", n)},
           |                        g -> ${sqlMd5HashMod("g")})) AS h
           |  FROM docs),
           |c AS (SELECT h, count(*) AS cnt FROM w GROUP BY h),
           |s AS (
           |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
           |         CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows
           |  FROM w JOIN c USING (h) GROUP BY doc_id)
           |SELECT d.doc_id,
           |       coalesce(s.n_windows, 0) AS n_windows,
           |       coalesce(s.dup_windows, 0) AS dup_windows,
           |       CAST(s.dup_windows AS DOUBLE) / s.n_windows AS dup_frac
           |FROM docs d LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Dedup.duplicateNgramStats(docs(s, dir), "text", "doc_id", n)
          .orderBy("doc_id")
      }

      // cross-document exact-substring CUT SPANS at suffix-array
      // strength (Lee et al. 2022 §4): maximal runs of cross-doc-shared
      // window starts, replayed by the oracle with the identical
      // gaps-and-islands run-length algebra
      register("shared_substring_spans",
        s"""$DocsView,
           |w0 AS (SELECT doc_id, list_transform(${sqlNgrams("toks", n)},
           |                      g -> ${sqlMd5HashMod("g")}) AS hh
           |       FROM docs),
           |w AS (SELECT doc_id, CAST(i AS BIGINT) AS p, hh[i] AS h
           |      FROM w0, unnest(range(1, len(hh) + 1)) AS r(i)),
           |sh AS (SELECT h FROM w GROUP BY h HAVING min(doc_id) <> max(doc_id)),
           |m AS (SELECT w.doc_id, w.p FROM w JOIN sh USING (h)),
           |i1 AS (SELECT doc_id, p,
           |              CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
           |                   OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $n
           |                   THEN 1 ELSE 0 END AS nw
           |       FROM m),
           |i2 AS (SELECT doc_id, p,
           |              sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl
           |       FROM i1)
           |SELECT doc_id, CAST(min(p) AS BIGINT) AS begin_tok,
           |       CAST(max(p) + $n - 1 AS BIGINT) AS end_tok,
           |       CAST(max(p) - min(p) + $n AS BIGINT) AS n_tokens
           |FROM i2 GROUP BY doc_id, isl
           |ORDER BY doc_id, begin_tok""".stripMargin) { (s, dir) =>
        Dedup.sharedSubstringSpans(docs(s, dir), "text", "doc_id", n)
          .select("doc_id", "begin_tok", "end_tok", "n_tokens")
          .orderBy("doc_id", "begin_tok")
      }

      // keep-one-copy variant (the paper's actual rule at doc
      // granularity): the min-id owner of each shared window emits no
      // span — the oracle replays the ownership join
      val substringLegs =
        s"""w0 AS (SELECT doc_id, list_transform(${sqlNgrams("toks", n)},
           |                      g -> ${sqlMd5HashMod("g")}) AS hh
           |       FROM docs),
           |w AS (SELECT doc_id, CAST(i AS BIGINT) AS p, hh[i] AS h
           |      FROM w0, unnest(range(1, len(hh) + 1)) AS r(i)),
           |own AS (SELECT h, min(doc_id) AS owner FROM w GROUP BY h),
           |m AS (SELECT w.doc_id, w.p FROM w JOIN own USING (h)
           |      WHERE w.doc_id <> own.owner),
           |i1 AS (SELECT doc_id, p,
           |              CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
           |                   OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $n
           |                   THEN 1 ELSE 0 END AS nw
           |       FROM m),
           |i2 AS (SELECT doc_id, p,
           |              sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl
           |       FROM i1),
           |cover AS (SELECT doc_id, isl, CAST(min(p) AS BIGINT) AS lo,
           |                 CAST(max(p) + $n - 1 AS BIGINT) AS hi
           |          FROM i2 GROUP BY doc_id, isl)""".stripMargin

      register("shared_substring_keepfirst",
        s"""$DocsView,
           |$substringLegs
           |SELECT doc_id, lo AS begin_tok, hi AS end_tok,
           |       hi - lo + 1 AS n_tokens
           |FROM cover ORDER BY doc_id, begin_tok""".stripMargin) { (s, dir) =>
        Dedup.sharedSubstringSpans(docs(s, dir), "text", "doc_id", n, keepFirst = true)
          .select("doc_id", "begin_tok", "end_tok", "n_tokens")
          .orderBy("doc_id", "begin_tok")
      }

      // incremental exact-substring dedup against the persisted
      // window-hash store: store = even docs' distinct window hashes,
      // probe = odd docs — spans of every maximal store-shared run; the
      // oracle replays the hash semi-join + island merge
      register("substring_store_probe",
        s"""$DocsView,
           |a AS (SELECT doc_id, toks FROM docs WHERE doc_id % 2 = 0),
           |b AS (SELECT doc_id, toks FROM docs WHERE doc_id % 2 = 1),
           |wa AS (SELECT DISTINCT unnest(list_transform(${sqlNgrams("toks", n)},
           |                       g -> ${sqlMd5HashMod("g")})) AS h FROM a),
           |w0 AS (SELECT doc_id, list_transform(${sqlNgrams("toks", n)},
           |                      g -> ${sqlMd5HashMod("g")}) AS hh FROM b),
           |wb AS (SELECT doc_id, CAST(i AS BIGINT) AS p, hh[i] AS h
           |       FROM w0, unnest(range(1, len(hh) + 1)) AS r(i)),
           |m AS (SELECT wb.doc_id, wb.p FROM wb JOIN wa USING (h)),
           |i1 AS (SELECT doc_id, p,
           |              CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
           |                   OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $n
           |                   THEN 1 ELSE 0 END AS nw
           |       FROM m),
           |i2 AS (SELECT doc_id, p,
           |              sum(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl
           |       FROM i1)
           |SELECT doc_id, CAST(min(p) AS BIGINT) AS begin_tok,
           |       CAST(max(p) + $n - 1 AS BIGINT) AS end_tok,
           |       CAST(max(p) - min(p) + $n AS BIGINT) AS n_tokens
           |FROM i2 GROUP BY doc_id, isl
           |ORDER BY doc_id, begin_tok""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("substr_store").toString
        graft.operators.SubstringStore.writeStore(
          d.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "doc_id",
          tmp, minLen = n, nBuckets = 16)
        val out = graft.operators.Materialize(
          graft.operators.SubstringStore.probeDelta(
            d.filter(pmod(col("doc_id"), lit(2)) === 1), "text", "doc_id", tmp)
            .select("doc_id", "begin_tok", "end_tok", "n_tokens")
            .orderBy("doc_id", "begin_tok"))
        deleteTree(tmp)
        out
      }

      // the destructive application: rebuild text with non-owner copies
      // cut (dup_ngram_cut's rebuild pattern over the merged spans)
      register("shared_substring_cut",
        s"""$DocsView,
           |$substringLegs,
           |cv AS (SELECT doc_id, list(lo) AS los, list(hi) AS his
           |       FROM cover GROUP BY doc_id)
           |SELECT d.doc_id,
           |       CASE WHEN d.toks IS NULL THEN NULL
           |            ELSE coalesce(array_to_string(
           |       list_filter(d.toks, (t, i) ->
           |         len(list_filter(range(1, len(coalesce(cv.los, CAST([] AS BIGINT[]))) + 1),
           |             s -> i >= cv.los[s] AND i <= cv.his[s])) = 0), ' '), '') END AS text
           |FROM docs d LEFT JOIN cv USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Dedup.cutSharedSubstrings(docs(s, dir), "text", "doc_id", n)
          .orderBy("doc_id")
      }
    }

    // per-group document cap (C4/RefinedWeb anti-spam: at most k docs
    // per source), highest n_chars first, id tie-break
    locally {
      val k = 20
      register("cap_per_group",
        s"""$DocsView
           |SELECT doc_id, source, n_chars FROM (
           |  SELECT doc_id, source, n_chars,
           |         row_number() OVER (PARTITION BY source
           |           ORDER BY n_chars DESC, doc_id ASC) AS rn
           |  FROM docs) t WHERE rn <= $k ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Curation.capPerGroup(
          docs(s, dir).select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id", k)
          .orderBy("doc_id")
      }
    }

    // the destructive half: drop every token covered by a duplicated
    // window and rebuild the text; oracle replays coverage per token
    // index (a token i survives iff no duplicated window starts in
    // [i-n+1, i])
    locally {
      val n = 8
      register("dup_ngram_cut",
        s"""$DocsView,
           |g AS (
           |  SELECT doc_id, toks,
           |         list_transform(${sqlNgrams("toks", n)},
           |                        x -> ${sqlMd5HashMod("x")}) AS gh
           |  FROM docs),
           |c AS (SELECT h, count(*) AS cnt FROM (SELECT unnest(gh) AS h FROM g) GROUP BY h),
           |d AS (SELECT coalesce(list(h), []) AS dups FROM c WHERE cnt > 1)
           |SELECT doc_id,
           |       CASE WHEN toks IS NULL THEN NULL
           |            ELSE coalesce( -- array_to_string([]) is NULL, want ''
           |       array_to_string(list_filter(toks, (t, i) ->
           |         len(list_filter(range(greatest(1, i - ${n - 1}),
           |                               least(i, len(toks) - ${n - 1}) + 1),
           |             s -> list_contains(d.dups, gh[s]))) = 0), ' '), '') END AS text
           |FROM g, d ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Dedup.cutDuplicateNgrams(docs(s, dir), "text", "doc_id", n)
          .orderBy("doc_id")
      }
    }

    locally {
      val votes = (0 until 32).map { b =>
        s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform(hh, h -> ((h >> $b) % 2) * 2 - 1)), (a, x) -> a + x) > 0
           |  THEN ${1L << b} ELSE 0 END""".stripMargin.replace("\n", " ")
      }.mkString(" +\n       ")
      register("dedup_simhash",
        s"""$DocsView
           |, hh AS (
           |  SELECT doc_id, list_transform(toks, t -> ${sqlMd5Hash64("t")}) AS hh FROM docs)
           |SELECT doc_id,
           |       $votes AS simhash
           |FROM hh ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Dedup.simhash(docs(s, dir), "text")
          .select("doc_id", "simhash").orderBy("doc_id")
      }
    }

    // SimHash near-dup pairing via the half-signature pigeonhole: the
    // oracle recomputes signatures from raw text and verifies the exact
    // hamming distance of every emitted pair (all-pairs is fine for the
    // ORACLE at sf scale; the gated Spark plan joins only banded buckets)
    locally {
      val votes = (0 until 32).map { b =>
        s"""CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
           |  list_transform(hh, h -> ((h >> $b) % 2) * 2 - 1)), (a, x) -> a + x) > 0
           |  THEN ${1L << b} ELSE 0 END""".stripMargin.replace("\n", " ")
      }.mkString(" +\n       ")
      register("dedup_simhash_near",
        s"""$DocsView
           |, hh AS (
           |  SELECT doc_id, list_transform(toks, t -> ${sqlMd5Hash64("t")}) AS hh FROM docs)
           |, sig AS (SELECT doc_id, $votes AS simhash FROM hh)
           |SELECT l.doc_id AS id1, r.doc_id AS id2,
           |       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
           |FROM sig l JOIN sig r ON l.doc_id < r.doc_id
           |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        Dedup.simhashNearDup(docs(s, dir), "text", "doc_id", maxHamming = 3,
          cap = Dedup.BucketCap.Unlimited)
          .orderBy("id1", "id2")
      }
    }

    // token-window chunking with overlap (RAG/long-context prep): the
    // oracle replays the identical start-offset arithmetic and list
    // slicing per document
    locally {
      val (chunkSize, overlap) = (12, 4)
      val stride = chunkSize - overlap
      register("chunk_tokens",
        s"""$DocsView,
           |c AS (SELECT doc_id, toks, len(toks) AS n FROM docs WHERE len(toks) > 0),
           |s AS (SELECT doc_id, toks, n,
           |        greatest(1, CAST(ceil(CAST(n - $overlap AS DOUBLE) / $stride) AS BIGINT)) AS nchunks
           |      FROM c)
           |SELECT doc_id, i AS chunk_id,
           |       array_to_string(toks[i*$stride+1 : i*$stride+$chunkSize], ' ') AS text,
           |       least($chunkSize, n - i*$stride) AS n_tokens
           |FROM s, unnest(range(0, s.nchunks)) AS t(i)
           |ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
        Curation.chunkTokens(docs(s, dir), "doc_id", "text", chunkSize, overlap)
          .orderBy("doc_id", "chunk_id")
      }
    }

    // within-source percent_rank normalization + the top-fraction keep
    // rule: ANSI rank semantics (ties share), (rank-1)/(n-1) from
    // integer window counts — bit-exact in both engines
    register("rank_normalize",
      """SELECT doc_id, source,
        |       percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pct_rank,
        |       CAST(CASE WHEN cume_dist() OVER (PARTITION BY source ORDER BY n_chars) > 0.75
        |            THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ranked = graft.operators.Curation.rankNormalize(
        docs(s, dir), "source", "n_chars")
      val kept = graft.operators.Curation.keepTopFraction(
        docs(s, dir), "source", "n_chars", 0.25)
        .select(col("doc_id"), lit(1L).as("kept"))
      ranked.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("pct_rank"),
          coalesce(col("kept"), lit(0L)).as("kept"))
        .orderBy("doc_id")
    }

    // sentence-aware greedy chunking: the boundary split and the running
    // token budget are a deterministic integer recurrence — the oracle
    // walks it with a recursive CTE over numbered sentences, then the
    // group-concat per chunk matches the fold's chunk strings exactly
    locally {
      val maxTok = 40
      register("chunk_sentences",
        s"""WITH RECURSIVE sen0 AS (
           |  SELECT doc_id,
           |         list_filter(string_split(
           |           regexp_replace(replace(text, chr(1), ''),
           |                          '([.!?]+)\\s+', '\\1' || chr(1), 'g'),
           |           chr(1)), s -> len(s) > 0) AS ss
           |  FROM documents),
           |sen AS (
           |  SELECT doc_id, i, ss[i] AS s,
           |         len(list_filter(string_split_regex(lower(ss[i]), '[^a-z0-9]+'),
           |             x -> len(x) > 0)) AS t,
           |         len(ss) AS ns
           |  FROM sen0, unnest(range(1, len(ss) + 1)) AS r(i)),
           |walk(doc_id, i, chunk, cnt, ns) AS (
           |  SELECT doc_id, i, 0, t, ns FROM sen WHERE i = 1
           |  UNION ALL
           |  SELECT w.doc_id, s.i,
           |         CASE WHEN w.cnt > 0 AND w.cnt + s.t <= $maxTok
           |              THEN w.chunk ELSE w.chunk + 1 END,
           |         CASE WHEN w.cnt > 0 AND w.cnt + s.t <= $maxTok
           |              THEN w.cnt + s.t ELSE s.t END,
           |         w.ns
           |  FROM walk w JOIN sen s ON s.doc_id = w.doc_id AND s.i = w.i + 1),
           |joined AS (
           |  SELECT w.doc_id, w.chunk AS chunk_id,
           |         string_agg(s.s, ' ' ORDER BY s.i) AS text
           |  FROM walk w JOIN sen s ON s.doc_id = w.doc_id AND s.i = w.i
           |  GROUP BY w.doc_id, w.chunk)
           |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, text,
           |       CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |            x -> len(x) > 0)) AS BIGINT) AS n_tokens
           |FROM joined ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
        Curation.chunkSentences(docs(s, dir), "doc_id", "text", maxTok)
          .orderBy("doc_id", "chunk_id")
      }
    }

    // per-doc top-k tf-idf terms; rational smoothed idf (N+1)/(df+1) is
    // log-free on BOTH sides, so scores are bit-identical doubles
    locally {
      val k = 5
      register("tfidf_topk",
        s"""$DocsView,
           |t AS (SELECT doc_id, unnest(toks) AS term FROM docs),
           |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
           |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
           |nd AS (SELECT count(*) AS n FROM documents),
           |scored AS (
           |  SELECT doc_id, term, tf, df,
           |         tf * (CAST(n + 1 AS DOUBLE) / (df + 1)) AS score
           |  FROM tf JOIN dfq USING (term), nd)
           |SELECT doc_id, rank, term, tf, df, score FROM (
           |  SELECT *, row_number() OVER (PARTITION BY doc_id
           |                               ORDER BY score DESC, term ASC) AS rank
           |  FROM scored) WHERE rank <= $k
           |ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
        Curation.tfidfTopK(docs(s, dir), "doc_id", "text", k)
          .orderBy("doc_id", "rank")
      }
    }

    // BM25 top-k retrieval (inverted-index probe): queries are the first
    // 5 tokens of docs 0..7; the oracle replays the identical rational
    // idf, saturation arithmetic (same literal doubles, same shape) and
    // decimal-stable cross-term sum, so scores match bit-for-bit
    locally {
      val (k, k1, b) = (5, 1.2, 0.75)
      val bm25Sql =
        s"""$DocsView,
           |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM docs),
           |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |              CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
           |dt AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM
           |         (SELECT doc_id, dl, unnest(toks) AS term FROM d)
           |       GROUP BY doc_id, dl, term),
           |q AS (SELECT doc_id AS query_id, toks[1:5] AS qtoks FROM docs WHERE doc_id < 8),
           |qt AS (SELECT DISTINCT query_id, t.term FROM q, unnest(qtoks) AS t(term)),
           |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt
           |        WHERE term IN (SELECT term FROM qt) GROUP BY term),
           |co AS (SELECT qt.query_id, dt.doc_id,
           |         ((st.n - df + 0.5) / (df + 0.5)) * (tf * CAST(${k1 + 1} AS DOUBLE)) /
           |           (tf + $k1 * (${1 - b} + $b * (dl / st.avgdl))) AS c
           |       FROM dt JOIN dfq USING (term) JOIN qt USING (term), st),
           |sc AS (SELECT query_id, doc_id,
           |         CAST(sum(CAST(c AS DECIMAL(38,6))) AS DOUBLE) AS score
           |       FROM co GROUP BY query_id, doc_id)
           |SELECT query_id, rank, doc_id, score FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY score DESC, doc_id ASC) AS rank
           |  FROM sc) WHERE rank <= $k
           |ORDER BY query_id, rank""".stripMargin
      def bm25Queries(s: SparkSession, dir: String) =
        docs(s, dir).filter(col("doc_id") < 8)
          .select(col("doc_id").as("qid"),
            concat_ws(" ", slice(Text.tokens(col("text")), 1, 5)).as("qtext"))
      register("bm25_topk", bm25Sql) { (s, dir) =>
        graft.operators.Retrieval.bm25TopK(docs(s, dir), bm25Queries(s, dir),
          "doc_id", "text", "qid", "qtext", k, k1, b)
          .orderBy("query_id", "rank")
      }

      // persisted postings index: build once into a temp dir, query the
      // same batch — score-identical to the in-one-go operator, so ONE
      // oracle gates both paths
      register("bm25_persisted", bm25Sql) { (s, dir) =>
        val tmp = gateStoreDir("bm25_idx")
        graft.operators.Retrieval.buildBm25Index(docs(s, dir), "doc_id", "text",
          tmp, nBuckets = 16)
        graft.operators.Retrieval.queryBm25Index(s, tmp, bm25Queries(s, dir),
            "qid", "qtext", k, k1, b)
          .orderBy("query_id", "rank")
      }

      // incremental index maintenance: build on half the corpus, APPEND
      // the other half, query — append(build(A), B) must answer
      // identically to build(A ∪ B), so the SAME oracle gates it
      register("bm25_incremental", bm25Sql) { (s, dir) =>
        val d = docs(s, dir)
        val tmp = gateStoreDir("bm25_inc")
        graft.operators.Retrieval.buildBm25Index(
          d.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
          tmp, nBuckets = 16)
        graft.operators.Retrieval.appendBm25Index(
          d.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", tmp)
        graft.operators.Retrieval.queryBm25Index(s, tmp, bm25Queries(s, dir),
            "qid", "qtext", k, k1, b)
          .orderBy("query_id", "rank")
      }
    }

    // sparse tf-idf all-pairs cosine (postings self-join, df-capped):
    // the oracle replays the identical subspace weights, decimal-stable
    // norms/dots and the same threshold comparison on exact doubles
    locally {
      val (threshold, maxDf) = (0.5, 50L)
      register("tfidf_cosine_pairs",
        s"""$DocsView,
           |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM docs),
           |dt AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM
           |         (SELECT doc_id, unnest(toks) AS term FROM d)
           |       GROUP BY doc_id, term),
           |nd AS (SELECT count(*) AS n FROM documents),
           |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term),
           |kept AS (SELECT doc_id, dt.term, df,
           |           tf * (CAST(n + 1 AS DOUBLE) / (df + 1)) AS w
           |         FROM dt JOIN dfreq USING (term), nd WHERE df <= $maxDf),
           |norms AS (SELECT doc_id,
           |            sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE)) AS norm
           |          FROM kept GROUP BY doc_id),
           |dots AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
           |           CAST(sum(CAST(a.w * b.w AS DECIMAL(38,6))) AS DOUBLE) AS dot
           |         FROM kept a JOIN kept b
           |           ON a.term = b.term AND a.doc_id < b.doc_id
           |         WHERE a.df >= 2 AND b.df >= 2
           |         GROUP BY id1, id2)
           |SELECT id1, id2, dot / (n1.norm * n2.norm) AS cosine
           |FROM dots JOIN norms n1 ON n1.doc_id = id1
           |          JOIN norms n2 ON n2.doc_id = id2
           |WHERE dot / (n1.norm * n2.norm) >= $threshold
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        graft.operators.Retrieval.tfidfCosinePairs(docs(s, dir), "doc_id", "text",
          threshold, maxDf)
          .orderBy("id1", "id2")
      }
    }

    // ---------------- similarity / ANN ----------------

    // EXACT token-set Jaccard join via the PPJoin prefix filter — the
    // recall-1.0 complement to the LSH family; the oracle replays the
    // df-ordered prefix, the candidate equi-join and the rational
    // verify. Gate runs t=0.8 (the published PPJoin evaluation range)
    // on a deterministic 1/5 subset: the fixture's tiny vocabulary is
    // the algorithm's adversarial worst case — rare tokens appear in
    // most prefixes, so candidates approach all-pairs at ANY threshold
    // (measured 52% of all pairs at t=0.8 on the full sf0.1 slice) and
    // the verify cost measures the fixture, not the operator. The
    // subset exercises every stage identically.
    locally {
      val t = "0.8"
      register("dedup_jaccard_exact",
        s"""$DocsView,
           |sub AS (SELECT doc_id, toks FROM docs WHERE doc_id % 5 = 0),
           |d AS (SELECT doc_id, list_distinct(toks) AS ts FROM sub),
           |tok AS (SELECT doc_id, unnest(ts) AS token FROM d),
           |freq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
           |ordered AS (SELECT t.doc_id, list(t.token ORDER BY f.df, t.token) AS sorted,
           |                   CAST(count(*) AS BIGINT) AS n
           |            FROM tok t JOIN freq f USING (token) GROUP BY t.doc_id),
           |pref AS (SELECT doc_id, n,
           |                unnest(sorted[1:CAST(n - ceil($t * n) + 1 AS INT)]) AS token
           |         FROM ordered),
           |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |         FROM pref a JOIN pref b ON a.token = b.token
           |          AND a.doc_id < b.doc_id
           |          AND $t * a.n <= b.n AND $t * b.n <= a.n),
           |inter AS (SELECT c.id1, c.id2, count(*) AS i
           |          FROM cand c JOIN tok x ON x.doc_id = c.id1
           |               JOIN tok y ON y.doc_id = c.id2 AND y.token = x.token
           |          GROUP BY c.id1, c.id2),
           |jj AS (SELECT i.id1, i.id2,
           |              CAST(i.i AS DOUBLE) / CAST(o1.n + o2.n - i.i AS DOUBLE) AS jaccard
           |       FROM inter i JOIN ordered o1 ON o1.doc_id = i.id1
           |            JOIN ordered o2 ON o2.doc_id = i.id2)
           |SELECT id1, id2, jaccard FROM jj WHERE jaccard >= $t
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        Dedup.jaccardPrefixJoin(docs(s, dir).filter(col("doc_id") % 5 === 0),
            "doc_id", "text", 0.8)
          .orderBy("id1", "id2")
      }
    }

    // Candidate-quality harness: LSH candidates (k=8, r=2) scored
    // against the exact Jaccard >= 0.8 join as truth, on the same 1/5
    // subset the exact gate uses. The oracle replays BOTH legs plus the
    // canonical full-outer count — tp/fp/fn integers, ratios one IEEE
    // division each.
    locally {
      val t = "0.8"
      val p = 1000000007L
      val mins = (0 until 8).map { j =>
        val a = 2L * j + 1
        val b = 7919L * j + 13
        s"list_min(list_transform(hh2, h -> ($a * h + $b) % $p)) AS m$j"
      }.mkString(",\n           ")
      val bandSelects = (0 until 4).map { bnd =>
        s"SELECT doc_id, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      register("dedup_pair_eval",
        s"""$DocsView,
           |sub AS (SELECT doc_id, toks FROM docs WHERE doc_id % 5 = 0),
           |sh2 AS (SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM sub),
           |hh0 AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh2 FROM sh2),
           |sigs AS (SELECT doc_id, $mins FROM hh0 WHERE len(hh2) > 0),
           |buckets AS (
           |  $bandSelects),
           |pred AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
           |         FROM buckets l JOIN buckets r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |d AS (SELECT doc_id, list_distinct(toks) AS ts FROM sub),
           |tok AS (SELECT doc_id, unnest(ts) AS token FROM d),
           |freq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
           |ordered AS (SELECT tk.doc_id, list(tk.token ORDER BY f.df, tk.token) AS sorted,
           |                   CAST(count(*) AS BIGINT) AS n
           |            FROM tok tk JOIN freq f USING (token) GROUP BY tk.doc_id),
           |pref AS (SELECT doc_id, n,
           |                unnest(sorted[1:CAST(n - ceil($t * n) + 1 AS INT)]) AS token
           |         FROM ordered),
           |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |         FROM pref a JOIN pref b ON a.token = b.token
           |          AND a.doc_id < b.doc_id
           |          AND $t * a.n <= b.n AND $t * b.n <= a.n),
           |inter AS (SELECT c.id1, c.id2, count(*) AS i
           |          FROM cand c JOIN tok x ON x.doc_id = c.id1
           |               JOIN tok y ON y.doc_id = c.id2 AND y.token = x.token
           |          GROUP BY c.id1, c.id2),
           |truth AS (SELECT i.id1 AS a, i.id2 AS b
           |          FROM inter i JOIN ordered o1 ON o1.doc_id = i.id1
           |               JOIN ordered o2 ON o2.doc_id = i.id2
           |          WHERE CAST(i.i AS DOUBLE) / CAST(o1.n + o2.n - i.i AS DOUBLE) >= $t),
           |m AS (SELECT p.a AS pa, tr.a AS ta
           |      FROM pred p FULL OUTER JOIN truth tr
           |        ON p.a = tr.a AND p.b = tr.b),
           |c AS (SELECT
           |        CAST(count(CASE WHEN pa IS NOT NULL AND ta IS NOT NULL THEN 1 END) AS BIGINT) AS tp,
           |        CAST(count(CASE WHEN pa IS NOT NULL AND ta IS NULL THEN 1 END) AS BIGINT) AS fp,
           |        CAST(count(CASE WHEN pa IS NULL AND ta IS NOT NULL THEN 1 END) AS BIGINT) AS fn
           |      FROM m)
           |SELECT tp, fp, fn,
           |       CASE WHEN tp + fp > 0
           |            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           |       CASE WHEN tp + fn > 0
           |            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
           |       CASE WHEN 2 * tp + fp + fn > 0
           |            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
           |FROM c""".stripMargin) { (s, dir) =>
        // r17 (verdict item 3): the LSH leg and the PPJoin truth leg
        // share the scanned+filtered 1/5 sub-corpus — materialize it once
        // instead of two parquet scans + filters (guide §2.4; A/B-kept,
        // see OPTIMIZATION_r17.md; rows identical so the gate is
        // unchanged)
        val sub = graft.operators.Materialize(
          docs(s, dir).filter(col("doc_id") % 5 === 0))
        val pred = Dedup.lshCandidates(sub, "text", "doc_id", k = 8, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        val truth = Dedup.jaccardPrefixJoin(sub, "doc_id", "text", 0.8)
          .select("id1", "id2")
        Dedup.pairEval(pred, truth)
      }

      // the PR-curve sweep over the same legs: shingle-jaccard scores on
      // the LSH candidates, evaluated against the token-set exact join
      // at five thresholds in one pass
      register("dedup_pair_eval_sweep",
        s"""$DocsView,
           |sub AS (SELECT doc_id, toks FROM docs WHERE doc_id % 5 = 0),
           |sh2 AS (SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM sub),
           |hh0 AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh2 FROM sh2),
           |sigs AS (SELECT doc_id, $mins FROM hh0 WHERE len(hh2) > 0),
           |buckets AS (
           |  $bandSelects),
           |pred AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
           |         FROM buckets l JOIN buckets r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |sets AS (SELECT doc_id, list_distinct(shingles) AS ss FROM sh2),
           |scored AS (SELECT p.a, p.b,
           |             CAST(len(list_filter(s1.ss, x -> list_contains(s2.ss, x))) AS DOUBLE) /
           |             (len(s1.ss) + len(s2.ss)
           |              - len(list_filter(s1.ss, x -> list_contains(s2.ss, x)))) AS s
           |           FROM pred p JOIN sets s1 ON s1.doc_id = p.a
           |                JOIN sets s2 ON s2.doc_id = p.b),
           |d AS (SELECT doc_id, list_distinct(toks) AS ts FROM sub),
           |tok AS (SELECT doc_id, unnest(ts) AS token FROM d),
           |freq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
           |ordered AS (SELECT tk.doc_id, list(tk.token ORDER BY f.df, tk.token) AS sorted,
           |                   CAST(count(*) AS BIGINT) AS n
           |            FROM tok tk JOIN freq f USING (token) GROUP BY tk.doc_id),
           |pref AS (SELECT doc_id, n,
           |                unnest(sorted[1:CAST(n - ceil($t * n) + 1 AS INT)]) AS token
           |         FROM ordered),
           |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |         FROM pref a JOIN pref b ON a.token = b.token
           |          AND a.doc_id < b.doc_id
           |          AND $t * a.n <= b.n AND $t * b.n <= a.n),
           |inter AS (SELECT c.id1, c.id2, count(*) AS i
           |          FROM cand c JOIN tok x ON x.doc_id = c.id1
           |               JOIN tok y ON y.doc_id = c.id2 AND y.token = x.token
           |          GROUP BY c.id1, c.id2),
           |truth AS (SELECT i.id1 AS a, i.id2 AS b
           |          FROM inter i JOIN ordered o1 ON o1.doc_id = i.id1
           |               JOIN ordered o2 ON o2.doc_id = i.id2
           |          WHERE CAST(i.i AS DOUBLE) / CAST(o1.n + o2.n - i.i AS DOUBLE) >= $t),
           |m AS (SELECT sc.s, tr.a IS NOT NULL AS is_t
           |      FROM scored sc FULL OUTER JOIN truth tr
           |        ON sc.a = tr.a AND sc.b = tr.b),
           |g AS (SELECT unnest([0.3, 0.5, 0.7, 0.8, 0.9]) AS threshold),
           |c AS (SELECT g.threshold,
           |        CAST(count(CASE WHEN m.s IS NOT NULL AND m.s >= g.threshold
           |                             AND m.is_t THEN 1 END) AS BIGINT) AS tp,
           |        CAST(count(CASE WHEN m.s IS NOT NULL AND m.s >= g.threshold
           |                             AND NOT m.is_t THEN 1 END) AS BIGINT) AS fp,
           |        CAST(count(CASE WHEN (m.s IS NULL OR m.s < g.threshold)
           |                             AND m.is_t THEN 1 END) AS BIGINT) AS fn
           |      FROM g CROSS JOIN m GROUP BY g.threshold)
           |SELECT threshold, tp, fp, fn,
           |       CASE WHEN tp + fp > 0
           |            THEN CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END AS precision,
           |       CASE WHEN tp + fn > 0
           |            THEN CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END AS recall,
           |       CASE WHEN 2 * tp + fp + fn > 0
           |            THEN CAST(2 * tp AS DOUBLE) / CAST(2 * tp + fp + fn AS DOUBLE) END AS f1
           |FROM c ORDER BY threshold""".stripMargin) { (s, dir) =>
        // r17: shared sub-corpus across THREE legs here (LSH, the
        // shingle-jaccard scorer, the PPJoin truth) — see dedup_pair_eval
        val sub = graft.operators.Materialize(
          docs(s, dir).filter(col("doc_id") % 5 === 0))
        val pred = Dedup.lshCandidates(sub, "text", "doc_id", k = 8, rowsPerBand = 2,
          cap = Dedup.BucketCap.Unlimited)
        val scored = Dedup.ngramJaccard(sub, pred, "text", "doc_id")
          .select(col("id1"), col("id2"), col("jaccard").as("score"))
        val truth = Dedup.jaccardPrefixJoin(sub, "doc_id", "text", 0.8)
          .select("id1", "id2")
        Dedup.pairEvalSweep(scored, truth, Seq(0.3, 0.5, 0.7, 0.8, 0.9))
          .orderBy("threshold")
      }
    }

    register("embedding_near_dup",
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings)
         |SELECT l.vec_id AS id1, r.vec_id AS id2,
         |       ${sqlCosine("l.embedding", "r.embedding")} AS cosine
         |FROM e l JOIN e r ON l.vec_id < r.vec_id
         |WHERE ${sqlCosine("l.embedding", "r.embedding")} > 0.4
         |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      // threshold sits inside the fixture's cosine distribution (max pair
      // ≈ 0.51 at sf0.01) so the gate compares real rows, not an empty set
      Dedup.embeddingNearDup(emb(s, dir), "vec_id", "embedding", 0.4)
        .orderBy("id1", "id2")
    }

    // the 100 TB-safe variant: pairs only within sign buckets — the gated
    // plan contains no all-pairs join
    locally {
      // 4 bits at this corpus density → real bucket collisions, so the
      // gate compares populated candidate sets (16 bits left every vector
      // alone in its bucket and the gate passed vacuously on 0 rows)
      val bucketTerms = (1 to 4).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END").mkString(" + ")
      register("embedding_near_dup_bucketed",
        s"""WITH e AS (
           |  SELECT vec_id, embedding, $bucketTerms AS bucket FROM embeddings)
           |SELECT l.vec_id AS id1, r.vec_id AS id2,
           |       ${sqlCosine("l.embedding", "r.embedding")} AS cosine
           |FROM e l JOIN e r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
           |WHERE ${sqlCosine("l.embedding", "r.embedding")} > 0.3
           |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
        Dedup.embeddingNearDupBucketed(emb(s, dir), "vec_id", "embedding", 0.3,
          bits = 4, cap = Dedup.BucketCap.Unlimited)
          .orderBy("id1", "id2")
      }
    }

    // r16: batch face of the STREAMING embedding near-dup twin
    // (sign-bucket candidates against the earliest (ts, id) bucket
    // owner, event time = vec_id seconds) under the histogram-resolved
    // Auto guard — 2 bits packs ~125 vectors per bucket, blowing the
    // 32-per-doc budget, so the oracle replays the full solveBucketCap
    // resolution and keeps owner + the cap-1 earliest matches per
    // bucket (the same account as near_dup_twin_auto, on the embedding
    // family's bucket key).
    locally {
      val bits = 2
      val bucketTerms = (1 to bits).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END").mkString(" + ")
      register("embedding_near_dup_stream_twin",
        s"""WITH e AS (
           |  SELECT vec_id, $bucketTerms AS bucket FROM embeddings),
           |bs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1),
           |hist AS (SELECT c AS s, CAST(count(*) AS BIGINT) AS n FROM bs GROUP BY c),
           |nd AS (SELECT CAST(sum(s * n) AS BIGINT) AS n_docs FROM hist),
           |bdg AS (SELECT CAST(ceil(32.0 * n_docs) AS BIGINT) AS budget FROM nd),
           |sol AS (
           |  SELECT CASE WHEN (SELECT CAST(sum(n * ((s * (s - 1)) // 2)) AS BIGINT) FROM hist)
           |                   <= bdg.budget
           |              THEN CAST(9223372036854775807 AS BIGINT)
           |              ELSE greatest(CAST(16 AS BIGINT), coalesce((
           |                SELECT CAST(max(s) AS BIGINT) FROM (
           |                  SELECT s, sum(n * ((s * (s - 1)) // 2)) OVER (ORDER BY s) AS cum
           |                  FROM hist)
           |                WHERE cum <= bdg.budget), CAST(0 AS BIGINT)))
           |         END AS cap
           |  FROM bdg),
           |ranked AS (
           |  SELECT vec_id, bucket,
           |         row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
           |  FROM e),
           |owners AS (SELECT bucket, min(vec_id) AS owner FROM e GROUP BY 1)
           |SELECT r.vec_id AS doc_id, o.owner AS dup_of, CAST(r.bucket AS BIGINT) AS band
           |FROM ranked r JOIN owners o ON r.bucket = o.bucket, sol
           |WHERE r.vec_id != o.owner AND r.rn <= sol.cap
           |ORDER BY doc_id, dup_of, band""".stripMargin) { (s, dir) =>
        graft.streaming.Streaming.embeddingNearDupWithinWatermark(
          "vec_id", "embedding", "__time", horizonSeconds = 3600, bits = bits)(
          emb(s, dir).withColumn("__time", timestamp_seconds(col("vec_id"))))
          .toDF().filter(col("band") >= 0).orderBy("doc_id", "dup_of", "band")
      }
    }

    register("ann_topk",
      s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id, embedding FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |         ${sqlCosine("q.embedding", "c.embedding")} AS cosine
         |  FROM q JOIN c ON c.vec_id != q.vec_id)
         |SELECT query_id, rank, nn_id, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, nn_id ASC) AS rank
         |  FROM scored) WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .orderBy("query_id", "rank")
    }

    // MMR diversity re-rank (Carbonell-Goldstein): 3 greedy picks from
    // each query's top-8 brute candidates at λ=0.75 — the oracle unrolls
    // the greedy rounds (per-query argmax + running max-sim) as CTEs
    locally {
      val (nCand, kPick, lam, oneMinus) = (8, 3, "0.75", "0.25")
      def argmax(src: String, out: String) =
        s"""$out AS (SELECT query_id, nn_id, nn_vec, rel, mmr FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY mmr DESC, nn_id ASC) AS rn FROM $src) WHERE rn = 1)""".stripMargin
      register("mmr_rerank",
        s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id, embedding FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id, c.embedding AS nn_vec,
           |         ${sqlCosine("q.embedding", "c.embedding")} AS rel
           |  FROM q JOIN c ON c.vec_id != q.vec_id),
           |cand AS (SELECT query_id, nn_id, nn_vec, rel FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY rel DESC, nn_id ASC) AS rn FROM scored) WHERE rn <= $nCand),
           |s1 AS (SELECT query_id, nn_id, nn_vec, rel,
           |              $lam * rel - $oneMinus * 0.0 AS mmr FROM cand),
           |${argmax("s1", "p1")},
           |m1 AS (SELECT c.query_id, c.nn_id, c.nn_vec, c.rel,
           |              greatest(0.0, ${sqlCosine("c.nn_vec", "p.nn_vec")}) AS ms
           |       FROM cand c JOIN p1 p USING (query_id) WHERE c.nn_id != p.nn_id),
           |s2 AS (SELECT query_id, nn_id, nn_vec, rel, ms,
           |              $lam * rel - $oneMinus * ms AS mmr FROM m1),
           |${argmax("s2", "p2")},
           |m2 AS (SELECT c.query_id, c.nn_id, c.nn_vec, c.rel,
           |              greatest(c.ms, ${sqlCosine("c.nn_vec", "p.nn_vec")}) AS ms
           |       FROM s2 c JOIN p2 p USING (query_id) WHERE c.nn_id != p.nn_id),
           |s3 AS (SELECT query_id, nn_id, nn_vec, rel, ms,
           |              $lam * rel - $oneMinus * ms AS mmr FROM m2),
           |${argmax("s3", "p3")}
           |SELECT query_id, CAST(1 AS INT) AS mmr_rank, nn_id, mmr AS mmr_score FROM p1
           |UNION ALL SELECT query_id, CAST(2 AS INT), nn_id, mmr FROM p2
           |UNION ALL SELECT query_id, CAST(3 AS INT), nn_id, mmr FROM p3
           |ORDER BY query_id, mmr_rank""".stripMargin) { (s, dir) =>
        val e = emb(s, dir)
        val cands = Similarity.bruteForceTopK(
          e, e.filter(col("vec_id") < 5), "vec_id", "embedding", nCand)
          .join(e.select(col("vec_id").as("nn_id"), col("embedding").as("nn_vec")), Seq("nn_id"))
        graft.operators.Retrieval.mmrRerank(
          cands, "query_id", "nn_id", "cosine", "nn_vec", kPick, 0.75)
          .select("query_id", "mmr_rank", "nn_id", "mmr_score")
          .orderBy("query_id", "mmr_rank")
      }
    }

    // hard-negative mining: nearest OTHER-label neighbors per anchor
    // (labels synthesized as vec_id % 4 on both sides)
    register("hard_negatives",
      s"""WITH e AS (SELECT vec_id, embedding, CAST(vec_id % 4 AS BIGINT) AS label
         |           FROM embeddings),
         |q AS (SELECT * FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id, c.label AS label,
         |         ${sqlCosine("q.embedding", "c.embedding")} AS cosine
         |  FROM q JOIN e c ON c.vec_id != q.vec_id AND c.label != q.label)
         |SELECT query_id, rank, nn_id, label, cosine FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |                               ORDER BY cosine DESC, nn_id ASC) AS rank
         |  FROM scored) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val e = emb(s, dir).withColumn("label", pmod(col("vec_id"), lit(4)).cast("long"))
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "label", 5)
        .orderBy("query_id", "rank")
    }

    // composed web-scale miner: the same hard-negative semantics over a
    // multi-probe sign-bucket candidate set — the oracle replays the
    // identical bucket key, flip selection and label filter
    locally {
      val bits = 4
      val bucketTerms = (1 to bits).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END").mkString(" + ")
      val confTerms = (1 to bits).map(i =>
        s"{'a': abs(embedding[$i]), 'm': CAST(${1L << (i - 1)} AS BIGINT)}").mkString(", ")
      register("hard_negatives_bucketed",
        s"""WITH e AS (SELECT vec_id, embedding, CAST(vec_id % 4 AS BIGINT) AS label,
           |                  $bucketTerms AS bucket
           |           FROM embeddings),
           |q AS (SELECT vec_id, embedding, label, bucket,
           |             list_transform(list_slice(list_sort([$confTerms]), 1, 2),
           |                            x -> x.m) AS flips
           |      FROM e WHERE vec_id < 8),
           |probes AS (
           |  SELECT vec_id, embedding, label, bucket FROM q
           |  UNION ALL
           |  SELECT q.vec_id, q.embedding, q.label, xor(q.bucket, t.f)
           |  FROM q, unnest(q.flips) AS t(f)),
           |scored AS (
           |  SELECT p.vec_id AS query_id, c.vec_id AS nn_id, c.label AS label,
           |         ${sqlCosine("p.embedding", "c.embedding")} AS cosine
           |  FROM probes p JOIN e c ON c.bucket = p.bucket
           |   AND c.vec_id != p.vec_id AND c.label != p.label)
           |SELECT query_id, rank, nn_id, label, cosine FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY cosine DESC, nn_id ASC) AS rank
           |  FROM scored) WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
        val e = emb(s, dir).withColumn("label", pmod(col("vec_id"), lit(4)).cast("long"))
        Similarity.hardNegativesBucketed(e, e.filter(col("vec_id") < 8),
            "vec_id", "embedding", "label", 5, bits = bits, extraProbes = 2)
          .orderBy("query_id", "rank")
      }
    }

    locally {
      // 4-bit buckets + 2 multi-probe bit flips (the least-confident
      // dimensions): populated buckets AND the probe-explode path under
      // oracle compare — the DuckDB side replays the same flip selection
      val bits = 4
      val bucketTerms = (1 to bits).map(i =>
        s"CASE WHEN embedding[$i] >= 0 THEN ${1L << (i - 1)} ELSE 0 END").mkString(" + ")
      val confTerms = (1 to bits).map(i =>
        s"{'a': abs(embedding[$i]), 'm': CAST(${1L << (i - 1)} AS BIGINT)}").mkString(", ")
      register("ann_bucketed_topk",
        s"""WITH e AS (
           |  SELECT vec_id, embedding, $bucketTerms AS bucket FROM embeddings),
           |q AS (
           |  SELECT vec_id, embedding, bucket,
           |         list_transform(list_slice(list_sort([$confTerms]), 1, 2),
           |                        x -> x.m) AS flips
           |  FROM e WHERE vec_id < 50),
           |probes AS (
           |  SELECT vec_id, embedding, bucket FROM q
           |  UNION ALL
           |  SELECT q.vec_id, q.embedding, xor(q.bucket, t.f) FROM q, unnest(q.flips) AS t(f)),
           |scored AS (
           |  SELECT p.vec_id AS query_id, c.vec_id AS nn_id,
           |         ${sqlCosine("p.embedding", "c.embedding")} AS cosine
           |  FROM probes p JOIN e c ON c.bucket = p.bucket AND c.vec_id != p.vec_id)
           |SELECT query_id, rank, nn_id, cosine FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY cosine DESC, nn_id ASC) AS rank
           |  FROM scored) WHERE rank <= 3
           |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
        val e = emb(s, dir)
        Similarity.bucketedTopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding", 3,
          bits = bits, extraProbes = 2)
          .orderBy("query_id", "rank")
      }
    }

    // cluster-capped (topic-balanced) subsampling: deterministic k-means
    // assignment + the salted-hash per-cell quota — the oracle replays
    // seed centroids, arg-max cells, and the md5 rank bit-for-bit
    locally {
      val (nCells, cap) = (8, 5)
      register("cluster_cap_sample",
        s"""WITH cent AS (
           |  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
           |  ORDER BY vec_id LIMIT $nCells),
           |assign AS (
           |  SELECT vec_id, cell, cosine FROM (
           |    SELECT e.vec_id, c.cell, ${sqlCosine("e.embedding", "c.cvec")} AS cosine,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
           |ranked AS (
           |  SELECT vec_id, cell, cosine,
           |         row_number() OVER (PARTITION BY cell
           |           ORDER BY ${sqlMd5Hash64("'cbal:' || CAST(vec_id AS VARCHAR)")} % 1000000,
           |                    vec_id) AS r
           |  FROM assign)
           |SELECT vec_id, cell, cosine, CAST(r AS BIGINT) AS sample_rank
           |FROM ranked WHERE r <= $cap ORDER BY vec_id""".stripMargin) { (s, dir) =>
        Sampling.clusterBalancedSample(emb(s, dir), "vec_id", "embedding", nCells, cap)
          .orderBy("vec_id")
      }
    }

    // IVF cell-probe ANN: the oracle replays the same deterministic index
    // — seed centroids, arg-max cell assignment, top-nprobe probing —
    // so cell contents and candidate sets match exactly
    locally {
      val (nCells, nProbe, topK) = (16, 4, 3)
      register("ann_ivf_topk",
        s"""WITH cent AS (
           |  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
           |  ORDER BY vec_id LIMIT $nCells),
           |assign AS (
           |  SELECT nn_id, nn_vec, cell FROM (
           |    SELECT e.vec_id AS nn_id, e.embedding AS nn_vec, c.cell,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
           |probes AS (
           |  SELECT query_id, query_vec, cell FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cell,
           |           row_number() OVER (PARTITION BY q.vec_id
           |             ORDER BY ${sqlCosine("q.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 50) WHERE rn <= $nProbe),
           |scored AS (
           |  SELECT p.query_id, a.nn_id,
           |         ${sqlCosine("p.query_vec", "a.nn_vec")} AS cosine
           |  FROM probes p JOIN assign a ON a.cell = p.cell AND a.nn_id != p.query_id)
           |SELECT query_id, rank, nn_id, cosine FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY cosine DESC, nn_id ASC) AS rank
           |  FROM scored) WHERE rank <= $topK
           |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
        val e = emb(s, dir)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
          topK, nCells, nProbe)
          .orderBy("query_id", "rank")
      }
    }

    // product-quantization ANN: the oracle replays the identical
    // deterministic index — seed-vector codebooks, arg-min L2 code
    // assignment (lexicographic struct sort = Spark's struct arg-min),
    // and the fixed-subspace-order ADC sum — so codes, LUTs and scores
    // match bit-for-bit
    locally {
      val (m, sub, codes, topK) = (4, 16, 16, 3)
      def l2(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
          "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
      def dot(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
          "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (acc, x) -> acc + x)"
      val cbCols = (0 until m).map(mi =>
        s"list(embedding[${mi * sub + 1}:${(mi + 1) * sub}] ORDER BY vec_id) AS cb$mi").mkString(", ")
      val codeCols = (0 until m).map(mi =>
        s"CAST(list_sort(list_transform(range($codes), j -> {'d': ${l2(s"e.embedding[${mi * sub + 1}:${(mi + 1) * sub}]", s"cb.cb$mi[CAST(j AS INT) + 1]")}, 'j': j}))[1].j AS BIGINT) AS c$mi").mkString(",\n           |       ")
      val lutCols = (0 until m).map(mi =>
        s"list_transform(range($codes), j -> ${dot(s"q.embedding[${mi * sub + 1}:${(mi + 1) * sub}]", s"cb.cb$mi[CAST(j AS INT) + 1]")}) AS lut$mi").mkString(",\n           |       ")
      val score = (0 until m).map(mi => s"q.lut$mi[CAST(e.c$mi AS INT) + 1]").mkString(" + ")
      val pqSql =
        s"""WITH cb AS (
           |  SELECT $cbCols
           |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $codes)),
           |enc AS (
           |  SELECT e.vec_id AS nn_id,
           |       $codeCols
           |  FROM embeddings e CROSS JOIN cb),
           |q AS (
           |  SELECT q.vec_id AS query_id,
           |       $lutCols
           |  FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 50),
           |scored AS (
           |  SELECT q.query_id, e.nn_id, $score AS score
           |  FROM enc e CROSS JOIN q WHERE e.nn_id != q.query_id)
           |SELECT query_id, rank, nn_id, score FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY score DESC, nn_id ASC) AS rank
           |  FROM scored) WHERE rank <= $topK
           |ORDER BY query_id, rank""".stripMargin
      register("ann_pq_topk", pqSql) { (s, dir) =>
        val e = emb(s, dir)
        Similarity.pqTopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
          topK, m = m, codes = codes)
          .orderBy("query_id", "rank")
      }

      // OPQ query path under the identity rotation: the rotation ride
      // through the fused AffineProject kernel must change NOTHING -
      // identical codes, LUTs, scores vs the plain-PQ oracle. (Trained
      // rotations are spec-gated in AnnRecallSpec: orthogonality,
      // distortion drop, recall >= PQ; the SVD step is not
      // SQL-expressible, so the oracle lever is the identity model.)
      register("ann_opq_identity", pqSql) { (s, dir) =>
        val e = emb(s, dir)
        val idModel = Similarity.opqIdentityModel(e, "vec_id", "embedding",
          m = m, codes = codes)
        Similarity.opqTopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
          topK, idModel)
          .orderBy("query_id", "rank")
      }

      // persisted flat OPQ index at iters=0 (identity training): the
      // build -> store -> load -> query round trip must ALSO change
      // nothing vs the plain-PQ oracle — third reuse of the same SQL
      register("ann_opq_persisted", pqSql) { (s, dir) =>
        val e = emb(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("opq_gate").toString
        Similarity.buildOpqIndex(e, "vec_id", "embedding", s"$tmp/idx",
          m = m, codes = codes, iters = 0)
        val out = graft.operators.Materialize(
          Similarity.queryOpqIndex(s, s"$tmp/idx", e.filter(col("vec_id") < 50),
            "vec_id", "embedding", topK)
            .orderBy("query_id", "rank"))
        deleteTree(tmp)
        out
      }
    }

    // SQ8 quantization + quantized-scan ANN: the oracle replays the
    // identical per-vector quantization (floor(x/scale + 0.5) — NOT
    // round(), whose half-way rule differs across engines), integer dot,
    // top-rerank candidate cut and exact-cosine re-rank, so codes,
    // approximate scores and final ranks match bit-for-bit
    locally {
      val (topK, rerank) = (3, 10)
      val quantCtes =
        """e0 AS (
          |  SELECT vec_id, embedding,
          |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
          |  FROM embeddings),
          |e AS (
          |  SELECT vec_id, embedding,
          |         CASE WHEN mx = 0 THEN 1.0 ELSE mx / 127.0 END AS scale
          |  FROM e0),
          |qv AS (
          |  SELECT vec_id, embedding, scale,
          |         list_transform(embedding, x ->
          |           greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
          |             CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)))) AS q
          |  FROM e)""".stripMargin

      register("embedding_quantize",
        s"""WITH $quantCtes
           |SELECT vec_id, scale,
           |       list_reduce(list_prepend(CAST(0 AS BIGINT), q), (acc, x) -> acc + x) AS q_sum,
           |       list_min(q) AS q_min, list_max(q) AS q_max,
           |       CAST(len(list_filter(q, x -> abs(x) = 127)) AS BIGINT) AS n_sat
           |FROM qv ORDER BY vec_id""".stripMargin) { (s, dir) =>
        emb(s, dir)
          .select(col("vec_id"), Similarity.quantizeInt8(col("embedding")).as("__z"))
          .select(col("vec_id"), col("__z.scale").as("scale"),
            aggregate(col("__z.q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
            array_min(col("__z.q")).as("q_min"),
            array_max(col("__z.q")).as("q_max"),
            size(filter(col("__z.q"), x => abs(x) === 127)).cast("long").as("n_sat"))
          .orderBy("vec_id")
      }

      val intdot =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          "list_transform(list_zip(q.q, c.q), z -> z[1] * z[2])), (acc, x) -> acc + x)"
      register("ann_sq8_topk",
        s"""WITH $quantCtes,
           |approx AS (
           |  SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.vec_id AS nn_id,
           |         CAST($intdot AS DOUBLE) * q.scale * c.scale AS ascore
           |  FROM qv q JOIN qv c ON c.vec_id != q.vec_id WHERE q.vec_id < 50),
           |cand AS (
           |  SELECT query_id, query_vec, nn_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |                                 ORDER BY ascore DESC, nn_id ASC) AS arank
           |    FROM approx) WHERE arank <= $rerank),
           |rer AS (
           |  SELECT cand.query_id, cand.nn_id,
           |         ${sqlCosine("cand.query_vec", "e.embedding")} AS cosine
           |  FROM cand JOIN embeddings e ON e.vec_id = cand.nn_id)
           |SELECT query_id, rank, nn_id, cosine FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY cosine DESC, nn_id ASC) AS rank
           |  FROM rer) WHERE rank <= $topK
           |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
        val e = emb(s, dir)
        Similarity.sq8TopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
          topK, rerank)
          .orderBy("query_id", "rank")
      }
    }

    // k-means cluster assignment as a first-class op (seed centroids —
    // the deterministic iters=0 model; trained centroids are float-cast
    // averages whose partial-sum order is engine-dependent, so the
    // TRAINING step is spec-bounded in AnnRecallSpec, not hash-gated)
    locally {
      val kc = 8
      register("kmeans_assign",
        s"""WITH cent AS (
           |  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
           |  ORDER BY vec_id LIMIT $kc)
           |SELECT vec_id, cell, cosine FROM (
           |  SELECT e.vec_id, c.cell, ${sqlCosine("e.embedding", "c.cvec")} AS cosine,
           |         row_number() OVER (PARTITION BY e.vec_id
           |           ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |  FROM embeddings e CROSS JOIN cent c) WHERE rn = 1
           |ORDER BY vec_id""".stripMargin) { (s, dir) =>
        val e = emb(s, dir)
        Similarity.kmeansAssign(e, "vec_id", "embedding",
          Similarity.kmeansCentroids(e, "vec_id", "embedding", kc, iters = 0))
          .orderBy("vec_id")
      }
    }

    // IVF-PQ: the composed billion-scale index. The oracle replays the
    // full deterministic pipeline — coarse centroids, argmax-cosine cell
    // assignment, residual subtraction, residual codebook (lowest ids
    // AFTER the centroid seeds), arg-min-L2 codes, per-query centroid
    // dot + ADC LUT sum in fixed subspace order — so cells, codes and
    // quantized scores all match bit-for-bit.
    locally {
      val (nCells, nProbe, m, sub, codes, topK) = (16, 4, 4, 16, 16, 3)
      def l2(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
          "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), (acc, x) -> acc + x)"
      def dot(a: String, b: String) =
        s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
          "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), (acc, x) -> acc + x)"
      val rcbCols = (0 until m).map(mi =>
        s"list(res[${mi * sub + 1}:${(mi + 1) * sub}] ORDER BY nn_id) AS cb$mi").mkString(", ")
      val codeCols = (0 until m).map(mi =>
        s"CAST(list_sort(list_transform(range($codes), j -> {'d': ${l2(s"r.res[${mi * sub + 1}:${(mi + 1) * sub}]", s"cb.cb$mi[CAST(j AS INT) + 1]")}, 'j': j}))[1].j AS BIGINT) AS c$mi").mkString(",\n         |       ")
      val lutCols = (0 until m).map(mi =>
        s"list_transform(range($codes), j -> ${dot(s"p.query_vec[${mi * sub + 1}:${(mi + 1) * sub}]", s"cb.cb$mi[CAST(j AS INT) + 1]")}) AS lut$mi").mkString(",\n         |       ")
      val adc = (0 until m).map(mi => s"q.lut$mi[CAST(e.c$mi AS INT) + 1]").mkString(" + ")
      // centFilter/rseedCond restrict the TRAINING legs (centroid seeds
      // + residual codebook seeds) to a sub-corpus — the incremental
      // gate trains on half the vectors and encodes all of them
      def ivfPqSqlFor(centFilter: String, rseedCond: String) =
        s"""WITH cent AS (
           |  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
           |  $centFilter ORDER BY vec_id LIMIT $nCells),
           |assign AS (
           |  SELECT nn_id, nn_vec, cell FROM (
           |    SELECT e.vec_id AS nn_id, e.embedding AS nn_vec, c.cell,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
           |resid AS (
           |  SELECT a.nn_id, a.cell,
           |         list_transform(list_zip(a.nn_vec, c.cvec),
           |           z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS res
           |  FROM assign a JOIN cent c USING (cell)),
           |rseed AS (
           |  SELECT nn_id, res FROM resid
           |  WHERE $rseedCond nn_id > (SELECT max(cell) FROM cent)
           |  ORDER BY nn_id LIMIT $codes),
           |rcb AS (SELECT $rcbCols FROM rseed),
           |enc AS (
           |  SELECT r.nn_id, r.cell,
           |       $codeCols
           |  FROM resid r CROSS JOIN rcb cb),
           |probes AS (
           |  SELECT query_id, query_vec, cell FROM (
           |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cell,
           |           row_number() OVER (PARTITION BY q.vec_id
           |             ORDER BY ${sqlCosine("q.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 50) WHERE rn <= $nProbe),
           |pq AS (
           |  SELECT p.query_id, p.cell, ${dot("p.query_vec", "c.cvec")} AS cdot,
           |       $lutCols
           |  FROM probes p JOIN cent c USING (cell) CROSS JOIN rcb cb),
           |scored AS (
           |  SELECT q.query_id, e.nn_id, q.cdot + $adc AS score
           |  FROM enc e JOIN pq q ON e.cell = q.cell AND e.nn_id != q.query_id)
           |SELECT query_id, rank, nn_id, score FROM (
           |  SELECT *, row_number() OVER (PARTITION BY query_id
           |                               ORDER BY score DESC, nn_id ASC) AS rank
           |  FROM scored) WHERE rank <= $topK
           |ORDER BY query_id, rank""".stripMargin
      val ivfPqSql = ivfPqSqlFor("", "")
      register("ann_ivfpq_topk", ivfPqSql) { (s, dir) =>
        val e = emb(s, dir)
        Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 50), "vec_id", "embedding",
          topK, nCells, nProbe, m, codes)
          .orderBy("query_id", "rank")
      }

      // the PERSISTED index path must be bit-identical to the in-one-go
      // operator: build (train + encode + cell-partitioned codes) to a
      // temp dir, then query the stored index — same oracle
      register("ann_ivfpq_persisted", ivfPqSql) { (s, dir) =>
        val e = emb(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
        Similarity.buildIvfPqIndex(e, "vec_id", "embedding", tmp, nCells, m, codes)
        val out = graft.operators.Materialize(
          Similarity.queryIvfPqIndex(s, tmp, e.filter(col("vec_id") < 50),
            "vec_id", "embedding", topK, nProbe)
            .orderBy("query_id", "rank"))
        deleteTree(tmp)
        out
      }

      // incremental append: model trains on the EVEN half, the odd half
      // is appended against that frozen model — the oracle replays the
      // same split (training legs filtered, encode over the union)
      register("ann_ivfpq_incremental",
        ivfPqSqlFor("WHERE vec_id % 2 = 0", "nn_id % 2 = 0 AND")) { (s, dir) =>
        val e = emb(s, dir)
        val tmp = java.nio.file.Files.createTempDirectory("ivfpq_inc").toString
        Similarity.buildIvfPqIndex(e.filter(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", tmp, nCells, m, codes)
        Similarity.appendIvfPqIndex(e.filter(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", tmp)
        val out = graft.operators.Materialize(
          Similarity.queryIvfPqIndex(s, tmp, e.filter(col("vec_id") < 50),
            "vec_id", "embedding", topK, nProbe)
            .orderBy("query_id", "rank"))
        deleteTree(tmp)
        out
      }
    }

    // ---------------- multimodal plumbing ----------------

    register("media_decode",
      s"""SELECT doc_id AS media_id,
         |       CASE WHEN doc_id % 3 = 0 THEN 'image'
         |            WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |       CAST(16 + (ascii(substr(text, 1, 1)) % 64) * 16 AS BIGINT) AS width,
         |       CAST(16 + (octet_length(encode(text)) % 64) * 16 AS BIGINT) AS height,
         |       CAST(octet_length(encode(text)) AS BIGINT) * 20 AS duration_ms
         |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.decode(Multimodal.synthesize(docs(s, dir), "doc_id", "text", "source"))
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("duration_ms"))
        .orderBy("media_id")
    }

    register("media_frame_sample",
      s"""SELECT doc_id AS media_id, f.frame_no,
         |       f.frame_no * 32 AS byte_offset
         |FROM documents,
         |     (SELECT unnest(range(0, 1000)) AS frame_no) f
         |WHERE f.frame_no <= (octet_length(encode(text)) - 1) // 32
         |ORDER BY media_id, frame_no""".stripMargin) { (s, dir) =>
      Multimodal.frameSample(
        Multimodal.synthesize(docs(s, dir), "doc_id", "text", "source"), 32)
        .orderBy("media_id", "frame_no")
    }

    // resize stub: every step-th byte, n_out = min(n, 16*16); the oracle
    // recomputes the selected-byte sum from the raw utf8 text, so a drift
    // in stride/bounds arithmetic or byte handling mismatches
    // (the fixture text is pure ASCII — asserted in MultimodalSpec — so
    // char positions equal byte positions and ascii(substr(..)) reads the
    // byte the Scala kernel reads; media_decode's oracle relies on the
    // same property)
    register("media_resize",
      s"""SELECT doc_id AS media_id,
         |       CAST(least(length(text), 256) AS BIGINT) AS n_bytes,
         |       CAST(list_sum(list_transform(
         |              range(least(length(text), 256)),
         |              i -> ascii(substr(text,
         |                     CAST(i AS INT) * (length(text)
         |                        // least(length(text), 256)) + 1, 1))))
         |            AS BIGINT) AS byte_sum
         |FROM documents WHERE length(text) > 0
         |ORDER BY media_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      Multimodal.resize(
        Multimodal.synthesize(docs(s, dir), "doc_id", "text", "source"), 16, 16)
        .filter(col("n_bytes") > 0)
        .select(col("media_id"), col("n_bytes"), col("payload"))
        .as[(Long, Long, Array[Byte])]
        .map { case (id, n, b) =>
          (id, n, b.map(java.lang.Byte.toUnsignedInt(_).toLong).sum)
        }
        .toDF("media_id", "n_bytes", "byte_sum")
        .orderBy("media_id")
    }

    // feature-extract stub: dim whole-valued floats, feature j = unsigned
    // byte at (j*31) mod n — exploded so float/double compare exactly
    register("media_features",
      s"""SELECT doc_id AS media_id, f.j,
         |       CASE WHEN length(text) = 0 THEN 0.0
         |            ELSE CAST(ascii(substr(text,
         |                   (CAST(f.j AS INT) * 31) % length(text) + 1, 1))
         |                 AS DOUBLE) END AS feature
         |FROM documents, (SELECT unnest(range(0, 8)) AS j) f
         |ORDER BY media_id, j""".stripMargin) { (s, dir) =>
      Multimodal.featureExtract(
        Multimodal.synthesize(docs(s, dir), "doc_id", "text", "source"), 8)
        .select(col("media_id"), posexplode(col("features")).as(Seq("j", "feature")))
        .select(col("media_id"), col("j").cast("long").as("j"),
          col("feature").cast("double").as("feature"))
        .orderBy("media_id", "j")
    }

    // ---------------- cross-corpus near-dup ----------------

    // "dedup the new crawl against the existing training set": split the
    // fixture corpus in half by hash, report LSH band collisions ACROSS
    // the halves only — the oracle replays the identical signature/band
    // pipeline with a corpus marker and restricts the join to l×r.
    locally {
      val k = 8
      val p = 1000000007L
      val mins = (0 until k).map { j =>
        val a = 2L * j + 1
        val b = 7919L * j + 13
        s"list_min(list_transform(hh, h -> ($a * h + $b) % $p)) AS m$j"
      }.mkString(",\n         ")
      val bandSelects = (0 until 4).map { bnd =>
        s"SELECT doc_id, cb, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      val sqlXBucket = s"(${sqlMd5Hash64("'xcorp:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      register("dedup_cross_corpus",
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, $sqlXBucket AS cb, ${sqlShingles("toks")} AS shingles FROM docs),
           |hh AS (
           |  SELECT doc_id, cb, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
           |sigs AS (
           |  SELECT doc_id, cb,
           |         $mins
           |  FROM hh),
           |buckets AS (
           |  $bandSelects)
           |SELECT DISTINCT l.doc_id AS left_id, r.doc_id AS right_id
           |FROM buckets l JOIN buckets r
           |  ON l.band = r.band AND l.sig = r.sig
           |WHERE l.cb < 500000 AND r.cb >= 500000
           |ORDER BY left_id, right_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val bucket = Sampling.hashBucket(col("doc_id"), "xcorp")
        Dedup.crossCorpusCandidates(
          d.filter(bucket < 500000), d.filter(bucket >= 500000),
          "text", "doc_id", k = k, rowsPerBand = 2,
          capLeft = Dedup.BucketCap.Unlimited,
          capRight = Dedup.BucketCap.Unlimited)
          .orderBy("left_id", "right_id")
      }
    }

    // batch twin of the STREAMING near-dup (Streaming.nearDupWithinWatermark
    // on a batch frame, event time = doc_id seconds): per LSH bucket the
    // lowest-(ts, id) document owns it; every other member pairs against
    // the owner, once per shared band.
    locally {
      val k = 8
      val p = 1000000007L
      val mins = (0 until k).map { j =>
        val a = 2L * j + 1
        val b = 7919L * j + 13
        s"list_min(list_transform(hh, h -> ($a * h + $b) % $p)) AS m$j"
      }.mkString(",\n         ")
      val bandSelects = (0 until 4).map { bnd =>
        s"SELECT doc_id, $bnd AS band, CAST(m${2 * bnd} AS VARCHAR) || ':' || CAST(m${2 * bnd + 1} AS VARCHAR) AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      register("near_dup_stream_twin",
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM docs),
           |hh AS (
           |  SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
           |sigs AS (
           |  SELECT doc_id,
           |         $mins
           |  FROM hh),
           |buckets AS (
           |  $bandSelects),
           |owners AS (
           |  SELECT band, sig, min(doc_id) AS owner FROM buckets GROUP BY band, sig)
           |SELECT b.doc_id, o.owner AS dup_of, CAST(b.band AS BIGINT) AS band
           |FROM buckets b JOIN owners o ON b.band = o.band AND b.sig = o.sig
           |WHERE b.doc_id != o.owner
           |ORDER BY doc_id, dup_of, band""".stripMargin) { (s, dir) =>
        graft.streaming.Streaming.nearDupWithinWatermark(
          "doc_id", "text", "__time", horizonSeconds = 3600, k = k, rowsPerBand = 2)(
          docs(s, dir).withColumn("__time", timestamp_seconds(col("doc_id"))))
          // band >= 0: matches only — band == -1 rows are the cap's
          // audit sentinels (none on this organic corpus, but a match
          // consumer must always filter them; the defensive form IS the
          // documented consumption pattern)
          .toDF().filter(col("band") >= 0).orderBy("doc_id", "dup_of", "band")
      }

      // r16: the twin's BATCH face resolves the histogram-based Auto
      // guard (the same solveBucketCap arithmetic as lshCandidates)
      // instead of the stream's fixed online cap. Gate: a planted
      // 200-clone mega-bucket blows the 32-per-doc budget, the oracle
      // replays the full resolution (histogram -> budget -> cap) and
      // keeps, per band bucket, exactly the owner plus the (ts,id)-
      // earliest cap-1 matches — the twin's earliest-N rule under a
      // bucket-size cap c maps to a match budget of c-1.
      locally {
        val boiler = "parked domain twin boilerplate placeholder body verbatim"
        val clones = 200
        register("near_dup_twin_auto",
          s"""WITH corpus AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT 2000000 + i AS doc_id, '$boiler' AS text
             |  FROM (SELECT unnest(range($clones)) AS i)),
             |docs AS (
             |  SELECT doc_id,
             |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                     t -> len(t) > 0) AS toks
             |  FROM corpus),
             |sh AS (
             |  SELECT doc_id, ${sqlShingles("toks")} AS shingles FROM docs),
             |hh AS (
             |  SELECT doc_id, list_transform(shingles, s -> ${sqlMd5HashMod("s")}) AS hh FROM sh),
             |sigs AS (
             |  SELECT doc_id,
             |         $mins
             |  FROM hh),
             |buckets AS (
             |  $bandSelects),
             |bs AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS c
             |       FROM buckets WHERE sig IS NOT NULL GROUP BY 1, 2),
             |hist AS (SELECT c AS s, CAST(count(*) AS BIGINT) AS n FROM bs GROUP BY c),
             |nd AS (SELECT CAST(sum(s * n) AS BIGINT) // ${k / 2} AS n_docs FROM hist),
             |bdg AS (SELECT CAST(ceil(32.0 * n_docs) AS BIGINT) AS budget FROM nd),
             |sol AS (
             |  SELECT CASE WHEN (SELECT CAST(sum(n * ((s * (s - 1)) // 2)) AS BIGINT) FROM hist)
             |                   <= bdg.budget
             |              THEN CAST(9223372036854775807 AS BIGINT)
             |              ELSE greatest(CAST(16 AS BIGINT), coalesce((
             |                SELECT CAST(max(s) AS BIGINT) FROM (
             |                  SELECT s, sum(n * ((s * (s - 1)) // 2)) OVER (ORDER BY s) AS cum
             |                  FROM hist)
             |                WHERE cum <= bdg.budget), CAST(0 AS BIGINT)))
             |         END AS cap
             |  FROM bdg),
             |ranked AS (
             |  SELECT doc_id, band, sig,
             |         row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
             |  FROM buckets WHERE sig IS NOT NULL),
             |owners AS (
             |  SELECT band, sig, min(doc_id) AS owner
             |  FROM buckets WHERE sig IS NOT NULL GROUP BY 1, 2)
             |SELECT r.doc_id, o.owner AS dup_of, CAST(r.band AS BIGINT) AS band
             |FROM ranked r JOIN owners o ON r.band = o.band AND r.sig = o.sig, sol
             |WHERE r.doc_id != o.owner AND r.rn <= sol.cap
             |ORDER BY doc_id, dup_of, band""".stripMargin) { (s, dir) =>
          val extra = s.range(clones.toLong)
            .select((col("id") + 2000000L).as("doc_id"), lit(boiler).as("text"))
          val corpus = docs(s, dir).select(col("doc_id"), col("text")).unionAll(extra)
          graft.streaming.Streaming.nearDupWithinWatermark(
            "doc_id", "text", "__time", horizonSeconds = 3600, k = k, rowsPerBand = 2)(
            corpus.withColumn("__time", timestamp_seconds(col("doc_id"))))
            .toDF().filter(col("band") >= 0).orderBy("doc_id", "dup_of", "band")
        }
      }
    }

    // ---------------- DSIR importance scoring ----------------

    // hashed-bigram importance model: target = the 10% high-"quality"
    // hash slice, raw = the rest; the oracle refits both multinomials,
    // recomputes every per-bucket double ratio with the identical
    // num/den association, and replays the ascending-value summation
    // order, so even the double ratio_sum hash-matches.
    locally {
      val buckets = 1024
      val sqlQBucket = s"(${sqlMd5Hash64("'dsir:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      register("dsir_ratio_sum",
        s"""$DocsView
           |, d AS (
           |  SELECT doc_id, $sqlQBucket AS qb, ${sqlShingles("toks")} AS grams FROM docs),
           |g AS (SELECT doc_id, qb, unnest(grams) AS s FROM d),
           |gb AS (SELECT doc_id, qb, (${sqlMd5HashMod("s")}) % $buckets AS bucket FROM g),
           |ct AS (SELECT bucket, count(*) AS ct FROM gb WHERE qb >= 900000 GROUP BY bucket),
           |cr AS (SELECT bucket, count(*) AS cr FROM gb WHERE qb < 900000 GROUP BY bucket),
           |tot AS (SELECT (SELECT COALESCE(sum(ct), 0) FROM ct) + $buckets AS tt,
           |               (SELECT COALESCE(sum(cr), 0) FROM cr) + $buckets AS tr),
           |ratios AS (
           |  SELECT COALESCE(ct.bucket, cr.bucket) AS bucket,
           |         (CAST(COALESCE(ct, 0) + 1 AS DOUBLE) * CAST(tr AS DOUBLE))
           |           / (CAST(COALESCE(cr, 0) + 1 AS DOUBLE) * CAST(tt AS DOUBLE)) AS ratio
           |  FROM ct FULL OUTER JOIN cr ON ct.bucket = cr.bucket CROSS JOIN tot),
           |perdoc AS (
           |  SELECT gb.doc_id,
           |         COALESCE(ratio, (SELECT CAST(tr AS DOUBLE) / CAST(tt AS DOUBLE) FROM tot)) AS ratio
           |  FROM gb LEFT JOIN ratios USING (bucket) WHERE gb.qb < 900000),
           |scored AS (
           |  SELECT doc_id, count(*) AS n_grams,
           |         list_reduce(list_prepend(0.0, list_sort(list(ratio))), (a, x) -> a + x) AS ratio_sum
           |  FROM perdoc GROUP BY doc_id)
           |SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
           |       COALESCE(ratio_sum, 0.0) AS ratio_sum
           |FROM d LEFT JOIN scored ON d.doc_id = scored.doc_id
           |WHERE d.qb < 900000 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val bucket = Sampling.hashBucket(col("doc_id"), "dsir")
        Importance.ratioSum(
          d.filter(bucket < 900000), d.filter(bucket >= 900000),
          "doc_id", "text", buckets)
          .orderBy("doc_id")
      }
    }

    // corpus report card: exact per-source counts + the token-length
    // distribution through the mergeable value-counts aggregate; the
    // oracle replays the reference index formula on the sorted lengths
    register("corpus_profile",
      s"""$DocsView
         |, t AS (SELECT source, lang, len(toks) AS tok FROM docs),
         |g AS (
         |  SELECT source, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens,
         |         count(DISTINCT lang) AS n_langs,
         |         list_sort(list(CAST(tok AS DOUBLE))) AS sorted
         |  FROM t GROUP BY source)
         |SELECT source, n_docs, n_tokens, n_langs, q.quantile,
         |       sorted[CAST(least(len(sorted) - 1,
         |                         floor(len(sorted) * q.quantile)) AS INT) + 1] AS tokens_q
         |FROM g, (SELECT unnest([0.5, 0.9, 0.99]) AS quantile) q
         |ORDER BY source, quantile""".stripMargin) { (s, dir) =>
      Curation.corpusProfile(docs(s, dir), "source", "text", "lang")
        .orderBy("source", "quantile")
    }

    // ---------------- training-order materialization ----------------

    register("corpus_shuffle",
      s"""SELECT row_number() OVER (
         |         ORDER BY ${sqlMd5Hash64("'epoch0:' || CAST(doc_id AS VARCHAR)")}, doc_id) - 1
         |         AS position,
         |       doc_id
         |FROM documents ORDER BY position""".stripMargin) { (s, dir) =>
      Curation.shuffleOrder(docs(s, dir), "doc_id", "epoch0")
        .select("position", "doc_id").orderBy("position")
    }

    locally {
      // cycling weights over the fixture's 20 sources — all exactly
      // representable doubles, so the vtime division is bit-identical
      val weights: Map[String, Double] =
        (0 until 20).map(i => s"src$i" -> Seq(1.0, 2.0, 0.5)(i % 3)).toMap
      val caseW = (0 until 20).map(i =>
        s"WHEN source = 'src$i' THEN CAST(${Seq("1.0", "2.0", "0.5")(i % 3)} AS DOUBLE)")
        .mkString(" ")
      register("interleave_sources",
        s"""WITH ranked AS (
           |  SELECT doc_id, source,
           |         row_number() OVER (PARTITION BY source
           |           ORDER BY ${sqlMd5Hash64("'interleave:' || CAST(doc_id AS VARCHAR)")}, doc_id)
           |           AS source_rank
           |  FROM documents)
           |SELECT row_number() OVER (
           |         ORDER BY CAST(source_rank AS DOUBLE) / (CASE $caseW END),
           |                  source, source_rank) - 1 AS position,
           |       doc_id, source, CAST(source_rank AS BIGINT) AS source_rank
           |FROM ranked ORDER BY position""".stripMargin) { (s, dir) =>
        Curation.interleaveSources(docs(s, dir), "source", "doc_id", weights)
          .select("position", "doc_id", "source", "source_rank")
          .orderBy("position")
      }
    }

    // ---------------- round-8 additions ----------------

    // text normalization over a deterministically-messed column (the
    // fixture corpus is already clean, so control chars / space runs /
    // case are injected per doc_id before cleaning — same discipline as
    // the pii/url gates)
    locally {
      val messSql =
        """chr(9) || ' ' || text ||
          |CASE WHEN doc_id % 3 = 0 THEN ' FOO' || chr(10) || 'Bar' ELSE '' END ||
          |CASE WHEN doc_id % 4 = 0 THEN '  Double  Spaced ' ELSE '' END ||
          |chr(127) || ' end' || chr(9)""".stripMargin.replace("\n", " ")
      def messCol = concat(lit("\t "), col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit(" FOO\nBar")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("  Double  Spaced ")).otherwise(lit("")),
        lit("\u007f end\t"))

      register("text_normalize",
        s"""WITH m AS (SELECT doc_id, $messSql AS s FROM documents)
           |SELECT doc_id,
           |       lower(regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
           |         '${Text.ControlCharPattern}', ' ', 'g'),
           |         ' {2,}', ' ', 'g'),
           |         '^ ', ''), ' $$', '')) AS normalized
           |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
        docs(s, dir).select(col("doc_id"),
          Text.normalize(messCol, lowercase = true).as("normalized"))
          .orderBy("doc_id")
      }
    }

    // corpus-global boilerplate-line removal (lines in >= 2 distinct docs
    // dropped everywhere; same synthetic 7-token lines as line_dedup)
    locally {
      val k = 7
      val minDocs = 2
      register("boilerplate_lines",
        s"""$DocsView,
           |ls AS (
           |  SELECT doc_id,
           |         list_transform(range(CAST(ceil(CAST(len(toks) AS DOUBLE) / $k) AS BIGINT)),
           |           i -> {'pos': i,
           |                 'line': array_to_string(toks[CAST(i AS INT) * $k + 1 : CAST(i AS INT) * $k + $k], ' ')}) AS lines
           |  FROM docs WHERE len(toks) > 0),
           |l AS (SELECT doc_id, unnest(lines) AS u FROM ls),
           |f AS (SELECT md5(u.line) AS h, count(DISTINCT doc_id) AS df
           |      FROM l GROUP BY md5(u.line)),
           |r AS (SELECT doc_id, u.pos AS pos, u.line AS line, f.df AS df
           |      FROM l JOIN f ON md5(u.line) = f.h),
           |agg AS (
           |  SELECT doc_id, count(*) AS n_lines,
           |         count(CASE WHEN df < $minDocs THEN 1 END) AS n_kept,
           |         coalesce(string_agg(CASE WHEN df < $minDocs THEN line END, ' ' ORDER BY pos), '') AS text_clean
           |  FROM r GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(a.n_lines, 0) AS n_lines,
           |       coalesce(a.n_kept, 0) AS n_kept,
           |       coalesce(a.text_clean, '') AS text_clean
           |FROM documents d LEFT JOIN agg a USING (doc_id)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Curation.boilerplateRemove(docs(s, dir), "doc_id", "text", k, minDocs)
          .orderBy("doc_id")
      }
    }

    // opt-out / spam-domain document filter over the synthetic URL
    // augmentation (same urls as url_hosts/url_domain_stats)
    locally {
      val urlSql =
        """text || ' see https://cdn' || CAST(doc_id % 7 AS VARCHAR) || '.site'
          | || CAST(doc_id % 23 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) ||
          |CASE WHEN doc_id % 2 = 0
          |     THEN ' and http://site' || CAST(doc_id % 23 AS VARCHAR) || '.example.org/q'
          |     ELSE '' END""".stripMargin.replace("\n", " ")
      def urlCol = concat(col("text"),
        lit(" see https://cdn"), pmod(col("doc_id"), lit(7)).cast("string"), lit(".site"),
        pmod(col("doc_id"), lit(23)).cast("string"), lit(".example.org/p/"),
        col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" and http://site"), pmod(col("doc_id"), lit(23)).cast("string"),
            lit(".example.org/q"))).otherwise(lit("")))
      val blocked = Seq("site1.example.org", "site7.example.org", "spam.example.net")
      val blockedSql = blocked.map(d => s"'$d'").mkString(", ")

      register("url_blocklist_filter",
        s"""WITH u AS (SELECT doc_id, $urlSql AS s FROM documents),
           |h AS (SELECT doc_id, unnest(regexp_extract_all(s, '${Pii.UrlHostPattern}', 1)) AS host
           |      FROM u),
           |bad AS (SELECT DISTINCT doc_id FROM h
           |        WHERE array_to_string(
           |                string_split(host, '.')[greatest(len(string_split(host, '.')) - 2, 1):],
           |                '.') IN ($blockedSql))
           |SELECT doc_id, n_chars FROM documents
           |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val spark = s
        import spark.implicits._
        val blocklist = blocked.toDF("domain")
        Curation.domainBlocklistFilter(
          docs(s, dir).select(col("doc_id"), urlCol.as("__s"), col("n_chars")),
          "doc_id", "__s", blocklist, "domain", levels = 3)
          .select("doc_id", "n_chars")
          .orderBy("doc_id")
      }
    }

    // dictionary redaction: span-union masking vs chained replace — the
    // two agree whenever matches are disjoint, which these patterns
    // guarantee on any text (no shared characters, no self-overlap)
    register("badwords_redact",
      s"""SELECT doc_id,
         |       replace(replace(text, 'slow', '[X]'), 'batch stream', '[X]')
         |         AS text_redacted
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.badwordsRedact(docs(s, dir), "text",
          Seq("slow", "batch stream"), mask = "[X]", caseInsensitive = false)
        .select("doc_id", "text_redacted").orderBy("doc_id")
    }

    // C4 bad-words rule: the Aho-Corasick dictionary kernel's hit counts
    // vs per-pattern regexp counts (each pattern is a single
    // non-self-overlapping phrase, where all-occurrences == the oracle's
    // non-overlapping scan). The engine pays ONE O(text) pass for the
    // whole dictionary; the oracle's k regexp scans are the plan it beats.
    locally {
      val pats = Seq("slow", "window dup", "scan merge")
      val hitsSql = pats.map(p =>
        s"len(regexp_extract_all(lower(text), '$p'))").mkString(" + ")
      register("badwords_filter",
        s"""WITH h AS (SELECT source, $hitsSql AS hits FROM documents)
           |SELECT source,
           |       count(*) FILTER (WHERE hits = 0) AS n_kept,
           |       count(*) FILTER (WHERE hits > 0) AS n_dropped,
           |       CAST(sum(hits) AS BIGINT) AS total_hits
           |FROM h GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
        Curation.badwordsSignal(docs(s, dir), "text", pats)
          .groupBy("source").agg(
            count(when(col("badword_hits") === 0L, true)).as("n_kept"),
            count(when(col("badword_hits") > 0L, true)).as("n_dropped"),
            sum("badword_hits").as("total_hits"))
          .orderBy("source")
      }
    }

    // Writing-script profile: per-script char counts + dominant script;
    // a third of the docs get Cyrillic padding (latin still dominant --
    // the mixed case), a third are truncated to a CJK-dominant snippet
    // (argmax flips), a third stay Latin — the oracle counts the SAME generated
    // character classes (one range table feeds both engines) and
    // replays the argmax CASE in table order
    locally {
      import graft.functions.Text
      val cyr = " привет мир"
      val cjk = " 你好世界你好"
      val countsSql = Text.ScriptRanges.map { case (name, _) =>
        s"CAST(len(regexp_extract_all(text, '${Text.scriptClassRe2(name)}')) AS BIGINT) AS n_$name"
      }.mkString(",\n           ")
      val names = Text.ScriptRanges.map(_._1)
      val bestSql = s"greatest(${names.map("n_" + _).mkString(", ")})"
      val caseSql = names.map(n => s"WHEN n_$n = __best AND __best > 0 THEN '$n'")
        .mkString("CASE ", " ", " ELSE 'unknown' END")
      register("script_profile",
        s"""WITH t AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN '$cyr' || text || '$cyr'
           |       WHEN doc_id % 3 = 1 THEN substr(text, 1, 4) || '$cjk'
           |       ELSE text END AS text FROM documents),
           |c AS (SELECT doc_id,
           |$countsSql
           |FROM t),
           |b AS (SELECT *, $bestSql AS __best FROM c)
           |SELECT doc_id, ${names.map("n_" + _).mkString(", ")},
           |       $caseSql AS script
           |FROM b ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val t = docs(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0, concat(lit(cyr), col("text"), lit(cyr)))
            .when(col("doc_id") % 3 === 1, concat(substring(col("text"), 1, 4), lit(cjk)))
            .otherwise(col("text")))
        t.select(col("doc_id"), Text.scriptProfile(col("text")).as("p"))
          .select(col("doc_id") +: names.map(n => col(s"p.n_$n")) :+ col("p.script"): _*)
          .orderBy("doc_id")
      }
    }

    // Mojibake text health: the Aho-Corasick artifact counter and the
    // chained-replace repair vs the oracle's per-pattern replace algebra.
    // Injection makes the fixture hostile: a third of the docs get a
    // UTF-8-as-cp1252 corrupted suffix (must be detected AND exactly
    // repaired), a third get REAL accented text (must be untouched —
    // the false-positive face), a third stay as-is.
    locally {
      import graft.functions.Mojibake
      val dirty = " donâ€™t stop at the cafÃ© â€” Â£5 onlyâ€¦"
      val accents = " don’t stop at the café — £5 only…"
      val hitsSql = Mojibake.DefaultArtifacts.map(p =>
        s"((length(text) - length(replace(text, '$p', ''))) // ${p.length})")
        .mkString(" + ")
      val repairSql = Mojibake.DefaultRepairs.foldLeft("text") {
        case (acc, (bad, good)) => s"replace($acc, '$bad', '$good')"
      }
      register("mojibake_health",
        s"""WITH t AS (SELECT doc_id,
           |  CASE WHEN doc_id % 3 = 0 THEN text || '$dirty'
           |       WHEN doc_id % 3 = 2 THEN text || '$accents'
           |       ELSE text END AS text FROM documents)
           |SELECT doc_id,
           |       CAST($hitsSql AS BIGINT) AS moji_hits,
           |       CASE WHEN length(text) > 0
           |            THEN CAST($hitsSql AS DOUBLE) / length(text)
           |            ELSE 0.0 END AS moji_score,
           |       $repairSql AS text_fixed
           |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val t = docs(s, dir).withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(dirty)))
            .when(col("doc_id") % 3 === 2, concat(col("text"), lit(accents)))
            .otherwise(col("text")))
        t.select(col("doc_id"),
            Mojibake.hits(col("text")).as("moji_hits"),
            Mojibake.score(col("text")).as("moji_score"),
            Mojibake.repair(col("text")).as("text_fixed"))
          .orderBy("doc_id")
      }
    }

    // JL random projection: 64 -> 16 dims through the deterministic
    // md5-parity sign matrix; the oracle rebuilds the identical matrix
    locally {
      val (dIn, dOut) = (64, 16)
      register("embedding_project",
        s"""WITH m AS (
           |  SELECT j.j AS j, i.i AS i,
           |         CASE WHEN (${sqlMd5Hash64("'rp:' || CAST(j.j AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)")}) % 2 = 0
           |              THEN 1.0 ELSE -1.0 END AS sgn
           |  FROM (SELECT unnest(range($dOut)) AS j) j, (SELECT unnest(range($dIn)) AS i) i),
           |x AS (SELECT vec_id, i.i AS i, CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) AS x
           |      FROM embeddings, (SELECT unnest(range($dIn)) AS i) i),
           |p AS (SELECT vec_id, m.j AS j,
           |             list_reduce(list_prepend(0.0, list(x.x * m.sgn ORDER BY x.i)),
           |                         (a, b) -> a + b) / sqrt(CAST($dOut AS DOUBLE)) AS value
           |      FROM x JOIN m ON x.i = m.i GROUP BY vec_id, m.j)
           |SELECT vec_id, CAST(j AS INT) AS dim, value FROM p
           |ORDER BY vec_id, dim""".stripMargin) { (s, dir) =>
        Similarity.randomProject(emb(s, dir), "embedding", "projected", dIn, dOut, "rp")
          .select(col("vec_id"), posexplode(col("projected")).as(Seq("dim", "value")))
          .orderBy("vec_id", "dim")
      }
    }

    // PCA input moments: the one-pass mergeable Gram aggregate vs the
    // oracle's direct covariance formula. DECIMAL(38,9) comparison —
    // partial-sum order differs across engines by ~1e-13 relative, far
    // below the rounding; the eigensolve/whitening downstream is driver-
    // side deterministic math (PcaSpec).
    locally {
      val d = 64
      register("pca_covariance",
        s"""WITH dims AS (SELECT unnest(range($d)) AS i),
           |x AS (SELECT vec_id, i.i AS i,
           |             CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) AS v
           |      FROM embeddings, dims i),
           |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
           |mu AS (SELECT i, sum(v) AS s FROM x GROUP BY i),
           |g AS (SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS g
           |      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
           |      GROUP BY 1, 2)
           |SELECT CAST(g.i AS INT) AS i, CAST(g.j AS INT) AS j,
           |       CAST(CAST(g.g / n.n - (mi.s / n.n) * (mj.s / n.n) AS DECIMAL(38,9)) AS DOUBLE) AS cov
           |FROM g CROSS JOIN n
           |JOIN mu mi ON mi.i = g.i JOIN mu mj ON mj.i = g.j
           |ORDER BY i, j""".stripMargin) { (s, dir) =>
        graft.operators.Pca.covarianceEntries(emb(s, dir), "embedding", d)
          .select(col("i"), col("j"),
            col("cov").cast("decimal(38,9)").cast("double").as("cov"))
          .orderBy("i", "j")
      }
    }

    // vocabulary induction + heavy-hitter n-gram mining
    register("vocab_topk",
      s"""$DocsView,
         |t AS (SELECT unnest(toks) AS token FROM docs),
         |c AS (SELECT token, count(*) AS n FROM t GROUP BY token)
         |SELECT token, n FROM c WHERE n >= 2
         |ORDER BY n DESC, token LIMIT 200""".stripMargin) { (s, dir) =>
      Curation.vocabTopK(docs(s, dir), "text", k = 200, minCount = 2L)
    }

    // Zipf power-law fit: driver's sequential least squares vs the
    // oracle's regr_slope/regr_intercept — same ranked vocabulary,
    // ln terms associate differently, compare at DECIMAL(38,6)
    register("zipf_fit",
      s"""$DocsView,
         |c AS (SELECT token, count(*) AS n
         |      FROM (SELECT unnest(toks) AS token FROM docs) GROUP BY token),
         |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank FROM c),
         |f AS (SELECT count(*) AS v,
         |             regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS slope,
         |             regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))) AS intercept
         |      FROM r)
         |SELECT CAST(v AS BIGINT) AS v_size,
         |       CAST(CAST(slope AS DECIMAL(38,6)) AS DOUBLE) AS slope,
         |       CAST(CAST(intercept AS DECIMAL(38,6)) AS DOUBLE) AS intercept
         |FROM f""".stripMargin) { (s, dir) =>
      Curation.zipfFit(docs(s, dir), "text")
        .select(col("v_size"),
          col("slope").cast("decimal(38,6)").cast("double").as("slope"),
          col("intercept").cast("decimal(38,6)").cast("double").as("intercept"))
    }

    // token-distribution Shannon entropy: the windowless repetition
    // signal — Spark's sorted run-length fold vs the oracle's unnest +
    // GROUP BY, ln sums at DECIMAL(38,6) (addition order differs)
    register("token_entropy",
      s"""$DocsView,
         |c AS (SELECT doc_id, token, count(*) AS c
         |      FROM (SELECT doc_id, unnest(toks) AS token FROM docs) GROUP BY 1, 2),
         |e AS (SELECT doc_id, sum(c * ln(CAST(c AS DOUBLE))) AS s,
         |             CAST(sum(c) AS BIGINT) AS n
         |      FROM c GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(e.n, 0) AS n_tokens,
         |       CAST(CAST(CASE WHEN e.n > 0
         |                      THEN ln(CAST(e.n AS DOUBLE)) - e.s / e.n
         |                      ELSE 0.0 END AS DECIMAL(38,6)) AS DOUBLE) AS entropy
         |FROM docs d LEFT JOIN e ON e.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      val toks = graft.functions.Text.tokens(col("text"))
      docs(s, dir).select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          graft.functions.Quality.tokenEntropy(toks)
            .cast("decimal(38,6)").cast("double").as("entropy"))
        .orderBy("doc_id")
    }

    // vocabulary coverage: per-source token totals and OOV rate against
    // the induced top-200 vocab — counts integer-exact, the rate is one
    // IEEE division of two exact longs (cross-engine exact)
    register("oov_rate",
      s"""$DocsView,
         |t AS (SELECT source, unnest(toks) AS token FROM docs),
         |c AS (SELECT token, count(*) AS n
         |      FROM (SELECT unnest(toks) AS token FROM docs) GROUP BY token),
         |v AS (SELECT token FROM c WHERE n >= 2 ORDER BY n DESC, token LIMIT 200)
         |SELECT source, count(*) AS n_tokens,
         |       count(*) FILTER (WHERE t.token NOT IN (SELECT token FROM v)) AS n_oov,
         |       CAST(count(*) FILTER (WHERE t.token NOT IN (SELECT token FROM v)) AS DOUBLE)
         |         / count(*) AS oov_rate
         |FROM t GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val vocab = Curation.vocabTopK(d, "text", k = 200, minCount = 2L)
        .select("token")
      Curation.vocabCoverage(d, "source", "text", vocab).orderBy("source")
    }

    // PSI drift monitor: doc-length distribution of the even-id half vs
    // the odd-id half — bucket counts integer-exact, the psi term
    // compares at DECIMAL(38,6) (the repo's ln convention)
    locally {
      val edges = Seq(150.0, 250.0, 350.0, 450.0)
      val bucketSql = edges.map(e =>
        s"(CASE WHEN v >= $e THEN 1 ELSE 0 END)").mkString(" + ")
      // within-doc consecutive-line collapse: the fold's string result
      // vs the oracle's lag-window + ordered group-concat replay; the
      // injected page stutters one line 3x back-to-back AND repeats it
      // once at distance (the distant copy must SURVIVE)
      register("dedup_lines_consecutive",
        """WITH pages AS (
          |  SELECT doc_id,
          |         'nav menu' || chr(10) || 'nav menu' || chr(10) || 'nav menu'
          |         || chr(10) || text || chr(10) || 'nav menu' AS page
          |  FROM documents),
          |l AS (
          |  SELECT doc_id, i, parts[i] AS line
          |  FROM (SELECT doc_id, string_split(page, chr(10)) AS parts FROM pages),
          |       unnest(range(1, len(parts) + 1)) AS r(i)),
          |kept AS (
          |  SELECT doc_id, i, line,
          |         lag(line) OVER (PARTITION BY doc_id ORDER BY i) AS prev
          |  FROM l)
          |SELECT doc_id,
          |       string_agg(line, chr(10) ORDER BY i) AS text_dedup
          |FROM kept WHERE prev IS NULL OR line <> prev
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val page = concat(lit("nav menu\nnav menu\nnav menu\n"),
          col("text"), lit("\nnav menu"))
        Curation.dedupConsecutiveLines(
            docs(s, dir).select(col("doc_id"), page.as("page")), "page")
          .select("doc_id", "text_dedup")
          .orderBy("doc_id")
      }

      // exact two-sample KS: the distributed prefix-sum cumulative
      // ECDFs vs the oracle's single window over the same distinct
      // values (v is distinct, so RANGE/ROWS frames agree)
      register("ks_drift",
        """WITH ca AS (SELECT n_chars AS v, count(*) AS ca FROM documents
          |            WHERE doc_id % 2 = 0 GROUP BY 1),
          |cb AS (SELECT n_chars AS v, count(*) AS cb FROM documents
          |       WHERE doc_id % 2 = 1 GROUP BY 1),
          |m AS (SELECT coalesce(ca.v, cb.v) AS v,
          |             coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
          |      FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
          |c AS (SELECT v, sum(ca) OVER (ORDER BY v) AS cumA,
          |             sum(cb) OVER (ORDER BY v) AS cumB FROM m),
          |t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM m)
          |SELECT CAST(CAST(max(abs(CAST(cumA AS DOUBLE) / CAST(na AS DOUBLE)
          |                         - CAST(cumB AS DOUBLE) / CAST(nb AS DOUBLE)))
          |            AS DECIMAL(38,6)) AS DOUBLE) AS ks,
          |       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b
          |FROM c, t""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        Curation.ksDrift(
          d.filter(col("doc_id") % 2 === 0).select("n_chars"),
          d.filter(col("doc_id") % 2 === 1).select("n_chars"),
          "n_chars")
      }

      register("psi_report",
        s"""WITH av AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 0),
           |bv AS (SELECT n_chars AS v FROM documents WHERE doc_id % 2 = 1),
           |spine AS (SELECT CAST(unnest(range(${edges.length + 1})) AS INT) AS bucket),
           |ca AS (SELECT $bucketSql AS bucket, count(*) AS n FROM av GROUP BY 1),
           |cb AS (SELECT $bucketSql AS bucket, count(*) AS n FROM bv GROUP BY 1),
           |j AS (SELECT spine.bucket,
           |             coalesce(ca.n, 0) AS n_a, coalesce(cb.n, 0) AS n_b
           |      FROM spine LEFT JOIN ca ON ca.bucket = spine.bucket
           |                 LEFT JOIN cb ON cb.bucket = spine.bucket),
           |t AS (SELECT CAST(sum(n_a) AS DOUBLE) AS ta,
           |             CAST(sum(n_b) AS DOUBLE) AS tb FROM j)
           |SELECT j.bucket, j.n_a, j.n_b,
           |       CAST(CAST(
           |         ((CASE WHEN ta > 0 AND n_a > 0 THEN n_a / ta ELSE 1e-6 END)
           |          - (CASE WHEN tb > 0 AND n_b > 0 THEN n_b / tb ELSE 1e-6 END))
           |         * ln((CASE WHEN ta > 0 AND n_a > 0 THEN n_a / ta ELSE 1e-6 END)
           |              / (CASE WHEN tb > 0 AND n_b > 0 THEN n_b / tb ELSE 1e-6 END))
           |         AS DECIMAL(38,6)) AS DOUBLE) AS psi
           |FROM j, t ORDER BY bucket""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        Curation.psiReport(
            d.filter(pmod(col("doc_id"), lit(2)) === 0),
            d.filter(pmod(col("doc_id"), lit(2)) === 1),
            "n_chars", edges)
          .orderBy("bucket")
      }
    }

    // ---------------- n-gram LM perplexity filtering (CCNet) ----------------
    // Shared CTE chain: bigram add-α(0.5) model trained on the corpus
    // itself, per-doc token-order logprob fold. ln/exp outputs compare at
    // DECIMAL(38,6): Spark codegen uses StrictMath (bit-reproducible on
    // every JVM — the right call for a distributed engine), DuckDB uses
    // libm, and the two differ by 1 ULP on ~0.1% of inputs (measured).
    val ngramScoreCtes =
      s"""$DocsView,
         |pt AS (SELECT doc_id, source, list_concat(list_concat(['<s>'], toks), ['</s>']) AS p FROM docs),
         |v AS (SELECT count(DISTINCT t) + 1 AS vs
         |      FROM (SELECT unnest(toks) AS t FROM docs)),
         |gr AS (SELECT doc_id, source, i, p[CAST(i AS INT) - 1] AS ctx, p[CAST(i AS INT)] AS word
         |       FROM (SELECT doc_id, source, p, unnest(range(2, len(p) + 1)) AS i FROM pt)),
         |cnt AS (SELECT ctx, word, count(*) AS c FROM gr GROUP BY 1, 2),
         |ctot AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
         |lnp AS (SELECT gr.doc_id, gr.source, gr.i,
         |               ln((CAST(COALESCE(cnt.c, 0) AS DOUBLE) + 0.5)
         |                  / (CAST(COALESCE(ctot.t, 0) AS DOUBLE) + 0.5 * CAST(vs AS DOUBLE))) AS lnp
         |        FROM gr LEFT JOIN cnt ON gr.ctx = cnt.ctx AND gr.word = cnt.word
         |                LEFT JOIN ctot ON gr.ctx = ctot.ctx CROSS JOIN v),
         |sc AS (SELECT doc_id, any_value(source) AS source, count(*) AS n_scored,
         |              list_reduce(list_prepend(0.0, list(lnp ORDER BY i)),
         |                          (a, x) -> a + x) AS lp
         |       FROM lnp GROUP BY doc_id)""".stripMargin

    def ngramModel(s: SparkSession, dir: String): graft.operators.NgramLm.Model = {
      val d = docs(s, dir)
      // materialize the count table once: score() consumes it twice (the
      // (ctx,word) join and the derived context totals) — without this
      // the in-query trainer re-aggregates the exploded corpus per use.
      // V reads off the materialized counts (vocabSizeFromCounts) — the
      // corpus-pass form re-tokenized the whole corpus a second time
      val counts = graft.operators.Materialize(
        graft.operators.NgramLm.trainCounts(d, "text", 2))
      graft.operators.NgramLm.Model(counts, 2, 0.5,
        graft.operators.NgramLm.vocabSizeFromCounts(counts))
    }

    register("ngram_lm_counts",
      s"""$DocsView,
         |pt AS (SELECT doc_id, list_concat(list_concat(['<s>'], toks), ['</s>']) AS p FROM docs),
         |gr AS (SELECT p[CAST(i AS INT) - 1] AS ctx, p[CAST(i AS INT)] AS word
         |       FROM (SELECT p, unnest(range(2, len(p) + 1)) AS i FROM pt))
         |SELECT ctx, word, count(*) AS cnt FROM gr GROUP BY 1, 2
         |ORDER BY cnt DESC, ctx, word LIMIT 100""".stripMargin) { (s, dir) =>
      graft.operators.NgramLm.trainCounts(docs(s, dir), "text", 2)
        .orderBy(col("cnt").desc, col("ctx").asc, col("word").asc)
        .limit(100)
    }

    register("ngram_lm_score",
      s"""$ngramScoreCtes
         |SELECT doc_id, n_scored,
         |       CAST(CAST(lp AS DECIMAL(38,6)) AS DOUBLE) AS logprob,
         |       CAST(CAST(-lp / n_scored AS DECIMAL(38,6)) AS DOUBLE) AS cross_entropy,
         |       CAST(CAST(exp(-lp / n_scored) AS DECIMAL(38,6)) AS DOUBLE) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.NgramLm.score(docs(s, dir), "text", "doc_id", ngramModel(s, dir))
        .select(col("doc_id"), col("n_scored"),
          col("logprob").cast("decimal(38,6)").cast("double").as("logprob"),
          col("cross_entropy").cast("decimal(38,6)").cast("double").as("cross_entropy"),
          col("ppl").cast("decimal(38,6)").cast("double").as("ppl"))
        .orderBy("doc_id")
    }

    // interpolated Kneser-Ney bigram (CCNet's actual smoothing family):
    // every count-derived quantity is integer-exact and the probability
    // combines them in an IEEE shape both engines replay; ln/exp compare
    // at DECIMAL(38,6) like the add-alpha gate. Trained on the corpus
    // itself, so the unseen-context backoff arm is spec-covered
    // (NgramLmSpec) rather than exercised here.
    register("kneser_ney_score",
      s"""$DocsView,
         |pt AS (SELECT doc_id, list_concat(list_concat(['<s>'], toks), ['</s>']) AS p FROM docs),
         |v AS (SELECT count(DISTINCT t) + 1 AS vs
         |      FROM (SELECT unnest(toks) AS t FROM docs)),
         |gr AS (SELECT doc_id, i, p[CAST(i AS INT) - 1] AS ctx, p[CAST(i AS INT)] AS word
         |       FROM (SELECT doc_id, p, unnest(range(2, len(p) + 1)) AS i FROM pt)),
         |cnt AS (SELECT ctx, word, count(*) AS c FROM gr GROUP BY 1, 2),
         |ctot AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS t,
         |                CAST(count(*) AS BIGINT) AS n1 FROM cnt GROUP BY 1),
         |cw AS (SELECT word, CAST(count(*) AS BIGINT) AS nw FROM cnt GROUP BY 1),
         |bb AS (SELECT CAST(count(*) AS BIGINT) AS b FROM cnt),
         |lnp AS (SELECT gr.doc_id, gr.i,
         |  ln(CASE WHEN ctot.t IS NULL
         |       THEN (CAST(COALESCE(cw.nw, 0) AS DOUBLE) + 1.0)
         |            / CAST(bb.b + v.vs AS DOUBLE)
         |       ELSE greatest(CAST(COALESCE(cnt.c, 0) AS DOUBLE) - 0.75, 0.0)
         |              / CAST(ctot.t AS DOUBLE)
         |            + 0.75 * CAST(ctot.n1 AS DOUBLE) / CAST(ctot.t AS DOUBLE)
         |              * ((CAST(COALESCE(cw.nw, 0) AS DOUBLE) + 1.0)
         |                 / CAST(bb.b + v.vs AS DOUBLE))
         |     END) AS lnp
         |  FROM gr LEFT JOIN cnt ON gr.ctx = cnt.ctx AND gr.word = cnt.word
         |       LEFT JOIN ctot ON gr.ctx = ctot.ctx
         |       LEFT JOIN cw ON gr.word = cw.word
         |       CROSS JOIN bb CROSS JOIN v),
         |sc AS (SELECT doc_id, count(*) AS n_scored,
         |              list_reduce(list_prepend(0.0, list(lnp ORDER BY i)),
         |                          (a, x) -> a + x) AS lp
         |       FROM lnp GROUP BY doc_id)
         |SELECT doc_id, n_scored,
         |       CAST(CAST(lp AS DECIMAL(38,6)) AS DOUBLE) AS logprob,
         |       CAST(CAST(-lp / n_scored AS DECIMAL(38,6)) AS DOUBLE) AS cross_entropy,
         |       CAST(CAST(exp(-lp / n_scored) AS DECIMAL(38,6)) AS DOUBLE) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      graft.operators.NgramLm.scoreKneserNey(d, "text", "doc_id",
          graft.operators.NgramLm.trainKneserNey(d, "text"))
        .select(col("doc_id"), col("n_scored"),
          col("logprob").cast("decimal(38,6)").cast("double").as("logprob"),
          col("cross_entropy").cast("decimal(38,6)").cast("double").as("cross_entropy"),
          col("ppl").cast("decimal(38,6)").cast("double").as("ppl"))
        .orderBy("doc_id")
    }

    // stupid backoff (Brants 2007): unnormalized web-scale scoring —
    // seen bigrams are a pure count ratio, the backoff arm (spec-covered;
    // self-trained here) is beta times an add-one unigram
    register("stupid_backoff_score",
      s"""$DocsView,
         |pt AS (SELECT doc_id, list_concat(list_concat(['<s>'], toks), ['</s>']) AS p FROM docs),
         |v AS (SELECT count(DISTINCT t) + 1 AS vs
         |      FROM (SELECT unnest(toks) AS t FROM docs)),
         |gr AS (SELECT doc_id, i, p[CAST(i AS INT) - 1] AS ctx, p[CAST(i AS INT)] AS word
         |       FROM (SELECT doc_id, p, unnest(range(2, len(p) + 1)) AS i FROM pt)),
         |cnt AS (SELECT ctx, word, count(*) AS c FROM gr GROUP BY 1, 2),
         |ctot AS (SELECT ctx, CAST(sum(c) AS BIGINT) AS t FROM cnt GROUP BY 1),
         |uni AS (SELECT word, CAST(sum(c) AS BIGINT) AS cw FROM cnt GROUP BY 1),
         |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
         |lnp AS (SELECT gr.doc_id, gr.i,
         |  ln(CASE WHEN cnt.c IS NOT NULL
         |       THEN CAST(cnt.c AS DOUBLE) / CAST(ctot.t AS DOUBLE)
         |       ELSE 0.4 * ((CAST(COALESCE(uni.cw, 0) AS DOUBLE) + 1.0)
         |                   / CAST(nn.n + v.vs AS DOUBLE))
         |     END) AS lnp
         |  FROM gr LEFT JOIN cnt ON gr.ctx = cnt.ctx AND gr.word = cnt.word
         |       LEFT JOIN ctot ON gr.ctx = ctot.ctx
         |       LEFT JOIN uni ON gr.word = uni.word
         |       CROSS JOIN nn CROSS JOIN v),
         |sc AS (SELECT doc_id, count(*) AS n_scored,
         |              list_reduce(list_prepend(0.0, list(lnp ORDER BY i)),
         |                          (a, x) -> a + x) AS lp
         |       FROM lnp GROUP BY doc_id)
         |SELECT doc_id, n_scored,
         |       CAST(CAST(lp AS DECIMAL(38,6)) AS DOUBLE) AS logprob,
         |       CAST(CAST(-lp / n_scored AS DECIMAL(38,6)) AS DOUBLE) AS cross_entropy,
         |       CAST(CAST(exp(-lp / n_scored) AS DECIMAL(38,6)) AS DOUBLE) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val sbCounts = graft.operators.Materialize(
        graft.operators.NgramLm.trainCounts(d, "text", 2))
      graft.operators.NgramLm.scoreStupidBackoff(d, "text", "doc_id",
          sbCounts,
          graft.operators.NgramLm.vocabSizeFromCounts(sbCounts))
        .select(col("doc_id"), col("n_scored"),
          col("logprob").cast("decimal(38,6)").cast("double").as("logprob"),
          col("cross_entropy").cast("decimal(38,6)").cast("double").as("cross_entropy"),
          col("ppl").cast("decimal(38,6)").cast("double").as("ppl"))
        .orderBy("doc_id")
    }

    register("ppl_bucket_counts",
      s"""$ngramScoreCtes,
         |ranked AS (SELECT source,
         |                  row_number() OVER (ORDER BY exp(-lp / n_scored) ASC, doc_id ASC) - 1 AS rnk
         |           FROM sc),
         |tot AS (SELECT count(*) AS n FROM ranked)
         |SELECT source,
         |       CASE least(CAST(floor(CAST(rnk * 3 AS DOUBLE) / n) AS BIGINT), 2)
         |         WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS ppl_bucket,
         |       count(*) AS n_docs
         |FROM ranked CROSS JOIN tot GROUP BY 1, 2
         |ORDER BY source, ppl_bucket""".stripMargin) { (s, dir) =>
      val scored = graft.operators.NgramLm.score(
        docs(s, dir), "text", "doc_id", ngramModel(s, dir))
      graft.operators.NgramLm.pplBucket(scored, "doc_id", "ppl")
        .groupBy("source", "ppl_bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "ppl_bucket")
    }

    // temperature-scaled source mixing (T=2): rates from IEEE sqrt
    // (correctly-rounded by the standard — bit-identical cross-engine,
    // unlike pow), normalizer folded in source-name order, then the
    // upsample_epochs floor + hash-fraction copy rule
    locally {
      val bucket = s"(${sqlMd5Hash64("'tmix:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      register("temperature_mix",
        s"""WITH stats AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
           |tw AS (
           |  SELECT CAST(sum(n) AS BIGINT) AS total,
           |         list_reduce(list_prepend(0.0,
           |           list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)),
           |           (a, x) -> a + x) AS z
           |  FROM stats),
           |rates AS (
           |  SELECT source,
           |         CAST(total AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) / z / CAST(n AS DOUBLE) AS w
           |  FROM stats CROSS JOIN tw),
           |c AS (
           |  SELECT doc_id, d.source,
           |         CAST(floor(w) AS BIGINT) +
           |         CASE WHEN $bucket < CAST(floor((w - floor(w)) * 1000000) AS BIGINT)
           |              THEN 1 ELSE 0 END AS copies
           |  FROM documents d JOIN rates ON d.source = rates.source)
           |SELECT doc_id, source, unnest(range(copies)) AS copy
           |FROM c ORDER BY doc_id, copy""".stripMargin) { (s, dir) =>
        Curation.temperatureMix(docs(s, dir).select("doc_id", "source"),
          "source", "doc_id")
          .orderBy("doc_id", "copy")
      }
    }

    // UniMax budget allocation: the waterfilling loop replayed as a
    // recursive CTE over sources in ascending (n, source) order — every
    // step a fixed IEEE expression, so rates match the driver fold
    // bit-exactly; then the same upsample copy rule
    locally {
      val (budget, epochs) = (600, 4.0)
      val bucket = s"(${sqlMd5Hash64("'unimax:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      register("unimax_mix",
        s"""WITH RECURSIVE stats AS (
           |  SELECT CAST(source AS VARCHAR) AS source, CAST(count(*) AS BIGINT) AS n
           |  FROM documents GROUP BY 1),
           |ord AS (SELECT source, n,
           |               CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i
           |        FROM stats),
           |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ord),
           |alloc(i, source, n, a, rem) AS (
           |  SELECT o.i, o.source, o.n,
           |         least($epochs * CAST(o.n AS DOUBLE),
           |               CAST($budget AS DOUBLE) / CAST(kk.k AS DOUBLE)),
           |         CAST($budget AS DOUBLE)
           |           - least($epochs * CAST(o.n AS DOUBLE),
           |                   CAST($budget AS DOUBLE) / CAST(kk.k AS DOUBLE))
           |  FROM ord o CROSS JOIN kk WHERE o.i = 1
           |  UNION ALL
           |  SELECT o.i, o.source, o.n,
           |         least($epochs * CAST(o.n AS DOUBLE),
           |               al.rem / CAST(kk.k - al.i AS DOUBLE)),
           |         al.rem - least($epochs * CAST(o.n AS DOUBLE),
           |                        al.rem / CAST(kk.k - al.i AS DOUBLE))
           |  FROM alloc al JOIN ord o ON o.i = al.i + 1 CROSS JOIN kk),
           |rates AS (SELECT source, a / CAST(n AS DOUBLE) AS w FROM alloc),
           |c AS (
           |  SELECT doc_id, d.source,
           |         CAST(floor(w) AS BIGINT) +
           |         CASE WHEN $bucket < CAST(floor((w - floor(w)) * 1000000) AS BIGINT)
           |              THEN 1 ELSE 0 END AS copies
           |  FROM documents d JOIN rates ON d.source = rates.source)
           |SELECT doc_id, source, unnest(range(copies)) AS copy
           |FROM c ORDER BY doc_id, copy""".stripMargin) { (s, dir) =>
        Curation.unimaxMix(docs(s, dir).select("doc_id", "source"),
            "source", "doc_id", totalBudget = budget, maxEpochs = epochs,
            salt = "unimax")
          .orderBy("doc_id", "copy")
      }
    }

    // DoReMi-style domain reweighting: per-domain clipped excess loss
    // (EXACT decimal sum, partition invariant), one exponentiated-
    // gradient round from the flat prior (exp absorbed by the
    // DECIMAL(38,6)->DOUBLE readout convention), then the upsample copy
    // rule at rate total*weight/n
    locally {
      val lossSql = "CAST(CAST(n_chars AS DOUBLE) / 1000.0 - 0.05 AS DECIMAL(38,12))"
      val statsSql =
        s"""WITH s AS (SELECT CAST(source AS VARCHAR) AS domain, count(*) AS n,
           |                  sum($lossSql) AS sl
           |           FROM documents GROUP BY 1),
           |e AS (SELECT domain, n, GREATEST(CAST(sl AS DOUBLE) / n, 0.0) AS excess FROM s),
           |u AS (SELECT domain, n, excess, exp(1.0 * excess) AS uw FROM e),
           |z AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |        list(uw ORDER BY domain)), (a, x) -> a + x) AS z FROM u),
           |w AS (SELECT domain, n, excess,
           |             CAST(CAST(uw / z AS DECIMAL(38,6)) AS DOUBLE) AS weight
           |      FROM u CROSS JOIN z)""".stripMargin
      def lossCol = col("n_chars").cast("double") / lit(1000.0)

      register("doremi_weights",
        s"""$statsSql
           |SELECT domain, CAST(n AS BIGINT) AS n, excess, weight
           |FROM w ORDER BY domain""".stripMargin) { (s, dir) =>
        graft.operators.Doremi.weights(docs(s, dir), "source",
          lossCol, lit(0.05)).orderBy("domain")
      }

      val bucket = s"(${sqlMd5Hash64("'doremi:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      register("doremi_reweight",
        s"""$statsSql,
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM w),
           |rates AS (SELECT domain,
           |                 CAST(total AS DOUBLE) * weight / CAST(n AS DOUBLE) AS r
           |          FROM w CROSS JOIN tot),
           |c AS (SELECT doc_id, d.source,
           |             CAST(floor(r) AS BIGINT) +
           |             CASE WHEN $bucket < CAST(floor((r - floor(r)) * 1000000) AS BIGINT)
           |                  THEN 1 ELSE 0 END AS copies
           |      FROM documents d JOIN rates ON CAST(d.source AS VARCHAR) = rates.domain)
           |SELECT doc_id, source, unnest(range(copies)) AS copy
           |FROM c ORDER BY doc_id, copy""".stripMargin) { (s, dir) =>
        graft.operators.Doremi.reweight(
          docs(s, dir).select("doc_id", "source", "n_chars"),
          "source", "doc_id", lossCol, lit(0.05))
          .select("doc_id", "source", "copy")
          .orderBy("doc_id", "copy")
      }
    }

    // count-min sketch: the fixed-memory frequency estimator. The oracle
    // rebuilds the IDENTICAL d×w matrix cell-by-cell from the md5 bucket
    // convention and takes the same min-of-cells estimate — integer-exact,
    // collisions and all (w=256 forces real collisions at sf0.01).
    locally {
      val (d, w) = (4, 256)
      def sqlBucket(j: String, tok: String) =
        s"(${sqlMd5Hash64(s"'cms:' || CAST($j AS VARCHAR) || ':' || $tok")} % $w)"
      register("cms_token_counts",
        s"""$DocsView,
           |inst AS (SELECT unnest(toks) AS tok FROM docs),
           |js AS (SELECT unnest(range(0, $d)) AS j),
           |cells AS (SELECT j, ${sqlBucket("j", "tok")} AS b, count(*) AS c
           |          FROM inst CROSS JOIN js GROUP BY 1, 2),
           |toks AS (SELECT DISTINCT tok FROM inst),
           |est AS (SELECT tok AS token, CAST(min(c) AS BIGINT) AS est
           |        FROM toks CROSS JOIN js
           |        JOIN cells ON cells.j = js.j
           |                  AND cells.b = ${sqlBucket("js.j", "tok")}
           |        GROUP BY tok)
           |SELECT token, est FROM est
           |ORDER BY est DESC, token LIMIT 100""".stripMargin) { (s, dir) =>
        graft.operators.Sketches.cmsTokenCounts(docs(s, dir), "text", d, w, "cms", 100)
      }
    }

    // Misra-Gries heavy hitters: fixed-memory candidate sketch + exact
    // recount of <= k candidates. Deterministic despite the sketch's
    // order-dependent margin: the output is exactly the tokens whose
    // TRUE count clears n/(k+1) (MG completeness guarantees they are all
    // candidates), so the oracle is the plain exact threshold query.
    locally {
      val k = 30
      register("heavy_hitters",
        s"""$DocsView,
           |t AS (SELECT unnest(toks) AS token FROM docs),
           |n AS (SELECT count(*) AS n FROM t)
           |SELECT token, count(*) AS cnt FROM t CROSS JOIN n
           |GROUP BY token, n.n HAVING count(*) * ${k + 1} > n.n
           |ORDER BY cnt DESC, token""".stripMargin) { (s, dir) =>
        graft.operators.Sketches.heavyHitters(docs(s, dir), "text", k)
      }
    }

    // HyperLogLog register table: the oracle replays the identical
    // integer idx/rank arithmetic from the same md5-derived 60-bit
    // hashes (register = top b bits, rank = 1 + leading zeros of the
    // remaining w bits, via a max-set-bit join). Registers are exactly
    // deterministic (merge = element-wise max), so this is a full
    // hash-compare gate; the cardinality ESTIMATE on top is driver math
    // spec-pinned in HllSpec (its ln/harmonic floats don't belong in a
    // byte-compare).
    locally {
      val b = 8
      val w = 60 - b // 52-bit suffix
      register("hll_registers",
        s"""$DocsView,
           |t AS (SELECT DISTINCT unnest(toks) AS token FROM docs),
           |h AS (SELECT token, ${sqlMd5Hash64("'hll:' || token")} AS h FROM t),
           |r AS (SELECT CAST(h >> $w AS BIGINT) AS register,
           |             h & ((CAST(1 AS BIGINT) << $w) - 1) AS rem FROM h),
           |bits AS (SELECT register, rem,
           |                max(CASE WHEN (rem >> CAST(j AS INT)) & 1 = 1 THEN j END) AS hb
           |         FROM r, (SELECT unnest(range($w)) AS j) GROUP BY register, rem),
           |rk AS (SELECT register,
           |              CASE WHEN hb IS NULL THEN ${w + 1} ELSE $w - hb END AS rank
           |       FROM bits)
           |SELECT register, CAST(max(rank) AS BIGINT) AS max_rank
           |FROM rk GROUP BY register ORDER BY register""".stripMargin) { (s, dir) =>
        graft.operators.Sketches.hllRegisters(docs(s, dir), "text", b, "hll")
      }

      // the same mergeable aggregate composed under a groupBy: one
      // per-source sketch per group via the SQL face — the "distinct
      // tokens per domain" question at 100 TB is #groups × 2^b bytes of
      // state, still no vocabulary shuffle
      register("grouped_hll",
        s"""$DocsView,
           |t AS (SELECT DISTINCT source, unnest(toks) AS token FROM docs),
           |h AS (SELECT source, token, ${sqlMd5Hash64("'hll:' || token")} AS h FROM t),
           |r AS (SELECT source, CAST(h >> $w AS BIGINT) AS register,
           |             h & ((CAST(1 AS BIGINT) << $w) - 1) AS rem FROM h),
           |bits AS (SELECT source, register, rem,
           |                max(CASE WHEN (rem >> CAST(j AS INT)) & 1 = 1 THEN j END) AS hb
           |         FROM r, (SELECT unnest(range($w)) AS j) GROUP BY source, register, rem),
           |rk AS (SELECT source, register,
           |              CASE WHEN hb IS NULL THEN ${w + 1} ELSE $w - hb END AS rank
           |       FROM bits)
           |SELECT source, register, CAST(max(rank) AS BIGINT) AS max_rank
           |FROM rk GROUP BY source, register
           |ORDER BY source, register""".stripMargin) { (s, dir) =>
        GraftExtensions.register(s)
        docs(s, dir)
          .select(col("source"), explode(graft.functions.Text.tokens(col("text"))).as("__tok"))
          .groupBy("source")
          .agg(expr(s"hyperloglog(__tok, $b, 'hll')").as("regs"))
          .select(col("source"), posexplode(col("regs")).as(Seq("register", "max_rank")))
          .filter(col("max_rank") > 0)
          .select(col("source"), col("register").cast("long").as("register"),
            col("max_rank").cast("long").as("max_rank"))
          .orderBy("source", "register")
      }
    }

    // robots.txt (RFC 9309) longest-match semantics: a literal rule set
    // applied to per-doc paths — Allow beats Disallow exactly when its
    // pattern is longer, which the oracle replays as ordered CASE
    // prefix checks
    register("robots_allowed",
      s"""SELECT doc_id,
         |       CASE WHEN starts_with('/p/' || CAST(doc_id AS VARCHAR), '/p/12') THEN true
         |            WHEN starts_with('/p/' || CAST(doc_id AS VARCHAR), '/p/1') THEN false
         |            WHEN starts_with('/p/' || CAST(doc_id AS VARCHAR), '/p/3') THEN false
         |            ELSE true END AS robots_allowed
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val robots =
        """User-agent: evilbot
          |Disallow: /
          |
          |User-agent: *
          |Disallow: /p/1
          |Allow: /p/12
          |Disallow: /p/3
          |Crawl-delay: 2
          |""".stripMargin
      graft.sources.Robots.filterAllowed(
          docs(s, dir).select(col("doc_id"),
            concat(lit("http://h.example/p/"), col("doc_id").cast("string")).as("uri")),
          "uri", Map("h.example" -> robots))
        .select(col("doc_id"), col("robots_allowed"))
        .orderBy("doc_id")
    }

    // politeness schedule: per-host fetch sequencing under robots
    // Crawl-delay — the oracle replays the row_number window and the
    // delay CASE; offsets are n × {2.0, 0.5, 1.0}, IEEE-exact
    register("fetch_schedule",
      s"""WITH u AS (
         |  SELECT doc_id,
         |         'http://h' || CAST(doc_id % 5 AS VARCHAR) || '.example/p/'
         |           || CAST(doc_id AS VARCHAR) AS uri,
         |         'h' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host
         |  FROM documents),
         |r AS (SELECT doc_id, uri, host,
         |             row_number() OVER (PARTITION BY host ORDER BY uri) AS fetch_seq
         |      FROM u)
         |SELECT doc_id, host, CAST(fetch_seq AS INT) AS fetch_seq,
         |       CAST(fetch_seq - 1 AS DOUBLE) *
         |         CASE host WHEN 'h0.example' THEN 2.0
         |                   WHEN 'h1.example' THEN 0.5 ELSE 1.0 END AS fetch_offset_s
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val robots = Map(
        "h0.example" -> "User-agent: *\nCrawl-delay: 2\n",
        "h1.example" -> "User-agent: *\nCrawl-delay: 0.5\n",
        // declared but delay-less: falls to the default
        "h2.example" -> "User-agent: *\nDisallow: /tmp\n")
      graft.sources.Robots.fetchSchedule(
          docs(s, dir).select(col("doc_id"),
            concat(lit("http://h"), pmod(col("doc_id"), lit(5)).cast("string"),
              lit(".example/p/"), col("doc_id").cast("string")).as("uri")),
          "uri", robots)
        .select(col("doc_id"), col("host"), col("fetch_seq"), col("fetch_offset_s"))
        .orderBy("doc_id")
    }

    // sitemap discovery: per-source <urlset> documents BUILT from the
    // table, parsed back through from_xml + inline — the oracle reads
    // the entry fields straight from the source rows, so the whole
    // XML leg (which DuckDB never touches) must round-trip exactly
    register("sitemap_urls",
      s"""SELECT doc_id, source,
         |       'http://s.example/p/' || CAST(doc_id AS VARCHAR) AS loc,
         |       '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
         |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'daily'
         |            WHEN 1 THEN 'weekly' ELSE 'monthly' END AS changefreq,
         |       CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val id = col("doc_id")
      val entry = concat(
        lit("<url><loc>http://s.example/p/"), id.cast("string"),
        lit("</loc><lastmod>2024-01-"),
        lpad((pmod(id, lit(28)) + 1).cast("string"), 2, "0"),
        lit("</lastmod><changefreq>"),
        when(pmod(id, lit(3)) === 0, "daily")
          .when(pmod(id, lit(3)) === 1, "weekly").otherwise("monthly"),
        lit("</changefreq><priority>0."), pmod(id, lit(10)).cast("string"),
        lit("</priority></url>"))
      val sitemaps = docs(s, dir).groupBy("source").agg(
        concat(lit("<urlset>"), concat_ws("", sort_array(collect_list(entry))),
          lit("</urlset>")).as("xml"))
      graft.sources.Sitemap.parseUrlset(sitemaps, "xml")
        .select(
          regexp_extract(col("loc"), "/p/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("source"), col("loc"), col("lastmod"), col("changefreq"),
          col("priority"))
        .orderBy("doc_id")
    }

    // robots harvesting from a crawl's own responses: keep 2xx
    // /robots.txt captures, freshest per host — the oracle replays the
    // filter + the row_number collapse
    register("robots_harvest",
      s"""WITH r AS (SELECT
         |    'h' || CAST(doc_id % 9 AS VARCHAR) || '.example' AS host,
         |    '2024-01-01T00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS dt,
         |    'User-agent: *' || chr(10) || 'Disallow: /v' || CAST(doc_id AS VARCHAR) AS body
         |  FROM documents WHERE doc_id % 4 = 0 AND doc_id % 3 <> 0),
         |rk AS (SELECT host, body,
         |              row_number() OVER (PARTITION BY host
         |                                 ORDER BY dt DESC, body DESC) AS rn
         |       FROM r)
         |SELECT host, body FROM rk WHERE rn = 1 ORDER BY host""".stripMargin) { (s, dir) =>
      val id = col("doc_id")
      val responses = docs(s, dir).select(
        when(pmod(id, lit(4)) === 0,
            concat(lit("http://H"), pmod(id, lit(9)).cast("string"),
              lit(".example/robots.txt")))
          .otherwise(concat(lit("http://h"), pmod(id, lit(9)).cast("string"),
            lit(".example/page/"), id.cast("string"))).as("target_uri"),
        concat(lit("2024-01-01T00:00:"),
          lpad(pmod(id, lit(60)).cast("string"), 2, "0"), lit("Z")).as("warc_date"),
        when(pmod(id, lit(3)) === 0, lit(404)).otherwise(lit(200)).as("status"),
        concat(lit("User-agent: *\nDisallow: /v"), id.cast("string")).as("text"))
      graft.sources.Robots.hostBodies(responses).orderBy("host")
    }

    // rank-fusion ensemble: three decorrelated signals -> global ranks
    // (range-exchange ordinals, no single-partition window) -> mean
    // percent rank; the oracle replays ranks as row_number windows and
    // the normalization in the identical IEEE shape
    register("rank_fusion",
      s"""$DocsView,
         |d AS (SELECT doc_id, n_chars, CAST(len(toks) AS BIGINT) AS n_toks,
         |             (${sqlMd5Hash64("'rf:' || CAST(doc_id AS VARCHAR)")}) % 997 AS sig
         |      FROM docs),
         |r AS (SELECT doc_id,
         |        row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rank_n_chars,
         |        row_number() OVER (ORDER BY n_toks, doc_id) - 1 AS rank_n_toks,
         |        row_number() OVER (ORDER BY sig, doc_id) - 1 AS rank_sig
         |      FROM d),
         |nn AS (SELECT count(*) AS n FROM d)
         |SELECT doc_id, rank_n_chars, rank_n_toks, rank_sig,
         |       CAST(rank_n_chars + rank_n_toks + rank_sig AS DOUBLE) / 3.0
         |         / CAST(greatest(n - 1, 1) AS DOUBLE) AS fused_rank
         |FROM r CROSS JOIN nn ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("n_chars"),
        Text.tokenCount(col("text")).as("n_toks"),
        (Text.md5Hash64(concat(lit("rf:"), col("doc_id").cast("string"))) % 997)
          .as("sig"))
      Curation.rankFusion(base, "doc_id", Seq("n_chars", "n_toks", "sig"))
        .select(col("doc_id"), col("rank_n_chars"), col("rank_n_toks"),
          col("rank_sig"), col("fused_rank"))
        .orderBy("doc_id")
    }

    // Hashing-trick featurization: the fixed-dim bucket counts replay
    // exactly from the md5 fold (vocabulary-free — no fitted state to
    // disagree on)
    locally {
      val dim = 32
      register("hashing_tf",
        s"""$DocsView,
           |t AS (SELECT doc_id, unnest(toks) AS tok FROM docs),
           |b AS (SELECT doc_id,
           |             (${sqlMd5Hash64("'htf' || ':' || tok")} % $dim) AS idx,
           |             count(*) AS cnt
           |      FROM t GROUP BY 1, 2)
           |SELECT doc_id, CAST(idx AS INT) AS idx, CAST(cnt AS DOUBLE) AS cnt
           |FROM b ORDER BY doc_id, idx""".stripMargin) { (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            posexplode(graft.functions.HashingTfExpr(
              graft.functions.Text.tokens(col("text")), dim, "htf"))
              .as(Seq("idx", "cnt")))
          .filter(col("cnt") > 0)
          .select(col("doc_id"), col("idx"), col("cnt"))
          .orderBy("doc_id", "idx")
      }
    }

    // PageRank over the host -> event-type bipartite graph (the
    // link-graph importance signal, fixed 3 power iterations). The
    // oracle UNROLLS the iterations as chained CTEs; per-edge
    // contributions round to DECIMAL(38,18) BEFORE the sum on BOTH
    // sides, so every per-node sum is exact integer arithmetic and the
    // remaining ops are identical IEEE expressions — deterministic
    // distributed PageRank, replayable in SQL
    locally {
      val iters = 3
      val iterCtes = (1 to iters).map { i =>
        s"""d$i AS (SELECT coalesce(sum(CAST(r.rank AS DECIMAL(38,18))),
           |                        CAST(0 AS DECIMAL(38,18))) AS dang
           |         FROM r${i - 1} r
           |         WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = r.node)),
           |c$i AS (SELECT e.dst,
           |               sum(CAST(r.rank / CAST(o.deg AS DOUBLE) AS DECIMAL(38,18))) AS c
           |        FROM e JOIN r${i - 1} r ON r.node = e.src
           |               JOIN outdeg o ON o.src = e.src
           |        GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |               ((1.0 - 0.85) / CAST(nn.n AS DOUBLE)) + 0.85 *
           |               (coalesce(CAST(c.c AS DOUBLE), 0.0) +
           |                CAST(d.dang AS DOUBLE) / CAST(nn.n AS DOUBLE)) AS rank
           |        FROM nodes n LEFT JOIN c$i c ON c.dst = n.node
           |        CROSS JOIN nn CROSS JOIN d$i d)""".stripMargin
      }.mkString(",\n")
      register("host_pagerank",
        s"""WITH e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src,
           |                           event_type AS dst
           |           FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
           |r0 AS (SELECT node, 1.0 / CAST(nn.n AS DOUBLE) AS rank
           |       FROM nodes CROSS JOIN nn),
           |$iterCtes
           |SELECT node, CAST(CAST(rank AS DECIMAL(38,12)) AS DOUBLE) AS rank
           |FROM r$iters ORDER BY node""".stripMargin) { (s, dir) =>
        val ev = graft.sources.Tables.events(s, dir)
        val edges = ev.select(col("host"), col("service"))
          .filter(col("host").isNotNull && col("service").isNotNull)
          .distinct()
        graft.operators.LinkGraph.pageRank(edges, "host", "service",
            iters = iters, damping = 0.85)
          .select(col("node"),
            col("rank").cast("decimal(38,12)").cast("double").as("rank"))
          .orderBy("node")
      }
    }

    // HITS hubs/authorities over the same host -> event-type bipartite
    // graph as host_pagerank, fixed 3 mutual-reinforcement rounds. The
    // oracle UNROLLS each half-step; per-edge contributions round to
    // DECIMAL(38,18) BEFORE the sum, L1 totals are exact decimal sums,
    // and the normalization divide is the same IEEE expression — so the
    // iterative operator is hash-replayable like the PageRank gate
    locally {
      val iters = 3
      val iterCtes = (1 to iters).map { i =>
        s"""ca$i AS (SELECT e.dst, sum(CAST(s.hub AS DECIMAL(38,18))) AS s
           |         FROM e JOIN s${i - 1} s ON s.node = e.src GROUP BY e.dst),
           |ta$i AS (SELECT sum(s) AS tot FROM ca$i),
           |wa$i AS (SELECT n.node,
           |                coalesce(CAST(c.s AS DOUBLE), 0.0) / CAST(t.tot AS DOUBLE) AS auth,
           |                s.hub
           |         FROM nodes n LEFT JOIN ca$i c ON c.dst = n.node
           |         JOIN s${i - 1} s ON s.node = n.node CROSS JOIN ta$i t),
           |ch$i AS (SELECT e.src, sum(CAST(w.auth AS DECIMAL(38,18))) AS s
           |         FROM e JOIN wa$i w ON w.node = e.dst GROUP BY e.src),
           |th$i AS (SELECT sum(s) AS tot FROM ch$i),
           |s$i AS (SELECT n.node, w.auth,
           |               coalesce(CAST(c.s AS DOUBLE), 0.0) / CAST(t.tot AS DOUBLE) AS hub
           |        FROM nodes n LEFT JOIN ch$i c ON c.src = n.node
           |        JOIN wa$i w ON w.node = n.node CROSS JOIN th$i t)""".stripMargin
      }.mkString(",\n")
      register("hits_scores",
        s"""WITH e AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS src,
           |                           event_type AS dst
           |           FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
           |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |s0 AS (SELECT node, 1.0 AS auth, 1.0 AS hub FROM nodes),
           |$iterCtes
           |SELECT node, CAST(CAST(auth AS DECIMAL(38,12)) AS DOUBLE) AS auth,
           |       CAST(CAST(hub AS DECIMAL(38,12)) AS DOUBLE) AS hub
           |FROM s$iters ORDER BY node""".stripMargin) { (s, dir) =>
        val ev = graft.sources.Tables.events(s, dir)
        val edges = ev.select(col("host"), col("service"))
          .filter(col("host").isNotNull && col("service").isNotNull)
          .distinct()
        graft.operators.LinkGraph.hits(edges, "host", "service", iters = iters)
          .select(col("node"),
            col("auth").cast("decimal(38,12)").cast("double").as("auth"),
            col("hub").cast("decimal(38,12)").cast("double").as("hub"))
          .orderBy("node")
      }
    }

    // Unicode NFC normalization: two independent implementations of
    // UAX #15 (JDK Normalizer behind the codegen'd expression vs
    // DuckDB's nfc_normalize) must agree byte-for-byte — the query
    // appends decomposed sequences (e + U+0301, A + U+030A) so the gate
    // exercises real composition, not an ASCII fixpoint
    register("nfc_normalize",
      s"""SELECT doc_id,
         |       nfc_normalize(substr(text, 1, 40) || 'cafe' || chr(769)
         |                     || ' A' || chr(778)) AS norm
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        graft.functions.UnicodeNormalize.nfc(
          concat(substring(col("text"), 1, 40), lit("cafe\u0301 A\u030A")))
          .as("norm"))
        .orderBy("doc_id")
    }

    // WARC ingestion round trip: the query BUILDS a per-doc archive from
    // the documents table (header + Content-Length + payload, the ISO
    // 28500 shape), walks it back through the byte-level record parser,
    // and must recover exactly what the oracle reads straight from the
    // source table — URI, byte length, and the text itself
    register("warc_roundtrip",
      s"""SELECT doc_id,
         |       'http://x/' || CAST(doc_id AS VARCHAR) AS target_uri,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
         |       text
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // serialized by the library's own record writer — the gate now
      // drives the recordBytes -> parser round trip, not a hand build
      val archive = graft.sources.Warc.recordBytes(
        concat(lit("http://x/"), col("doc_id").cast("string")),
        lit("2024-01-01T00:00:00Z"),
        encode(col("text"), "UTF-8"))
      graft.sources.Warc.records(
          docs(s, dir).select(col("doc_id"), archive.as("bytes")), "bytes")
        .select(col("doc_id"), col("target_uri"), col("content_length"),
          decode(col("payload"), "UTF-8").as("text"))
        .orderBy("doc_id")
    }

    // SURT urlkey + CDXJ crawl index: the Spark side is Column algebra
    // (Cdx.scala), the oracle is an INDEPENDENT DuckDB-native
    // implementation of the same transform (list_reverse/list_sort/
    // regexp natives) — two implementations of the published SURT
    // rules that must agree byte-for-byte on messy synthesized URLs
    locally {
      // shared CTE chain: expects u(doc_id, raw), yields surt(doc_id, lo, urlkey)
      val surtCtes =
        s"""s1 AS (SELECT doc_id, regexp_replace(lower(raw), '#.*$$', '') AS lo FROM u),
           |s2 AS (SELECT doc_id, lo,
           |         regexp_extract(lo, '^https?://([^/?]+)', 1) AS auth,
           |         regexp_replace(lo, '^https?://[^/?]+', '') AS rest FROM s1),
           |s3 AS (SELECT *, CASE WHEN starts_with(lo, 'http://')
           |                      THEN regexp_replace(auth, ':80$$', '')
           |                      ELSE regexp_replace(auth, ':443$$', '') END AS hostport
           |       FROM s2),
           |s4 AS (SELECT *, regexp_replace(hostport, ':[0-9]+$$', '') AS host,
           |                regexp_extract(hostport, ':([0-9]+)$$', 1) AS port FROM s3),
           |s5 AS (SELECT *,
           |         array_to_string(list_reverse(string_split(
           |           regexp_replace(host, '^www[0-9]*\\.', ''), '.')), ',') AS revhost,
           |         CASE WHEN instr(rest, '?') > 0
           |              THEN substr(rest, 1, instr(rest, '?') - 1) ELSE rest END AS path0,
           |         CASE WHEN instr(rest, '?') > 0
           |              THEN substr(rest, instr(rest, '?') + 1) ELSE '' END AS qs FROM s4),
           |surt AS (SELECT doc_id, lo,
           |  CASE WHEN starts_with(lo, 'http://') OR starts_with(lo, 'https://') THEN
           |    revhost || CASE WHEN len(port) > 0 THEN ':' || port ELSE '' END || ')' ||
           |      CASE WHEN len(path0) = 0 THEN '/' ELSE path0 END ||
           |      CASE WHEN len(list_filter(string_split(qs, '&'), x -> len(x) > 0)) > 0
           |           THEN '?' || array_to_string(
           |                  list_sort(list_filter(string_split(qs, '&'), x -> len(x) > 0)), '&')
           |           ELSE '' END
           |  ELSE NULL END AS urlkey FROM s5)""".stripMargin

      // messy URL synthesis shared by both sides: case games, www strip,
      // default + non-default ports, unsorted/empty query params,
      // fragments, and a non-URL arm that must key to NULL
      val rawSql =
        """CASE CAST(doc_id % 4 AS INT)
          |  WHEN 0 THEN 'HTTP://WWW.Site' || CAST(doc_id % 23 AS VARCHAR)
          |              || '.Example.ORG:80/P/' || CAST(doc_id AS VARCHAR) || '?b=2&a=1#frag'
          |  WHEN 1 THEN 'https://Sub.Example.org:443/a/' || CAST(doc_id AS VARCHAR)
          |  WHEN 2 THEN 'http://www2.example.org:8080/x/' || CAST(doc_id AS VARCHAR)
          |              || '?z=1&&y=2'
          |  ELSE 'not a url ' || CAST(doc_id AS VARCHAR) END""".stripMargin.replace("\n", " ")
      def rawCol: org.apache.spark.sql.Column = {
        val id = col("doc_id")
        when(pmod(id, lit(4)) === 0,
            concat(lit("HTTP://WWW.Site"), pmod(id, lit(23)).cast("string"),
              lit(".Example.ORG:80/P/"), id.cast("string"), lit("?b=2&a=1#frag")))
          .when(pmod(id, lit(4)) === 1,
            concat(lit("https://Sub.Example.org:443/a/"), id.cast("string")))
          .when(pmod(id, lit(4)) === 2,
            concat(lit("http://www2.example.org:8080/x/"), id.cast("string"),
              lit("?z=1&&y=2")))
          .otherwise(concat(lit("not a url "), id.cast("string")))
      }

      register("surt_key",
        s"""WITH u AS (SELECT doc_id, $rawSql AS raw FROM documents),
           |$surtCtes
           |SELECT doc_id, urlkey FROM surt ORDER BY doc_id""".stripMargin) { (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), graft.sources.Cdx.surtKey(rawCol).as("urlkey"))
          .orderBy("doc_id")
      }

      // the full index round trip: records-shaped frame -> index ->
      // CDXJ lines -> parse (regex split + from_json) -> the oracle's
      // directly-computed fields. Exercises the whole warc -> cdx ->
      // query-the-index path including the JSON leg the oracle never
      // touches.
      register("cdx_roundtrip",
        s"""WITH u AS (SELECT doc_id, $rawSql AS raw FROM documents
           |           WHERE doc_id % 4 < 3),
           |$surtCtes,
           |d AS (SELECT doc_id, text,
           |             '2024-01-01T00:00:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z' AS dt
           |      FROM documents WHERE doc_id % 4 < 3)
           |SELECT s.urlkey AS urlkey,
           |       substr(regexp_replace(d.dt, '[^0-9]', '', 'g'), 1, 14) AS ts,
           |       s.lo AS url, md5(d.text) AS digest,
           |       CAST(octet_length(encode(d.text)) AS BIGINT) AS length
           |FROM surt s JOIN d USING (doc_id) ORDER BY url""".stripMargin) { (s, dir) =>
        val recs = docs(s, dir)
          .filter(pmod(col("doc_id"), lit(4)) < 3)
          .select(
            lower(regexp_replace(rawCol, "#.*$", "")).as("target_uri"),
            concat(lit("2024-01-01T00:00:"),
              lpad(pmod(col("doc_id"), lit(60)).cast("string"), 2, "0"),
              lit("Z")).as("warc_date"),
            encode(col("text"), "UTF-8").as("payload"))
        graft.sources.Cdx.parseCdxj(
            graft.sources.Cdx.cdxjLines(graft.sources.Cdx.index(recs)))
          .select(col("urlkey"), col("ts"), col("url"), col("digest"), col("length"))
          .orderBy("url")
      }
    }

    // crawl-snapshot algebra: latest-capture collapse (max_by aggregate,
    // one shuffle, deterministic (ts, digest) tie-break) and the
    // two-snapshot diff (single full-outer join) — the incremental
    // recrawl questions, both replayed verbatim by the oracle
    locally {
      register("crawl_latest",
        s"""WITH caps AS (
           |  SELECT doc_id, '20240101000000' AS ts, md5(text) AS digest FROM documents
           |  UNION ALL
           |  SELECT doc_id,
           |         CASE WHEN doc_id % 10 = 0 THEN '20240101000000'
           |              ELSE '20240201000000' END AS ts,
           |         md5(text || 'v2') AS digest
           |  FROM documents),
           |r AS (SELECT doc_id, ts, digest,
           |             row_number() OVER (PARTITION BY doc_id
           |                                ORDER BY ts DESC, digest DESC) AS rn
           |      FROM caps)
           |SELECT doc_id, ts, digest FROM r WHERE rn = 1
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val caps = d.select(col("doc_id"), explode(array(
            struct(lit("20240101000000").as("ts"),
              md5(encode(col("text"), "UTF-8")).as("digest")),
            struct(when(pmod(col("doc_id"), lit(10)) === 0, lit("20240101000000"))
                .otherwise(lit("20240201000000")).as("ts"),
              md5(encode(concat(col("text"), lit("v2")), "UTF-8")).as("digest"))))
            .as("c"))
          .select(col("doc_id"), col("c.ts").as("ts"), col("c.digest").as("digest"))
        graft.operators.Snapshots.latest(caps, "doc_id", "ts")
          .orderBy("doc_id")
      }

      register("crawl_diff",
        s"""WITH o AS (SELECT doc_id, md5(text) AS old_digest
           |           FROM documents WHERE doc_id % 3 <> 0),
           |n AS (SELECT doc_id,
           |             CASE WHEN doc_id % 7 = 0 THEN md5(text || 'v2')
           |                  ELSE md5(text) END AS new_digest
           |      FROM documents WHERE doc_id % 5 <> 0)
           |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_digest, new_digest,
           |       CASE WHEN old_digest IS NULL THEN 'added'
           |            WHEN new_digest IS NULL THEN 'removed'
           |            WHEN old_digest <> new_digest THEN 'changed'
           |            ELSE 'unchanged' END AS status
           |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val old = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("digest"))
        val newer = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(7)) === 0,
                md5(encode(concat(col("text"), lit("v2")), "UTF-8")))
              .otherwise(md5(encode(col("text"), "UTF-8"))).as("digest"))
        graft.operators.Snapshots.diff(old, newer, "doc_id", "digest")
          .orderBy("doc_id")
      }
    }

    // discovery -> capture loop closure: sitemap lastmod vs latest
    // capture ts. URLs here are pre-lowercased so the oracle can build
    // the SURT key by plain concat (the transform itself is gated by
    // surt_key); the join/staleness logic is what this gate pins
    register("refetch_candidates",
      s"""WITH e AS (
         |  SELECT doc_id,
         |         'http://h' || CAST(doc_id % 7 AS VARCHAR) || '.example/p/'
         |           || CAST(doc_id AS VARCHAR) AS loc,
         |         '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') AS lastmod,
         |         'example,h' || CAST(doc_id % 7 AS VARCHAR) || ')/p/'
         |           || CAST(doc_id AS VARCHAR) AS urlkey
         |  FROM documents),
         |c AS (SELECT urlkey,
         |             CASE WHEN doc_id % 2 = 0 THEN '20240115000000'
         |                  ELSE '20240101000000' END AS ts
         |      FROM e WHERE doc_id % 3 <> 0)
         |SELECT e.doc_id, e.urlkey, e.loc, c.ts AS last_capture_ts,
         |       CASE WHEN c.ts IS NULL THEN 'uncaptured'
         |            WHEN rpad(regexp_replace(e.lastmod, '[^0-9]', '', 'g'), 14, '0') > c.ts
         |            THEN 'stale' ELSE 'fresh' END AS reason
         |FROM e LEFT JOIN c USING (urlkey)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val id = col("doc_id")
      val d = docs(s, dir)
      val entries = d.select(id,
        concat(lit("http://h"), pmod(id, lit(7)).cast("string"),
          lit(".example/p/"), id.cast("string")).as("loc"),
        concat(lit("2024-01-"),
          lpad((pmod(id, lit(28)) + 1).cast("string"), 2, "0")).as("lastmod"))
      val captures = d.filter(pmod(id, lit(3)) =!= 0).select(
        concat(lit("example,h"), pmod(id, lit(7)).cast("string"),
          lit(")/p/"), id.cast("string")).as("urlkey"),
        when(pmod(id, lit(2)) === 0, lit("20240115000000"))
          .otherwise(lit("20240101000000")).as("ts"))
      graft.operators.Snapshots.refetchCandidates(
          entries, "loc", "lastmod", captures)
        .select(col("doc_id"), col("urlkey"), col("loc"),
          col("last_capture_ts"), col("reason"))
        .orderBy("doc_id")
    }

    // mirror-host detection: hosts h and h+10 serve identical md5
    // digests by construction; the oracle replays the digest self-join
    // (boilerplate cap included as a HAVING band)
    register("mirror_hosts",
      s"""WITH hd AS (SELECT DISTINCT
         |    'h' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host,
         |    md5('d' || CAST(doc_id % 10 AS VARCHAR) || ':'
         |        || CAST(doc_id % 7 AS VARCHAR)) AS digest
         |  FROM documents),
         |el AS (SELECT digest FROM hd GROUP BY digest
         |       HAVING count(*) BETWEEN 2 AND 16),
         |e AS (SELECT hd.host, hd.digest FROM hd JOIN el USING (digest)),
         |p AS (SELECT a.host AS host1, b.host AS host2, count(*) AS shared
         |      FROM e a JOIN e b ON a.digest = b.digest AND a.host < b.host
         |      GROUP BY 1, 2)
         |SELECT host1, host2, CAST(shared AS BIGINT) AS shared
         |FROM p WHERE shared >= 3 ORDER BY host1, host2""".stripMargin) { (s, dir) =>
      val id = col("doc_id")
      val caps = docs(s, dir).select(
        concat(lit("h"), pmod(id, lit(20)).cast("string"), lit(".example")).as("host"),
        md5(encode(concat(lit("d"), pmod(id, lit(10)).cast("string"), lit(":"),
          pmod(id, lit(7)).cast("string")), "UTF-8")).as("digest"))
      graft.operators.Snapshots.mirrorPairs(caps, "host", "digest", minShared = 3)
        .orderBy("host1", "host2")
    }

    // charset detection plumbing: header-param vs meta-tag vs nothing,
    // through real serialized records — payloads stay ASCII so the
    // decode itself is charset-invariant and both engines hash-match;
    // non-ASCII decode semantics are spec-pinned (WarcSpec)
    register("charset_detect",
      s"""SELECT doc_id,
         |       CASE CAST(doc_id % 5 AS INT)
         |         WHEN 0 THEN 'iso-8859-1' WHEN 1 THEN 'utf-8'
         |         WHEN 2 THEN 'windows-1252' WHEN 3 THEN 'ascii'
         |         ELSE NULL END AS charset,
         |       CAST(200 AS INT) AS status,
         |       CASE CAST(doc_id % 5 AS INT)
         |         WHEN 1 THEN '<meta charset="UTF-8">' || text
         |         WHEN 3 THEN '<meta http-equiv="Content-Type" content="text/html; charset=ascii">' || text
         |         ELSE text END AS text
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val id = col("doc_id")
      val ctHeader = when(pmod(id, lit(5)) === 0, lit("text/html; charset=ISO-8859-1"))
        .when(pmod(id, lit(5)) === 2, lit("text/plain; charset=Windows-1252"))
        .otherwise(lit("text/html"))
      val body = when(pmod(id, lit(5)) === 1,
          concat(lit("<meta charset=\"UTF-8\">"), col("text")))
        .when(pmod(id, lit(5)) === 3,
          concat(lit("<meta http-equiv=\"Content-Type\" content=\"text/html; charset=ascii\">"),
            col("text")))
        .otherwise(col("text"))
      val payload = encode(concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "),
        ctHeader, lit("\r\n\r\n"), body), "UTF-8")
      val archive = graft.sources.Warc.recordBytes(
        concat(lit("http://x/"), id.cast("string")),
        lit("2024-01-01T00:00:00Z"), payload, warcType = "response")
      graft.sources.Warc.responsesCharsetAware(
          graft.sources.Warc.records(
            docs(s, dir).select(archive.as("bytes")), "bytes"))
        .select(
          regexp_extract(col("target_uri"), "^http://x/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("charset"), col("status"), col("text"))
        .orderBy("doc_id")
    }

    // robots META directives: pages get synthesized exclusion tags in
    // every quoting/attribute-order shape (bare attrs, flipped order,
    // multiple tags unioned, a decoy name="description" that must NOT
    // match); the oracle states the ground truth per doc_id class. The
    // Spark side genuinely parses — Column regex algebra, map-only.
    register("noindex_filter",
      s"""SELECT doc_id,
         |       CASE CAST(doc_id % 4 AS INT)
         |         WHEN 0 THEN 'none'
         |         WHEN 1 THEN 'follow,noarchive,noindex'
         |         WHEN 2 THEN 'nofollow'
         |         ELSE '' END AS directives,
         |       CAST(doc_id % 4 AS INT) IN (0, 1) AS noindex
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val id = col("doc_id")
      val body = when(pmod(id, lit(4)) === 0,
          concat(lit("<meta name=robots content=none>"), col("text")))
        .when(pmod(id, lit(4)) === 1,
          concat(lit("<meta name=\"robots\" content=\"noindex, follow\"><p>x</p>" +
            "<meta name=\"ROBOTS\" content=\"NOARCHIVE\">"), col("text")))
        .when(pmod(id, lit(4)) === 2,
          concat(lit("<meta content='nofollow' name='robots'>"), col("text")))
        .otherwise(
          concat(lit("<meta name=\"description\" content=\"noindex\">"), col("text")))
      docs(s, dir).select(id,
          array_join(array_sort(graft.sources.Robots.metaRobotsDirectives(body)), ",")
            .as("directives"),
          graft.sources.Robots.isNoindex(body).as("noindex"))
        .orderBy("doc_id")
    }

    // KMV / bottom-k sketch: the kept set is exactly the k smallest
    // salted hashes — order/partition invariant — so the oracle replays
    // it verbatim with ORDER BY hash LIMIT k from the same md5 folds.
    locally {
      val k = 256
      register("kmv_row_sample",
        s"""WITH h AS (SELECT DISTINCT
           |    ${sqlMd5Hash64("'kmv' || '|' || CAST(doc_id AS VARCHAR)")} AS hash,
           |    CAST(n_chars AS DOUBLE) AS value
           |  FROM documents)
           |SELECT hash, value FROM h ORDER BY hash, value LIMIT $k""".stripMargin) {
        (s, dir) =>
          graft.operators.Sketches.kmvRowSample(docs(s, dir), "doc_id", "n_chars", k, "kmv")
      }

      register("kmv_quantiles",
        s"""WITH h AS (SELECT DISTINCT
           |    ${sqlMd5Hash64("'kmv' || '|' || CAST(doc_id AS VARCHAR)")} AS hash,
           |    CAST(n_chars AS DOUBLE) AS value
           |  FROM documents),
           |s AS (SELECT hash, value FROM h ORDER BY hash, value LIMIT $k),
           |sv AS (SELECT value,
           |              row_number() OVER (ORDER BY value) - 1 AS rn,
           |              count(*) OVER () AS m
           |       FROM s),
           |qv AS (SELECT unnest([0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]) AS q)
           |SELECT qv.q AS q, sv.value AS value
           |FROM qv JOIN sv ON sv.rn = CAST(floor((sv.m - 1) * qv.q) AS BIGINT)
           |ORDER BY q""".stripMargin) { (s, dir) =>
        graft.operators.Sketches.kmvQuantiles(docs(s, dir), "doc_id", "n_chars", k,
          "kmv", Seq(0.0, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
      }

      register("kmv_distinct",
        s"""$DocsView,
           |t AS (SELECT DISTINCT unnest(toks) AS token FROM docs),
           |h AS (SELECT DISTINCT ${sqlMd5Hash64("'kmv' || '|' || token")} AS h FROM t),
           |s AS (SELECT h FROM h ORDER BY h LIMIT $k),
           |agg AS (SELECT count(*) AS k_kept, max(h) AS h_k FROM s)
           |SELECT CAST(k_kept AS BIGINT) AS k_kept,
           |       CAST(h_k AS BIGINT) AS h_k,
           |       CASE WHEN k_kept < $k THEN CAST(k_kept AS DOUBLE)
           |            ELSE CAST(${k - 1} AS DOUBLE) * pow(2, 60) / CAST(h_k AS DOUBLE)
           |       END AS est
           |FROM agg""".stripMargin) { (s, dir) =>
        graft.operators.Sketches.kmvDistinct(docs(s, dir), "text", k, "kmv")
      }
    }

    // KMV set-operation estimates: vocabulary union / Jaccard /
    // intersection of the even-id and odd-id halves from two bottom-k
    // sketches. The oracle tests membership against the FULL hash sets —
    // equivalent to the engine's sketch-membership test because every
    // union-sample element is below both retention thresholds. k is set
    // BELOW the corpus vocabulary so the estimator arm (not the exact
    // fallback) is what the gate exercises; all arithmetic is the same
    // fixed IEEE expression over exact integers on both engines.
    locally {
      val k = 16
      val hashOf = sqlMd5Hash64("'kmvo' || '|' || token")
      register("kmv_overlap",
        s"""$DocsView,
           |ta AS (SELECT DISTINCT $hashOf AS h
           |       FROM (SELECT DISTINCT unnest(toks) AS token FROM docs
           |             WHERE doc_id % 2 = 0)),
           |tb AS (SELECT DISTINCT $hashOf AS h
           |       FROM (SELECT DISTINCT unnest(toks) AS token FROM docs
           |             WHERE doc_id % 2 = 1)),
           |u AS (SELECT h FROM (SELECT h FROM ta UNION SELECT h FROM tb)
           |      ORDER BY h LIMIT $k),
           |agg AS (SELECT count(*) AS ku, max(h) AS hk,
           |               count(*) FILTER (WHERE h IN (SELECT h FROM ta)
           |                                  AND h IN (SELECT h FROM tb)) AS m
           |        FROM u)
           |SELECT CAST(ku AS BIGINT) AS k_union, CAST(hk AS BIGINT) AS h_k,
           |       CASE WHEN ku < $k THEN CAST(ku AS DOUBLE)
           |            ELSE CAST(${k - 1} AS DOUBLE) * pow(2, 60) / CAST(hk AS DOUBLE)
           |       END AS d_union,
           |       CAST(m AS BIGINT) AS n_both,
           |       CAST(m AS DOUBLE)
           |         / (CASE WHEN ku < $k THEN greatest(ku, 1) ELSE $k END) AS jaccard,
           |       (CAST(m AS DOUBLE)
           |         / (CASE WHEN ku < $k THEN greatest(ku, 1) ELSE $k END))
           |       * (CASE WHEN ku < $k THEN CAST(ku AS DOUBLE)
           |               ELSE CAST(${k - 1} AS DOUBLE) * pow(2, 60) / CAST(hk AS DOUBLE)
           |          END) AS d_inter
           |FROM agg""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        graft.operators.Sketches.kmvOverlap(
          d.filter(pmod(col("doc_id"), lit(2)) === 0),
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          "text", k, "kmvo")
      }
    }

    // DDSketch relative-error quantiles: deterministic log-gamma
    // buckets (the ln quotient is decimal-rounded before ceil and the
    // representative decimal-rounded after pow, so a last-ulp
    // transcendental disagreement between engines can't flip a bucket
    // or leak into the hash), replayed verbatim in SQL. q stays DOUBLE
    // on both sides — the rank fold floor(q*(n-1))+1 must run the SAME
    // IEEE multiply (a DECIMAL q would floor exactly where the double
    // product lands one ulp low).
    locally {
      val g = 1.02
      val G = s"CAST($g AS DOUBLE)"
      val qs = Seq(0.0, 0.5, 0.9, 0.95, 0.99, 1.0)
      val ddSql =
        s"""WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
           |           WHERE n_chars IS NOT NULL),
           |b AS (SELECT CASE WHEN x > 0 THEN 1 WHEN x < 0 THEN -1 ELSE 0 END AS sign,
           |             CASE WHEN x = 0 THEN 0
           |                  ELSE CAST(ceil(CAST(ln(abs(x)) / ln($G)
           |                                      AS DECIMAL(38,6))) AS BIGINT)
           |             END AS idx,
           |             count(*) AS cnt
           |      FROM v GROUP BY 1, 2),
           |o AS (SELECT cnt,
           |             CASE WHEN sign = 0 THEN 0.0
           |                  ELSE CAST(CAST(sign * (pow($G, idx) * 2 / ($G + 1))
           |                                 AS DECIMAL(38,6)) AS DOUBLE)
           |             END AS est,
           |             sum(cnt) OVER (ORDER BY sign, sign * idx
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |      FROM b),
           |t AS (SELECT sum(cnt) AS n FROM b),
           |qs AS (SELECT CAST(unnest([${qs.mkString(", ")}]) AS DOUBLE) AS q)
           |SELECT qs.q AS q, min(o.est) AS est
           |FROM qs, t, o
           |WHERE o.cum >= floor(qs.q * (t.n - 1)) + 1
           |GROUP BY qs.q ORDER BY q""".stripMargin
      register("dd_quantiles", ddSql) { (s, dir) =>
        graft.operators.Sketches.ddQuantiles(docs(s, dir), "n_chars", g, qs)
      }

      // persisted sketch with incremental maintenance: build on half
      // the corpus, APPEND the other half, serve from the store —
      // append(build(A), B) == build(A ∪ B) by the bucket-addition
      // merge law, so the SAME oracle gates the whole loop
      register("dd_persisted", ddSql) { (s, dir) =>
        val d = docs(s, dir)
        val tmp = gateStoreDir("dd_sketch")
        graft.operators.Sketches.writeDdSketch(
          graft.operators.Sketches.ddBuckets(
            d.filter(pmod(col("doc_id"), lit(2)) === 0), "n_chars", g), tmp, g)
        graft.operators.Sketches.appendDdSketch(
          d.filter(pmod(col("doc_id"), lit(2)) === 1), "n_chars", tmp)
        graft.operators.Sketches.ddQuantilesStored(s, tmp, qs)
      }
    }

    // Key-skew profile: count aggregate + top-k + 1-row total — every
    // output cell is exact integer arithmetic or a single IEEE division
    // of exact integers, so the oracle replays it bit-for-bit.
    locally {
      val k = 15
      val target = 500L
      register("key_skew_profile",
        s"""WITH c AS (SELECT coalesce(CAST(lang AS VARCHAR), '<null>') || '|' ||
           |                  coalesce(CAST(source AS VARCHAR), '<null>') AS key,
           |                  count(*) AS cnt
           |           FROM documents GROUP BY 1),
           |t AS (SELECT sum(cnt) AS n FROM c),
           |top AS (SELECT key, cnt FROM c ORDER BY cnt DESC, key LIMIT $k),
           |r AS (SELECT key, cnt,
           |             row_number() OVER (ORDER BY cnt DESC, key) AS rank,
           |             sum(cnt) OVER (ORDER BY cnt DESC, key
           |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |      FROM top)
           |SELECT r.key AS key, CAST(r.cnt AS BIGINT) AS cnt,
           |       CAST(r.rank AS BIGINT) AS rank,
           |       CAST(r.cnt AS DOUBLE) / t.n AS share,
           |       CAST(r.cum AS DOUBLE) / t.n AS cum_share,
           |       CAST((r.cnt + ${target - 1}) // $target AS BIGINT) AS salt_hint
           |FROM r, t ORDER BY rank""".stripMargin) { (s, dir) =>
        graft.operators.Joins.keySkewProfile(docs(s, dir), Seq("lang", "source"),
          k, target)
      }
    }

    // GPT-2 byte-level pretokens: the same regex runs in Java and RE2,
    // and over the (pure-ASCII) corpus the byte map reduces to the
    // space->Ġ rule the oracle replays; full 256-byte semantics are
    // spec-pinned against the published table's anchor points
    locally {
      val pat = graft.functions.ByteLevel.PretokenPattern.replace("'", "''")
      register("bytelevel_pretokens",
        s"""WITH t AS (SELECT unnest(regexp_extract_all(text, '$pat')) AS rawtok
           |           FROM documents),
           |m AS (SELECT replace(rawtok, ' ', 'Ġ') AS tok FROM t)
           |SELECT tok, CAST(count(*) AS BIGINT) AS n FROM m
           |GROUP BY tok ORDER BY n DESC, tok LIMIT 200""".stripMargin) { (s, dir) =>
        docs(s, dir)
          .select(explode(graft.functions.ByteLevel.pretokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc)
          .limit(200)
      }
    }

    // BPE adjacent-pair counts — the oracle-gated primitive of the
    // distributed tokenizer trainer on the FULL corpus (the full
    // train/encode are oracle-gated end to end on the distinct-character
    // vocabulary — bpe_train / bpe_encode above — and the general merge
    // scan, repeats included, by bpe_encode_general / TokenizerSpec)
    register("bpe_pair_counts",
      s"""$DocsView,
         |words AS (SELECT tok AS word, count(*) AS cnt
         |          FROM (SELECT unnest(toks) AS tok FROM docs) GROUP BY 1),
         |wpos AS (SELECT word, cnt, unnest(range(1, len(word))) AS i
         |         FROM words WHERE len(word) >= 2),
         |pairs AS (SELECT substr(word, CAST(i AS INT), 1) AS l_sym,
         |                 substr(word, CAST(i AS INT) + 1, 1) AS r_sym,
         |                 CAST(sum(cnt) AS BIGINT) AS cnt
         |          FROM wpos GROUP BY 1, 2)
         |SELECT l_sym, r_sym, cnt FROM pairs
         |ORDER BY cnt DESC, l_sym, r_sym LIMIT 200""".stripMargin) { (s, dir) =>
      graft.operators.Tokenizer.pairCounts(
        graft.operators.Tokenizer.symbolize(
          graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")))
        .select(col("left").as("l_sym"), col("right").as("r_sym"), col("cnt"))
        .orderBy(col("cnt").desc, col("l_sym").asc, col("r_sym").asc)
        .limit(200)
    }

    // ---- full BPE train + encode, oracle-replayed in DuckDB ----
    // The merge loop IS SQL-expressible on a restricted vocabulary: words
    // whose characters are all DISTINCT. There every (multi-char) symbol
    // occurs at most once per word, so a delimiter-guarded string
    // replace() is exactly the left-to-right non-overlapping merge scan
    // (the general case breaks replace() on runs like "aaaa" — that case
    // is spec-gated in TokenizerSpec AND, since r14, oracle-gated by
    // `bpe_encode_general`'s position-exact list_reduce replay). The
    // oracle replays the FULL
    // sequential train as chained CTEs (the kcenter_coreset precedent);
    // the Spark side runs the BATCHED trainer, so this gate also pins
    // batched ≡ sequential end to end on real data.
    locally {
      val rounds = 8
      def roundCtes(r: Int): String =
        s"""p$r AS (
           |  SELECT toks[CAST(i AS INT)] AS l, toks[CAST(i AS INT)+1] AS r,
           |         CAST(sum(cnt) AS BIGINT) AS cnt
           |  FROM (SELECT cnt, toks, unnest(range(1, len(toks))) AS i
           |        FROM (SELECT cnt, list_filter(string_split(w, '|'), t -> len(t) > 0) AS toks
           |              FROM w$r))
           |  GROUP BY 1, 2),
           |m$r AS (SELECT l, r, cnt FROM p$r WHERE cnt >= 2
           |        ORDER BY cnt DESC, l, r LIMIT 1),
           |w${r + 1} AS (SELECT replace(w.w, '|' || m.l || '|' || m.r || '|',
           |                          '|' || m.l || m.r || '|') AS w, w.cnt
           |           FROM w$r w, m$r m)""".stripMargin
      // distinct-char word-frequency table + chained merge rounds
      val trainChain =
        s"""fwords AS MATERIALIZED (
           |  SELECT tok AS word, count(*) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                  t -> len(t) > 0)) AS tok
           |    FROM documents)
           |  WHERE len(tok) BETWEEN 3 AND 12
           |    AND len(list_distinct(string_split(tok, ''))) = len(tok)
           |  GROUP BY 1),
           |w0 AS (SELECT regexp_replace(word, '(.)', '|\\1', 'g') || '|' AS w, cnt
           |       FROM fwords),
           |""".stripMargin + (0 until rounds).map(roundCtes).mkString(",\n")

      def gateWords(s: SparkSession, dir: String) =
        graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
          .filter(length(col("word")).between(3, 12) &&
            size(array_distinct(split(col("word"), ""))) === length(col("word")))

      register("bpe_train",
        s"""WITH $trainChain
           |${(0 until rounds).map(r =>
              s"""SELECT CAST($r AS INT) AS rank, l AS "left", r AS "right", cnt AS pair_count FROM m$r""")
              .mkString("\nUNION ALL\n")}
           |ORDER BY rank""".stripMargin) { (s, dir) =>
        graft.operators.Tokenizer
          .trainBpeWordsBatched(gateWords(s, dir), rounds, 2L)
          .orderBy("rank")
      }

      // rank-priority encode of every gate word, replayed with a
      // recursive CTE: each step applies the LOWEST-rank merge present
      // (the GPT-2/HF application rule), until none applies
      register("bpe_encode",
        s"""WITH RECURSIVE $trainChain,
           |mg AS MATERIALIZED (${(0 until rounds).map(r =>
              s"SELECT $r AS rank, l, r FROM m$r").mkString("\nUNION ALL\n")}),
           |seed AS (SELECT word, regexp_replace(word, '(.)', '|\\1', 'g') || '|' AS w,
           |                0 AS step
           |         FROM fwords),
           |enc AS (
           |  SELECT word, w, step FROM seed
           |  UNION ALL
           |  SELECT e.word,
           |         replace(e.w, '|' || m.l || '|' || m.r || '|',
           |                 '|' || m.l || m.r || '|') AS w,
           |         e.step + 1
           |  FROM enc e JOIN mg m
           |    ON position('|' || m.l || '|' || m.r || '|' IN e.w) > 0
           |   AND m.rank = (SELECT min(m2.rank) FROM mg m2
           |                 WHERE position('|' || m2.l || '|' || m2.r || '|' IN e.w) > 0))
           |SELECT word,
           |       array_to_string(list_filter(string_split(w, '|'), t -> len(t) > 0), ' ') AS pieces
           |FROM enc
           |QUALIFY row_number() OVER (PARTITION BY word ORDER BY step DESC) = 1
           |ORDER BY word""".stripMargin) { (s, dir) =>
        import s.implicits._
        val words = graft.operators.Materialize(gateWords(s, dir))
        val merges = graft.operators.Tokenizer
          .trainBpeWordsBatched(words, rounds, 2L)
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        // r17: the per-word rank-priority merge runs inside WholeStage-
        // Codegen via SubwordEncode (no DeserializeToObject row
        // boundary); gate words are lowercase-alnum corpus tokens, so
        // the kernel's tokenize wrapper is the identity on them and the
        // emitted pieces are bit-identical to the Dataset.map form
        val B = org.apache.spark.sql.graft.Bridge
        words.select(col("word"),
          array_join(B.column(graft.functions.SubwordEncode(
            B.expression(col("word")),
            new graft.functions.BpeEncodeKernel(merges))), " ").as("pieces"))
          .orderBy("word")
      }
    }

    // ---- GENERAL-CASE BPE encode (r14): no distinct-character
    // restriction. The delimited replace() the train gates use breaks on
    // repeated-character runs ("aaaa" + merge (a,a): replace consumes the
    // shared delimiter, yielding [aa, a, a] instead of the scan's
    // [aa, aa]) — so the general merge APPLICATION is replayed as a
    // position-exact left-to-right fold instead: list_reduce over the
    // symbol list with a string accumulator, merging when the
    // accumulator's LAST symbol is `l` and the next is `r`. The fold is
    // provably the mergePair scan: a merge's output l||r can never equal
    // `l` (r is non-empty), so a just-created symbol never re-merges as
    // the left side within the same pass — the same blocking the
    // imperative scan gets from skipping two symbols. The merge table is
    // PINNED (self-merges + a chain + common English pairs) and the word
    // set is EVERY corpus word (1..12 chars, repeats included) plus
    // synthetic run words, so the overlap semantics the TokenizerSpec
    // pins are now also DuckDB-oracle-gated end to end.
    locally {
      val merges = Seq(
        ("a", "a"), ("aa", "a"), ("e", "e"), ("l", "l"), ("o", "o"),
        ("s", "s"), ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"))
      val synth = Seq("aaaa", "aaa", "aaaaa", "aaaaaa", "banana",
        "mississippi", "bookkeeper", "thethe", "seeress", "lessee")
      val mgValues = merges.zipWithIndex
        .map { case ((l, r), i) => s"($i, '$l', '$r')" }.mkString(", ")
      register("bpe_encode_general",
        s"""WITH RECURSIVE allw AS MATERIALIZED (
           |  SELECT tok AS word FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                  t -> len(t) > 0)) AS tok
           |    FROM documents)
           |  WHERE len(tok) BETWEEN 1 AND 12 GROUP BY 1
           |  UNION
           |  SELECT unnest([${synth.map(w => s"'$w'").mkString(", ")}]) AS word),
           |mg AS (SELECT * FROM (VALUES $mgValues) t(rank, l, r)),
           |seed AS (SELECT word, regexp_replace(word, '(.)', '|\\1', 'g') || '|' AS w,
           |                0 AS step
           |         FROM allw),
           |enc AS (
           |  SELECT word, w, step FROM seed
           |  UNION ALL
           |  SELECT e.word,
           |         list_reduce(
           |           list_prepend('|', list_filter(string_split(e.w, '|'), t -> len(t) > 0)),
           |           (acc, x) -> CASE
           |             WHEN x = m.r AND ends_with(acc, '|' || m.l || '|')
           |             THEN substr(acc, 1, len(acc) - len(m.l) - 1) || m.l || m.r || '|'
           |             ELSE acc || x || '|' END) AS w,
           |         e.step + 1
           |  FROM enc e JOIN mg m
           |    ON position('|' || m.l || '|' || m.r || '|' IN e.w) > 0
           |   AND m.rank = (SELECT min(m2.rank) FROM mg m2
           |                 WHERE position('|' || m2.l || '|' || m2.r || '|' IN e.w) > 0))
           |SELECT word,
           |       array_to_string(list_filter(string_split(w, '|'), t -> len(t) > 0), ' ') AS pieces
           |FROM enc
           |QUALIFY row_number() OVER (PARTITION BY word ORDER BY step DESC) = 1
           |ORDER BY word""".stripMargin) { (s, dir) =>
        import s.implicits._
        val words = graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
          .filter(length(col("word")).between(1, 12))
          .select("word")
          .unionByName(synth.toDF("word"))
          .distinct()
        // r17: codegen encode (see bpe_encode) — gate words are
        // lowercase-alnum, kernel output bit-identical to Dataset.map
        val B = org.apache.spark.sql.graft.Bridge
        words.select(col("word"),
          array_join(B.column(graft.functions.SubwordEncode(
            B.expression(col("word")),
            new graft.functions.BpeEncodeKernel(merges))), " ").as("pieces"))
          .orderBy("word")
      }
    }

    // full WordPiece train, oracle-replayed: same distinct-character
    // vocabulary trick as bpe_train (every marked symbol occurs at most
    // once per word, so delimited replace() IS the merge scan), with the
    // score argmax — cnt/(lcnt*rcnt) in IEEE doubles, the exact
    // expression wordpiece_pair_scores already hash-matches. Every
    // per-round CTE is MATERIALIZED: the chain re-inlines exponentially
    // otherwise (tk feeds two consumers per round).
    locally {
      val rounds = 8
      def roundCtes(r: Int): String =
        s"""tk$r AS MATERIALIZED (
           |  SELECT cnt, list_filter(string_split(w, '|'), t -> len(t) > 0) AS toks FROM w$r),
           |u$r AS MATERIALIZED (
           |  SELECT sym, CAST(sum(cnt) AS BIGINT) AS ucnt FROM (
           |    SELECT cnt, unnest(toks) AS sym FROM tk$r) GROUP BY 1),
           |p$r AS MATERIALIZED (
           |  SELECT toks[CAST(i AS INT)] AS l, toks[CAST(i AS INT)+1] AS r,
           |         CAST(sum(cnt) AS BIGINT) AS cnt
           |  FROM (SELECT cnt, toks, unnest(range(1, len(toks))) AS i FROM tk$r)
           |  GROUP BY 1, 2),
           |m$r AS MATERIALIZED (
           |  SELECT p.l, p.r, p.cnt,
           |         CAST(p.cnt AS DOUBLE) / (CAST(ul.ucnt AS DOUBLE) * CAST(ur.ucnt AS DOUBLE)) AS score
           |  FROM p$r p JOIN u$r ul ON ul.sym = p.l JOIN u$r ur ON ur.sym = p.r
           |  WHERE p.cnt >= 2
           |  ORDER BY score DESC, p.cnt DESC, p.l, p.r LIMIT 1),
           |w${r + 1} AS MATERIALIZED (
           |  SELECT replace(w.w, '|' || m.l || '|' || m.r || '|',
           |                 '|' || m.l || CASE WHEN starts_with(m.r, '##') THEN substr(m.r, 3) ELSE m.r END || '|') AS w, w.cnt
           |  FROM w$r w, m$r m)""".stripMargin
      register("wordpiece_train",
        s"""WITH fwords AS MATERIALIZED (
           |  SELECT tok AS word, count(*) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                  t -> len(t) > 0)) AS tok
           |    FROM documents)
           |  WHERE len(tok) BETWEEN 3 AND 12
           |    AND len(list_distinct(string_split(tok, ''))) = len(tok)
           |  GROUP BY 1),
           |w0 AS (SELECT '|' || substr(word, 1, 1) ||
           |              regexp_replace(substr(word, 2), '(.)', '|##\\1', 'g') || '|' AS w, cnt
           |       FROM fwords),
           |${(0 until rounds).map(roundCtes).mkString(",\n")}
           |${(0 until rounds).map(r =>
              s"""SELECT CAST($r AS INT) AS rank, l AS "left", r AS "right", score, cnt AS pair_count FROM m$r""")
              .mkString("\nUNION ALL\n")}
           |ORDER BY rank""".stripMargin) { (s, dir) =>
        val words = graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
          .filter(length(col("word")).between(3, 12) &&
            size(array_distinct(split(col("word"), ""))) === length(col("word")))
        graft.operators.WordPiece
          .trainWordPieceWordsBatched(words, rounds, 2L)
          .orderBy("rank")
      }

      // greedy longest-match WordPiece ENCODE with the trained vocab,
      // replayed as a recursive CTE: at each position take the longest
      // vocab piece (marked iff word-internal); base units cover every
      // corpus character, so [UNK] never fires on the training words
      register("wordpiece_encode",
        s"""WITH RECURSIVE fwords AS MATERIALIZED (
           |  SELECT tok AS word, count(*) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                  t -> len(t) > 0)) AS tok
           |    FROM documents)
           |  WHERE len(tok) BETWEEN 3 AND 12
           |    AND len(list_distinct(string_split(tok, ''))) = len(tok)
           |  GROUP BY 1),
           |w0 AS (SELECT '|' || substr(word, 1, 1) ||
           |              regexp_replace(substr(word, 2), '(.)', '|##\\1', 'g') || '|' AS w, cnt
           |       FROM fwords),
           |${(0 until rounds).map(roundCtes).mkString(",\n")},
           |vocab AS MATERIALIZED (
           |  SELECT DISTINCT sym AS piece FROM (
           |    SELECT unnest(list_filter(string_split(w, '|'), t -> len(t) > 0)) AS sym FROM w0)
           |  UNION
           |  ${(0 until rounds).map(r =>
              s"SELECT l || CASE WHEN starts_with(r, '##') THEN substr(r, 3) ELSE r END AS piece FROM m$r")
              .mkString("\n  UNION\n  ")}),
           |vraw AS MATERIALIZED (
           |  SELECT piece, starts_with(piece, '##') AS marked,
           |         CASE WHEN starts_with(piece, '##') THEN substr(piece, 3) ELSE piece END AS raw
           |  FROM vocab),
           |enc AS (
           |  SELECT word, 1 AS pos, CAST('' AS VARCHAR) AS acc FROM fwords
           |  UNION ALL
           |  SELECT e.word, e.pos + len(v.raw) AS pos,
           |         CASE WHEN e.acc = '' THEN v.piece ELSE e.acc || ' ' || v.piece END AS acc
           |  FROM enc e JOIN vraw v
           |    ON v.marked = (e.pos > 1)
           |   AND substr(e.word, e.pos, len(v.raw)) = v.raw
           |   AND len(v.raw) = (SELECT max(len(v2.raw)) FROM vraw v2
           |                     WHERE v2.marked = (e.pos > 1)
           |                       AND substr(e.word, e.pos, len(v2.raw)) = v2.raw)
           |  WHERE e.pos <= len(e.word))
           |SELECT word, acc AS pieces FROM enc WHERE pos = len(word) + 1
           |ORDER BY word""".stripMargin) { (s, dir) =>
        import s.implicits._
        val words = graft.operators.Materialize(
          graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
            .filter(length(col("word")).between(3, 12) &&
              size(array_distinct(split(col("word"), ""))) === length(col("word"))))
        val merges = graft.operators.WordPiece
          .trainWordPieceWordsBatched(words, rounds, 2L)
        val vocab = graft.operators.WordPiece.vocabFrameWords(words, merges)
          .select("piece").collect().map(_.getString(0)).toSet
        // r17: codegen encode (see bpe_encode) — greedy longest-match
        // runs inside WholeStageCodegen, pieces bit-identical
        val B = org.apache.spark.sql.graft.Bridge
        words.select(col("word"),
          array_join(B.column(graft.functions.SubwordEncode(
            B.expression(col("word")),
            new graft.functions.WordPieceEncodeKernel(vocab, "[UNK]"))), " ").as("pieces"))
          .orderBy("word")
      }

      // GENERAL-CASE WordPiece encode (r14): the greedy longest-match
      // scan is position-indexed by construction (substr at pos), so the
      // only thing the r13 gate's distinct-character restriction was
      // protecting was the TRAIN replay — not the encoder. This gate
      // keeps the train on the restricted vocabulary (where the chained
      // CTE replay is exact) but encodes EVERY corpus word (1..12 chars,
      // repeats included) plus synthetic run words, with base units
      // covering every character of the general word set (single chars,
      // marked and unmarked) so [UNK] never fires and repeated-character
      // words like "aaaa" are oracle-covered end to end.
      locally {
        val synth = Seq("aaaa", "aaa", "aaaaa", "banana", "mississippi",
          "bookkeeper", "thethe", "seeress", "lessee")
        register("wordpiece_encode_general",
          s"""WITH RECURSIVE fwords AS MATERIALIZED (
             |  SELECT tok AS word, count(*) AS cnt FROM (
             |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                  t -> len(t) > 0)) AS tok
             |    FROM documents)
             |  WHERE len(tok) BETWEEN 3 AND 12
             |    AND len(list_distinct(string_split(tok, ''))) = len(tok)
             |  GROUP BY 1),
             |w0 AS (SELECT '|' || substr(word, 1, 1) ||
             |              regexp_replace(substr(word, 2), '(.)', '|##\\1', 'g') || '|' AS w, cnt
             |       FROM fwords),
             |${(0 until rounds).map(roundCtes).mkString(",\n")},
             |allw AS MATERIALIZED (
             |  SELECT tok AS word FROM (
             |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             |                  t -> len(t) > 0)) AS tok
             |    FROM documents)
             |  WHERE len(tok) BETWEEN 1 AND 12 GROUP BY 1
             |  UNION
             |  SELECT unnest([${synth.map(w => s"'$w'").mkString(", ")}]) AS word),
             |chars AS (SELECT DISTINCT unnest(string_split(word, '')) AS c FROM allw),
             |vraw AS MATERIALIZED (
             |  SELECT DISTINCT piece, starts_with(piece, '##') AS marked,
             |         CASE WHEN starts_with(piece, '##') THEN substr(piece, 3) ELSE piece END AS raw
             |  FROM (
             |    SELECT c AS piece FROM chars
             |    UNION SELECT '##' || c AS piece FROM chars
             |    UNION
             |    ${(0 until rounds).map(r =>
                s"SELECT l || CASE WHEN starts_with(r, '##') THEN substr(r, 3) ELSE r END AS piece FROM m$r")
                .mkString("\n    UNION\n    ")})),
             |enc AS (
             |  SELECT word, 1 AS pos, CAST('' AS VARCHAR) AS acc FROM allw
             |  UNION ALL
             |  SELECT e.word, e.pos + len(v.raw) AS pos,
             |         CASE WHEN e.acc = '' THEN v.piece ELSE e.acc || ' ' || v.piece END AS acc
             |  FROM enc e JOIN vraw v
             |    ON v.marked = (e.pos > 1)
             |   AND substr(e.word, e.pos, len(v.raw)) = v.raw
             |   AND len(v.raw) = (SELECT max(len(v2.raw)) FROM vraw v2
             |                     WHERE v2.marked = (e.pos > 1)
             |                       AND substr(e.word, e.pos, len(v2.raw)) = v2.raw)
             |  WHERE e.pos <= len(e.word))
             |SELECT word, acc AS pieces FROM enc WHERE pos = len(word) + 1
             |ORDER BY word""".stripMargin) { (s, dir) =>
          import s.implicits._
          val restricted = graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
            .filter(length(col("word")).between(3, 12) &&
              size(array_distinct(split(col("word"), ""))) === length(col("word")))
          val merges = graft.operators.WordPiece
            .trainWordPieceWordsBatched(restricted, rounds, 2L)
          val mergedPieces = merges.orderBy("rank").collect()
            .map(r => r.getString(1) + r.getString(2).stripPrefix("##")).toSet
          val allw = graft.operators.Materialize(
            graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
              .filter(length(col("word")).between(1, 12))
              .select("word")
              .unionByName(synth.toDF("word"))
              .distinct())
          val chars = allw.select(explode(split(col("word"), "")).as("c"))
            .distinct().as[String].collect()
          val vocab = chars.flatMap(c => Seq(c, "##" + c)).toSet ++ mergedPieces
          // r17: codegen encode (see bpe_encode)
          val B = org.apache.spark.sql.graft.Bridge
          allw.select(col("word"),
            array_join(B.column(graft.functions.SubwordEncode(
              B.expression(col("word")),
              new graft.functions.WordPieceEncodeKernel(vocab, "[UNK]"))), " ").as("pieces"))
            .orderBy("word")
        }
      }
    }

    // ---- full Unigram-LM (hard-EM) train, oracle-replayed (r14) ----
    // The last ungated trainer. The DuckDB oracle replays the ENTIRE
    // hard-EM: seed vocabulary (substring freqs, top-k + single-char
    // coverage), then per round the max-likelihood segmentation of every
    // word (paths ENUMERATED by a recursive CTE — position-indexed, so
    // repeated-character words need no restriction at all — winner by
    // score with the pinned longest-piece tie-break = lexicographically
    // minimal reversed start list among max-score paths), Viterbi
    // counts, zero-mass pruning with the single-char floor, and
    // renormalization. Log-probs go through the repo's DECIMAL(38,6)
    // transcendental-fold convention on BOTH engines
    // (UnigramTokenizer.trainHardQuantized ↔ CAST(ln(..) AS
    // DECIMAL(38,6))), so an ulp disagreement between StrictMath.log and
    // DuckDB's ln cannot flip a segmentation; everything else is exact
    // integer or pinned-order IEEE arithmetic.
    locally {
      val maxVocab = 24
      val mpl = 3 // max piece length
      val iters = 2
      def lpCte(r: Int) =
        s"""t$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v$r),
           |lp$r AS MATERIALIZED (
           |  SELECT piece,
           |         CAST(CAST(ln(CAST(cnt AS DOUBLE) / CAST(t.total AS DOUBLE))
           |                   AS DECIMAL(38,6)) AS DOUBLE) AS lp
           |  FROM v$r, t$r t)""".stripMargin
      def roundCte(r: Int) =
        s"""${lpCte(r)},
           |path$r AS (
           |  SELECT word, cnt, 0 AS pos, CAST(0.0 AS DOUBLE) AS score,
           |         CAST([] AS VARCHAR[]) AS pieces, CAST([] AS BIGINT[]) AS starts
           |  FROM uwords
           |  UNION ALL
           |  SELECT p.word, p.cnt, p.pos + len(v.piece) AS pos,
           |         p.score + v.lp AS score,
           |         list_append(p.pieces, v.piece) AS pieces,
           |         list_append(p.starts, CAST(p.pos AS BIGINT)) AS starts
           |  FROM path$r p JOIN lp$r v
           |    ON p.pos < len(p.word)
           |   AND substr(p.word, p.pos + 1, len(v.piece)) = v.piece),
           |seg$r AS MATERIALIZED (
           |  SELECT word, cnt, pieces FROM (
           |    SELECT word, cnt, pieces,
           |           row_number() OVER (PARTITION BY word
           |             ORDER BY score DESC, list_reverse(starts) ASC) AS rn
           |    FROM path$r WHERE pos = len(word)) WHERE rn = 1),
           |c$r AS MATERIALIZED (
           |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
           |  FROM (SELECT cnt, unnest(pieces) AS piece FROM seg$r) GROUP BY 1),
           |v${r + 1} AS MATERIALIZED (
           |  SELECT v.piece,
           |         CASE WHEN coalesce(c.c, 0) > 0 THEN c.c
           |              ELSE CAST(1 AS BIGINT) END AS cnt
           |  FROM v$r v LEFT JOIN c$r c ON c.piece = v.piece
           |  WHERE coalesce(c.c, 0) > 0 OR len(v.piece) = 1)""".stripMargin
      register("unigram_train",
        s"""WITH RECURSIVE uwords AS MATERIALIZED (
           |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                  t -> len(t) > 0)) AS tok
           |    FROM documents)
           |  WHERE len(tok) BETWEEN 2 AND 10 GROUP BY 1),
           |cand AS (
           |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
           |         CAST(sum(cnt) AS BIGINT) AS freq
           |  FROM (SELECT word, cnt, i,
           |               unnest(range(1, least($mpl, len(word) - i + 1) + 1)) AS l
           |        FROM (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS i
           |              FROM uwords))
           |  GROUP BY 1),
           |topc AS (SELECT piece, freq FROM cand
           |         ORDER BY freq DESC, piece LIMIT $maxVocab),
           |v0 AS MATERIALIZED (
           |  SELECT piece, freq AS cnt FROM (
           |    SELECT * FROM topc
           |    UNION
           |    SELECT piece, freq FROM cand WHERE len(piece) = 1)),
           |${(0 until iters).map(roundCte).mkString(",\n")},
           |${lpCte(iters)}
           |SELECT v.piece, v.cnt, l.lp AS logp
           |FROM v$iters v JOIN lp$iters l ON l.piece = v.piece
           |ORDER BY v.piece""".stripMargin) { (s, dir) =>
        val words = graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
          .filter(length(col("word")).between(2, 10))
        graft.operators.UnigramTokenizer
          .trainHardQuantized(words, maxVocab, mpl, iters)
          .orderBy("piece")
      }
    }

    // ---- soft-EM forward-backward expected counts, oracle-replayed ----
    // The E-step primitive of the SentencePiece-faithful trainer
    // (trainSoft/trainSoftDistributed run it in log space with
    // log-sum-exp — not cross-engine-replayable bit-for-bit). The gate
    // drives the PRODUCT-space twin (UnigramTokenizer.softCountsLinear):
    // every multiply/add and its association order is pinned on both
    // engines (forward a_i = ((0 + a_{i-3}·p3) + a_{i-2}·p2) + a_{i-1}·p1
    // with literal-zero padding — x+0.0 == x exactly for non-negative
    // a — backward mirrored ascending, per-occurrence posteriors folded
    // in (j,i) order, per-piece totals folded in sorted-word order), and
    // the model is a deterministic quantized function of piece length
    // with digit-bearing pieces at p=0 to exercise the OOV skip. DuckDB
    // replays the recurrence UNROLLED over positions (lateral column
    // aliases) and the folds as ordered list_reduce.
    locally {
      val mpl = 3
      val maxLen = 8
      def pSql(j: String, d: Int): String =
        s"""(CASE WHEN regexp_matches(substr(word, $j + 1, $d), '[0-9]')
           |      THEN CAST(0.0 AS DOUBLE)
           |      ELSE CAST(CAST(1.0/(2 + $d) AS DECIMAL(38,12)) AS DOUBLE) END)"""
          .stripMargin.replace("\n", " ")
      val fwdCols = (1 to maxLen).map { i =>
        val terms = (mpl to 1 by -1).map { d =>
          if (i - d >= 0) s"a${i - d} * ${pSql((i - d).toString, d)}"
          else "CAST(0.0 AS DOUBLE)"
        }
        val acc = terms.foldLeft("CAST(0.0 AS DOUBLE)")((a, t) => s"($a + $t)")
        s"CASE WHEN n >= $i THEN $acc ELSE CAST(0.0 AS DOUBLE) END AS a$i"
      }.mkString(",\n         ")
      val bwdCols = (maxLen - 1 to 0 by -1).map { j =>
        val terms = (1 to mpl).map { d =>
          if (j + d <= maxLen) s"CASE WHEN $j + $d <= n THEN ${pSql(j.toString, d)} * b${j + d} ELSE CAST(0.0 AS DOUBLE) END"
          else "CAST(0.0 AS DOUBLE)"
        }
        val acc = terms.foldLeft("CAST(0.0 AS DOUBLE)")((a, t) => s"($a + $t)")
        s"CASE WHEN $j > n THEN CAST(0.0 AS DOUBLE) WHEN $j = n THEN CAST(1.0 AS DOUBLE) ELSE $acc END AS b$j"
      }.mkString(",\n         ")
      val aCase = "CASE j " + (0 until maxLen).map(j => s"WHEN $j THEN a$j").mkString(" ") + " END"
      val bCase = "CASE j + d " + (1 to maxLen).map(i => s"WHEN $i THEN b$i").mkString(" ") + " END"
      val zCase = "CASE n " + (2 to maxLen).map(i => s"WHEN $i THEN a$i").mkString(" ") + " END"
      register("unigram_soft_counts",
        s"""WITH uw AS MATERIALIZED (
           |  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
           |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
           |                  t -> len(t) > 0)) AS tok
           |    FROM documents)
           |  WHERE len(tok) BETWEEN 2 AND $maxLen GROUP BY 1),
           |fb AS MATERIALIZED (
           |  SELECT word, cnt, len(word) AS n,
           |         CAST(1.0 AS DOUBLE) AS a0,
           |         $fwdCols,
           |         CAST(1.0 AS DOUBLE) AS b$maxLen,
           |         $bwdCols,
           |         $zCase AS z
           |  FROM uw),
           |occ AS (
           |  SELECT word, cnt, j, d, substr(word, CAST(j AS INT) + 1, CAST(d AS INT)) AS piece,
           |         ($aCase) * (CAST(CAST(1.0/(2 + d) AS DECIMAL(38,12)) AS DOUBLE)) * ($bCase) / z AS post
           |  FROM fb
           |  CROSS JOIN (SELECT unnest(range($maxLen)) AS j)
           |  CROSS JOIN (SELECT unnest(range(1, ${mpl + 1})) AS d)
           |  WHERE j + d <= n AND z <> 0
           |    AND NOT regexp_matches(substr(word, CAST(j AS INT) + 1, CAST(d AS INT)), '[0-9]')),
           |wp AS (
           |  SELECT word, piece,
           |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |           list(post ORDER BY j, d)), (acc, x) -> acc + x)
           |           * CAST(any_value(cnt) AS DOUBLE) AS e
           |  FROM occ GROUP BY word, piece)
           |SELECT piece,
           |       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |         list(e ORDER BY word)), (acc, x) -> acc + x) AS expected
           |FROM wp GROUP BY piece ORDER BY piece""".stripMargin) { (s, dir) =>
        import s.implicits._
        def q12(x: Double): Double =
          new java.math.BigDecimal(x)
            .setScale(12, java.math.RoundingMode.HALF_UP).doubleValue()
        val words = graft.operators.Materialize(
          graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")
            .filter(length(col("word")).between(2, maxLen)))
        val pieces = words.select(col("word")).as[String].collect()
          .flatMap(w => for {
            i <- 0 until w.length
            l <- 1 to math.min(mpl, w.length - i)
          } yield w.substring(i, i + l)).distinct
        val p = pieces.filterNot(_.exists(_.isDigit))
          .map(s0 => s0 -> q12(1.0 / (2 + s0.length))).toMap
        graft.operators.UnigramTokenizer.softCountsTable(words, p, mpl)
          .orderBy("piece")
      }
    }

    // WordPiece scored pairs — the oracle-gated primitive of the
    // likelihood-argmax trainer (the merge loop is spec-gated like BPE's;
    // score = cnt/(lcnt*rcnt) is two IEEE double ops in the same order on
    // both engines, so the double column hash-matches bit-for-bit)
    register("wordpiece_pair_scores",
      s"""$DocsView,
         |words AS (SELECT tok AS word, count(*) AS cnt
         |          FROM (SELECT unnest(toks) AS tok FROM docs) GROUP BY 1),
         |upos AS (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS j FROM words),
         |units AS (SELECT CASE WHEN j = 1 THEN substr(word, 1, 1)
         |                      ELSE '##' || substr(word, CAST(j AS INT), 1) END AS sym,
         |                 CAST(sum(cnt) AS BIGINT) AS cnt
         |          FROM upos GROUP BY 1),
         |wpos AS (SELECT word, cnt, unnest(range(1, len(word))) AS i
         |         FROM words WHERE len(word) >= 2),
         |pairs AS (SELECT CASE WHEN i = 1 THEN substr(word, 1, 1)
         |                      ELSE '##' || substr(word, CAST(i AS INT), 1) END AS l_sym,
         |                 '##' || substr(word, CAST(i AS INT) + 1, 1) AS r_sym,
         |                 CAST(sum(cnt) AS BIGINT) AS cnt
         |          FROM wpos GROUP BY 1, 2)
         |SELECT p.l_sym, p.r_sym, p.cnt,
         |       CAST(p.cnt AS DOUBLE) /
         |         (CAST(ul.cnt AS DOUBLE) * CAST(ur.cnt AS DOUBLE)) AS score
         |FROM pairs p
         |JOIN units ul ON ul.sym = p.l_sym
         |JOIN units ur ON ur.sym = p.r_sym
         |ORDER BY score DESC, p.cnt DESC, l_sym, r_sym LIMIT 200""".stripMargin) { (s, dir) =>
      graft.operators.WordPiece.pairScores(
        graft.operators.WordPiece.symbolize(
          graft.operators.Tokenizer.wordCounts(docs(s, dir), "text")))
        .orderBy(col("score").desc, col("cnt").desc,
          col("l_sym").asc, col("r_sym").asc)
        .limit(200)
    }

    // unigram-LM tokenizer candidate substrings — the oracle-gated
    // primitive of the SentencePiece-style trainer (the hard-EM loop's
    // Viterbi scan is stateful within a word, spec-gated like BPE's
    // merge loop)
    register("unigram_candidates",
      s"""$DocsView,
         |words AS (SELECT tok AS word, count(*) AS cnt
         |          FROM (SELECT unnest(toks) AS tok FROM docs) GROUP BY 1),
         |wpos AS (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS i FROM words),
         |pieces AS (SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece, cnt
         |           FROM (SELECT word, cnt, i,
         |                        unnest(range(1, least(CAST(len(word) AS BIGINT) - i + 2, 9))) AS l
         |                 FROM wpos))
         |SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq FROM pieces GROUP BY 1
         |ORDER BY freq DESC, piece LIMIT 200""".stripMargin) { (s, dir) =>
      graft.operators.UnigramTokenizer.candidates(
        graft.operators.Tokenizer.wordCounts(docs(s, dir), "text"), 8)
        .orderBy(col("freq").desc, col("piece").asc)
        .limit(200)
    }

    register("frequent_ngrams",
      s"""$DocsView,
         |g AS (SELECT doc_id, unnest(${sqlNgrams("toks", 3)}) AS gram FROM docs),
         |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
         |SELECT gram, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_total
         |FROM c GROUP BY gram HAVING count(*) >= 3
         |ORDER BY gram""".stripMargin) { (s, dir) =>
      Curation.frequentNgrams(docs(s, dir), "doc_id", "text", n = 3, minDocs = 3)
        .orderBy("gram")
    }

    // HTML strip over synthetic markup (tags + entities injected per
    // doc_id; the fixture text itself is markup-free)
    locally {
      val htmlSql =
        """'<div class="d' || CAST(doc_id AS VARCHAR) || '">' || text ||
          |CASE WHEN doc_id % 3 = 0 THEN ' &amp;lt;kept&amp;gt; &quot;q&quot; &#39;s&#39;' ELSE '' END ||
          |CASE WHEN doc_id % 4 = 0 THEN '<br/><script>x < 1 &amp; y</script>' ELSE '' END ||
          |'</div>'""".stripMargin.replace("\n", " ")
      def htmlCol = concat(
        lit("<div class=\"d"), col("doc_id").cast("string"), lit("\">"), col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" &amp;lt;kept&amp;gt; &quot;q&quot; &#39;s&#39;")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("<br/><script>x < 1 &amp; y</script>")).otherwise(lit("")),
        lit("</div>"))
      // SQL literal spellings: '' is an escaped single quote (one char),
      // a double quote needs no escape inside a single-quoted literal
      val sqlUnescape = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "''", "&amp;" -> "&")
        .foldLeft("regexp_replace(s, '<[^>]*>', ' ', 'g')") {
          case (acc, (e, v)) => s"replace($acc, '$e', '$v')"
        }
      register("text_strip_html",
        s"""WITH h AS (SELECT doc_id, $htmlSql AS s FROM documents)
           |SELECT doc_id,
           |       regexp_replace(regexp_replace(regexp_replace(regexp_replace($sqlUnescape,
           |         '${Text.ControlCharPattern}', ' ', 'g'),
           |         ' {2,}', ' ', 'g'),
           |         '^ ', ''), ' $$', '') AS stripped
           |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
        docs(s, dir).select(col("doc_id"), Text.stripHtml(htmlCol).as("stripped"))
          .orderBy("doc_id")
      }
    }

    // weighted duplication: floor(w) copies + hash-chosen fractional epoch
    locally {
      val weights: Map[String, Double] =
        (0 until 20).map(i => s"src$i" -> Seq(2.5, 1.0, 0.25)(i % 3)).toMap
      val caseW = (0 until 20).map(i =>
        s"WHEN source = 'src$i' THEN CAST(${Seq("2.5", "1.0", "0.25")(i % 3)} AS DOUBLE)")
        .mkString(" ")
      val bucket = s"(${sqlMd5Hash64("'epochs:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      register("upsample_epochs",
        s"""WITH w AS (
           |  SELECT doc_id, source, CASE $caseW ELSE 1.0 END AS w FROM documents),
           |c AS (
           |  SELECT doc_id, source,
           |         CAST(floor(w) AS BIGINT) +
           |         CASE WHEN $bucket < CAST(floor((w - floor(w)) * 1000000) AS BIGINT)
           |              THEN 1 ELSE 0 END AS copies
           |  FROM w)
           |SELECT doc_id, source, unnest(range(copies)) AS copy
           |FROM c ORDER BY doc_id, copy""".stripMargin) { (s, dir) =>
        Curation.upsampleByWeight(docs(s, dir).select("doc_id", "source"),
          "source", "doc_id", weights)
          .orderBy("doc_id", "copy")
      }
    }

    // graded contamination: per-train-doc fraction of shingles in the
    // held-out split's shingle set (same split as the decontam gates)
    locally {
      val sqlB = s"(${sqlMd5Hash64("'split:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      val sqlBd = s"(${sqlMd5Hash64("'split:' || CAST(d.doc_id AS VARCHAR)")} % 1000000)"
      register("decontam_overlap",
        s"""$DocsView
           |, sh AS (
           |  SELECT doc_id, $sqlB AS b, unnest(list_distinct(${sqlShingles("toks")})) AS shingle
           |  FROM docs),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE b >= 900000),
           |cnt AS (
           |  SELECT sh.doc_id, count(*) AS n_shingles,
           |         count(bench.shingle) AS n_overlap
           |  FROM sh LEFT JOIN bench USING (shingle) WHERE b < 800000
           |  GROUP BY sh.doc_id)
           |SELECT d.doc_id,
           |       coalesce(n_shingles, 0) AS n_shingles,
           |       coalesce(n_overlap, 0) AS n_overlap,
           |       CASE WHEN coalesce(n_shingles, 0) > 0
           |            THEN CAST(coalesce(n_overlap, 0) AS DOUBLE) / CAST(n_shingles AS DOUBLE)
           |            ELSE 0.0 END AS overlap_frac
           |FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
           |WHERE $sqlBd < 800000
           |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val bucket = Sampling.hashBucket(col("doc_id"), "split")
        Decontam.overlapFraction(
          d.filter(bucket < 800000), d.filter(bucket >= 900000), "doc_id", "text")
          .orderBy("doc_id")
      }
    }

    // curriculum order: quality-staged easy-to-hard with intra-stage
    // seeded shuffle (stage from the corpus-wide n_chars band)
    locally {
      val stages = 4
      register("curriculum_order",
        s"""WITH st AS (SELECT min(n_chars) AS lo, max(n_chars) AS hi FROM documents),
           |staged AS (
           |  SELECT doc_id, n_chars,
           |         CASE WHEN hi = lo THEN 0
           |              ELSE least(CAST(floor(CAST(hi - n_chars AS DOUBLE)
           |                          / CAST(hi - lo AS DOUBLE) * $stages) AS BIGINT),
           |                         $stages - 1) END AS stage,
           |         ${sqlMd5Hash64("'curriculum:' || CAST(doc_id AS VARCHAR)")} AS ck
           |  FROM documents CROSS JOIN st)
           |SELECT row_number() OVER (ORDER BY stage, ck, doc_id) - 1 AS position,
           |       doc_id, stage
           |FROM staged ORDER BY position""".stripMargin) { (s, dir) =>
        Curation.curriculumOrder(docs(s, dir).select("doc_id", "n_chars"),
          "doc_id", "n_chars", stages)
          .select("position", "doc_id", "stage")
          .orderBy("position")
      }
    }

    // corpus drift: token-distribution delta between the two hash halves
    locally {
      val b = s"(${sqlMd5Hash64("'drift:' || CAST(doc_id AS VARCHAR)")} % 1000000)"
      register("vocab_drift",
        s"""$DocsView
           |, side AS (SELECT doc_id, $b AS b, toks FROM docs),
           |ta AS (SELECT unnest(toks) AS token FROM side WHERE b < 500000),
           |tb AS (SELECT unnest(toks) AS token FROM side WHERE b >= 500000),
           |ca AS (SELECT token, count(*) AS cnt_a FROM ta GROUP BY token),
           |cb AS (SELECT token, count(*) AS cnt_b FROM tb GROUP BY token),
           |j AS (SELECT coalesce(ca.token, cb.token) AS token,
           |             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
           |      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
           |tot AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb, count(*) AS v FROM j)
           |SELECT token, cnt_a, cnt_b,
           |       CAST(cnt_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS p_a,
           |       CAST(cnt_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS p_b,
           |       abs(CAST(cnt_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE)
           |           - CAST(cnt_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)) AS delta
           |FROM j CROSS JOIN tot
           |ORDER BY token""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val bucket = Sampling.hashBucket(col("doc_id"), "drift")
        Curation.vocabDrift(d.filter(bucket < 500000), d.filter(bucket >= 500000), "text")
          .orderBy("token")
      }

      // per-token KL(P_a || P_b) contributions over the same smoothed
      // distributions (ln through the DECIMAL(38,6) ULP discipline)
      register("vocab_kl",
        s"""$DocsView
           |, side AS (SELECT doc_id, $b AS b, toks FROM docs),
           |ta AS (SELECT unnest(toks) AS token FROM side WHERE b < 500000),
           |tb AS (SELECT unnest(toks) AS token FROM side WHERE b >= 500000),
           |ca AS (SELECT token, count(*) AS cnt_a FROM ta GROUP BY token),
           |cb AS (SELECT token, count(*) AS cnt_b FROM tb GROUP BY token),
           |j AS (SELECT coalesce(ca.token, cb.token) AS token,
           |             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
           |      FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
           |tot AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb, count(*) AS v FROM j),
           |p AS (SELECT token, cnt_a, cnt_b,
           |             CAST(cnt_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE) AS p_a,
           |             CAST(cnt_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE) AS p_b
           |      FROM j CROSS JOIN tot)
           |SELECT token, cnt_a, cnt_b, p_a, p_b,
           |       CAST(CAST(p_a * ln(p_a / p_b) AS DECIMAL(38,6)) AS DOUBLE) AS kl_term
           |FROM p ORDER BY token""".stripMargin) { (s, dir) =>
        val d = docs(s, dir)
        val bucket = Sampling.hashBucket(col("doc_id"), "drift")
        Curation.vocabKl(d.filter(bucket < 500000), d.filter(bucket >= 500000), "text")
          .select("token", "cnt_a", "cnt_b", "p_a", "p_b", "kl_term")
          .orderBy("token")
      }
    }

    // per-source metric z-scores + outlier flag (anomalous-document
    // detector): order-free DECIMAL sums to a group-sized stats table,
    // broadcast back, row-wise z
    register("source_outliers",
      s"""WITH st AS (
         |  SELECT source, count(*) AS n,
         |         sum(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,9))) AS s1,
         |         sum(CAST(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)
         |             AS DECIMAL(38,9))) AS s2
         |  FROM documents GROUP BY source),
         |m AS (SELECT source,
         |             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
         |             sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
         |               - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
         |                 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std
         |      FROM st)
         |SELECT d.doc_id, d.source,
         |       CASE WHEN std > 0.0
         |            THEN (CAST(d.n_chars AS DOUBLE) - mean) / std
         |            ELSE 0.0 END AS zscore,
         |       abs(CASE WHEN std > 0.0
         |            THEN (CAST(d.n_chars AS DOUBLE) - mean) / std
         |            ELSE 0.0 END) > 3.0 AS is_outlier
         |FROM documents d JOIN m USING (source)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Curation.sourceZscores(docs(s, dir), "source", "n_chars")
        .select("doc_id", "source", "zscore", "is_outlier")
        .orderBy("doc_id")
    }

    // empirical-Bayes shrunken per-source quality means (partial
    // pooling toward the corpus prior with pseudo-count k): exact
    // decimal sums, one fixed IEEE readout replayed by the oracle
    locally {
      val k = 25.0
      register("shrunk_group_means",
        s"""WITH g AS (SELECT source, count(*) AS n,
           |                  sum(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,9))) AS s
           |           FROM documents GROUP BY source),
           |t AS (SELECT sum(n) AS nn, sum(s) AS ss FROM g)
           |SELECT g.source, g.n,
           |       CAST(g.s AS DOUBLE) / CAST(g.n AS DOUBLE) AS mean,
           |       (CAST(g.s AS DOUBLE) + $k *
           |         (CAST(t.ss AS DOUBLE) / CAST(t.nn AS DOUBLE)))
           |       / (CAST(g.n AS DOUBLE) + $k) AS shrunk_mean
           |FROM g, t ORDER BY source""".stripMargin) { (s, dir) =>
        Curation.shrunkGroupMeans(docs(s, dir), "source", "n_chars", k)
          .orderBy("source")
      }
    }

    // Poisson-bootstrap uncertainty for per-source metric means: each
    // row mints deterministic Poisson(1) weights per replicate
    // (inverse-CDF of md5-uniform against the SHARED decimal literals in
    // Bootstrap.PoissonCdf), replicate means are weighted DECIMAL(38,9)
    // sums — the whole resampling scheme replayed exactly in SQL
    locally {
      val r = 50
      val bs = graft.operators.Bootstrap
      val uSql = s"""(${sqlMd5Hash64(
        "'bs:' || CAST(r.rep AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)")}
        / 1152921504606846976.0)""".replace("\n", " ")
      val wSql = bs.PoissonCdf
        .map(c => s"(CASE WHEN u >= $c THEN 1 ELSE 0 END)").mkString(" + ")
      val meansSql =
        s"""reps AS (SELECT unnest(range(0, $r)) AS rep),
           |u0 AS (SELECT d.source, d.n_chars, r.rep, $uSql AS u
           |       FROM documents d CROSS JOIN reps r),
           |w AS (SELECT source, n_chars, rep, ($wSql) AS wgt FROM u0),
           |m AS (SELECT source, CAST(rep AS BIGINT) AS rep,
           |             CAST(sum(CAST(CAST(n_chars AS DOUBLE) * wgt
           |                           AS DECIMAL(38,9))) AS DOUBLE)
           |             / CAST(sum(wgt) AS DOUBLE) AS mean
           |      FROM w WHERE wgt > 0 GROUP BY source, rep)""".stripMargin

      register("bootstrap_means",
        s"""WITH $meansSql
           |SELECT source, rep, mean FROM m ORDER BY source, rep""".stripMargin) { (s, dir) =>
        bs.replicateMeans(docs(s, dir), "n_chars", "doc_id",
            Seq("source"), r = r, salt = "bs")
          .orderBy("source", "rep")
      }

      // quantile indices are relative to the PRESENT replicate count
      // len(ms) (an empty resample is a missing replicate, not a
      // phantom) — interpolated from the same Scala doubles the operator
      // uses, so floor/ceil see bit-identical products cross-engine
      val (loQ, hiQ) = (0.1 / 2.0, 1.0 - 0.1 / 2.0)
      register("bootstrap_ci",
        s"""WITH $meansSql,
           |ms AS (SELECT source, list_sort(list(mean)) AS ms FROM m GROUP BY source),
           |pt AS (SELECT source, count(*) AS n,
           |              CAST(sum(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,9)))
           |                   AS DOUBLE) / CAST(count(*) AS DOUBLE) AS point
           |       FROM documents GROUP BY source)
           |SELECT pt.source, pt.n, pt.point,
           |       ms.ms[CAST(floor($loQ * (len(ms.ms) - 1)) AS BIGINT) + 1] AS ci_lo,
           |       ms.ms[CAST(ceil($hiQ * (len(ms.ms) - 1)) AS BIGINT) + 1] AS ci_hi
           |FROM pt LEFT JOIN ms USING (source) ORDER BY source""".stripMargin) { (s, dir) =>
        bs.confidenceInterval(docs(s, dir), "n_chars", "doc_id",
            Seq("source"), r = r, alpha = 0.1, salt = "bs")
          .orderBy("source")
      }
    }

    // per-source n-gram diversity (template-heavy source detector)
    register("ngram_diversity",
      s"""$DocsView,
         |g AS (SELECT source, unnest(${sqlNgrams("toks", 2)}) AS gram FROM docs),
         |c AS (SELECT source, gram, count(*) AS c FROM g GROUP BY source, gram)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_grams,
         |       count(*) AS n_distinct,
         |       CAST(count(*) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS diversity
         |FROM c GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      Curation.ngramDiversity(docs(s, dir), "source", "text", n = 2)
        .orderBy("source")
    }

    // L2 normalization (ANN prep: cosine becomes plain dot downstream)
    register("embedding_l2norm",
      s"""WITH n AS (
         |  SELECT vec_id, embedding,
         |         sqrt(list_reduce(list_prepend(0.0,
         |           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |           (a, b) -> a + b)) AS nrm
         |  FROM embeddings),
         |u AS (SELECT vec_id, nrm, i.i AS i, CAST(embedding[CAST(i.i AS INT) + 1] AS DOUBLE) AS x
         |      FROM n, (SELECT unnest(range(64)) AS i) i)
         |SELECT vec_id, CAST(i AS INT) AS dim,
         |       CASE WHEN nrm > 0 THEN x / nrm ELSE x END AS value
         |FROM u ORDER BY vec_id, dim""".stripMargin) { (s, dir) =>
      emb(s, dir)
        .select(col("vec_id"), Similarity.l2Normalize(col("embedding")).as("__u"))
        .select(col("vec_id"), posexplode(col("__u")).as(Seq("dim", "value")))
        .orderBy("vec_id", "dim")
    }

    // distributed classifier training: 3 full-batch GD iterations on
    // (embedding, label<5), bit-reproduced by the oracle's unrolled CTEs
    locally {
      val (dim, epochs, lr, n) = (64, 3, 0.5, "(SELECT CAST(n AS DOUBLE) FROM nn)")
      val d1 = dim + 1
      val iters = (1 to epochs).map { t =>
        val prev = if (t == 1) "w0" else s"w${t - 1}"
        s"""z$t AS (
           |  SELECT b.vec_id, b.x, b.y,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(list_zip(b.x, (SELECT w FROM $prev)), p -> p[1] * p[2])),
           |           (a, c) -> a + c) AS z
           |  FROM base b),
           |p$t AS (SELECT vec_id, x, y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM z$t),
           |c$t AS (SELECT vec_id, d.d AS dim, x[CAST(d.d AS INT) + 1] * (p - y) AS c
           |        FROM p$t, (SELECT unnest(range($d1)) AS d) d),
           |g$t AS (SELECT dim,
           |               list_reduce(list_prepend(0.0, list(c ORDER BY vec_id)), (a, b) -> a + b)
           |                 / $n AS g
           |        FROM c$t GROUP BY dim),
           |w$t AS (SELECT list(wv - $lr * g ORDER BY dim) AS w
           |        FROM (SELECT dim, g,
           |                     (SELECT w FROM $prev)[CAST(dim AS INT) + 1] AS wv
           |              FROM g$t))""".stripMargin
      }.mkString(",\n")
      register("classifier_train",
        s"""WITH base AS (
           |  SELECT vec_id,
           |         list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), 1.0) AS x,
           |         CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
           |  FROM embeddings),
           |nn AS (SELECT count(*) AS n FROM base),
           |w0 AS (SELECT list_transform(range($d1), d -> 0.0) AS w),
           |$iters
           |SELECT CAST(d.d AS INT) AS dim,
           |       (SELECT w FROM w$epochs)[CAST(d.d AS INT) + 1] AS weight
           |FROM (SELECT unnest(range($d1)) AS d) d
           |ORDER BY dim""".stripMargin) { (s, dir) =>
        val e = emb(s, dir).withColumn("y", (col("label") < 5).cast("int"))
        graft.operators.Training.trainLogisticExact(e, "vec_id", "embedding", "y",
          dim, epochs, lr)
          .orderBy("dim")
      }

      // evaluation of the same trained model: confusion counts are
      // INTEGER, so the gate is robust even where a float hash gate
      // would wobble (the 0.5 threshold compare is exact on the
      // bit-reproduced scores)
      register("classifier_eval",
        s"""WITH base AS (
           |  SELECT vec_id,
           |         list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), 1.0) AS x,
           |         CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
           |  FROM embeddings),
           |nn AS (SELECT count(*) AS n FROM base),
           |w0 AS (SELECT list_transform(range($d1), d -> 0.0) AS w),
           |$iters,
           |zf AS (
           |  SELECT b.vec_id, b.y,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(list_zip(b.x, (SELECT w FROM w$epochs)), p -> p[1] * p[2])),
           |           (a, c) -> a + c) AS z
           |  FROM base b),
           |sc AS (SELECT vec_id, y = 1.0 AS yy,
           |              0.5 * (1.0 + z / (1.0 + abs(z))) >= 0.5 AS pred
           |       FROM zf)
           |SELECT count(CASE WHEN yy AND pred THEN 1 END) AS tp,
           |       count(CASE WHEN NOT yy AND pred THEN 1 END) AS fp,
           |       count(CASE WHEN NOT yy AND NOT pred THEN 1 END) AS tn,
           |       count(CASE WHEN yy AND NOT pred THEN 1 END) AS fn,
           |       CAST(count(CASE WHEN yy = pred THEN 1 END) AS DOUBLE)
           |         / CAST(count(*) AS DOUBLE) AS accuracy
           |FROM sc""".stripMargin) { (s, dir) =>
        val e = emb(s, dir).withColumn("y", (col("label") < 5).cast("int"))
        val model = graft.operators.Training.trainLogisticExact(
          e, "vec_id", "embedding", "y", dim, epochs, lr)
        graft.operators.Training.evaluateLogistic(e, "embedding", "y", model)
      }

      // reliability curve of the same model: decile bins over the
      // bit-reproduced scores; counts are exact, mean score is the
      // ascending-id sorted fold (the float-sum discipline)
      register("classifier_calibration",
        s"""WITH base AS (
           |  SELECT vec_id,
           |         list_append(list_transform(embedding, v -> CAST(v AS DOUBLE)), 1.0) AS x,
           |         CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
           |  FROM embeddings),
           |nn AS (SELECT count(*) AS n FROM base),
           |w0 AS (SELECT list_transform(range($d1), d -> 0.0) AS w),
           |$iters,
           |zf AS (
           |  SELECT b.vec_id, b.y,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(list_zip(b.x, (SELECT w FROM w$epochs)), p -> p[1] * p[2])),
           |           (a, c) -> a + c) AS z
           |  FROM base b),
           |sc AS (SELECT vec_id, y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM zf),
           |bn AS (SELECT vec_id, y, p,
           |              CAST(least(9, floor(p * 10)) AS INT) AS bin FROM sc)
           |SELECT bin, count(*) AS n,
           |       count(CASE WHEN y = 1.0 THEN 1 END) AS n_pos,
           |       CAST(count(CASE WHEN y = 1.0 THEN 1 END) AS DOUBLE)
           |         / CAST(count(*) AS DOUBLE) AS frac_pos,
           |       list_reduce(list_prepend(0.0, list(p ORDER BY vec_id)), (a, b) -> a + b)
           |         / CAST(count(*) AS DOUBLE) AS mean_p
           |FROM bn GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
        val e = emb(s, dir).withColumn("y", (col("label") < 5).cast("int"))
        val model = graft.operators.Training.trainLogisticExact(
          e, "vec_id", "embedding", "y", dim, epochs, lr)
        graft.operators.Training.scoreLogistic(e, "embedding", model, "p")
          .withColumn("bin", least(lit(9), floor(col("p") * 10)).cast("int"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            count(when(col("y") === 1, 1)).as("n_pos"),
            (count(when(col("y") === 1, 1)).cast("double") /
              count(lit(1)).cast("double")).as("frac_pos"),
            (aggregate(array_sort(collect_list(struct(col("vec_id"), col("p")))),
              lit(0.0), (acc, s2) => acc + s2.getField("p")) /
              count(lit(1)).cast("double")).as("mean_p"))
          .orderBy("bin")
      }
    }

    // Preference-pair mining (the DPO/RLHF data-prep step): per prompt
    // group the argmax-score response pairs with the argmin, margin
    // filter on the gap, ties to the lower id. One map-side-combined
    // aggregate (two min_by argmaxes), no window, no row-scale join —
    // a viral prompt with 10^8 completions collapses per partition.
    // Fixture: user_id = prompt group, event_id = response, value =
    // reward-model score. The oracle derives the same argmaxes via
    // max/min + min-id-at-extreme joins (deterministic without relying
    // on DuckDB's unspecified arg_max tie-break).
    register("preference_pairs",
      """WITH g AS (
        |  SELECT user_id, max(value) AS mx, min(value) AS mn, count(*) AS n
        |  FROM events GROUP BY user_id),
        |ch AS (SELECT e.user_id, min(e.event_id) AS chosen_id
        |       FROM events e JOIN g ON e.user_id = g.user_id AND e.value = g.mx
        |       GROUP BY e.user_id),
        |rj AS (SELECT e.user_id, min(e.event_id) AS rejected_id
        |       FROM events e JOIN g ON e.user_id = g.user_id AND e.value = g.mn
        |       GROUP BY e.user_id)
        |SELECT g.user_id AS group_id, ch.chosen_id, rj.rejected_id,
        |       g.mx AS chosen_score, g.mn AS rejected_score,
        |       g.mx - g.mn AS score_gap
        |FROM g JOIN ch ON ch.user_id = g.user_id
        |       JOIN rj ON rj.user_id = g.user_id
        |WHERE g.n >= 2 AND g.mx > g.mn AND g.mx - g.mn >= 0.5
        |ORDER BY group_id""".stripMargin) { (s, dir) =>
      val ev = graft.sources.Tables.eventsRaw(s, dir)
        .select(col("user_id").as("group_id"), col("event_id"), col("value"))
      graft.operators.Training.preferencePairs(
          ev, "group_id", "event_id", "value", minGap = 0.5)
        .orderBy("group_id")
    }

    // Best-of-n selection (rejection sampling / BoN distillation):
    // keep the argmax-score response ROW per prompt group, ties to the
    // lower id — the argmax face of preference_pairs, same one-aggregate
    // shape. Oracle: min-id-at-max join (deterministic tie rule).
    register("best_of_n",
      """WITH g AS (SELECT user_id, max(value) AS mx FROM events GROUP BY user_id),
        |b AS (SELECT e.user_id, min(e.event_id) AS best_id
        |      FROM events e JOIN g ON e.user_id = g.user_id AND e.value = g.mx
        |      GROUP BY e.user_id)
        |SELECT e.user_id AS group_id, e.event_id, e.event_type, e.value
        |FROM events e JOIN b ON e.user_id = b.user_id AND e.event_id = b.best_id
        |ORDER BY group_id""".stripMargin) { (s, dir) =>
      val ev = graft.sources.Tables.eventsRaw(s, dir)
        .select(col("user_id").as("group_id"), col("event_id"),
          col("event_type"), col("value"))
      graft.operators.Training.bestOfN(ev, "group_id", "event_id", "value")
        .orderBy("group_id")
    }

    // EL2N / GraNd example-difficulty scores (Paul et al. NeurIPS'21)
    // under the same bit-reproduced 3-epoch probe as classifier_train;
    // rank 1 = hardest, assigned via the range-exchange global order
    locally {
      val (dim, epochs, lr) = (64, 3, 0.5)
      val d1 = dim + 1
      val iters = sqlProbeIters(d1, epochs, lr)
      register("el2n_scores",
        s"""WITH ${sqlProbeBase(d1)},
           |$iters,
           |zf AS (
           |  SELECT b.vec_id, b.x, b.y,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(list_zip(b.x, (SELECT w FROM w$epochs)), p -> p[1] * p[2])),
           |           (a, c) -> a + c) AS z
           |  FROM base b),
           |sc AS (SELECT vec_id,
           |              abs(0.5 * (1.0 + z / (1.0 + abs(z))) - y) AS el2n,
           |              sqrt(list_reduce(list_prepend(0.0,
           |                list_transform(x, v -> v * v)), (a, c) -> a + c)) AS nrm
           |       FROM zf)
           |SELECT vec_id, el2n, el2n * nrm AS grand,
           |       row_number() OVER (ORDER BY el2n DESC, vec_id ASC) AS rank
           |FROM sc ORDER BY vec_id""".stripMargin) { (s, dir) =>
        val e = emb(s, dir).withColumn("y", (col("label") < 5).cast("int"))
        val model = graft.operators.Training.trainLogisticExact(
          e, "vec_id", "embedding", "y", dim, epochs, lr)
        graft.operators.Pruning.rankBy(
          graft.operators.Pruning.difficultyScores(e, "embedding", "y", model),
          "el2n", "vec_id")
          .select("vec_id", "el2n", "grand", "rank")
          .orderBy("vec_id")
      }

      // dataset cartography (Swayamdipta et al. EMNLP'20): gold-label
      // probability mean/std + correctness fraction across the probe's
      // per-epoch snapshots w1..w3, all in fixed epoch-order folds
      val epochScores = (1 to epochs).map { t =>
        s"""e$t AS (
           |  SELECT b.vec_id, b.y,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(list_zip(b.x, (SELECT w FROM w$t)), p -> p[1] * p[2])),
           |           (a, c) -> a + c) AS z
           |  FROM base b),
           |s$t AS (SELECT vec_id, y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM e$t)""".stripMargin
      }.mkString(",\n")
      register("cartography_stats",
        s"""WITH ${sqlProbeBase(d1)},
           |$iters,
           |$epochScores,
           |j AS (SELECT s1.vec_id, s1.y, s1.p AS p1, s2.p AS p2, s3.p AS p3
           |      FROM s1 JOIN s2 USING (vec_id) JOIN s3 USING (vec_id)),
           |g AS (SELECT vec_id,
           |             CASE WHEN y = 1.0 THEN p1 ELSE 1.0 - p1 END AS g1,
           |             CASE WHEN y = 1.0 THEN p2 ELSE 1.0 - p2 END AS g2,
           |             CASE WHEN y = 1.0 THEN p3 ELSE 1.0 - p3 END AS g3,
           |             CASE WHEN (p1 >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END AS c1,
           |             CASE WHEN (p2 >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END AS c2,
           |             CASE WHEN (p3 >= 0.5) = (y = 1.0) THEN 1.0 ELSE 0.0 END AS c3
           |      FROM j),
           |m AS (SELECT vec_id, g1, g2, g3, c1, c2, c3,
           |             (g1 + g2 + g3) / 3.0 AS confidence FROM g)
           |SELECT vec_id, confidence,
           |       sqrt(((g1 - confidence) * (g1 - confidence)
           |             + (g2 - confidence) * (g2 - confidence)
           |             + (g3 - confidence) * (g3 - confidence)) / 3.0) AS variability,
           |       (c1 + c2 + c3) / 3.0 AS correct_frac,
           |       CASE WHEN confidence >= 0.7 AND sqrt(((g1 - confidence) * (g1 - confidence)
           |                  + (g2 - confidence) * (g2 - confidence)
           |                  + (g3 - confidence) * (g3 - confidence)) / 3.0) <= 0.2 THEN 'easy'
           |            WHEN confidence <= 0.3 AND sqrt(((g1 - confidence) * (g1 - confidence)
           |                  + (g2 - confidence) * (g2 - confidence)
           |                  + (g3 - confidence) * (g3 - confidence)) / 3.0) <= 0.2 THEN 'hard'
           |            ELSE 'ambiguous' END AS region
           |FROM m ORDER BY vec_id""".stripMargin) { (s, dir) =>
        val e = emb(s, dir).withColumn("y", (col("label") < 5).cast("int"))
        val trace = graft.operators.Training.trainLogisticExactTrace(
          e, "vec_id", "embedding", "y", dim, epochs, lr)
        graft.operators.Pruning.cartography(e, "embedding", "y", trace)
          .select("vec_id", "confidence", "variability", "correct_frac", "region")
          .orderBy("vec_id")
      }
    }

    // prototypicality (Sorscher et al. NeurIPS'22): cosine to the
    // assigned seed centroid + within-cell rank (1 = most prototypical)
    locally {
      val kc = 8
      val assignSql =
        s"""WITH cent AS (
           |  SELECT vec_id AS cell, embedding AS cvec FROM embeddings
           |  ORDER BY vec_id LIMIT $kc),
           |a AS (
           |  SELECT vec_id, cell, cosine FROM (
           |    SELECT e.vec_id, c.cell, ${sqlCosine("e.embedding", "c.cvec")} AS cosine,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC, c.cell ASC) AS rn
           |    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1)""".stripMargin
      register("prototype_scores",
        s"""$assignSql
           |SELECT vec_id, cell, cosine,
           |       CAST(row_number() OVER (PARTITION BY cell
           |         ORDER BY cosine DESC, vec_id ASC) AS INT) AS proto_rank
           |FROM a ORDER BY vec_id""".stripMargin) { (s, dir) =>
        val e = emb(s, dir)
        graft.operators.Pruning.prototypeRanks(e, "vec_id", "embedding",
          Similarity.kmeansCentroids(e, "vec_id", "embedding", kc, iters = 0))
          .orderBy("vec_id")
      }

      // cluster-balanced pruning: keep the 3 most prototypical per cell
      register("cluster_balanced_sample",
        s"""$assignSql,
           |r AS (SELECT vec_id, cell, cosine,
           |             row_number() OVER (PARTITION BY cell
           |               ORDER BY cosine DESC, vec_id ASC) AS rn
           |      FROM a)
           |SELECT vec_id, cell, cosine FROM r WHERE rn <= 3
           |ORDER BY vec_id""".stripMargin) { (s, dir) =>
        val e = emb(s, dir)
        graft.operators.Pruning.clusterPrune(e, "vec_id", "embedding",
          Similarity.kmeansCentroids(e, "vec_id", "embedding", kc, iters = 0),
          perCluster = 3)
          .orderBy("vec_id")
      }
    }

    // greedy k-center coreset (Gonzalez'85 / Sener-Savarese ICLR'18):
    // the oracle unrolls the k selection rounds as chained CTEs — the
    // same incremental min-distance fold the operator materializes
    locally {
      val k = 6
      def cvec(cidSel: String) = s"(SELECT embedding FROM embeddings WHERE vec_id = $cidSel)"
      val steps = (2 to k).map { t =>
        s"""c$t AS (SELECT vec_id AS cid, mind FROM m${t - 1}
           |        ORDER BY mind DESC, vec_id ASC LIMIT 1),
           |m$t AS (SELECT m.vec_id, m.embedding,
           |        least(m.mind, 1.0 - ${sqlCosine("m.embedding", cvec(s"(SELECT cid FROM c$t)"))}) AS mind
           |        FROM m${t - 1} m)""".stripMargin
      }.mkString(",\n")
      val picks = (2 to k).map(t =>
        s"SELECT $t AS pick, (SELECT cid FROM c$t) AS center_id, (SELECT mind FROM c$t) AS radius")
        .mkString("\nUNION ALL ")
      register("kcenter_coreset",
        s"""WITH c1 AS (SELECT min(vec_id) AS cid FROM embeddings),
           |m1 AS (SELECT e.vec_id, e.embedding,
           |       1.0 - ${sqlCosine("e.embedding", cvec("(SELECT cid FROM c1)"))} AS mind
           |       FROM embeddings e),
           |$steps
           |SELECT CAST(pick AS INT) AS pick, center_id, radius FROM (
           |  SELECT 1 AS pick, (SELECT cid FROM c1) AS center_id,
           |         CAST(NULL AS DOUBLE) AS radius
           |  UNION ALL $picks)
           |ORDER BY pick""".stripMargin) { (s, dir) =>
        graft.operators.Pruning.kcenterGreedy(emb(s, dir), "vec_id", "embedding", k)
          .orderBy("pick")
      }
    }

    // ---------------- end-to-end curation pipeline ----------------
    //
    // The composition gate: the whole Gopher/FineWeb-style curation
    // chain — quality gate → exact dedup → MinHash-LSH near-dup prune
    // (cluster root survives) → exact-shingle decontamination against
    // the held-out split — run as ONE pipeline over the train slice,
    // gated by ONE DuckDB oracle that replays every stage end-to-end.
    // Each stage is individually gated elsewhere (`gopher_filter`,
    // `dedup_exact`, `dedup_clusters_star`, `decontam_clean`); this
    // gate proves they COMPOSE: every stage's input is the previous
    // stage's survivor set, not the raw corpus, so any cross-stage
    // column/semantics drift breaks the hash.
    //
    // Scale shape = the sum of its audited parts: quality is one
    // map-side pass; exact dedup one min_by aggregate; LSH one banded
    // (band, sig) self-join; star clustering edge-list-sized rounds;
    // decontamination one shingle join against the (tiny) benchmark
    // shingle set broadcast as an anti-join. The funnel face
    // materializes each stage once — exactly what a production run
    // checkpoints — so counting never recomputes the chain.
    locally {
      val k = CurationLshK
      val minHits = CurationMinHits
      val chain = CurationChainSql

      def chainStages(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
        val d = docs(s, dir)
        val bucketC = Sampling.hashBucket(col("doc_id"), "split")
        // synthetic exact duplicates (the dedup_exact convention) so the
        // exact-dedup stage has real work on the fixture corpus
        val base = d.filter(bucketC < 800000).select("doc_id", "text")
        val train = base.unionAll(
          base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        val bench = d.filter(bucketC >= 900000).select("doc_id", "text")
        val q = train
          .filter(Quality.gopherSignals(col("text")).getField("keep") === 1L)
          .transform(graft.operators.Materialize.apply)
        val ex = Dedup.exact(q, "text", "doc_id")
          .transform(graft.operators.Materialize.apply)
        val pruned = Dedup.pruneNearDups(ex, "text", "doc_id", k = k,
            rowsPerBand = 2, cap = Dedup.BucketCap.Unlimited)
          .transform(graft.operators.Materialize.apply)
        val clean = Decontam.decontaminate(pruned, bench, "doc_id", "text", minHits)
          .transform(graft.operators.Materialize.apply)
        Seq("s0_input" -> train, "s1_quality" -> q, "s2_exact" -> ex,
          "s3_neardup" -> pruned, "s4_decontam" -> clean)
      }

      register("curation_e2e",
        s"$chain\n$CurationFinalSql") { (s, dir) =>
        val clean = chainStages(s, dir).last._2
        clean.select(col("doc_id"), Text.tokenCount(col("text")).as("n_tokens"))
          .orderBy("doc_id")
      }

      register("curation_e2e_funnel",
        s"""$chain
           |SELECT stage, n_docs FROM (
           |  SELECT 's0_input' AS stage, count(*) AS n_docs FROM docs
           |  UNION ALL SELECT 's1_quality', count(*) FROM q
           |  UNION ALL SELECT 's2_exact', count(*) FROM ex
           |  UNION ALL SELECT 's3_neardup', count(*) FROM pruned
           |  UNION ALL SELECT 's4_decontam', count(*) FROM clean)
           |ORDER BY stage""".stripMargin) { (s, dir) =>
        chainStages(s, dir).map { case (n, df) =>
          df.groupBy().agg(count(lit(1)).as("n_docs"))
            .select(lit(n).as("stage"), col("n_docs"))
        }.reduce(_ unionAll _).orderBy("stage")
      }
    }
  }
}
