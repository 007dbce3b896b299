package graft

import graft.ir.{Engine, EngineCtx, Node, StreamRegistry}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated queries exercising the IR interpreter (`graft.ir.Engine`):
  * each pipeline here is DECLARED AS DATA (JSON IR), interpreted into a
  * DataFrame plan, and must hash-match the same DuckDB oracles as the
  * hand-written operator queries — proving the engine layer adds no
  * semantic drift and no plan overhead (interpretation happens once per
  * query; Catalyst sees the same plan it would from hand-written code).
  */
object QueriesIr {

  private val Ev = Queries.EventsView
  private val winSql = Queries.winSqlOf(3600000000000L)

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  private def tapOf(node: Node, df: DataFrame, tap: String = "out"): DataFrame =
    Engine.run(node, df, EngineCtx(testMode = true)).taps(tap)

  /** Temp dirs for the IR artifact gates, one per (tag, input dir):
    * created lazily ONCE per JVM and deleted on exit, so repeated gate /
    * bench runs reuse the same directory instead of leaking a fresh one
    * per run. The artifacts are deterministic functions of the input
    * dir, so reuse never changes a gate's output.
    */
  private val tmpDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def deleteRec(f: java.io.File): Unit = {
    val cs = f.listFiles(); if (cs != null) cs.foreach(deleteRec); f.delete(); ()
  }
  private def cachedTmpDir(tag: String, dir: String)(init: String => Unit): String =
    tmpDirs.computeIfAbsent(s"$tag|$dir", _ => {
      val p = java.nio.file.Files.createTempDirectory(s"ir_$tag")
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p.toFile)))
      init(p.toString)
      p.toString
    })

  def registerAll(register: (String, String) => (((SparkSession, String) => DataFrame) => Unit)): Unit = {

    // where + condition language through the IR
    register("ir_where",
      s"""$Ev
         |SELECT eventId, host, service, metric FROM ev
         |WHERE service = 'error' AND metric > 100
         |ORDER BY eventId""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"where",
          | "params":[["and", ["=","service","error"], [">","metric",100]]],
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      tapOf(node, ev(s, dir))
        .select(col("eventId"), col("host"), col("service"), col("metric"))
        .orderBy("eventId")
    }

    // by-subtree key injection (stream.clj:38-44): keys thread into the window
    register("ir_by_rate",
      s"""$Ev
         |SELECT host, $winSql AS window_start,
         |       CAST(count(*) AS DOUBLE) / 3600.0 AS metric
         |FROM ev GROUP BY 1, 2 ORDER BY host, window_start""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"by","params":[["host"]],"children":[
          |  {"action":"rate","params":[{"duration":3600}],
          |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
      tapOf(node, ev(s, dir))
        .select(col("host"), col("window_start"), col("metric"))
        .orderBy("host", "window_start")
    }

    // split: one tap per branch, first-matching-condition routing
    register("ir_split",
      s"""$Ev
         |SELECT eventId,
         |       CASE WHEN metric > 150 THEN 0 WHEN metric > 50 THEN 1 ELSE 2 END AS branch
         |FROM ev ORDER BY eventId""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"split",
          | "params":[[">","metric",150], [">","metric",50]],
          | "children":[
          |   {"action":"tap","params":["b0"]},
          |   {"action":"tap","params":["b1"]},
          |   {"action":"tap","params":["b2"]}]}""".stripMargin)
      val res = Engine.run(node, ev(s, dir), EngineCtx(testMode = true))
      (0 to 2).map { i =>
        res.taps(s"b$i").select(col("eventId"), lit(i).cast("int").as("branch"))
      }.reduce(_ unionAll _).orderBy("eventId")
    }

    // the flagship pipeline (SURVEY §7.2) as IR
    register("ir_alert_count",
      s"""$Ev
         |SELECT $winSql AS window_start, CAST(count(*) AS DOUBLE) AS metric,
         |       'critical' AS state
         |FROM ev WHERE metric > 100 GROUP BY 1 ORDER BY window_start""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"where","params":[[">","metric",100]],"children":[
          |  {"action":"fixed-time-window","params":[{"duration":3600}],"children":[
          |    {"action":"coll-count","children":[
          |      {"action":"with","params":[{"state":"critical"}],"children":[
          |        {"action":"tap","params":["out"]}]}]}]}]}""".stripMargin)
      tapOf(node, ev(s, dir))
        .select(col("window_start"), col("metric"), col("state"))
        .orderBy("window_start")
    }

    // percentile alerting (the reference's dev/resources/tests/test1.edn
    // scenario shape): window percentiles → threshold → critical
    register("ir_percentile_alert",
      s"""$Ev
         |, w AS (
         |  SELECT $winSql AS window_start, list_sort(list(metric)) AS sorted
         |  FROM ev GROUP BY 1)
         |SELECT window_start, q.quantile,
         |       sorted[CAST(least(len(sorted) - 1,
         |                         floor(len(sorted) * q.quantile)) AS INT) + 1] AS metric,
         |       'critical' AS state
         |FROM w, (SELECT unnest([0.5, 0.99]) AS quantile) q
         |WHERE sorted[CAST(least(len(sorted) - 1,
         |                        floor(len(sorted) * q.quantile)) AS INT) + 1] > 150
         |ORDER BY window_start, quantile""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"percentiles","params":[{"duration":3600,"quantiles":[0.5,0.99]}],
          | "children":[
          |  {"action":"where","params":[[">","metric",150]],"children":[
          |    {"action":"with","params":[{"state":"critical"}],"children":[
          |      {"action":"tap","params":["out"]}]}]}]}""".stripMargin)
      tapOf(node, ev(s, dir))
        .select(col("window_start"), col("quantile"), col("metric"), col("state"))
        .orderBy("window_start", "quantile")
    }

    // exception-stream: malformed from-json rows route to the error child
    register("ir_exception_stream",
      s"""$Ev
         |SELECT eventId,
         |       CASE WHEN metric > 150 THEN 'error' ELSE 'ok' END AS branch
         |FROM ev ORDER BY eventId""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"from-json","params":["description"],"children":[
          |  {"action":"exception-stream","params":["description"],"children":[
          |    {"action":"tap","params":["ok"]},
          |    {"action":"tap","params":["err"]}]}]}""".stripMargin)
      val corrupted = ev(s, dir).withColumn("description",
        when(col("metric") > 150, lit("not json")).otherwise(col("description")))
      val res = Engine.run(node, corrupted, EngineCtx(testMode = true))
      res.taps("ok").select(col("eventId"), lit("ok").as("branch"))
        .unionAll(res.taps("err").select(col("eventId"), lit("error").as("branch")))
        .orderBy("eventId")
    }

    // custom action plugin registry (stream.clj:29-34)
    register("ir_custom",
      s"""$Ev
         |SELECT eventId, metric * 2.0 AS metric FROM ev ORDER BY eventId""".stripMargin) { (s, dir) =>
      val ctx = EngineCtx(testMode = true, custom = Map(
        "double-metric" -> (args => df =>
          df.withColumn("metric",
            col("metric") * args.headOption.map(_.asInstanceOf[Number].doubleValue()).getOrElse(2.0)))))
      val node = Node.fromJson(
        """{"action":"custom","params":["double-metric", 2.0],
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      Engine.run(node, ev(s, dir), ctx).taps("out")
        .select(col("eventId"), col("metric")).orderBy("eventId")
    }

    // reinject! across named streams in a registry (action.clj:1643-1678)
    register("ir_reinject",
      s"""$Ev
         |SELECT eventId, metric + 1 AS metric FROM ev
         |WHERE metric > 150 ORDER BY eventId""".stripMargin) { (s, dir) =>
      val reg = new StreamRegistry(EngineCtx(testMode = true))
      reg.add("main", Node.fromJson(
        """{"action":"where","params":[[">","metric",150]],
          | "children":[{"action":"reinject!","params":["aux"]}]}""".stripMargin))
      reg.add("aux", Node.fromJson(
        """{"action":"increment",
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin))
      reg.run("main", ev(s, dir)).taps("out")
        .select(col("eventId"), col("metric")).orderBy("eventId")
    }

    // stateful per-key scan through the IR (ewma under a by fork)
    register("ir_ewma",
      s"""$Ev
         |, ordered AS (
         |  SELECT eventId, host, metric,
         |         list(metric) OVER (PARTITION BY host ORDER BY time, eventId
         |                            ROWS UNBOUNDED PRECEDING) AS prefix
         |  FROM ev)
         |SELECT eventId, list_reduce(list_prepend(0.0, prefix),
         |                            (acc, x) -> 0.5 * acc + 0.5 * x) AS metric
         |FROM ordered ORDER BY eventId""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"by","params":[["host"]],"children":[
          |  {"action":"ewma-timeless","params":[0.5],
          |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
      tapOf(node, ev(s, dir))
        .select(col("eventId"), col("metric")).orderBy("eventId")
    }

    // the crawl-corpus guard as ONE declared chain: bad-words dictionary
    // filter then the page-level noindex rule (word-salad docs carry no
    // meta tags, so the noindex stage must pass everything through —
    // composition totality, not a tautology: a buggy null-handling
    // noindex filter would drop every row here)
    register("ir_badwords_guard",
      """SELECT source, count(*) AS n_kept FROM documents
        |WHERE NOT (lower(text) LIKE '%slow%' OR lower(text) LIKE '%scan merge%')
        |GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"badwords-filter","params":[{"text":"text","patterns":["slow","scan merge"]}],
          | "children":[{"action":"noindex-filter","params":[{"html":"text"}],
          |              "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
      tapOf(node, Tables.documents(s, dir))
        .groupBy("source").agg(count(lit(1)).as("n_kept")).orderBy("source")
    }

    // training-pipeline ops as declared IR over the documents table
    register("ir_text_quality",
      """WITH docs AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |                     t -> len(t) > 0) AS toks
        |  FROM documents)
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
      val node = Node.fromJson(
        """{"action":"text-quality","params":["text","quality"],
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      tapOf(node, Tables.documents(s, dir))
        .select(col("doc_id"), col("quality")).orderBy("doc_id")
    }

    // deterministic split + per-stratum sampling chained as declared IR:
    // split the corpus, then keep only the train slice via where, then
    // stratified-downsample it — the config-file shape of a real
    // training-data job
    register("ir_sample_split",
      s"""SELECT doc_id, lang, 'train' AS split FROM documents
         |WHERE (list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(string_split(substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15), ''),
         |           c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
         |                          ELSE ascii(c) - 48 END AS BIGINT))),
         |         (a, x) -> a * 16 + x) % 1000000) < 800000
         |  AND (list_reduce(list_prepend(CAST(0 AS BIGINT),
         |         list_transform(string_split(substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15), ''),
         |           c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
         |                          ELSE ascii(c) - 48 END AS BIGINT))),
         |         (a, x) -> a * 16 + x) % 1000000) <
         |      CASE lang WHEN 'en' THEN 500000 ELSE 1000000 END
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"split-by-hash",
          | "params":[{"id":"doc_id","weights":[
          |   {"name":"train","weight":0.8},
          |   {"name":"val","weight":0.1},
          |   {"name":"test","weight":0.1}]}],
          | "children":[
          |  {"action":"where","params":[["=","split","train"]],"children":[
          |    {"action":"sample-stratified",
          |     "params":[{"strata":"lang","id":"doc_id","fractions":{"en":0.5}}],
          |     "children":[{"action":"tap","params":["out"]}]}]}]}""".stripMargin)
      tapOf(node, Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("split")).orderBy("doc_id")
    }

    // the curation chain as declared IR: hashed classifier score →
    // token count → per-domain token-budget selection — the config-file
    // shape of a corpus-composition job
    register("ir_token_budget",
      s"""WITH docs AS (
         |  SELECT doc_id, source, text,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                     t -> len(t) > 0) AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source,
         |    CASE WHEN len(toks) > 0
         |         THEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                list_transform(toks, t ->
         |                  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |                    list_transform(string_split(substr(md5('qw:' || t), 1, 15), ''),
         |                      c -> CAST(CASE WHEN ascii(c) >= 97 THEN ascii(c) - 87
         |                                     ELSE ascii(c) - 48 END AS BIGINT))),
         |                    (a, x) -> a * 16 + x) % 2001 - 1000)),
         |                (a, x) -> a + x) AS DOUBLE) / (CAST(len(toks) AS DOUBLE) * 1000.0)
         |         ELSE 0.0 END AS score,
         |    CAST(len(toks) AS BIGINT) AS n_tokens
         |  FROM docs),
         |c AS (
         |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY score DESC, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM q)
         |SELECT doc_id, source, score, cum_tokens FROM c
         |WHERE cum_tokens <= 600 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"classifier-score","params":["text","score"],
          | "children":[{"action":"text-tokens","params":["text","n_tokens"],
          |   "children":[{"action":"token-budget",
          |     "params":[{"group":"source","score":"score","tokens":"n_tokens",
          |                "id":"doc_id","budget":600}],
          |     "children":[{"action":"tap","params":["out"]}]}]}]}""".stripMargin)
      tapOf(node, Tables.documents(s, dir))
        .select(col("doc_id"), col("source"), col("score"), col("cum_tokens"))
        .orderBy("doc_id")
    }

    register("ir_dedup_exact",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents)
        |SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM corpus) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir).select("doc_id", "text")
      val corpus = d.unionAll(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      val node = Node.fromJson(
        """{"action":"dedup-exact","params":["text","doc_id"],
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      tapOf(node, corpus).select("doc_id").orderBy("doc_id")
    }

    // the WHOLE curation chain declared as data: gopher quality gate →
    // exact dedup → near-dup prune (LSH + star contraction, cluster
    // root survives) → exact-shingle decontamination against the
    // held-out split artifact → token count. Gated by the SAME oracle
    // as the hand-written curation_e2e, so the declared face, the
    // operator face, and the SQL replay can never drift apart.
    register("ir_curation_e2e",
      s"${QueriesPipeline.CurationChainSql}\n${QueriesPipeline.CurationFinalSql}") { (s, dir) =>
      val d = Tables.documents(s, dir)
      val bucketC = graft.operators.Sampling.hashBucket(col("doc_id"), "split")
      val base = d.filter(bucketC < 800000).select("doc_id", "text")
      val train = base.unionAll(
        base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      // bench slice written ONCE per JVM per input dir (deterministic),
      // not on every query construction — repeated gate/bench runs reuse
      // it and the shutdown hook removes it
      val benchPath = cachedTmpDir("bench", dir) { p =>
        d.filter(bucketC >= 900000).select("doc_id", "text")
          .write.mode("overwrite").parquet(p)
      }
      val node = Node.fromJson(
        s"""{"action":"gopher-filter","params":["text"],"children":[
           |  {"action":"dedup-exact","params":["text","doc_id"],"children":[
           |    {"action":"near-dup-prune","params":[{"text":"text","id":"doc_id",
           |        "k":${QueriesPipeline.CurationLshK},"rows-per-band":2}],"children":[
           |      {"action":"decontam-exact","params":[{"id":"doc_id","text":"text",
           |          "bench-path":"$benchPath","min-hits":${QueriesPipeline.CurationMinHits}}],
           |       "children":[
           |        {"action":"text-tokens","params":["text","n_tokens"],"children":[
           |          {"action":"tap","params":["out"]}]}]}]}]}]}""".stripMargin)
      tapOf(node, train).select("doc_id", "n_tokens").orderBy("doc_id")
    }

    // windowed latest-per-fields through the IR
    register("ir_coalesce",
      s"""$Ev
         |, latest AS (
         |  SELECT $winSql AS window_start, host, service, eventId, metric, time, state, ttl,
         |         row_number() OVER (PARTITION BY $winSql, host, service
         |                            ORDER BY time DESC, eventId DESC) AS rn,
         |         max(time) OVER (PARTITION BY $winSql, host, service) AS clock
         |  FROM ev)
         |SELECT window_start, host, service, eventId, metric FROM latest
         |WHERE rn = 1 AND NOT (state = 'expired' OR (clock - time) > CAST(ttl * 1000000000 AS BIGINT))
         |ORDER BY window_start, host, service""".stripMargin) { (s, dir) =>
      val node = Node.fromJson(
        """{"action":"coalesce","params":[{"duration":3600,"fields":["host","service"]}],
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      tapOf(node, ev(s, dir))
        .select(col("window_start"), col("host"), col("service"), col("eventId"), col("metric"))
        .orderBy("window_start", "host", "service")
    }

    // training-order materialization declared as data — same oracle as
    // the direct corpus_shuffle gate, so the IR dispatch path itself is
    // hash-gated
    locally {
      // the ONE md5-fold oracle mirror (QueriesPipeline) — a second copy
      // here could silently de-sync the IR oracle from the operator ones
      def md5h(s: String) = QueriesPipeline.sqlMd5Hash64(s)
      register("ir_shuffle_order",
        s"""SELECT row_number() OVER (
           |         ORDER BY ${md5h("'epoch0:' || CAST(doc_id AS VARCHAR)")}, doc_id) - 1
           |         AS position,
           |       doc_id
           |FROM documents ORDER BY position""".stripMargin) { (s, dir) =>
        val node = Node.fromJson(
          """{"action":"shuffle-order","params":[{"id":"doc_id","seed":"epoch0"}],
            | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
        tapOf(node, Tables.documents(s, dir))
          .select("position", "doc_id").orderBy("position")
      }
    }

    // tokenizer chain as declared IR: unigram-train → saved model artifact
    // → unigram-encode → per-doc piece count. Trained at max-piece 1 (a
    // character model) so the piece count is EXACTLY the summed token
    // lengths — the one unigram output an independent engine can replay
    // without the Viterbi scan (the general segmentation is spec-gated in
    // UnigramTokenizerSpec; this gate pins the train→save→load→encode
    // plumbing end-to-end under the oracle).
    register("ir_unigram_encode",
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                     t -> len(t) > 0) AS toks
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |              list_transform(toks, t -> CAST(len(t) AS BIGINT))),
         |            (a, x) -> a + x) AS BIGINT) AS n_pieces
         |FROM docs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("ir_unigram")
      val modelPath = s"$tmp/m"
      val trained = tapOf(Node.fromJson(
        """{"action":"unigram-train","params":[{"text":"text","vocab":64,"max-piece":1,"iters":2}],
          | "children":[{"action":"tap","params":["m"]}]}""".stripMargin), d, "m")
      graft.operators.UnigramTokenizer.saveModel(trained, modelPath)
      val node = Node.fromJson(
        s"""{"action":"unigram-encode","params":[{"text":"text","model-path":"$modelPath","out":"pieces"}],
           | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      val out = tapOf(node, d) // loadModel collects the pieces eagerly here
        .select(col("doc_id"), size(col("pieces")).cast("long").as("n_pieces"))
        .orderBy("doc_id")
      // the returned plan holds the model as a broadcast map, not the
      // files — delete the artifact now instead of littering /tmp across
      // repeated verify/bench passes
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }

    // WARC ingest as an IR chain: archives BUILT from the documents table
    // (HTTP-response payloads), then warc-records -> warc-responses must
    // recover uri/status/text — the oracle reads the expected values
    // straight from the source table
    register("ir_warc_responses",
      s"""SELECT 'http://x/' || CAST(doc_id AS VARCHAR) AS target_uri,
         |       CAST(200 AS INT) AS status,
         |       CAST(len(text) AS BIGINT) AS n_chars
         |FROM documents ORDER BY target_uri""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
      val payload = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n"), col("text"))
      val header = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://x/"),
        col("doc_id").cast("string"),
        lit("\r\nContent-Length: "),
        length(encode(payload, "UTF-8")).cast("string"),
        lit("\r\n\r\n"))
      val archive = concat(encode(header, "UTF-8"),
        encode(payload, "UTF-8"), encode(lit("\r\n\r\n"), "UTF-8"))
      val node = Node.fromJson(
        """{"action":"warc-records","params":[{"bin":"bytes"}],
          | "children":[{"action":"warc-responses",
          |              "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
      tapOf(node, d.select(archive.as("bytes")))
        .select(col("target_uri"), col("status"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("target_uri")
    }

    // wordpiece train -> save -> load -> greedy encode, as an IR chain.
    // At merges=0 the model is the pure character vocabulary, whose
    // greedy segmentation is one piece per character (first bare, rest
    // ##-marked) — so per-doc piece counts equal summed word lengths,
    // the same oracle-replayable invariant ir_unigram_encode pins.
    register("ir_wordpiece_encode",
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                     t -> len(t) > 0) AS toks
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |              list_transform(toks, t -> CAST(len(t) AS BIGINT))),
         |            (a, x) -> a + x) AS BIGINT) AS n_pieces
         |FROM docs ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("ir_wordpiece")
      val modelPath = s"$tmp/v"
      val vocab = tapOf(Node.fromJson(
        """{"action":"wordpiece-train","params":[{"text":"text","merges":0}],
          | "children":[{"action":"tap","params":["m"]}]}""".stripMargin), d, "m")
      graft.operators.WordPiece.saveVocab(vocab, modelPath)
      val node = Node.fromJson(
        s"""{"action":"wordpiece-encode","params":[{"text":"text","model-path":"$modelPath","out":"pieces"}],
           | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      val out = tapOf(node, d) // loadVocab collects the pieces eagerly here
        .select(col("doc_id"), size(col("pieces")).cast("long").as("n_pieces"))
        .orderBy("doc_id")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }

    // incremental recrawl as an IR chain: the old snapshot is a parquet
    // ARTIFACT (the prior crawl's index), the new snapshot flows through
    // snapshot-diff against it — same oracle as the operator-level
    // crawl_diff gate. Materialized before the artifact is deleted.
    register("ir_crawl_delta",
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
      val d = Tables.documents(s, dir)
      val tmp = java.nio.file.Files.createTempDirectory("ir_snap")
      d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
        .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("digest"))
        .write.mode("overwrite").parquet(s"$tmp/old")
      val newer = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(7)) === 0,
              md5(encode(concat(col("text"), lit("v2")), "UTF-8")))
            .otherwise(md5(encode(col("text"), "UTF-8"))).as("digest"))
      val node = Node.fromJson(
        s"""{"action":"snapshot-diff","params":[{"old-path":"$tmp/old","key":"doc_id","digest":"digest"}],
           | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      val out = graft.operators.Materialize(tapOf(node, newer)
        .select(col("doc_id"), col("old_digest"), col("new_digest"), col("status"))
        .orderBy("doc_id"))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
    }

    // difficulty curriculum as an IR chain: cartography (by persisted
    // probe trace) feeding curriculum-order on confidence — high-
    // confidence (easy) examples first. The oracle replays the probe
    // CTEs, the cartography fold, and the staged seeded-shuffle rank.
    locally {
      val (dim, epochs, lr, stages) = (64, 3, 0.5, 4)
      val d1 = dim + 1
      val epochScores = (1 to epochs).map { t =>
        s"""e$t AS (
           |  SELECT b.vec_id, b.y,
           |         list_reduce(list_prepend(0.0,
           |           list_transform(list_zip(b.x, (SELECT w FROM w$t)), p -> p[1] * p[2])),
           |           (a, c) -> a + c) AS z
           |  FROM base b),
           |s$t AS (SELECT vec_id, y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS p FROM e$t)""".stripMargin
      }.mkString(",\n")
      register("ir_difficulty_curriculum",
        s"""WITH ${QueriesPipeline.sqlProbeBase(d1)},
           |${QueriesPipeline.sqlProbeIters(d1, epochs, lr)},
           |$epochScores,
           |j AS (SELECT s1.vec_id, s1.y, s1.p AS p1, s2.p AS p2, s3.p AS p3
           |      FROM s1 JOIN s2 USING (vec_id) JOIN s3 USING (vec_id)),
           |conf AS (SELECT vec_id,
           |                ((CASE WHEN y = 1.0 THEN p1 ELSE 1.0 - p1 END)
           |                 + (CASE WHEN y = 1.0 THEN p2 ELSE 1.0 - p2 END)
           |                 + (CASE WHEN y = 1.0 THEN p3 ELSE 1.0 - p3 END)) / 3.0 AS confidence
           |         FROM j),
           |st AS (SELECT min(confidence) AS lo, max(confidence) AS hi FROM conf),
           |staged AS (
           |  SELECT vec_id, confidence,
           |         CASE WHEN hi = lo THEN 0
           |              ELSE least(CAST(floor((hi - confidence)
           |                          / (hi - lo) * $stages) AS BIGINT),
           |                         $stages - 1) END AS stage,
           |         ${QueriesPipeline.sqlMd5Hash64("'carto:' || CAST(vec_id AS VARCHAR)")} AS ck
           |  FROM conf CROSS JOIN st)
           |SELECT row_number() OVER (ORDER BY stage, ck, vec_id) - 1 AS position,
           |       vec_id, stage, confidence
           |FROM staged ORDER BY position""".stripMargin) { (s, dir) =>
      val e = Tables.embeddings(s, dir).withColumn("y", (col("label") < 5).cast("int"))
      val tmp = java.nio.file.Files.createTempDirectory("ir_carto")
      graft.operators.Training.trainLogisticExactTrace(
        e, "vec_id", "embedding", "y", dim, epochs, lr)
        .write.mode("overwrite").parquet(s"$tmp/trace")
      val node = Node.fromJson(
        s"""{"action":"cartography","params":[{"vec":"embedding","label":"y","trace-path":"$tmp/trace"}],
           | "children":[{"action":"curriculum-order",
           |   "params":[{"id":"vec_id","score":"confidence","stages":$stages,"seed":"carto"}],
           |   "children":[{"action":"tap","params":["out"]}]}]}""".stripMargin)
      val out = graft.operators.Materialize(tapOf(node, e)
        .select(col("position"), col("vec_id"), col("stage"), col("confidence"))
        .orderBy("position"))
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      out
      }
    }

    // keep-first exact-substring cut through the IR, on a corpus where
    // every doc has an exact higher-id twin: ownership (per-hash min id)
    // must keep every ORIGINAL intact at its original-corpus cut and
    // empty every COPY of >= minLen tokens — the crispest observable
    // form of the keep-one-copy rule; the oracle replays the whole
    // pipeline on the union
    locally {
      val n = 8
      val tok = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)"
      register("ir_substring_keepfirst",
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
           |docs AS (SELECT doc_id, $tok AS toks FROM corpus),
           |w0 AS (SELECT doc_id, list_transform(${QueriesPipeline.sqlNgrams("toks", n)},
           |                      g -> ${QueriesPipeline.sqlMd5HashMod("g")}) AS hh
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
           |          FROM i2 GROUP BY doc_id, isl),
           |cv AS (SELECT doc_id, list(lo) AS los, list(hi) AS his
           |       FROM cover GROUP BY doc_id)
           |SELECT d.doc_id,
           |       CASE WHEN d.toks IS NULL THEN NULL
           |            ELSE coalesce(array_to_string(
           |       list_filter(d.toks, (t, i) ->
           |         len(list_filter(range(1, len(coalesce(cv.los, CAST([] AS BIGINT[]))) + 1),
           |             s -> i >= cv.los[s] AND i <= cv.his[s])) = 0), ' '), '') END AS text
           |FROM docs d LEFT JOIN cv USING (doc_id) ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
        val d = Tables.documents(s, dir).select("doc_id", "text")
        val corpus = d.unionAll(
          d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        val node = Node.fromJson(
          s"""{"action":"shared-substring-cut",
             | "params":[{"id":"doc_id","text":"text","min-len":$n}],
             | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
        tapOf(node, corpus).select("doc_id", "text").orderBy("doc_id")
      }
    }

    // feed parse WITH event time through the IR: even docs publish via
    // RSS with RFC-822 GMT pubDates, odd via Atom with RFC-3339 Z
    // updated stamps — `feed-urls {parse-times: true}` must recover one
    // ns instant per entry; the oracle computes the expected epoch from
    // the same doc_id arithmetic
    register("ir_feed_times",
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 28 + 1 AS BIGINT) AS d,
        |         CAST(doc_id % 24 AS BIGINT) AS h,
        |         CAST(doc_id % 60 AS BIGINT) AS mi
        |  FROM documents)
        |SELECT 'g' || CAST(doc_id AS VARCHAR) AS entry_id,
        |       epoch_ns(make_timestamp(2024, 3, d, h, mi, 30)) AS time
        |FROM b ORDER BY entry_id""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
        .withColumn("id", col("doc_id").cast("string"))
        .withColumn("day", (pmod(col("doc_id"), lit(28)) + 1).cast("long"))
        .withColumn("hh", lpad(pmod(col("doc_id"), lit(24)).cast("string"), 2, "0"))
        .withColumn("mm", lpad(pmod(col("doc_id"), lit(60)).cast("string"), 2, "0"))
        .withColumn("dd", lpad(col("day").cast("string"), 2, "0"))
      def bodies(even: Boolean): DataFrame = {
        val part = d.filter(pmod(col("doc_id"), lit(2)) === (if (even) 0 else 1))
        val entry =
          if (even)
            concat(lit("<item><link>u"), col("id"),
              lit("</link><title>t</title><pubDate>Fri, "), col("day"),
              lit(" Mar 2024 "), col("hh"), lit(":"), col("mm"),
              lit(":30 GMT</pubDate><guid>g"), col("id"), lit("</guid></item>"))
          else
            concat(lit("<entry><link href=\"u"), col("id"),
              lit("\"/><title>t</title><updated>2024-03-"), col("dd"),
              lit("T"), col("hh"), lit(":"), col("mm"), lit(":30Z"),
              lit("</updated><id>g"), col("id"), lit("</id></entry>"))
        val body = part.withColumn("e", entry)
          .groupBy("source")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"), col("e")))),
            x => x.getField("e")), "").as("es"))
        if (even)
          body.select(concat(lit("<rss version=\"2.0\"><channel>"),
            col("es"), lit("</channel></rss>")).as("xml"))
        else
          body.select(concat(
            lit("<feed xmlns=\"http://www.w3.org/2005/Atom\">"),
            col("es"), lit("</feed>")).as("xml"))
      }
      val node = Node.fromJson(
        """{"action":"feed-urls","params":[{"xml":"xml","parse-times":true}],
          | "children":[{"action":"tap","params":["out"]}]}""".stripMargin)
      tapOf(node, bodies(even = true).unionByName(bodies(even = false)))
        .select(col("entry_id"), col("time"))
        .orderBy("entry_id")
    }
  }
}
