package graft.ir

import graft.conditions.Condition
import graft.model.Event
import graft.operators.{Analytics, Stateless, Windows}
import graft.sinks.FileSink
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import scala.collection.mutable
import scala.util.control.NonFatal

/** Engine context: test-mode gating and the user plugin registry.
  *
  * `testMode` mirrors the reference's `:test-mode?`
  * (`/root/reference/src/clojure/mirabelle/action.clj:692-694, 1710-1751`):
  * taps record, `io` subtrees and sinks are suppressed.
  *
  * `custom` mirrors the custom-action registry resolved at compile time
  * (`stream.clj:29-34`): name → params → DataFrame transform.
  */
final case class EngineCtx(
    testMode: Boolean = false,
    custom: Map[String, Seq[Any] => DataFrame => DataFrame] = Map.empty,
    /** Named outputs for `output!` (reference config-file outputs wired in
      * `stream.clj:69-115`; `output!*` resolves by name or fails,
      * `action.clj:690-719`): name → side-effecting writer. The library
      * ships `file` ([[graft.sinks.FileSink]]) and payload encoders for
      * elasticsearch/pagerduty/prometheus ([[graft.sinks.Encode]]); users
      * register transport wrappers here.
      */
    outputs: Map[String, DataFrame => Unit] = Map.empty,
    /** Pluggable window-aggregation pairs for `aggr-custom` (the
      * reference's user-extensible `keyword->aggr-fn` registry,
      * `action.clj:2285-2374`): name → args → aggregation Column. See
      * [[graft.functions.Aggregators]] for the typed-Aggregator route.
      */
    aggregators: Map[String, Seq[Any] => org.apache.spark.sql.Column] = Map.empty,
    /** reinject! is executed by re-running the target pipeline on the
      * reinjected frame; this bounds pipeline-level cycles (the reference
      * allows true cycles because it is push-per-event; a declarative plan
      * cannot, so depth-capped unrolling is the batch analog —
      * `action.clj:1643-1678`, SURVEY §7.4.2).
      */
    maxReinjectDepth: Int = 4)

/** One file-sink request (reference `output/file.clj:10-50`): JSON lines,
  * path templating ≈ partition columns.
  */
final case class SinkSpec(path: String, partitionFields: Seq[String],
                          datePattern: Option[String])

/** Everything a pipeline run produced: named tap captures (test mode),
  * leaf outputs (frames with no further children), and sink writes that
  * were executed (empty in test mode).
  */
final class StreamResult {
  val taps: mutable.LinkedHashMap[String, DataFrame] = mutable.LinkedHashMap()
  val outputs: mutable.ListBuffer[DataFrame] = mutable.ListBuffer()
  val sinks: mutable.ListBuffer[(SinkSpec, DataFrame)] = mutable.ListBuffer()
  /** `publish!` channels (`action.clj:1983-2005`, `pubsub.clj:5-30`): the
    * in-proc pubsub surface; [[subscribe]] is the websocket subscriber's
    * server-side condition filter (`websocket.clj:47-78`).
    */
  val channels: mutable.LinkedHashMap[String, DataFrame] = mutable.LinkedHashMap()
  /** `output!` sends that were executed (empty in test mode). */
  val outputSends: mutable.ListBuffer[(String, DataFrame)] = mutable.ListBuffer()
  /** Live query handles for sinks attached to streaming frames; the
    * caller owns their lifecycle (await/stop).
    */
  val streamingQueries: mutable.ListBuffer[org.apache.spark.sql.streaming.StreamingQuery] =
    mutable.ListBuffer()
  private[ir] val reinjects: mutable.ListBuffer[(String, DataFrame, Int)] = mutable.ListBuffer()

  def subscribe(channel: String, condition: Condition): DataFrame =
    channels.getOrElse(channel,
        throw new IllegalArgumentException(s"unknown channel '$channel'"))
      .filter(condition.column)

  private[ir] def recordTap(name: String, df: DataFrame): Unit =
    taps(name) = taps.get(name).map(_.unionAll(df)).getOrElse(df)

  private[ir] def recordChannel(name: String, df: DataFrame): Unit =
    channels(name) = channels.get(name).map(_.unionAll(df)).getOrElse(df)
}

/** The IR compiler: `Node => (DataFrame => DataFrame)` per action, plus
  * the tree walk — the Spark analog of the reference's closure compiler
  * (`stream.clj:23-57` + registry `action.clj:3037-3114`). Catalyst is the
  * second compilation stage: compiling only *declares* the plan, so
  * chained IR actions fuse, push down and codegen exactly like hand-written
  * DataFrame code — compile cost is per plan, never per row.
  *
  * A pipeline compiles to a tree of steps over a template input frame.
  * The actions on [[ReplayList]] build only a plan, reading no data and no
  * driver state, so they run once, at compile time; every step that has a
  * side effect (`output!`, `output-file`, `publish!`, `tap`, `reinject!`,
  * the other writers, custom actions and every action not on the list)
  * runs per frame, in tree order. [[run]] compiles against its actual
  * input and runs once: its plans are the interpreter's. A
  * [[StreamRegistry]] compiles each stream once, over an empty placeholder
  * `LocalRelation` with [[graft.model.Event.schema]], and each push swaps
  * its rows into the placeholder leaf of the kept analyzed plans. The
  * swapped plans are marked analyzed, so a push builds one Dataset per
  * effect and runs no Catalyst analysis of its own.
  *
  * `by` is special-cased as in the reference (`stream.clj:38-44`): instead
  * of re-compiling the subtree per fork, the grouping keys are threaded
  * into every downstream windowed/stateful operator — Spark's partitioning
  * replaces fork management.
  */
object Engine {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Run one pipeline over an input frame: compile against the input,
    * then run once. `include` nodes (config-layer snippet reuse,
    * `action.clj:2249-2277`) are expanded before compiling.
    */
  def run(node: Node, input: DataFrame, ctx: EngineCtx = EngineCtx(),
          registry: StreamRegistry = null): StreamResult =
    runExpanded(Node.expandIncludes(node), input, ctx, registry)

  /** [[run]] of a pipeline whose includes are already expanded. */
  private[ir] def runExpanded(expanded: Node, input: DataFrame, ctx: EngineCtx,
                              registry: StreamRegistry): StreamResult = {
    lint(expanded)
    val res = new StreamResult
    compile(expanded, input, Nil, new Compilation(ctx))(
      new Run(res, registry, 0, null, null))
    drainReinjects(ctx, res, registry)
    res
  }

  private def lint(expanded: Node): Unit =
    compositionWarnings(expanded).foreach(w => log.warn(s"pipeline preflight: $w"))

  /** Composition lints run before compiling — warnings for chains
    * that are individually correct but compose into a known footgun.
    * Currently one rule: `split-by-hash` upstream of a decontamination
    * stage. Hash-splitting DOCUMENTS puts near-duplicates of the same
    * page on both sides of the train/bench fence, so exact-shingle
    * decontam then (correctly) flags essentially every duplicated train
    * doc — the whole-chain ×100 probe measured `clean = 0` survivors on
    * a replica-heavy corpus (SCALING.md). The split that composes with
    * decontam is `cluster-split` (near-dup clusters atomic across the
    * fence); `dup-rate-estimate` is the cheap probe for whether a
    * corpus is duplicate-heavy enough to care. Pure function of the
    * tree (spec-pinned); every compile logs each warning at WARN.
    */
  def preflightWarnings(node: Node): Seq[String] = compositionWarnings(Node.expandIncludes(node))

  private def compositionWarnings(expanded: Node): Seq[String] = {
    val decontam = Set("decontam-exact", "decontam-fuzzy", "decontam-overlap")
    def descendants(n: Node): Iterator[Node] =
      n.children.iterator.flatMap(c => Iterator.single(c) ++ descendants(c))
    def walk(n: Node): Seq[String] = {
      val here =
        if (n.action == "split-by-hash") {
          val downstream = descendants(n).map(_.action).filter(decontam).toSeq.distinct
          if (downstream.nonEmpty)
            Seq(s"split-by-hash feeds ${downstream.mkString(", ")}: document-level " +
              "hash splitting puts near-duplicates on both sides of the train/bench " +
              "fence, and decontamination will then flag every duplicated train doc " +
              "(measured clean=0 on a replica-heavy corpus). Use cluster-split for a " +
              "leakage-free fence; probe the corpus with dup-rate-estimate first.")
          else Nil
        } else Nil
      here ++ n.children.flatMap(walk)
    }
    walk(expanded)
  }

  /** Static pipeline validation — the analog of the reference's per-action
    * spec checks at config load (`mspec/valid-action?`, used by every
    * builder). Walks the tree building each node's transform against an
    * empty frame with the given schema: Catalyst's eager analysis
    * surfaces unknown actions, malformed params, unknown fields and type
    * errors per node, WITHOUT executing anything. Returns every problem
    * found, each prefixed with its node path; empty = valid.
    */
  def validate(node: Node,
               spark: org.apache.spark.sql.SparkSession,
               ctx: EngineCtx = EngineCtx(),
               schema: org.apache.spark.sql.types.StructType = graft.model.Event.schema): Seq[String] = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    val errors = Seq.newBuilder[String]
    def fail(at: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse("").linesIterator
        .nextOption().filter(_.nonEmpty).getOrElse(e.getClass.getSimpleName)
      errors += s"$at: $msg"
    }
    def walk(n: Node, path: String, df: DataFrame, keys: Seq[String]): Unit = {
      val at = s"$path/${n.action}"
      def recurse(out: DataFrame, ks: Seq[String] = keys): Unit =
        n.children.foreach(walk(_, at, out, ks))
      n.action match {
        case "sdo" | "async-queue!" | "io" => recurse(df)
        case "by" =>
          try { val ks = pStrs(n.params.head); ks.foreach(df(_)); recurse(df, ks) }
          catch { case e: Throwable => fail(at, e); recurse(df) }
        case "salt" =>
          try {
            val m = n.params.headOption.map(pMap).getOrElse(Map.empty)
            m.get("fields").map(pStrs).getOrElse(Nil).foreach(df(_))
            recurse(df.withColumn("__salt", lit(0)), keys :+ "__salt")
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "split" =>
          try {
            val conds = n.params.map(Condition.parse)
            // interp accepts N children (no default branch) or N+1
            if (n.children.size != conds.size && n.children.size != conds.size + 1)
              errors += s"$at: ${conds.size} conditions need ${conds.size} or ${conds.size + 1} children, got ${n.children.size}"
            conds.foreach(c => df.filter(c.column))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "publish!" => // a channel genuinely needs a name at runtime
          if (n.params.headOption.forall(pStr(_).isEmpty)) errors += s"$at: needs a name"
          recurse(df)
        // tap defaults to "test" and reinject! to "default" at runtime —
        // nameless forms are valid
        case "tap" | "reinject!" | "test-action" => recurse(df)
        case "exception-stream" =>
          if (n.children.size != 2) errors += s"$at: needs [ok, error] children"
          try df(pStr(n.params.head)) catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "custom" =>
          val name = n.params.headOption.map(pStr).getOrElse("")
          if (!ctx.custom.contains(name)) errors += s"$at: unknown custom action '$name'"
          // a plugin may change the schema arbitrarily, so its subtree
          // cannot be statically checked against the input schema —
          // validating it would false-positive on every added column
        case "output!" =>
          val name = n.params.headOption.map(pStr).getOrElse("")
          if (!ctx.outputs.contains(name)) errors += s"$at: Output $name not found"
          recurse(df)
        case "output-file" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path"))
            m.get("fields").map(pStrs).getOrElse(Nil).foreach(df(_))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "output-bucketed" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("table")); pLong(m("buckets"))
            pStrs(m("keys")).foreach(df(_))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "output-warc" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path"))
            df(pStr(m("uri"))); df(pStr(m("date"))); df(pStr(m("payload")))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "output-tfrecord" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path")); df(pStr(m("payload")))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "output-zordered" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path")); require(pLong(m("shards")) >= 1, "shards must be >= 1")
            pStrs(m("cols")).foreach(df(_))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "output-dedup-store" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path")); df(pStr(m("id"))); df(pStr(m("text")))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "output-bm25-index" | "append-bm25-index" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path")); df(pStr(m("id"))); df(pStr(m("text")))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "bm25-query" =>
          // index = runtime artifact; doc_id's type comes from the
          // stored postings when they already exist, long otherwise
          try {
            val m = pMap(n.params.head)
            val qid = df.schema(pStr(m("id"))); df(pStr(m("text")))
            require(pLong(m("k")) >= 1, "bm25-query: k must be >= 1")
            val path = pStr(m("index-path"))
            val docIdType =
              try df.sparkSession.read.parquet(s"$path/postings").schema("id").dataType
              catch { case _: Throwable => org.apache.spark.sql.types.LongType }
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                qid.copy(name = "query_id"),
                org.apache.spark.sql.types.StructField("rank",
                  org.apache.spark.sql.types.LongType, nullable = false),
                org.apache.spark.sql.types.StructField("doc_id", docIdType),
                org.apache.spark.sql.types.StructField("score",
                  org.apache.spark.sql.types.DoubleType)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "output-hilbert" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path")); require(pLong(m("shards")) >= 1, "shards must be >= 1")
            df(pStr(m("x"))); df(pStr(m("y")))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "dedup-delta" =>
          // the signature STORE is a runtime artifact (an earlier
          // output-dedup-store may produce it): check params/columns,
          // declare the output from the operator's own schema constant
          try {
            val m = pMap(n.params.head)
            val id = pStr(m("id")); df(id); df(pStr(m("text"))); pStr(m("store-path"))
            recurse(graft.operators.IncrementalDedup.deltaSchema(id).fields
              .foldLeft(df.select(col(id))) { (acc, f) =>
                if (f.name == id) acc
                else acc.withColumn(f.name, lit(null).cast(f.dataType))
              })
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "dedup-pair-eval" =>
          // the truth pair-list is a runtime artifact (a labeled sample
          // or an exact-join output); the 1-row report schema is the
          // operator's own constant
          try {
            val m = n.params.headOption.map(pMap).getOrElse(Map.empty)
            df(m.get("id1").map(pStr).getOrElse("id1"))
            df(m.get("id2").map(pStr).getOrElse("id2"))
            pStr(m("truth-path"))
            recurse(graft.operators.Dedup.PairEvalSchema.fields
              .foldLeft(df.sparkSession.range(0).select()) { (acc, f) =>
                acc.withColumn(f.name, lit(null).cast(f.dataType)) })
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "dedup-pair-eval-sweep" =>
          try {
            val m = n.params.headOption.map(pMap).getOrElse(Map.empty)
            df(m.get("id1").map(pStr).getOrElse("id1"))
            df(m.get("id2").map(pStr).getOrElse("id2"))
            df(m.get("score").map(pStr).getOrElse("score"))
            pStr(m("truth-path"))
            require(m("thresholds").asInstanceOf[Seq[Any]].nonEmpty,
              "dedup-pair-eval-sweep: empty threshold grid")
            recurse(graft.operators.Dedup.PairEvalSchema.fields
              .foldLeft(df.sparkSession.range(0)
                .select(lit(0.0).as("threshold"))) { (acc, f) =>
                acc.withColumn(f.name, lit(null).cast(f.dataType)) })
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "substring-probe" =>
          // the window-hash store is a runtime artifact; output schema
          // declared from the span-table constant
          try {
            val m = pMap(n.params.head)
            val id = pStr(m("id")); df(id); df(pStr(m("text"))); pStr(m("store-path"))
            recurse(Seq("begin_tok", "end_tok", "n_tokens")
              .foldLeft(df.select(col(id))) { (acc, c) =>
                acc.withColumn(c, lit(null).cast("long")) })
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "output-substring-store" =>
          try {
            val m = pMap(n.params.head)
            pStr(m("path")); df(pStr(m("id"))); df(pStr(m("text")))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "stream" => recurse(df) // declaration wrapper
        case "score-logistic" =>
          // the model ARTIFACT is a runtime input, not a config error:
          // compile/validate must stay total when the path does not exist
          // yet (a train step earlier in the job may produce it) — check
          // the params and the vec column, skip the parquet read
          try {
            val m = pMap(n.params.head)
            df(pStr(m("vec"))); pStr(m("model-path"))
            recurse(df.withColumn(pStr(m("out")), lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "decontam-overlap" =>
          // same artifact rule: the benchmark parquet is a runtime input.
          // Output columns come from the operator's own schema constant —
          // never hand-duplicated here.
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("text"))); pStr(m("bench-path"))
            recurse(graft.operators.Decontam.OverlapSchema.foldLeft(
              df.select(col(pStr(m("id"))))) { case (acc, (name, dt)) =>
              acc.withColumn(name, lit(null).cast(dt))
            })
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "salted-join" =>
          // artifact rule: the small table is a runtime input. Its
          // columns join the schema only when the artifact already
          // exists at validate time; otherwise stay schema-preserving
          try {
            val m = pMap(n.params.head)
            df(pStr(m("key"))); df(pStr(m("id")))
            require(pLong(m("salts")) >= 1, "salted-join: salts must be >= 1")
            val path = pStr(m("small-path"))
            val widened =
              try {
                val small = df.sparkSession.read.parquet(path)
                small.schema.fields.filterNot(f => df.columns.contains(f.name))
                  .foldLeft(df)((acc, f) =>
                    acc.withColumn(f.name, lit(null).cast(f.dataType)))
              } catch { case _: Throwable => df }
            recurse(widened)
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "decontam-fuzzy" =>
          // artifact rule: the bench parquet is a runtime input; the
          // output is the input frame filtered — schema unchanged
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("text"))); pStr(m("bench-path"))
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "decontam-exact" =>
          // same artifact rule as decontam-fuzzy: bench parquet is a
          // runtime input; output = input filtered, schema unchanged
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("text"))); pStr(m("bench-path"))
            m.get("min-hits").foreach { v =>
              require(pLong(v) >= 1, "decontam-exact: min-hits must be >= 1") }
          } catch { case e: Throwable => fail(at, e) }
          recurse(df)
        case "ks-drift" =>
          // artifact rule: the comparison corpus is a runtime input;
          // output from the operator's schema constant
          try {
            val m = pMap(n.params.head)
            df(pStr(m("value"))); pStr(m("other-path"))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Curation.KsDriftSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "vocab-drift" | "vocab-kl" =>
          // artifact rule: the comparison corpus is a runtime input
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pStr(m("other-path"))
            val base = df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Curation.VocabDriftSchema)
            recurse(if (n.action == "vocab-kl")
              base.withColumn("kl_term", lit(0.0)) else base)
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "source-zscores" =>
          try {
            val m = pMap(n.params.head)
            df(pStr(m("group"))); df(pStr(m("value")))
            recurse(df.withColumn("zscore", lit(0.0))
              .withColumn("is_outlier", lit(false)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "psi-report" =>
          // artifact rule: the comparison snapshot is a runtime input
          try {
            val m = pMap(n.params.head)
            df(pStr(m("value")))
            pStr(m("other-path"))
            require(m("edges").asInstanceOf[Seq[Any]].nonEmpty, "psi-report: empty edges")
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Curation.PsiReportSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "kmv-overlap" =>
          // artifact rule: the comparison corpus is a runtime input
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pStr(m("other-path"))
            require(pLong(m("k")) >= 2, "kmv-overlap: k must be >= 2")
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Sketches.KmvOverlapSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "vocab-coverage" =>
          // artifact rule: the vocabulary table is a runtime input; the
          // group column's type carries through from the input frame
          try {
            val m = pMap(n.params.head)
            val g = df(pStr(m("group"))); df(pStr(m("text"))); pStr(m("vocab-path"))
            val schema = org.apache.spark.sql.types.StructType(Seq(
              df.schema(pStr(m("group"))),
              org.apache.spark.sql.types.StructField("n_tokens", org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n_oov", org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("oov_rate", org.apache.spark.sql.types.DoubleType)))
            val _ = g
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "snapshot-diff" =>
          // artifact rule: the old snapshot parquet is a runtime input.
          // Output = key + the operator's own schema constant.
          try {
            val m = pMap(n.params.head)
            df(pStr(m("key"))); df(pStr(m("digest"))); pStr(m("old-path"))
            recurse(graft.operators.Snapshots.DiffSchema.foldLeft(
              df.select(col(pStr(m("key"))))) { case (acc, (name, dt)) =>
              acc.withColumn(name, lit(null).cast(dt))
            })
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "refetch-candidates" =>
          // artifact rule: the capture index parquet is a runtime input
          try {
            val m = pMap(n.params.head)
            df(pStr(m("loc"))); df(pStr(m("lastmod"))); pStr(m("captures-path"))
            recurse(df
              .withColumn("urlkey", lit(null).cast(org.apache.spark.sql.types.StringType))
              .withColumn("last_capture_ts", lit(null).cast(org.apache.spark.sql.types.StringType))
              .withColumn("reason", lit(null).cast(org.apache.spark.sql.types.StringType)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "train-logistic" =>
          // empty-frame totality lives HERE, not in the trainer: probe
          // the params/columns, emit the model schema without running a
          // count over the empty frame (an empty PRODUCTION training
          // frame must stay a loud runtime error)
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("vec"))); df(pStr(m("label"))); pLong(m("dim"))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Training.ModelSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "hard-negatives" | "hard-negatives-bucketed" =>
          // artifact rule: the anchor batch is a runtime input
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("vec"))); df(pStr(m("label")))
            pStr(m("anchors-path")); pLong(m("k"))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Similarity.HardNegSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "el2n-scores" =>
          // probe-model artifact rule: scores append to the input frame
          try {
            val m = pMap(n.params.head)
            df(pStr(m("vec"))); df(pStr(m("label"))); pStr(m("model-path"))
            recurse(df.withColumn("el2n", lit(0.0)).withColumn("grand", lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "prototype-ranks" | "cluster-prune" =>
          // centroid artifact rule: (id, cell, cosine[, proto_rank]) out
          try {
            val m = pMap(n.params.head)
            df(pStr(m("vec"))); pStr(m("centroids-path"))
            if (n.action == "cluster-prune")
              require(pLong(m("per-cluster")) >= 1, "cluster-prune: per-cluster must be >= 1")
            val base = df.select(col(pStr(m("id"))))
              .withColumn("cell", lit(0L)).withColumn("cosine", lit(0.0))
            recurse(if (n.action == "prototype-ranks")
              base.withColumn("proto_rank", lit(0)) else base)
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "kcenter-coreset" =>
          // artifact-free model-sized output; schema from the operator
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("vec")))
            require(pLong(m("k")) >= 1, "kcenter-coreset: k must be >= 1")
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Pruning.KcenterSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "cartography" =>
          // trace artifact rule: stats append to the input frame
          try {
            val m = pMap(n.params.head)
            df(pStr(m("vec"))); df(pStr(m("label"))); pStr(m("trace-path"))
            recurse(df.withColumn("confidence", lit(0.0))
              .withColumn("variability", lit(0.0))
              .withColumn("correct_frac", lit(0.0))
              .withColumn("region", lit("ambiguous")))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "jaccard-join" =>
          try {
            val m = pMap(n.params.head)
            val idf = df.schema(pStr(m("id"))); df(pStr(m("text")))
            val th = pDouble(m("threshold"))
            require(th > 0.0 && th < 1.0, "jaccard-join: threshold must be in (0,1)")
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                idf.copy(name = "id1"), idf.copy(name = "id2"),
                org.apache.spark.sql.types.StructField("jaccard",
                  org.apache.spark.sql.types.DoubleType)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "bootstrap-ci" =>
          try {
            val m = pMap(n.params.head)
            df(pStr(m("val"))); df(pStr(m("id")))
            val groups = pStrs(m("group"))
            require(groups.nonEmpty, "bootstrap-ci: group must be non-empty")
            m.get("alpha").foreach { a =>
              require(pDouble(a) > 0.0 && pDouble(a) < 1.0,
                "bootstrap-ci: alpha must be in (0,1)") }
            m.get("r").foreach { v => require(pLong(v) >= 1, "bootstrap-ci: r must be >= 1") }
            recurse(df.select(groups.map(col): _*)
              .withColumn("n", lit(0L))
              .withColumn("point", lit(0.0))
              .withColumn("ci_lo", lit(0.0))
              .withColumn("ci_hi", lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "winnow-fingerprints" =>
          try {
            val m = pMap(n.params.head)
            val idf = df.schema(pStr(m("id"))); df(pStr(m("text")))
            m.get("k").foreach { v => require(pLong(v) >= 1, "winnow-fingerprints: k must be >= 1") }
            m.get("w").foreach { v => require(pLong(v) >= 1, "winnow-fingerprints: w must be >= 1") }
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                idf,
                org.apache.spark.sql.types.StructField("pos",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("fp",
                  org.apache.spark.sql.types.LongType)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "winnow-candidates" =>
          try {
            val m = pMap(n.params.head)
            val idf = df.schema(pStr(m("id"))); df(pStr(m("text")))
            m.get("min-shared").foreach { v =>
              require(pLong(v) >= 1, "winnow-candidates: min-shared must be >= 1") }
            m.get("max-df").foreach { v =>
              require(pLong(v) >= 2, "winnow-candidates: max-df must be >= 2") }
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                idf.copy(name = "id1"), idf.copy(name = "id2"),
                org.apache.spark.sql.types.StructField("shared",
                  org.apache.spark.sql.types.LongType)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "edit-confirm" =>
          try {
            val m = pMap(n.params.head)
            val idf = df.schema(pStr(m("id"))); df(pStr(m("text")))
            val ms = pDouble(m("min-sim"))
            require(ms >= 0.0 && ms <= 1.0, "edit-confirm: min-sim must be in [0,1]")
            m.get("max-len").foreach { l =>
              require(pLong(l) >= 1, "edit-confirm: max-len must be >= 1") }
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                idf.copy(name = "id1"), idf.copy(name = "id2"),
                org.apache.spark.sql.types.StructField("edit_dist",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("edit_sim",
                  org.apache.spark.sql.types.DoubleType)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "ivfpq-build" | "ivfpq-append" =>
          // sink-like artifact writer: params/columns checked, no IO
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("vec"))); pStr(m("path"))
            recurse(df)
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "opq-build" =>
          // sink-like artifact writer: params/columns checked, no IO
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("vec"))); pStr(m("path"))
            recurse(df)
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "opq-query" =>
          // index artifact rule: fixed (query_id, rank, nn_id, score) out
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("vec"))); pStr(m("index-path"))
            require(pLong(m("k")) >= 1, "opq-query: k must be >= 1")
            recurse(df.select(col(pStr(m("id"))).cast("long").as("query_id"))
              .withColumn("rank", lit(0L))
              .withColumn("nn_id", lit(0L))
              .withColumn("score", lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "ivfpq-query" =>
          // index artifact rule: fixed (query_id, rank, nn_id, score) out
          try {
            val m = pMap(n.params.head)
            df(pStr(m("id"))); df(pStr(m("vec"))); pStr(m("index-path"))
            require(pLong(m("k")) >= 1, "ivfpq-query: k must be >= 1")
            recurse(df.select(col(pStr(m("id"))).cast("long").as("query_id"))
              .withColumn("rank", lit(0L))
              .withColumn("nn_id", lit(0L))
              .withColumn("score", lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "mmr-rerank" =>
          try {
            val m = pMap(n.params.head)
            df(pStr(m("rel"))); df(pStr(m("vec")))
            require(pLong(m("k")) >= 1, "mmr-rerank: k must be >= 1")
            m.get("lambda").foreach { l =>
              require(pDouble(l) >= 0.0 && pDouble(l) <= 1.0,
                "mmr-rerank: lambda must be in [0,1]") }
            // fixed output types: the operator casts query/id to long
            recurse(df.select(col(pStr(m("query"))).cast("long"))
              .withColumn("mmr_rank", lit(0))
              .withColumn(pStr(m("id")), lit(0L))
              .withColumn("mmr_score", lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "pca-train" =>
          // artifact rule: probe params/columns, emit the components
          // schema without running the corpus pass
          try {
            val m = pMap(n.params.head)
            df(pStr(m("vec"))); pLong(m("dim")); pLong(m("k")); pStr(m("path"))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("component",
                  org.apache.spark.sql.types.IntegerType, nullable = false),
                org.apache.spark.sql.types.StructField("eig_val",
                  org.apache.spark.sql.types.DoubleType, nullable = false),
                org.apache.spark.sql.types.StructField("row",
                  org.apache.spark.sql.types.ArrayType(
                    org.apache.spark.sql.types.DoubleType))))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "pca-whiten" | "pca-project" =>
          // the PCA model is a runtime artifact: skip the parquet read
          try {
            val m = pMap(n.params.head)
            df(pStr(m("vec"))); pStr(m("model-path"))
            recurse(df.withColumn(pStr(m("out")),
              array().cast("array<double>")))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "ngram-train" =>
          // artifact rule: writes the model to disk as a side effect;
          // validate probes params/columns and emits the counts schema
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pLong(m("n")); pDouble(m("alpha")); pStr(m("path"))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.NgramLm.CountsSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "ngram-score" =>
          // the LM model is a runtime artifact (an ngram-train step
          // earlier in the job may produce it): skip the parquet read
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); df(pStr(m("id"))); pStr(m("model-path"))
            recurse(df.withColumn("n_scored", lit(0L))
              .withColumn("logprob", lit(0.0))
              .withColumn("cross_entropy", lit(0.0))
              .withColumn("ppl", lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "kn-train" =>
          // same artifact rule as ngram-train
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pStr(m("path"))
            m.get("discount").foreach(pDouble)
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.NgramLm.CountsSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "kn-score" | "sb-score" =>
          // same artifact rule as ngram-score
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); df(pStr(m("id"))); pStr(m("model-path"))
            recurse(df.withColumn("n_scored", lit(0L))
              .withColumn("logprob", lit(0.0))
              .withColumn("cross_entropy", lit(0.0))
              .withColumn("ppl", lit(0.0)))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "bpe-train" =>
          // artifact rule: training runs iterative jobs; validate probes
          // the params/columns and emits the model schema only
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pLong(m("merges"))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.Tokenizer.MergesSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "unigram-train" =>
          // artifact rule: iterative EM jobs; validate probes params and
          // emits the model schema only
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pLong(m("vocab"))
            val mode = m.get("mode").map(pStr).getOrElse("hard")
            require(mode == "hard" || mode == "soft",
              s"unigram-train: mode must be 'hard' or 'soft', got '$mode'")
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("piece",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("logp",
                  org.apache.spark.sql.types.DoubleType, nullable = false)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "unigram-encode" =>
          // the piece table is a runtime artifact: skip the parquet read
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pStr(m("model-path"))
            recurse(df.withColumn(pStr(m("out")), array().cast("array<string>")))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "wordpiece-train" =>
          // artifact rule: training runs iterative jobs; validate probes
          // the params/columns and emits the vocab schema only
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pLong(m("merges"))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              graft.operators.WordPiece.VocabSchema))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "wordpiece-encode" =>
          // the vocab table is a runtime artifact: skip the parquet read
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pStr(m("model-path"))
            recurse(df.withColumn(pStr(m("out")), array().cast("array<string>")))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "bpe-encode" =>
          // the merge table is a runtime artifact (a bpe-train step
          // earlier in the job may produce it): skip the parquet read
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text"))); pStr(m("model-path"))
            recurse(df.withColumn(pStr(m("out")), array().cast("array<string>")))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "cms-topk" | "heavy-hitters" | "hll-distinct" =>
          // eager sketch actions (driver-side collect/head inside the
          // operator): validate probes params and emits the schema only —
          // static validation must never launch Spark jobs
          try {
            val m = pMap(n.params.head)
            df(pStr(m("text")))
            n.action match {
              case "cms-topk" =>
                pLong(m("depth")); pLong(m("width")); pLong(m("k"))
                recurse(df.sparkSession.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("token",
                      org.apache.spark.sql.types.StringType),
                    org.apache.spark.sql.types.StructField("est",
                      org.apache.spark.sql.types.LongType, nullable = false)))))
              case "heavy-hitters" =>
                pLong(m("k"))
                recurse(df.sparkSession.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("token",
                      org.apache.spark.sql.types.StringType),
                    org.apache.spark.sql.types.StructField("cnt",
                      org.apache.spark.sql.types.LongType, nullable = false)))))
              case _ =>
                pLong(m("b"))
                recurse(df.sparkSession.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("m",
                      org.apache.spark.sql.types.LongType, nullable = false),
                    org.apache.spark.sql.types.StructField("n_zero",
                      org.apache.spark.sql.types.LongType, nullable = false),
                    org.apache.spark.sql.types.StructField("est",
                      org.apache.spark.sql.types.DoubleType, nullable = false)))))
            }
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "pagerank" =>
          // eager (the power iteration materializes + collects per
          // round): validate probes params and emits the schema only
          try {
            val m = pMap(n.params.head)
            df(pStr(m("src"))); df(pStr(m("dst")))
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("node",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("rank",
                  org.apache.spark.sql.types.DoubleType, nullable = false)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "hits" =>
          // eager like pagerank: params probed, schema emitted
          try {
            val m = pMap(n.params.head)
            df(pStr(m("src"))); df(pStr(m("dst")))
            m.get("iters").foreach { v => require(pLong(v) >= 1, "hits: iters must be >= 1") }
            recurse(df.sparkSession.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("node",
                  org.apache.spark.sql.types.StringType),
                org.apache.spark.sql.types.StructField("auth",
                  org.apache.spark.sql.types.DoubleType, nullable = false),
                org.apache.spark.sql.types.StructField("hub",
                  org.apache.spark.sql.types.DoubleType, nullable = false)))))
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "doremi-weights" | "doremi-reweight" =>
          // eager (the MW loop collects the model-sized domain stats):
          // validate probes params and emits the schema only
          try {
            val m = pMap(n.params.head)
            df(pStr(m("domain"))); df(pStr(m("loss"))); pDouble(m("ref"))
            n.action match {
              case "doremi-weights" =>
                recurse(df.sparkSession.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("domain",
                      org.apache.spark.sql.types.StringType),
                    org.apache.spark.sql.types.StructField("n",
                      org.apache.spark.sql.types.LongType, nullable = false),
                    org.apache.spark.sql.types.StructField("excess",
                      org.apache.spark.sql.types.DoubleType, nullable = false),
                    org.apache.spark.sql.types.StructField("weight",
                      org.apache.spark.sql.types.DoubleType)))))
              case _ =>
                df(pStr(m("id")))
                recurse(df.withColumn("copy", lit(0L)))
            }
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case "kmv-quantiles" | "kmv-distinct" =>
          // eager KMV faces (driver-side collect inside the operator):
          // validate probes params and emits the schema only
          try {
            val m = pMap(n.params.head)
            pLong(m("k"))
            n.action match {
              case "kmv-quantiles" =>
                df(pStr(m("id"))); df(pStr(m("value"))); pDoubles(m("qs"))
                recurse(df.sparkSession.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("q",
                      org.apache.spark.sql.types.DoubleType, nullable = false),
                    org.apache.spark.sql.types.StructField("value",
                      org.apache.spark.sql.types.DoubleType, nullable = false)))))
              case _ =>
                df(pStr(m("text")))
                recurse(df.sparkSession.createDataFrame(
                  java.util.Collections.emptyList[org.apache.spark.sql.Row](),
                  org.apache.spark.sql.types.StructType(Seq(
                    org.apache.spark.sql.types.StructField("k_kept",
                      org.apache.spark.sql.types.LongType, nullable = false),
                    org.apache.spark.sql.types.StructField("h_k",
                      org.apache.spark.sql.types.LongType, nullable = false),
                    org.apache.spark.sql.types.StructField("est",
                      org.apache.spark.sql.types.DoubleType, nullable = false)))))
            }
          } catch { case e: Throwable => fail(at, e); recurse(df) }
        case _ =>
          val out =
            try applyOp(n.action, n.params, keys, ctx)(df)
            catch { case e: Throwable => fail(at, e); df }
          recurse(out)
      }
    }
    // include expansion itself can fail on config errors (missing file,
    // undefined variable, include cycle) — report, don't throw
    val expanded =
      try Node.expandIncludes(node)
      catch { case e: Throwable => fail("/include", e); null }
    if (expanded != null) walk(expanded, "", empty, Nil)
    errors.result()
  }

  private def drainReinjects(ctx: EngineCtx, res: StreamResult, registry: StreamRegistry): Unit =
    while (res.reinjects.nonEmpty) {
      val (name, df, depth) = res.reinjects.remove(0)
      if (depth > ctx.maxReinjectDepth)
        throw new IllegalStateException(
          s"reinject! exceeded maxReinjectDepth=${ctx.maxReinjectDepth} into stream '$name' (cycle?)")
      // "default" routes like push!: a literally-named stream wins, else
      // every default-flagged stream (stream.clj:260-268, reinject!'s
      // no-target form sends back to the default streams)
      val targets: Seq[Node] = Option(registry) match {
        case Some(reg) =>
          reg.pipeline(name).map(Seq(_)).getOrElse {
            val defaults = if (name == "default") reg.defaults.flatMap(reg.pipeline) else Nil
            if (defaults.nonEmpty) defaults
            else throw new IllegalArgumentException(s"reinject! into unknown stream '$name'")
          }
        case None =>
          throw new IllegalArgumentException(s"reinject! into unknown stream '$name'")
      }
      // a reinjected frame is interpreted: compiled against itself, run
      // once — never bound into a template, so no plan nests a stream's
      // template inside another (or its own)
      targets.foreach(t => compile(t, df, Nil, new Compilation(ctx))(
        new Run(res, registry, depth, null, null)))
    }

  /** Single-partition rule for driver-local frames. A batch frame whose
    * analyzed plan reads only `LocalRelation`s — rows built on the driver,
    * like every pushed frame — comes back with a non-shuffling
    * `Repartition(1)` above each such leaf. One partition satisfies any
    * clustered distribution, so grouped and windowed operators downstream
    * plan no exchange: a push's `by → window → output!` runs as one job of
    * one stage and one task instead of a shuffle's two jobs, three stages
    * and an AQE re-plan between them. Filters and projections still push
    * through the coalesce and fold into the leaf (`ConvertToLocalRelation`).
    * Any other frame — streaming, or reading a file or table anywhere — is
    * returned unchanged. Applied only where a frame reaches a side-effecting
    * writer (`output!`, `output-file`); taps, channels and the recorded
    * sends keep the original frame, so a `publish!` subscriber's filter
    * still evaluates on the driver without a job.
    */
  private[graft] def singlePartitionIfLocal(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else {
      val plan = df.queryExecution.analyzed
      if (!plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) df
      else Bridge.ofPlan(df.sparkSession,
        plan.transformUp { case l: LocalRelation => Repartition(1, shuffle = false, l) })
    }

  // --------------------------------------------------------------------
  // Compiling: a node tree becomes a tree of steps over a template frame.

  /** The actions a compiled stream builds once and replays on every push.
    * Their builders use the plan alone: they read no data and no driver
    * state while building, and read their input once. Routing: `sdo`,
    * `async-queue!`, `by`, `salt`, `split`, `exception-stream`, `io`; the
    * filter, transform, window and `coll-*` families. Left out, so built
    * per frame: `expired` / `not-expired` (a self-join reads the input
    * twice), `debug` / `info` / `error` (read the log level),
    * `aggr-custom` (calls a user aggregator), the per-key scans, and every
    * action a custom action of the same name shadows.
    */
  val ReplayList: Set[String] = Set(
    "sdo", "async-queue!", "by", "salt", "split", "exception-stream", "io",
    "where", "over", "under", "tagged-all",
    "increment", "decrement", "scale", "with", "default", "sdissoc", "keep-keys",
    "rename-keys", "tag", "untag", "sformat", "to-string", "to-base64",
    "from-base64", "from-json", "extract", "iterate-on", "sflatten",
    "fixed-time-window", "sum", "mean", "rate", "top", "bottom", "ratio", "ssort",
    "coalesce", "project", "percentiles", "coll-increase",
    "coll-mean", "coll-sum", "coll-count", "coll-rate", "coll-quotient", "coll-max",
    "coll-min", "coll-top", "coll-bottom", "coll-sort", "coll-where",
    "coll-percentiles")

  /** One compile. `failed`: some node did not compile, and its step only
    * rethrows the error — the result must not be kept.
    */
  private final class Compilation(val ctx: EngineCtx) {
    var failed = false
  }

  /** What a compiled node does for one frame. */
  private type Step = Run => Unit

  /** One frame through a compiled pipeline: where its results go, and how
    * a template becomes this frame. With `rows == null` the templates are
    * the frames (a pipeline compiled against its own input); otherwise
    * every leaf reading the placeholder's `data` reads `rows` instead.
    */
  private final class Run(val res: StreamResult, val registry: StreamRegistry, val depth: Int,
                          placeholder: LocalRelation, rows: Seq[InternalRow]) {
    def frame(template: DataFrame): DataFrame =
      if (rows == null) template
      else Bridge.ofAnalyzedPlan(template.sparkSession, template.queryExecution.analyzed.transformUp {
        case l: LocalRelation if l.data eq placeholder.data => l.copy(data = rows)
      })

    /** This run over templates that already hold its rows. */
    def interpreted: Run = if (rows == null) this else new Run(res, registry, depth, null, null)

    /** The template of a frame built per frame from this run's rows: its
      * analyzed plan with the rows' leaf swapped back to the placeholder.
      * Defined only when the plan reads the rows once, through a leaf with
      * the placeholder's attributes, and nothing but driver-local rows
      * besides.
      */
    def template(out: DataFrame): Option[LogicalPlan] =
      if (rows == null || rows.isEmpty || out.isStreaming) None
      else {
        var reads = 0
        val plan = out.queryExecution.analyzed.transformUp {
          case l: LocalRelation if l.data eq rows =>
            reads += 1
            if (l.output == placeholder.output) placeholder else l.copy(data = placeholder.data)
        }
        if (reads == 1 && plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
            plan.find(_ eq placeholder).nonEmpty) Some(plan)
        else None
      }
  }

  /** A stream compiled over its placeholder; see [[compileStream]]. */
  private[ir] final class Compiled(val spark: SparkSession, placeholder: LocalRelation, root: Step) {
    /** Run one pushed frame, given as the rows of its `LocalRelation`. */
    def run(rows: Seq[InternalRow], ctx: EngineCtx, registry: StreamRegistry): StreamResult = {
      val res = new StreamResult
      root(new Run(res, registry, 0, placeholder, rows))
      drainReinjects(ctx, res, registry)
      res
    }
  }

  /** Compile an include-expanded stream over an empty placeholder
    * `LocalRelation` with [[graft.model.Event.schema]]. Returns the
    * compiled stream and whether to keep it: a node that failed to
    * compile makes every run rethrow its error at that node, and the next
    * push compiles again.
    */
  private[ir] def compileStream(expanded: Node, spark: SparkSession,
                                ctx: EngineCtx): (Compiled, Boolean) = {
    lint(expanded)
    // a fresh empty array: its wrapper is the placeholder's identity, kept
    // by reference by every copy of the leaf in the plans built over it
    val placeholder = LocalRelation(DataTypeUtils.toAttributes(Event.schema),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(new Array[InternalRow](0)))
    val c = new Compilation(ctx)
    val root = compile(expanded, Bridge.ofPlan(spark, placeholder), Nil, c)
    (new Compiled(spark, placeholder, root), !c.failed)
  }

  /** The rows of a frame a compiled stream can run: a batch frame that is
    * a bare `LocalRelation` with [[graft.model.Event.schema]], as every
    * frame built by [[graft.model.Event.frame]] is.
    */
  private[ir] def pushedRows(input: DataFrame): Option[Seq[InternalRow]] =
    input.queryExecution.analyzed match {
      case l: LocalRelation if !l.isStreaming && l.schema == Event.schema => Some(l.data)
      case _ => None
    }

  /** Compile one node over its template input. A node that fails to
    * compile (a bad param, an unknown field or output) becomes a step
    * that rethrows, so a frame still runs every effect before it in tree
    * order and then fails with the error interpretation raised there.
    */
  private def compile(node: Node, in: DataFrame, keys: Seq[String], c: Compilation): Step =
    try compileNode(node, in, keys, c)
    catch { case NonFatal(e) => c.failed = true; _ => throw e }

  /** The children of `n` over `out`; a leaf records `out` as an output. */
  private def subtree(n: Node, out: DataFrame, keys: Seq[String], c: Compilation): Step =
    if (n.children.isEmpty) r => r.res.outputs += r.frame(out)
    else {
      val steps = n.children.map(compile(_, out, keys, c))
      r => steps.foreach(_(r))
    }

  /** The children of a node whose output is built per frame. They compile
    * against that output per frame — except when the output has a
    * template ([[Run.template]]) equal to the previous one: then the
    * children compiled over it are reused, so an identity custom action
    * (a tracing marker, say) costs its call, not a compile of its subtree.
    */
  private def perFrameChildren(n: Node, keys: Seq[String],
                               c: Compilation): (Run, DataFrame) => Unit =
    if (n.children.isEmpty) (r, out) => r.res.outputs += out
    else {
      val kept = new java.util.concurrent.atomic.AtomicReference[(LogicalPlan, Step)]()
      (r, out) => r.template(out) match {
        case Some(plan) =>
          val last = kept.get
          val step =
            if (last != null && last._1 == plan) last._2
            else {
              val sub = new Compilation(c.ctx)
              val s = subtree(n, Bridge.ofPlan(out.sparkSession, plan), keys, sub)
              if (!sub.failed) kept.set((plan, s))
              s
            }
          step(r)
        case None =>
          subtree(n, out, keys, new Compilation(c.ctx))(r.interpreted)
      }
    }

  private def compileNode(rawNode: Node, in: DataFrame, keys: Seq[String],
                          c: Compilation): Step = {
    // #secret params reveal at compile time for the routing ops handled
    // RIGHT HERE (output-file paths, publish!/output! names, custom
    // args, ...) — applyOp deep-unmasks again for the operator params it
    // receives, which is idempotent. The Node TREE stays masked
    // everywhere it is stored or rendered.
    val n = rawNode.copy(params = rawNode.params.map(deepUnmask))
    val ctx = c.ctx
    def children(out: DataFrame, newKeys: Seq[String] = keys): Step = subtree(n, out, newKeys, c)
    // an effect on this node's frame, then the children over the same input
    def effect(f: (Run, DataFrame) => Unit): Step = {
      val next = if (n.children.isEmpty) null else children(in)
      r => {
        val df = r.frame(in)
        f(r, df)
        if (next == null) r.res.outputs += df else next(r)
      }
    }
    // an effect suppressed in test mode (sinks and writers are io-gated)
    def io(f: (Run, DataFrame) => Unit): Step = if (ctx.testMode) children(in) else effect(f)
    // a builder run per frame on that frame
    def perFrame(build: DataFrame => DataFrame): Step = {
      val next = perFrameChildren(n, keys, c)
      r => next(r, build(r.frame(in)))
    }

    n.action match {
      case "sdo" => children(in) // tee: every action already fans to all children

      case "async-queue!" => // hand subtree to a thread pool (action.clj:1680-1708)
        // Spark already schedules the whole DAG across executors, so the
        // reference's explicit thread-pool handoff has no work to do here;
        // the subtree simply continues (params = the queue name, ignored).
        children(in)

      case "by" => // per-key fork → grouping keys for the whole subtree
        children(in, newKeys = pStrs(n.params.head))

      case "salt" => // skew relief: widen downstream grouping with a salt key
        // {"buckets": N, "fields": [...]}: adds a deterministic __salt
        // column (hash of fields mod N — or of the whole row when no
        // fields are given) and appends it to the subtree's grouping keys,
        // splitting one hot key into N partitions. Aggregations over a
        // salted subtree are per (key, salt) — re-aggregate downstream
        // when a single per-key result is needed (standard two-phase agg).
        val m = n.params.headOption.map(pMap).getOrElse(Map.empty)
        val buckets = m.get("buckets").map(pLong).getOrElse(16L)
        val fields = m.get("fields").map(pStrs).getOrElse(Nil)
        val basis = if (fields.nonEmpty) fields.map(col) else in.columns.toSeq.map(col)
        val salted = in.withColumn("__salt", pmod(hash(basis: _*), lit(buckets.toInt)))
        children(salted, newKeys = keys :+ "__salt")

      case "split" => // first-matching-condition routing (action.clj:1109-1161)
        val conds = n.params.map(Condition.parse)
        require(n.children.size == conds.size || n.children.size == conds.size + 1,
          s"split: ${conds.size} conditions need ${conds.size} children (+1 default), got ${n.children.size}")
        val steps = n.children.zipWithIndex.map { case (ch, i) =>
          compile(ch, Stateless.splitBranch(conds, i)(in), keys, c)
        }
        r => steps.foreach(_(r))

      case "tap" | "test-action" => // test capture (action.clj:1724-1751;
        // test-action is the reference's internal recording child,
        // action.clj:391-402 — same semantics under a named tap)
        if (!ctx.testMode) children(in)
        else {
          val name = n.params.headOption.map(pStr).getOrElse("test")
          effect((r, df) => r.res.recordTap(name, df))
        }

      case "publish!" => // in-proc pubsub channel (action.clj:1983-2005)
        val name = pStr(n.params.head)
        effect((r, df) => r.res.recordChannel(name, df))

      case "io" => // side-effect subtree, suppressed in test mode (action.clj:1710-1722)
        if (ctx.testMode) _ => () else children(in)

      case "exception-stream" =>
        // Spark cannot try/catch per row inside a declarative plan
        // (action.clj:1789-1827 wraps the subtree); the batch analog is the
        // bad-record pattern: rows whose marker field came out NULL (e.g. a
        // failed from-json parse) route to the error child with
        // state="error", the rest to the first child.
        require(n.children.size == 2, "exception-stream needs [ok, error] children")
        val field = pStr(n.params.head)
        val ok = compile(n.children.head, in.filter(col(field).isNotNull), keys, c)
        val error = compile(n.children(1),
          in.filter(col(field).isNull).withColumn("state", lit("error")), keys, c)
        r => { ok(r); error(r) }

      case "reinject!" => // queued, drained after the run with a depth cap
        val target = n.params.headOption.map(pStr).getOrElse("default")
        r => r.res.reinjects += ((target, r.frame(in), r.depth + 1))

      case "custom" if ctx.custom.contains("custom") =>
        // a registered action literally NAMED "custom" wins over the
        // indirection — the reference's merge order puts custom-actions
        // over builtins (stream.clj:29-34), and its own test fixtures
        // register :custom as an action name
        val fn = ctx.custom("custom")
        perFrame(df => fn(n.params)(df))

      case "custom" => // user plugin indirection: params = [name, args...]
        val name = pStr(n.params.head)
        val fn = ctx.custom.getOrElse(name,
          throw new IllegalArgumentException(s"unknown custom action '$name'"))
        perFrame(df => fn(n.params.tail)(df))

      case "output!" => // forward to a configured named output (action.clj:690-719)
        val name = pStr(n.params.head)
        if (ctx.testMode) children(in) // "Outputs are automatically discarded in test mode"
        else {
          val out = ctx.outputs.getOrElse(name,
            throw new IllegalArgumentException(s"Output $name not found"))
          val local = singlePartitionIfLocal(in)
          effect { (r, df) =>
            out(r.frame(local))
            r.res.outputSends += ((name, df))
          }
        }

      case "output-file" => // file sink (output/file.clj:10-50); io-gated
        val m = pMap(n.params.head)
        val spec = SinkSpec(
          pStr(m("path")),
          m.get("fields").map(pStrs).getOrElse(Nil),
          m.get("date-pattern").map(pStr))
        val local = singlePartitionIfLocal(in)
        io { (r, df) =>
          if (df.isStreaming) r.res.streamingQueries += FileSink.writeStream(df, spec)
          else FileSink.write(r.frame(local), spec)
          r.res.sinks += ((spec, df))
        }

      case "output-bucketed" => // bucketed managed-table sink; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          FileSink.writeBucketed(df, pStr(m("table")),
            pLong(m("buckets")).toInt, pStrs(m("keys")))
        }

      case "output-warc" => // WARC archive export; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          val recs = df.withColumn("__rec", graft.sources.Warc.recordBytes(
            col(pStr(m("uri"))), col(pStr(m("date"))),
            col(pStr(m("payload")))))
          graft.sources.Warc.writeArchives(recs, "__rec", pStr(m("path")),
            m.get("gzip").forall(_.asInstanceOf[Boolean]))
        }

      case "output-tfrecord" => // TFRecord shard export; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          val recs = df.withColumn("__rec",
            graft.sources.TfRecord.frame(col(pStr(m("payload")))))
          graft.sources.TfRecord.writeShards(recs, "__rec", pStr(m("path")),
            m.get("gzip").exists(_.asInstanceOf[Boolean]))
        }

      case "output-zordered" => // Z-order clustered parquet export; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          graft.sources.Layout.writeZOrdered(df,
            pStrs(m("cols")).map(col), pStr(m("path")),
            pLong(m("shards")).toInt,
            m.get("bits").map(pLong(_).toInt).getOrElse(16))
        }

      case "output-hilbert" => // Hilbert-clustered parquet export; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          graft.sources.Layout.writeHilbertOrdered(df,
            col(pStr(m("x"))), col(pStr(m("y"))), pStr(m("path")),
            pLong(m("shards")).toInt,
            m.get("bits").map(pLong(_).toInt).getOrElse(16))
        }

      case "output-bm25-index" => // persist the BM25 postings index; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          graft.operators.Retrieval.buildBm25Index(df,
            pStr(m("id")), pStr(m("text")), pStr(m("path")),
            m.get("buckets").map(pLong(_).toInt).getOrElse(64))
        }

      case "append-bm25-index" => // delta-append to an existing index; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          graft.operators.Retrieval.appendBm25Index(df,
            pStr(m("id")), pStr(m("text")), pStr(m("path")))
        }

      case "output-dedup-store" => // persist the dedup signature index; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          graft.operators.IncrementalDedup.writeStore(df,
            pStr(m("text")), pStr(m("id")), pStr(m("path")),
            m.get("k").map(pLong(_).toInt).getOrElse(8),
            m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
            m.get("buckets").map(pLong(_).toInt).getOrElse(64))
        }

      case "output-substring-store" => // persist the window-hash store; io-gated
        val m = pMap(n.params.head)
        io { (_, df) =>
          graft.operators.SubstringStore.writeStore(df,
            pStr(m("text")), pStr(m("id")), pStr(m("path")),
            m.get("min-len").map(pLong(_).toInt).getOrElse(50),
            m.get("buckets").map(pLong(_).toInt).getOrElse(64))
        }

      case action if ReplayList(action) && !ctx.custom.contains(action) =>
        children(applyOp(action, n.params, keys, ctx)(in))

      case action => perFrame(applyOp(action, n.params, keys, ctx)(_))
    }
  }

  // --------------------------------------------------------------------
  // Per-action builders: every non-routing operator the library implements
  // (the analog of action->fn, action.clj:3037-3114).
  // --------------------------------------------------------------------

  def applyOp(action: String, rawParams: Seq[Any], keys: Seq[String],
              ctx: EngineCtx): DataFrame => DataFrame = {
    // plan construction is THE use site of every param (the twin of the
    // reference's cloak/unmask inside its output components), so masked
    // values reveal here — recursively, covering conditions, nested
    // seqs, and map values alike. Node trees themselves (logs, getJson,
    // saveTo) keep the mask.
    val params = rawParams.map(deepUnmask)
    // custom actions dispatch BY NAME and OVERRIDE builtins — the
    // reference's `(merge action->fn custom-actions)` lookup order
    // (`stream.clj:29-34`); the explicit `custom` indirection stays for
    // callers that prefer not to shadow.
    ctx.custom.get(action) match {
      case Some(fn) => fn(params)
      case None     => applyOpUnmasked(action, params, keys, ctx)
    }
  }

  private def deepUnmask(p: Any): Any = p match {
    case s: Edn.Secret => deepUnmask(s.reveal)
    case xs: Seq[_]    => xs.map(deepUnmask)
    case m: Map[_, _]  => m.asInstanceOf[Map[Any, Any]]
      .map { case (k, v) => k -> deepUnmask(v) } // ListMap.map keeps order
    case other         => other
  }

  private def applyOpUnmasked(action: String, params: Seq[Any], keys: Seq[String],
              ctx: EngineCtx): DataFrame => DataFrame = action match {
    // §2.2 filters
    case "where"       => Stateless.where(Condition.parse(params.head))
    case "over"        => Stateless.over(pDouble(params.head))
    case "under"       => Stateless.under(pDouble(params.head))
    case "tagged-all"  => Stateless.taggedAll(pStrs(params.head))
    case "expired"     => df => Stateless.expiredBatch(df)
    case "not-expired" => Stateless.notExpiredBatch

    // §2.3 transforms
    case "increment"   => Stateless.increment
    case "decrement"   => Stateless.decrement
    case "scale"       => Stateless.scale(pDouble(params.head))
    case "with"        => Stateless.withFields(pMap(params.head))
    case "default"     => Stateless.default(pStr(params.head), params(1))
    case "sdissoc"     => Stateless.sdissoc(pStrs(params.head))
    case "keep-keys"   => Stateless.keepKeys(pStrs(params.head))
    // toSeq of the ListMap-backed param map: pairs apply in DOCUMENT order
    case "rename-keys" => Stateless.renameKeys(pMap(params.head).toSeq.map { case (k, v) => k -> pStr(v) })
    case "tag"         => Stateless.tag(pStrs(params.head))
    case "untag"       => Stateless.untag(pStrs(params.head))
    case "sformat"     => Stateless.sformat(pStr(params.head), pStr(params(1)), pStrs(params(2)))
    case "to-string"   => Stateless.toStringField(pStr(params.head))
    case "to-base64"   => Stateless.toBase64(pStr(params.head))
    case "from-base64" => Stateless.fromBase64(pStr(params.head))
    case "from-json"   => Stateless.fromJson(pStr(params.head))
    case "extract"     => Stateless.extract(pStr(params.head))
    case "iterate-on"  => Stateless.iterateOn(pStr(params.head), pStr(params(1)))
    case "sflatten"    => Stateless.sflatten(params.headOption.map(pStr).getOrElse("events"))
    case "debug" | "info" | "error" => Stateless.logEvents(action)

    // §2.5 windows (keys = enclosing `by` fork). One builder for both
    // runtimes: the optional "delay" param is the reference's allowed
    // lateness (action.clj:2419-2432) and becomes the watermark delay,
    // which a batch frame ignores.
    case "fixed-time-window" => Windows.fixedTimeWindow(durOf(params), keys, delayOf(params))
    case "sum"    => Windows.sumWindow(durOf(params), keys, delayOf(params))
    case "mean"   => Windows.meanWindow(durOf(params), keys, delayOf(params))
    case "rate"   => Windows.rateWindow(durOf(params), keys, delayOf(params))
    case "top"    => Windows.topWindow(durOf(params), keys, delayOf(params))
    case "bottom" => Windows.bottomWindow(durOf(params), keys, delayOf(params))
    case "aggr-custom" =>
      // pluggable aggregation pair (keyword->aggr-fn registry,
      // action.clj:2285-2374): params = {duration, name, args?, delay?}
      val m = pMap(params.head)
      val name = pStr(m("name"))
      val aggOf = ctx.aggregators.getOrElse(name,
        throw new IllegalArgumentException(s"unknown aggregator '$name'"))
      val argsOf = m.get("args") match {
        case Some(xs: Seq[_]) => xs.toSeq
        case Some(x)          => Seq(x)
        case None             => Nil
      }
      Windows.customWindow(durOf(params), aggOf(argsOf), keys, delayOf(params))
    case "ratio" =>
      val m = pMap(params.head)
      Windows.ratioWindow(pLong(m("duration")), Condition.parse(m("cond1")), Condition.parse(m("cond2")),
        m.get("metric").exists(_ == true), keys, delayOf(params))
    case "ssort" =>
      val m = pMap(params.head)
      Windows.ssort(pLong(m("duration")), pStr(m("field")), keys, delaySeconds = delayOf(params))
    case "coalesce" =>
      val m = pMap(params.head)
      Windows.coalesceWindow(pLong(m("duration")), pStrs(m("fields")), delayOf(params))
    // `project` is one plan for both runtimes: the unwindowed conditional
    // max_by aggregate IS the streaming current-state view — run the sink
    // in update/complete mode (StreamingSpec pins stream == batch).
    case "project"     => Windows.project(params.head.asInstanceOf[Seq[Any]].map(Condition.parse))
    case "percentiles" =>
      // full-event per-quantile output like the reference (action.clj:2845-2929):
      // tumbling window payload + event-identity percentile pick;
      // collPercentiles is a pure post-agg projection
      val m = pMap(params.head)
      val windowed = Windows.fixedTimeWindow(pLong(m("duration")), keys, delayOf(params)) _
      windowed.andThen(Windows.collPercentiles(pDoubles(m("quantiles"))))
    case "coll-increase" => Windows.collIncrease(durOf(params), keys, delayOf(params))

    case "fixed-event-window" => df =>
      // streaming output carries (key, windowId, events) — see Streaming
      if (df.isStreaming) Streaming.fixedEventWindow(sizeOf(params), keys)(df).toDF()
      else Analytics.fixedEventWindow(sizeOf(params), keys)(df)
    case "moving-event-window" => df =>
      if (df.isStreaming)
        Streaming.movingEventWindow(sizeOf(params), keys)(df).toDF().select(col("event.*"), col("events"))
      else Analytics.movingEventWindow(sizeOf(params), keys)(df)
    case "moving-time-window" => df =>
      if (df.isStreaming)
        Streaming.movingTimeWindow(durOf(params), keys)(df).toDF().select(col("event.*"), col("events"))
      else Analytics.movingTimeWindow(durOf(params), keys)(df)
    case "throttle" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.throttle(pLong(m("count")).toInt, pLong(m("duration")), keys)(df).toDF()
        else Analytics.throttle(pLong(m("count")).toInt, pLong(m("duration")), keys)(df).toDF()
    case "stable" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.stable(pLong(m("dt")), pStr(m("field")), keys)(df).toDF()
        else Analytics.stable(pLong(m("dt")), pStr(m("field")), keys)(df)
    case "changed" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.changed(pStr(m("field")), pStr(m("init")), keys)(df).toDF()
        else Analytics.changed(pStr(m("field")), m("init"), keys)(df)
    case "above-dt" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.aboveDt(pDouble(m("threshold")), pLong(m("duration")), keys)(df).toDF()
        else Analytics.aboveDt(pDouble(m("threshold")), pLong(m("duration")), keys)(df)
    case "below-dt" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming) Streaming.belowDt(pDouble(m("threshold")), pLong(m("duration")), keys)(df).toDF()
        else Analytics.belowDt(pDouble(m("threshold")), pLong(m("duration")), keys)(df)
    case "between-dt" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming)
          Streaming.betweenDt(pDouble(m("low")), pDouble(m("high")), pLong(m("duration")), keys)(df).toDF()
        else Analytics.betweenDt(pDouble(m("low")), pDouble(m("high")), pLong(m("duration")), keys)(df)
    case "outside-dt" =>
      val m = pMap(params.head)
      df =>
        if (df.isStreaming)
          Streaming.outsideDt(pDouble(m("low")), pDouble(m("high")), pLong(m("duration")), keys)(df).toDF()
        else Analytics.outsideDt(pDouble(m("low")), pDouble(m("high")), pLong(m("duration")), keys)(df)
    case "cond-dt" =>
      val m = pMap(params.head)
      val cond = Condition.parse(m("condition"))
      df =>
        if (df.isStreaming)
          Streaming.condDt(Condition.evaluator(cond), pLong(m("duration")), keys)(df).toDF()
        else Analytics.condDt(cond, pLong(m("duration")), keys)(df)
    case "sessionize" => Windows.sessionize(pLong(pMap(params.head)("gap")), keys, delayOf(params))
    case "ddt" => df =>
      if (df.isStreaming) Streaming.ddt(keys)(df).toDF() else Analytics.ddt(keys)(df)
    case "ddt-pos" => df =>
      if (df.isStreaming) Streaming.ddt(keys, removeNeg = true)(df).toDF()
      else Analytics.ddtPos(keys)(df)
    case "ewma-timeless" => df =>
      if (df.isStreaming) Streaming.ewmaTimeless(pDouble(params.head), keys)(df).toDF()
      else Analytics.ewmaTimeless(pDouble(params.head), keys)(df).toDF()
    case "smax" => df =>
      if (df.isStreaming) Streaming.smax(keys)(df).toDF() else Analytics.smax(keys)(df)
    case "smin" => df =>
      if (df.isStreaming) Streaming.smin(keys)(df).toDF() else Analytics.smin(keys)(df)

    // §2.6 collection aggregates
    case "coll-mean"     => Windows.collMean
    case "coll-sum"      => Windows.collSum
    case "coll-count"    => Windows.collCount
    case "coll-rate"     => Windows.collRate
    case "coll-quotient" => Windows.collQuotient
    case "coll-max"      => Windows.collMax
    case "coll-min"      => Windows.collMin
    case "coll-top"      => Windows.collTop(pLong(params.head).toInt)
    case "coll-bottom"   => Windows.collBottom(pLong(params.head).toInt)
    case "coll-sort"     => Windows.collSort(pStr(params.head))
    case "coll-where" => Windows.collWhere(Condition.parse(params.head))
    case "coll-percentiles" => Windows.collPercentiles(pDoubles(params.head))

    // training-data pipeline ops (first-class alongside the reference
    // surface): single-input text analysis and dedup as declarable actions
    case "text-tokens" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.tokenCount(col(pStr(params.head))))
    case "text-bpe-tokens" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.bpeTokenCount(col(pStr(params.head))))
    case "text-quality" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.qualityScore(col(pStr(params.head))))
    case "text-entropy" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Quality.tokenEntropy(graft.functions.Text.tokens(col(pStr(params.head)))))
    case "text-langid" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.langId(col(pStr(params.head))))
    case "text-fingerprint" =>
      df => df.withColumn(pStr(params(1)), graft.functions.Text.fingerprint(col(pStr(params.head))))
    case "dedup-exact" =>
      df => graft.operators.Dedup.exact(df, pStr(params.head), pStr(params(1)))
    case "dedup-within-watermark" =>
      // first arrival per key tuple wins. Streaming: horizon-bounded
      // state via dropDuplicatesWithinWatermark; batch (which sees all
      // data at once): deterministic first by (time, eventId)
      val m = pMap(params.head)
      val keys = pStrs(m("keys"))
      val delay = m.get("delay").map(pLong).getOrElse(3600L)
      df =>
        if (df.isStreaming) graft.streaming.Streaming.dedupWithinWatermark(keys, delay)(df)
        else {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*).orderBy(col("time"), col("eventId"))
          df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        }
    case "near-dup-within-watermark" =>
      // MinHash-LSH near-dup against the earliest bucket owner within the
      // horizon; same fold on batch frames (owner = global (ts, id) min)
      val m = pMap(params.head)
      df => graft.streaming.Streaming.nearDupWithinWatermark(
        pStr(m("id")), pStr(m("text")), pStr(m("time")),
        m.get("horizon").map(pLong).getOrElse(3600L),
        m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
        m.get("max-matches-per-bucket").map(pLong(_).toInt)
          .getOrElse(graft.streaming.Streaming.AutoMatchCap))(df).toDF()
    case "dedup-fingerprint" =>
      df => graft.operators.Dedup.byFingerprint(df, pStr(params.head), pStr(params(1)))
    case "dedup-simhash" =>
      df => graft.operators.Dedup.simhash(df, pStr(params.head))
    case "dedup-minhash-lsh" =>
      val m = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Dedup.lshCandidatesAudited(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit)
        pairs
      }
    case "dedup-weighted-lsh" =>
      val m = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Dedup.weightedLshCandidatesAudited(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit)
        pairs
      }
    case "dedup-embedding" =>
      val m = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Dedup.embeddingNearDupBucketedAudited(
          df, pStr(m("id")), pStr(m("vec")),
          threshold = pDouble(m("threshold")),
          bits = m.get("bits").map(pLong(_).toInt).getOrElse(16),
          extraProbes = m.get("probes").map(pLong(_).toInt).getOrElse(0),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit)
        pairs
      }
    // pair list (id1, id2) → (id, cluster) labels via connected
    // components; `dedup-cluster-star` is the older name of the same action
    case "dedup-cluster" | "dedup-cluster-star" =>
      df => graft.operators.Dedup.clusterPairs(df)
    // deterministic sampling / splitting (Sampling.scala)
    case "sample-hash" =>
      val m = pMap(params.head)
      df => graft.operators.Sampling.hashSample(df, pStr(m("id")), pDouble(m("fraction")),
        salt = m.get("salt").map(pStr).getOrElse("sample"))
    case "sample-stratified" =>
      val m = pMap(params.head)
      val fractions = pMap(m("fractions")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Sampling.stratifiedSample(df, pStr(m("strata")), pStr(m("id")),
        fractions, defaultFraction = m.get("default").map(pDouble).getOrElse(1.0),
        salt = m.get("salt").map(pStr).getOrElse("sample"))
    case "split-by-hash" =>
      val m = pMap(params.head)
      val weights = m("weights").asInstanceOf[Seq[Any]].map { w =>
        val wm = pMap(w)
        (pStr(wm("name")), pDouble(wm("weight")))
      }
      df => graft.operators.Sampling.splitByHash(df, pStr(m("id")), weights,
        salt = m.get("salt").map(pStr).getOrElse("split"))
    case "sample-exact-k" =>
      val m = pMap(params.head)
      df => graft.operators.Sampling.sampleExactK(df, pStr(m("group")), pStr(m("id")),
        pLong(m("k")).toInt, salt = m.get("salt").map(pStr).getOrElse("sample"))

    // corpus curation (Curation.scala) and quality scoring as declarable
    // stages over document frames
    case "line-dedup" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.lineDedup(df, pStr(m("id")), pStr(m("text")),
        m.get("line-tokens").map(pLong(_).toInt).getOrElse(7))
    case "dup-ngram-stats" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.duplicateNgramStats(df, pStr(m("text")), pStr(m("id")),
        m.get("n").map(pLong(_).toInt).getOrElse(50)) // RefinedWeb's 50-token rule
    case "dup-ngram-cut" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.cutDuplicateNgrams(df, pStr(m("text")), pStr(m("id")),
        m.get("n").map(pLong(_).toInt).getOrElse(50))
    case "shared-substring-spans" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.sharedSubstringSpans(df, pStr(m("text")), pStr(m("id")),
        m.get("min-len").map(pLong(_).toInt).getOrElse(50), // Lee et al.'s 50-token rule
        keepFirst = m.get("keep-first").exists(_.asInstanceOf[Boolean]))
    case "shared-substring-cut" =>
      val m = pMap(params.head)
      df => graft.operators.Dedup.cutSharedSubstrings(df, pStr(m("text")), pStr(m("id")),
        m.get("min-len").map(pLong(_).toInt).getOrElse(50),
        keepFirst = m.get("keep-first").forall(_.asInstanceOf[Boolean]))
    case "chunk-tokens" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.chunkTokens(df, pStr(m("id")), pStr(m("text")),
        pLong(m("size")).toInt, m.get("overlap").map(pLong(_).toInt).getOrElse(0))
    case "tfidf-topk" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.tfidfTopK(df, pStr(m("id")), pStr(m("text")),
        pLong(m("k")).toInt)
    case "tfidf-cosine-pairs" =>
      val m = pMap(params.head)
      df => graft.operators.Retrieval.tfidfCosinePairs(df, pStr(m("id")), pStr(m("text")),
        pDouble(m("threshold")), pLong(m("max-df")))
    case "cap-per-group" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.capPerGroup(df, pStr(m("group")), pStr(m("order")),
        pStr(m("id")), pLong(m("k")).toInt)
    case "token-budget" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.tokenBudgetSelect(df, pStr(m("group")), pStr(m("score")),
        pStr(m("tokens")), pStr(m("id")), pLong(m("budget")))
    case "token-budget-approx" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.tokenBudgetApprox(df, pStr(m("group")), pStr(m("score")),
        pStr(m("tokens")), pLong(m("budget")),
        buckets = m.get("buckets").map(pLong(_).toInt).getOrElse(1000))
    case "domain-mix" =>
      val m = pMap(params.head)
      val shares = pMap(m("shares")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Curation.domainMix(df, pStr(m("domain")), pStr(m("id")), shares,
        defaultShare = m.get("default").map(pDouble).getOrElse(0.0),
        salt = m.get("salt").map(pStr).getOrElse("mix"))
    case "pack-concat" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.packConcat(df, pStr(m("group")), pStr(m("id")),
        pStr(m("tokens")), pLong(m("seq-len")))
    case "rank-fusion" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.rankFusion(df, pStr(m("id")),
        pStrs(m("signals")), m.get("out").map(pStr).getOrElse("fused_rank"))
    case "pack-boundaries" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.sequenceBoundaries(df, pStr(m("group")),
        pStr(m("id")), pStr(m("tokens")), pLong(m("seq-len")))
    case "pack-nextfit" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.packNextFit(df, pStr(m("group")), pStr(m("id")),
        pStr(m("tokens")), pLong(m("budget")))
    case "pack-bestfit" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.packBestFit(df, pStr(m("group")), pStr(m("id")),
        pStr(m("tokens")), pLong(m("budget")))
    case "shuffle-order" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.shuffleOrder(df, pStr(m("id")),
        m.get("seed").map(pStr).getOrElse("epoch0"))
    case "curriculum-order" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.curriculumOrder(df, pStr(m("id")), pStr(m("score")),
        m.get("stages").map(pLong(_).toInt).getOrElse(4),
        m.get("seed").map(pStr).getOrElse("curriculum"))
    case "vocab-drift" =>
      val m = pMap(params.head)
      df => {
        val other = df.sparkSession.read.parquet(pStr(m("other-path")))
        graft.operators.Curation.vocabDrift(df, other, pStr(m("text")))
      }
    case "vocab-kl" =>
      // same artifact rule as vocab-drift, plus the signed KL terms
      val m = pMap(params.head)
      df => graft.operators.Curation.vocabKl(df,
        df.sparkSession.read.parquet(pStr(m("other-path"))), pStr(m("text")))
    case "source-zscores" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.sourceZscores(df, pStr(m("group")), pStr(m("value")),
        m.get("threshold").map(pDouble).getOrElse(3.0))
    case "psi-report" =>
      val m = pMap(params.head)
      val edges = m("edges").asInstanceOf[Seq[Any]].map(pDouble)
      df => {
        val other = df.sparkSession.read.parquet(pStr(m("other-path")))
        graft.operators.Curation.psiReport(df, other, pStr(m("value")), edges,
          eps = m.get("eps").map(pDouble).getOrElse(1e-6))
      }
    case "kmv-overlap" =>
      val m = pMap(params.head)
      df => {
        val other = df.sparkSession.read.parquet(pStr(m("other-path")))
        graft.operators.Sketches.kmvOverlap(df, other, pStr(m("text")),
          pLong(m("k")).toInt, m.get("seed").map(pStr).getOrElse("kmv"))
      }
    case "vocab-coverage" =>
      val m = pMap(params.head)
      df => {
        val vocab = df.sparkSession.read.parquet(pStr(m("vocab-path")))
        graft.operators.Curation.vocabCoverage(df, pStr(m("group")), pStr(m("text")),
          vocab, tokenCol = m.get("token").map(pStr).getOrElse("token"))
      }
    case "zipf-fit" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.zipfFit(df, pStr(m("text")),
        m.get("min-count").map(pLong).getOrElse(1L))
    case "ngram-diversity" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.ngramDiversity(df, pStr(m("group")), pStr(m("text")),
        m.get("n").map(pLong(_).toInt).getOrElse(2))
    case "interleave-sources" =>
      val m = pMap(params.head)
      val weights = pMap(m("weights")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Curation.interleaveSources(df, pStr(m("source")),
        pStr(m("id")), weights, m.get("seed").map(pStr).getOrElse("interleave"))
    case "classifier-score" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Quality.classifierScore(col(pStr(params.head))))
    case "gopher-signals" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Quality.gopherSignals(col(pStr(params.head))))
    case "pii-redact" =>
      df => df.withColumn(pStr(params(1)),
        graft.functions.Pii.redact(col(pStr(params.head))))
    case "normalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Text.normalize(col(pStr(m("field"))),
          lowercase = m.get("lowercase").exists(_ == true)))
    case "unicode-normalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.UnicodeNormalize(col(pStr(m("field"))),
          m.get("form").map(pStr).getOrElse("NFKC")))
    case "host-edges" =>
      // host -> mentioned-host link edges from plain text
      val m = pMap(params.head)
      df => graft.operators.LinkGraph.hostEdges(df, pStr(m("host")), pStr(m("text")))
    case "anchor-edges" =>
      // host -> anchor-target-host edges from HTML
      val m = pMap(params.head)
      df => graft.operators.LinkGraph.anchorEdges(df, pStr(m("host")), pStr(m("html")))
    case "html-meta" =>
      // rel=canonical target + <title> text as new columns
      val m = pMap(params.head)
      df => {
        val h = col(pStr(m("html")))
        df.withColumn(m.get("canonical-out").map(pStr).getOrElse("canonical"),
            graft.functions.Pii.canonicalTarget(h))
          .withColumn(m.get("title-out").map(pStr).getOrElse("title"),
            graft.functions.Pii.htmlTitle(h))
      }
    case "salted-join" =>
      // hot-key-safe equi-join: big side scattered over salts, the
      // small artifact table replicated once per salt
      val m = pMap(params.head)
      df => {
        val small = df.sparkSession.read.parquet(pStr(m("small-path")))
        graft.operators.Joins.saltedJoin(df, small, pStr(m("key")),
          pLong(m("salts")).toInt, pStr(m("id")))
      }
    case "bm25-query" =>
      // query frame in, ranked results out, against a persisted index
      val m = pMap(params.head)
      df => graft.operators.Retrieval.queryBm25Index(df.sparkSession,
        pStr(m("index-path")), df, pStr(m("id")), pStr(m("text")),
        pLong(m("k")).toInt,
        m.get("k1").map(pDouble).getOrElse(1.2),
        m.get("b").map(pDouble).getOrElse(0.75))
    case "dup-rate-estimate" =>
      // planning probe: reproducible duplicate-rate estimate from a
      // deterministic hash sample
      val m = pMap(params.head)
      df => graft.operators.Dedup.dupRateEstimate(df,
        pStr(m("text")), pStr(m("id")), pDouble(m("fraction")),
        m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
        salt = m.get("salt").map(pStr).getOrElse("dupest"),
        cap = pBucketCap(m))
    case "lsh-cap-plan" =>
      // planning probe: sampled banding -> bucket-size stats ->
      // recommended max-bucket for dedup-minhash-lsh / near-dup-prune
      // (since r14 the ENFORCEMENT default is max-bucket auto; this
      // planner remains the cheap sampled sizing face for hand-set caps)
      val m = pMap(params.head)
      df => graft.operators.Dedup.maxBucketPlan(df,
        pStr(m("text")), pStr(m("id")), pDouble(m("fraction")),
        m.get("k").map(pLong(_).toInt).getOrElse(8),
        m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
        m.get("salt").map(pStr).getOrElse("capplan"),
        m.get("headroom").map(pDouble).getOrElse(4.0))
    case "dedup-lines-consecutive" =>
      // collapse runs of identical lines inside each document
      val m = pMap(params.head)
      df => graft.operators.Curation.dedupConsecutiveLines(df,
        pStr(m("text")), m.get("out").map(pStr).getOrElse("text_dedup"))
    case "ks-drift" =>
      // exact two-sample KS vs a stored snapshot
      val m = pMap(params.head)
      df => graft.operators.Curation.ksDrift(df,
        df.sparkSession.read.parquet(pStr(m("other-path"))),
        pStr(m("value")),
        m.get("partitions").map(pLong(_).toInt).getOrElse(32))
    case "quality-cascade" =>
      // ordered keep-condition stages; first rejector labels the doc.
      // params: [{"stages":[{"name":..., "keep": <condition>}], "mode":"label"|"filter"|"report"}]
      val m = pMap(params.head)
      val stages = m("stages").asInstanceOf[Seq[Any]].map { st =>
        val sm = pMap(st)
        pStr(sm("name")) -> graft.conditions.Condition.compile(
          graft.conditions.Condition.parse(sm("keep")))
      }
      m.get("mode").map(pStr).getOrElse("label") match {
        case "filter" => df => graft.operators.Curation.cascadeFilter(df, stages)
        case "report" => df => graft.operators.Curation.cascadeReport(df, stages)
        case _        => df => graft.operators.Curation.qualityCascade(df, stages)
      }
    case "rank-normalize" =>
      // within-group percent_rank: cross-source-comparable scores
      val m = pMap(params.head)
      df => graft.operators.Curation.rankNormalize(df,
        pStr(m("group")), pStr(m("value")),
        m.get("out").map(pStr).getOrElse("pct_rank"))
    case "keep-top-fraction" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.keepTopFraction(df,
        pStr(m("group")), pStr(m("value")), pDouble(m("fraction")))
    case "preference-pairs" =>
      val m = pMap(params.head)
      df => graft.operators.Training.preferencePairs(df,
        pStr(m("group")), pStr(m("id")), pStr(m("score")),
        m.get("min-gap").map(pDouble).getOrElse(0.0))
    case "best-of-n" =>
      val m = pMap(params.head)
      df => graft.operators.Training.bestOfN(df,
        pStr(m("group")), pStr(m("id")), pStr(m("score")))
    case "dedup-pair-eval" =>
      // truth pairs from a parquet artifact; the stream is the PREDICTED
      // pair list
      val m = pMap(params.head)
      df => graft.operators.Dedup.pairEval(df,
        df.sparkSession.read.parquet(pStr(m("truth-path"))),
        m.get("id1").map(pStr).getOrElse("id1"),
        m.get("id2").map(pStr).getOrElse("id2"))
    case "dedup-pair-eval-sweep" =>
      // the PR-curve face: the stream is the SCORED pair list
      val m = pMap(params.head)
      df => graft.operators.Dedup.pairEvalSweep(df,
        df.sparkSession.read.parquet(pStr(m("truth-path"))),
        m("thresholds").asInstanceOf[Seq[Any]].map(pDouble),
        m.get("id1").map(pStr).getOrElse("id1"),
        m.get("id2").map(pStr).getOrElse("id2"),
        m.get("score").map(pStr).getOrElse("score"))
    case "chunk-sentences" =>
      // boundary-respecting greedy chunking for retrieval
      val m = pMap(params.head)
      df => graft.operators.Curation.chunkSentences(df,
        pStr(m("id")), pStr(m("text")), pLong(m("max-tokens")).toInt)
    case "script-profile" =>
      // per-script character counts + dominant writing script
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("script_profile"),
        graft.functions.Text.scriptProfile(col(pStr(m("text")))))
    case "readability" =>
      // Flesch/FK readability bundle as a struct column
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("readability"),
        graft.functions.Quality.readabilitySignals(col(pStr(m("text")))))
    case "mojibake-repair" =>
      // undo a single UTF-8-as-cp1252 misdecode (map-side replace chain)
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Mojibake.repair(col(pStr(m("field")))))
    case "mojibake-filter" =>
      // drop pages whose encoding-corruption rate exceeds max-score
      val m = pMap(params.head)
      val maxScore = m.get("max-score").map(pDouble).getOrElse(0.001)
      df => df.filter(
        graft.functions.Mojibake.score(col(pStr(m("text")))) <= maxScore)
    case "s-stem" =>
      // Harman plural stemmer on a lowercase-token column
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Text.sStem(col(pStr(m("field")))))
    case "hashing-tf" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.HashingTfExpr(
          graft.functions.Text.tokens(col(pStr(m("field")))),
          pLong(m("dim")).toInt, m.get("seed").map(pStr).getOrElse("htf")))
    case "boilerplate-remove" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.boilerplateRemove(df, pStr(m("id")), pStr(m("text")),
        m.get("line-tokens").map(pLong(_).toInt).getOrElse(7),
        m.get("min-docs").map(pLong(_).toInt).getOrElse(2))
    case "badwords-filter" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.badwordsFilter(df, pStr(m("text")),
        pStrs(m("patterns")),
        caseInsensitive = m.get("case-insensitive").forall(_ == true),
        maxHits = m.get("max-hits").map(pLong).getOrElse(0L))
    case "badwords-redact" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.badwordsRedact(df, pStr(m("text")),
        pStrs(m("patterns")),
        mask = m.get("mask").map(pStr).getOrElse("[REDACTED]"),
        caseInsensitive = m.get("case-insensitive").forall(_ == true),
        out = m.get("out").map(pStr).getOrElse("text_redacted"))
    case "badwords-signal" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.badwordsSignal(df, pStr(m("text")),
        pStrs(m("patterns")),
        caseInsensitive = m.get("case-insensitive").forall(_ == true),
        out = m.get("out").map(pStr).getOrElse("badword_hits"))
    case "domain-blocklist" =>
      val m = pMap(params.head)
      val domains = m("domains").asInstanceOf[Seq[Any]].map(pStr)
      df => {
        val spark = df.sparkSession
        import spark.implicits._
        graft.operators.Curation.domainBlocklistFilter(df, pStr(m("id")), pStr(m("text")),
          domains.toDF("domain"), "domain",
          levels = m.get("levels").map(pLong(_).toInt).getOrElse(3))
      }
    case "random-project" =>
      val m = pMap(params.head)
      df => graft.operators.Similarity.randomProject(df, pStr(m("vec")), pStr(m("out")),
        pLong(m("dim-in")).toInt, pLong(m("dim-out")).toInt,
        m.get("seed").map(pStr).getOrElse("rp"))
    case "l2-normalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.operators.Similarity.l2Normalize(col(pStr(m("vec")))))
    case "strip-html" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Text.stripHtml(col(pStr(m("field"))),
          lowercase = m.get("lowercase").exists(_ == true)))
    case "upsample" =>
      val m = pMap(params.head)
      val shares = pMap(m("weights")).map { case (k, v) => k -> pDouble(v) }
      df => graft.operators.Curation.upsampleByWeight(df, pStr(m("domain")), pStr(m("id")),
        shares, defaultWeight = m.get("default").map(pDouble).getOrElse(1.0),
        salt = m.get("salt").map(pStr).getOrElse("epochs"))
    case "decontam-overlap" =>
      val m = pMap(params.head)
      df => {
        val bench = df.sparkSession.read.parquet(pStr(m("bench-path")))
        graft.operators.Decontam.overlapFraction(df, bench, pStr(m("id")), pStr(m("text")))
      }
    case "decontam-fuzzy" =>
      // drop train docs sharing any MinHash band with any bench doc
      val m = pMap(params.head)
      df => {
        val bench = df.sparkSession.read.parquet(pStr(m("bench-path")))
        graft.operators.Decontam.decontaminateFuzzy(df, bench,
          pStr(m("id")), pStr(m("text")),
          m.get("k").map(pLong(_).toInt).getOrElse(8),
          m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2))
      }
    case "decontam-exact" =>
      // drop train docs whose distinct-shingle overlap with the bench
      // corpus reaches min-hits (GPT-3 app. C's exact-n-gram rule)
      val m = pMap(params.head)
      df => {
        val bench = df.sparkSession.read.parquet(pStr(m("bench-path")))
        graft.operators.Decontam.decontaminate(df, bench,
          pStr(m("id")), pStr(m("text")),
          m.get("min-hits").map(pLong).getOrElse(3L))
      }
    case "gopher-filter" =>
      // keep only docs passing the Gopher quality thresholds — the
      // FILTER face of gopher-signals (which appends the struct)
      df => df.filter(
        graft.functions.Quality.gopherSignals(col(pStr(params.head)))
          .getField("keep") === 1L)
    case "near-dup-prune" =>
      // MinHash-LSH candidates -> star-contraction components -> keep
      // each cluster's canonical (min-id) member; schema-preserving
      val m = pMap(params.head)
      df => {
        val (pruned, audit) = graft.operators.Dedup.pruneNearDupsAudited(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit, connectivityExact = true)
        pruned
      }
    case "vocab-topk" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.vocabTopK(df, pStr(m("text")),
        pLong(m("k")).toInt, m.get("min-count").map(pLong).getOrElse(1L))
    case "frequent-ngrams" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.frequentNgrams(df, pStr(m("id")), pStr(m("text")),
        m.get("n").map(pLong(_).toInt).getOrElse(3),
        m.get("min-docs").map(pLong(_).toInt).getOrElse(2))
    case "train-logistic" =>
      val m = pMap(params.head)
      df => graft.operators.Training.trainLogistic(df, pStr(m("id")), pStr(m("vec")),
        pStr(m("label")), pLong(m("dim")).toInt,
        m.get("epochs").map(pLong(_).toInt).getOrElse(3),
        m.get("lr").map(pDouble).getOrElse(0.5))
    case "score-logistic" =>
      val m = pMap(params.head)
      df => graft.operators.Training.scoreWithWeights(df, pStr(m("vec")),
        graft.operators.Training.loadWeightsCached(df.sparkSession, pStr(m("model-path"))),
        pStr(m("out")))
    case "dedup-delta" =>
      // incremental near-dup dedup against a persisted signature store
      val m = pMap(params.head)
      df => {
        // within-delta stage under the shared guard (connectivity face:
        // capped == unlimited verdicts; audit records the pair-join
        // exemptions the star edges stood in for)
        val (out, audit) = graft.operators.IncrementalDedup.dedupDeltaAudited(df,
          pStr(m("text")), pStr(m("id")), pStr(m("store-path")),
          update = m.get("update").exists(_ == true),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit, connectivityExact = true)
        out
      }
    case "substring-probe" =>
      // incremental exact-substring cut spans against the persisted
      // window-hash store
      val m = pMap(params.head)
      df => graft.operators.SubstringStore.probeDelta(df,
        pStr(m("text")), pStr(m("id")), pStr(m("store-path")))
    case "cluster-cap-sample" =>
      // topic-balanced subsample: at most `cap` docs per k-means cell
      val m = pMap(params.head)
      df => graft.operators.Sampling.clusterBalancedSample(df,
        pStr(m("id")), pStr(m("vec")),
        pLong(m("cells")).toInt, pLong(m("cap")).toInt,
        m.get("iters").map(pLong(_).toInt).getOrElse(0),
        m.get("salt").map(pStr).getOrElse("cbal"))
    case "semantic-dedup" =>
      val m = pMap(params.head)
      df => {
        // mega-CELL guard (r15): cells past max-cell-factor × the
        // expected n/cells size take a linear cosine-verified
        // root-verify instead of the |cell|² self-join; audit-path
        // gets the account like the banded family
        val (out, audit) = graft.operators.Similarity.semanticDedupAudited(
          df, pStr(m("id")), pStr(m("vec")),
          nCells = m.get("cells").map(pLong(_).toInt).getOrElse(0), // 0 = derive ~sqrt(corpus)
          threshold = m.get("threshold").map(pDouble).getOrElse(0.35),
          maxCellFactor = m.get("max-cell-factor").map(pDouble).getOrElse(32.0))
        writeCapAudit(m, df.sparkSession, audit)
        out
      }

    // multimodal plumbing as declarable stages (media frame in, media/
    // feature frame out)
    case "media-decode" => df => graft.operators.Multimodal.decode(df)
    case "media-resize" =>
      val m = pMap(params.head)
      df => graft.operators.Multimodal.resize(df, pLong(m("width")).toInt, pLong(m("height")).toInt)
    case "media-features" =>
      df => graft.operators.Multimodal.featureExtract(df, pLong(pMap(params.head)("dim")).toInt)
    case "media-frame-sample" =>
      df => graft.operators.Multimodal.frameSample(df, pLong(pMap(params.head)("stride")).toInt)
    case "media-image-features" =>
      df => graft.operators.Multimodal.imageFeatureExtract(df, pLong(pMap(params.head)("grid")).toInt)
    case "media-dhash" =>
      df => graft.operators.Multimodal.imageDHash(df)
    case "media-near-dup" =>
      // same default guard as the text LSH family: the all-zero dHash
      // (black frames, decode failures) is the image-side mega-bucket
      val m0 = pMap(params.head)
      df => {
        val (pairs, audit) = graft.operators.Multimodal.imageNearDupAudited(df,
          pLong(m0("max-hamming")).toInt, cap = pBucketCap(m0))
        writeCapAudit(m0, df.sparkSession, audit)
        pairs
      }
    case "media-audio-decode" =>
      df => graft.operators.Multimodal.audioDecode(df)
    case "media-video-decode" =>
      df => graft.operators.Multimodal.videoDecode(df)
    case "media-frame-times" =>
      df => graft.operators.Multimodal.videoFrameTimes(df,
        pDouble(pMap(params.head)("fps")))

    case "hard-negatives" =>
      // anchors arrive as a persisted artifact (the usual mining setup:
      // the anchor batch is produced by an earlier sampling step)
      val m = pMap(params.head)
      df => graft.operators.Similarity.hardNegatives(df,
        df.sparkSession.read.parquet(pStr(m("anchors-path"))),
        pStr(m("id")), pStr(m("vec")), pStr(m("label")), pLong(m("k")).toInt)
    case "hard-negatives-bucketed" =>
      // the web-scale composed miner: same artifact rule, sign-bucket
      // candidate set instead of the full corpus scan
      val m = pMap(params.head)
      df => graft.operators.Similarity.hardNegativesBucketed(df,
        df.sparkSession.read.parquet(pStr(m("anchors-path"))),
        pStr(m("id")), pStr(m("vec")), pStr(m("label")), pLong(m("k")).toInt,
        bits = m.get("bits").map(pLong(_).toInt).getOrElse(16),
        extraProbes = m.get("probes").map(pLong(_).toInt).getOrElse(0))

    // example-selection / data-pruning family (Pruning.scala)
    case "el2n-scores" =>
      // probe-model artifact rule (same as score-logistic): adds
      // el2n + grand map-side under broadcast cached weights
      val m = pMap(params.head)
      df => graft.operators.Pruning.difficultyScoresWithWeights(df,
        pStr(m("vec")), pStr(m("label")),
        graft.operators.Training.loadWeightsCached(df.sparkSession, pStr(m("model-path"))))
    case "prototype-ranks" =>
      // centroid artifact rule (the kmeans-assign discipline)
      val m = pMap(params.head)
      df => graft.operators.Pruning.prototypeRanks(df, pStr(m("id")), pStr(m("vec")),
        graft.operators.Similarity.loadCentroids(df.sparkSession, pStr(m("centroids-path"))))
    case "cluster-prune" =>
      val m = pMap(params.head)
      df => graft.operators.Pruning.clusterPrune(df, pStr(m("id")), pStr(m("vec")),
        graft.operators.Similarity.loadCentroids(df.sparkSession, pStr(m("centroids-path"))),
        pLong(m("per-cluster")).toInt,
        keepHard = m.get("keep-hard").exists(_.asInstanceOf[Boolean]))
    case "kcenter-coreset" =>
      val m = pMap(params.head)
      df => graft.operators.Pruning.kcenterGreedy(df, pStr(m("id")), pStr(m("vec")),
        pLong(m("k")).toInt)
    case "cartography" =>
      // trace artifact rule: the per-epoch weight snapshots come from a
      // persisted trainLogisticExactTrace frame
      val m = pMap(params.head)
      df => graft.operators.Pruning.cartography(df, pStr(m("vec")), pStr(m("label")),
        df.sparkSession.read.parquet(pStr(m("trace-path"))))
    case "mmr-rerank" =>
      // diversity-aware final ranking over a candidate frame
      val m = pMap(params.head)
      df => graft.operators.Retrieval.mmrRerank(df, pStr(m("query")), pStr(m("id")),
        pStr(m("rel")), pStr(m("vec")), pLong(m("k")).toInt,
        m.get("lambda").map(pDouble).getOrElse(0.5))
    case "jaccard-join" =>
      // exact prefix-filtered similarity join (recall 1.0)
      val m = pMap(params.head)
      df => graft.operators.Dedup.jaccardPrefixJoin(df, pStr(m("id")), pStr(m("text")),
        pDouble(m("threshold")))
    case "bootstrap-ci" =>
      // percentile-bootstrap CI of a metric mean per group (Poisson
      // weights — one corpus pass, groups x r exchange)
      val m = pMap(params.head)
      df => graft.operators.Bootstrap.confidenceInterval(df,
        pStr(m("val")), pStr(m("id")), pStrs(m("group")),
        r = m.get("r").map(pLong(_).toInt).getOrElse(100),
        alpha = m.get("alpha").map(pDouble).getOrElse(0.05),
        salt = m.get("salt").map(pStr).getOrElse("bs"))
    case "winnow-fingerprints" =>
      // MOSS winnowing: per-doc local fingerprints (map-side fold)
      val m = pMap(params.head)
      df => graft.operators.Dedup.winnowFingerprints(df, pStr(m("text")), pStr(m("id")),
        k = m.get("k").map(pLong(_).toInt).getOrElse(5),
        w = m.get("w").map(pLong(_).toInt).getOrElse(4))
    case "winnow-candidates" =>
      // shared-fingerprint near-dup pairs (local-overlap complement of LSH)
      val m = pMap(params.head)
      df => graft.operators.Dedup.winnowCandidates(df, pStr(m("text")), pStr(m("id")),
        k = m.get("k").map(pLong(_).toInt).getOrElse(5),
        w = m.get("w").map(pLong(_).toInt).getOrElse(4),
        minShared = m.get("min-shared").map(pLong(_).toInt).getOrElse(2),
        maxDf = m.get("max-df").map(pLong(_).toInt).getOrElse(50))
    case "edit-confirm" =>
      // composed near-dup funnel: LSH candidates -> optional n-gram
      // Jaccard cut (min-jaccard; keeps the quadratic DP off raw LSH
      // bucket collisions) -> bounded Levenshtein alignment confirm
      val m = pMap(params.head)
      df => {
        val kk = m.get("k").map(pLong(_).toInt).getOrElse(8)
        val rpb = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2)
        val mj = m.get("min-jaccard").map(pDouble).getOrElse(0.0)
        val ml = m.get("max-len").map(pLong(_).toInt).getOrElse(512)
        val cap = pBucketCap(m)
        if (mj > 0.0) {
          // fused single-pass funnel: one payload table, two id-joins
          val (out, audit) = graft.operators.Dedup.editConfirmFunnelAudited(
            df, pStr(m("text")), pStr(m("id")),
            minJaccard = mj, minSim = pDouble(m("min-sim")), maxLen = ml,
            k = kk, rowsPerBand = rpb, cap = cap)
          writeCapAudit(m, df.sparkSession, audit)
          out
        } else {
          val (cands, audit) = graft.operators.Dedup.lshCandidatesAudited(
            df, pStr(m("text")), pStr(m("id")), k = kk, rowsPerBand = rpb, cap = cap)
          writeCapAudit(m, df.sparkSession, audit)
          graft.operators.Dedup.editConfirm(df, cands,
            pStr(m("text")), pStr(m("id")), pDouble(m("min-sim")), ml)
        }
      }
    case "cluster-split" =>
      // leakage-free train/val/test: LSH pairs -> star-contraction
      // roots -> hash split of the ROOT (near-dup clusters atomic)
      val m = pMap(params.head)
      df => {
        // the guard's CONNECTIVITY face: over-cap buckets are exempted
        // from the quadratic pair join but contribute linear
        // member→bucket-min star edges with identical connected
        // components — so the split under any cap (auto included)
        // equals the unlimited split exactly; the leakage-free contract
        // survives capping even on organically duplicate-heavy corpora
        val (pairs, audit) = graft.operators.Dedup.lshCandidatesConnectivity(
          df, pStr(m("text")), pStr(m("id")),
          k = m.get("k").map(pLong(_).toInt).getOrElse(8),
          rowsPerBand = m.get("rows-per-band").map(pLong(_).toInt).getOrElse(2),
          cap = pBucketCap(m))
        writeCapAudit(m, df.sparkSession, audit, connectivityExact = true)
        val weights = m("weights").asInstanceOf[Seq[Any]].map { w =>
          val wm = pMap(w)
          (pStr(wm("name")), pDouble(wm("weight")))
        }
        graft.operators.Dedup.clusterAwareSplit(df, pairs, pStr(m("id")), weights,
          salt = m.get("salt").map(pStr).getOrElse("split"))
      }
    case "shrunk-group-means" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.shrunkGroupMeans(df, pStr(m("group")),
        pStr(m("value")), pDouble(m("pseudo-count")))
    case "ivfpq-build" =>
      // sink-like: persist the index (train + encode, cell-partitioned
      // codes) and pass the corpus through unchanged
      val m = pMap(params.head)
      df => {
        graft.operators.Similarity.buildIvfPqIndex(df, pStr(m("id")), pStr(m("vec")),
          pStr(m("path")), m.get("cells").map(pLong(_).toInt).getOrElse(16),
          m.get("m").map(pLong(_).toInt).getOrElse(4),
          m.get("codes").map(pLong(_).toInt).getOrElse(16))
        df
      }
    case "ivfpq-append" =>
      // sink-like: encode the delta against the FROZEN stored model and
      // append its codes; corpus passes through unchanged
      val m = pMap(params.head)
      df => {
        graft.operators.Similarity.appendIvfPqIndex(df, pStr(m("id")), pStr(m("vec")),
          pStr(m("path")))
        df
      }
    case "ivfpq-query" =>
      // the input frame is the query batch; the corpus is the stored index
      val m = pMap(params.head)
      df => graft.operators.Similarity.queryIvfPqIndex(df.sparkSession,
        pStr(m("index-path")), df, pStr(m("id")), pStr(m("vec")),
        pLong(m("k")).toInt, m.get("probes").map(pLong(_).toInt).getOrElse(4))
    case "opq-build" =>
      // sink-like: train the OPQ rotation + codebooks, persist model and
      // flat codes, pass the corpus through unchanged
      val m = pMap(params.head)
      df => {
        graft.operators.Similarity.buildOpqIndex(df, pStr(m("id")), pStr(m("vec")),
          pStr(m("path")), m.get("m").map(pLong(_).toInt).getOrElse(4),
          m.get("codes").map(pLong(_).toInt).getOrElse(16),
          m.get("iters").map(pLong(_).toInt).getOrElse(3))
        df
      }
    case "opq-query" =>
      // input frame = query batch; corpus = the stored flat codes
      val m = pMap(params.head)
      df => graft.operators.Similarity.queryOpqIndex(df.sparkSession,
        pStr(m("index-path")), df, pStr(m("id")), pStr(m("vec")),
        pLong(m("k")).toInt)

    case "url-canonicalize" =>
      val m = pMap(params.head)
      df => df.withColumn(pStr(m("out")),
        graft.functions.Pii.canonicalizeUrl(col(pStr(m("field")))))

    // distributed BPE tokenizer induction
    case "bpe-pair-counts" =>
      val m = pMap(params.head)
      df => graft.operators.Tokenizer.pairCounts(
        graft.operators.Tokenizer.symbolize(
          graft.operators.Tokenizer.wordCounts(df, pStr(m("text")))))
    case "pca-train" =>
      val m = pMap(params.head)
      df => {
        val spark = df.sparkSession
        import spark.implicits._
        val model = graft.operators.Pca.fit(df, pStr(m("vec")),
          pLong(m("dim")).toInt, pLong(m("k")).toInt)
        graft.operators.Pca.saveModel(spark, model, pStr(m("path")))
        model.components.zipWithIndex.map { case (row, r) =>
          (r, model.eigVals(r), row.toSeq)
        }.toSeq.toDF("component", "eig_val", "row")
      }
    case "pca-whiten" =>
      val m = pMap(params.head)
      df => graft.operators.Pca.whiten(df, pStr(m("vec")), pStr(m("out")),
        graft.operators.Pca.loadModel(df.sparkSession, pStr(m("model-path"))),
        m.get("eps").map(pDouble).getOrElse(1e-9))
    case "pca-project" =>
      val m = pMap(params.head)
      df => graft.operators.Pca.project(df, pStr(m("vec")), pStr(m("out")),
        graft.operators.Pca.loadModel(df.sparkSession, pStr(m("model-path"))))
    case "ngram-train" =>
      val m = pMap(params.head)
      df => {
        graft.operators.NgramLm.train(df, pStr(m("text")),
          pLong(m("n")).toInt, pDouble(m("alpha")), pStr(m("path")))
        graft.operators.NgramLm.loadModel(df.sparkSession, pStr(m("path"))).counts
      }
    case "ngram-score" =>
      val m = pMap(params.head)
      df => graft.operators.NgramLm.score(df, pStr(m("text")), pStr(m("id")),
        graft.operators.NgramLm.loadModel(df.sparkSession, pStr(m("model-path"))))
    case "kn-train" =>
      val m = pMap(params.head)
      df => {
        val model = graft.operators.NgramLm.trainKneserNey(df, pStr(m("text")),
          m.get("discount").map(pDouble).getOrElse(0.75))
        graft.operators.NgramLm.saveKneserNey(model, pStr(m("path")))
        model.counts
      }
    case "sb-score" =>
      // reuses the ngram-train artifact (counts + vocab_size; order 2)
      val m = pMap(params.head)
      df => {
        val lm = graft.operators.NgramLm.loadModel(df.sparkSession, pStr(m("model-path")))
        require(lm.n == 2, s"sb-score: needs an order-2 model, got n=${lm.n}")
        graft.operators.NgramLm.scoreStupidBackoff(df, pStr(m("text")), pStr(m("id")),
          lm.counts, lm.vocabSize, m.get("beta").map(pDouble).getOrElse(0.4))
      }
    case "kn-score" =>
      val m = pMap(params.head)
      df => graft.operators.NgramLm.scoreKneserNey(df, pStr(m("text")), pStr(m("id")),
        graft.operators.NgramLm.loadKneserNey(df.sparkSession, pStr(m("model-path"))))
    case "ppl-bucket" =>
      val m = pMap(params.head)
      df => graft.operators.NgramLm.pplBucket(df, pStr(m("id")), pStr(m("ppl")),
        m.get("buckets").map(pStrs).getOrElse(Seq("head", "middle", "tail")))
    case "length-batches" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.lengthBucketBatches(df, pStr(m("id")),
        pStr(m("tokens")), pDoubles(m("edges")).map(_.toLong), pLong(m("max-tokens")))
    case "temperature-mix" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.temperatureMix(df, pStr(m("source")),
        pStr(m("id")), m.get("temperature").map(pDouble).getOrElse(2.0),
        m.get("salt").map(pStr).getOrElse("tmix"))
    case "unimax-mix" =>
      val m = pMap(params.head)
      df => graft.operators.Curation.unimaxMix(df, pStr(m("source")),
        pStr(m("id")), pLong(m("budget")),
        m.get("max-epochs").map(pDouble).getOrElse(4.0),
        m.get("salt").map(pStr).getOrElse("unimax"))
    case "cms-topk" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.cmsTokenCounts(df, pStr(m("text")),
        pLong(m("depth")).toInt, pLong(m("width")).toInt,
        m.get("seed").map(pStr).getOrElse("cms"), pLong(m("k")).toInt)
    case "heavy-hitters" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.heavyHitters(df, pStr(m("text")),
        pLong(m("k")).toInt)
    case "kmv-sample" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.kmvRowSample(df, pStr(m("id")),
        pStr(m("value")), pLong(m("k")).toInt,
        m.get("seed").map(pStr).getOrElse("kmv"))
    case "kmv-quantiles" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.kmvQuantiles(df, pStr(m("id")),
        pStr(m("value")), pLong(m("k")).toInt,
        m.get("seed").map(pStr).getOrElse("kmv"), pDoubles(m("qs")))
    case "kmv-distinct" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.kmvDistinct(df, pStr(m("text")),
        pLong(m("k")).toInt, m.get("seed").map(pStr).getOrElse("kmv"))
    case "pagerank" =>
      val m = pMap(params.head)
      df => graft.operators.LinkGraph.pageRank(df, pStr(m("src")), pStr(m("dst")),
        m.get("iters").map(pLong(_).toInt).getOrElse(10),
        m.get("damping").map(pDouble).getOrElse(0.85))
    case "hits" =>
      // hubs & authorities over an edge frame (eager power iteration)
      val m = pMap(params.head)
      df => graft.operators.LinkGraph.hits(df, pStr(m("src")), pStr(m("dst")),
        m.get("iters").map(pLong(_).toInt).getOrElse(5))
    case "doremi-weights" =>
      val m = pMap(params.head)
      df => graft.operators.Doremi.weights(df, pStr(m("domain")),
        col(pStr(m("loss"))).cast("double"), lit(pDouble(m("ref"))),
        m.get("eta").map(pDouble).getOrElse(1.0),
        m.get("rounds").map(pLong(_).toInt).getOrElse(1),
        m.get("smoothing").map(pDouble).getOrElse(0.0))
    case "doremi-reweight" =>
      val m = pMap(params.head)
      df => graft.operators.Doremi.reweight(df, pStr(m("domain")),
        pStr(m("id")), col(pStr(m("loss"))).cast("double"), lit(pDouble(m("ref"))),
        m.get("eta").map(pDouble).getOrElse(1.0),
        m.get("rounds").map(pLong(_).toInt).getOrElse(1),
        m.get("smoothing").map(pDouble).getOrElse(0.0),
        m.get("salt").map(pStr).getOrElse("doremi"))
    case "hll-registers" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.hllRegisters(df, pStr(m("text")),
        pLong(m("b")).toInt, m.get("seed").map(pStr).getOrElse("hll"))
    case "hll-distinct" =>
      val m = pMap(params.head)
      df => graft.operators.Sketches.hllDistinct(df, pStr(m("text")),
        pLong(m("b")).toInt, m.get("seed").map(pStr).getOrElse("hll"))
    case "bpe-train" =>
      val m = pMap(params.head)
      // batched driver loop by default (exactly equal to sequential;
      // `batch 1` recovers the one-merge-per-job reference path)
      df => graft.operators.Tokenizer.trainBpeBatched(df, pStr(m("text")),
        pLong(m("merges")).toInt,
        m.get("min-pair").map(pLong).getOrElse(2L),
        m.get("batch").map(pLong(_).toInt).getOrElse(16))
    case "bpe-encode" =>
      val m = pMap(params.head)
      df => graft.operators.Tokenizer.encode(df, pStr(m("text")),
        graft.operators.Tokenizer.loadMerges(df.sparkSession, pStr(m("model-path"))),
        pStr(m("out")))
    case "unigram-train" =>
      val m = pMap(params.head)
      val mode = m.get("mode").map(pStr).getOrElse("hard")
      mode match {
        case "hard" =>
          df => graft.operators.UnigramTokenizer.trainDistributed(df, pStr(m("text")),
            pLong(m("vocab")).toInt,
            m.get("max-piece").map(pLong(_).toInt).getOrElse(8),
            m.get("iters").map(pLong(_).toInt).getOrElse(3))
        case "soft" =>
          df => graft.operators.UnigramTokenizer.trainSoftDistributed(df, pStr(m("text")),
            pLong(m("vocab")).toInt,
            m.get("max-piece").map(pLong(_).toInt).getOrElse(8),
            m.get("iters").map(pLong(_).toInt).getOrElse(2))
        case other => throw new IllegalArgumentException(
          s"unigram-train: mode must be 'hard' or 'soft', got '$other'")
      }
    case "unigram-encode" =>
      val m = pMap(params.head)
      df => graft.operators.UnigramTokenizer.encode(df, pStr(m("text")),
        graft.operators.UnigramTokenizer.loadModel(df.sparkSession, pStr(m("model-path"))),
        pStr(m("out")), m.get("max-piece").map(pLong(_).toInt).getOrElse(8))
    case "wordpiece-train" =>
      val m = pMap(params.head)
      // batched driver loop by default (exactly equal to sequential;
      // `batch 1` recovers the one-merge-per-job reference path)
      df => {
        val merges = graft.operators.WordPiece.trainWordPieceBatched(df, pStr(m("text")),
          pLong(m("merges")).toInt,
          m.get("min-pair").map(pLong).getOrElse(2L),
          m.get("batch").map(pLong(_).toInt).getOrElse(16))
        graft.operators.WordPiece.vocabFrame(df, pStr(m("text")), merges)
      }
    case "wordpiece-encode" =>
      val m = pMap(params.head)
      df => graft.operators.WordPiece.encode(df, pStr(m("text")),
        graft.operators.WordPiece.loadVocab(df.sparkSession, pStr(m("model-path"))),
        pStr(m("out")), m.get("unk").map(pStr).getOrElse("[UNK]"))
    case "media-audio-features" =>
      df => graft.operators.Multimodal.audioFeatureExtract(df, pLong(pMap(params.head)("dim")).toInt)
    case "warc-records" =>
      val m = pMap(params.head)
      df => graft.sources.Warc.records(df, pStr(m("bin")))
    case "tfrecord-records" =>
      // framed-shard blobs -> payload rows (CRC-verified, total)
      val m = pMap(params.head)
      df => graft.sources.TfRecord.records(df, pStr(m("bin")))
    case "robots-filter" =>
      val m = pMap(params.head)
      val robots = pMap(m("robots")).map { case (h, v) => h -> pStr(v) }
      df => graft.sources.Robots.filterAllowed(df, pStr(m("uri")), robots,
        m.get("agent").map(pStr).getOrElse("*"))
    case "warc-responses" =>
      val m = params.headOption.map(pMap).getOrElse(Map.empty)
      if (m.get("charset-aware").exists(_.asInstanceOf[Boolean]))
        df => graft.sources.Warc.responsesCharsetAware(df,
          m.get("sniff").map(pLong(_).toInt).getOrElse(2048))
      else
        df => graft.sources.Warc.responses(df)
    case "surt-key" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("urlkey"),
        graft.sources.Cdx.surtKey(col(pStr(m("url")))))
    // Morton z-curve key over integer grid columns (Layout.zValue)
    case "zorder-key" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("z"),
        graft.sources.Layout.zValue(pStrs(m("cols")).map(col),
          m.get("bits").map(pLong(_).toInt).getOrElse(16)))
    // Hilbert curve key over a 2-D integer grid (Layout.hilbertValue)
    case "hilbert-key" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("h"),
        graft.sources.Layout.hilbertValue(col(pStr(m("x"))), col(pStr(m("y"))),
          m.get("bits").map(pLong(_).toInt).getOrElse(16)))
    case "cdx-index" =>
      val m = params.headOption.map(pMap).getOrElse(Map.empty)
      df => graft.sources.Cdx.index(df,
        m.get("uri").map(pStr).getOrElse("target_uri"),
        m.get("date").map(pStr).getOrElse("warc_date"),
        m.get("payload").map(pStr).getOrElse("payload"))
    case "cdx-parse" =>
      val m = params.headOption.map(pMap).getOrElse(Map.empty)
      df => graft.sources.Cdx.parseCdxj(df,
        m.get("line").map(pStr).getOrElse("line"))
    case "feed-urls" =>
      val m = pMap(params.head)
      df => {
        val parsed = graft.sources.Feed.parseFeeds(df, pStr(m("xml")))
        // {"parse-times": true} appends the ns event-time column parsed
        // from the published string (total; null on garbage)
        if (m.get("parse-times").contains(true))
          graft.sources.Feed.withEventTime(parsed)
        else parsed
      }
    case "feed-discovery" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("feed_urls"),
        graft.sources.Feed.discoveryLinks(col(pStr(m("html")))))
    case "sitemap-urls" =>
      val m = pMap(params.head)
      df => graft.sources.Sitemap.parseUrlset(df, pStr(m("xml")))
    case "sitemap-index" =>
      val m = pMap(params.head)
      df => graft.sources.Sitemap.parseIndex(df, pStr(m("xml")))
    case "robots-harvest" =>
      df => graft.sources.Robots.hostBodies(df)
    case "noindex-filter" =>
      val m = pMap(params.head)
      df => graft.sources.Robots.noindexFilter(df, pStr(m("html")),
        m.get("agent").map(pStr).getOrElse("robots"))
    case "meta-robots" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("robots_directives"),
        graft.sources.Robots.metaRobotsDirectives(col(pStr(m("html"))),
          m.get("agent").map(pStr).getOrElse("robots")))
    case "fetch-schedule" =>
      val m = pMap(params.head)
      val robots = pMap(m("robots")).map { case (h, v) => h -> pStr(v) }
      df => graft.sources.Robots.fetchSchedule(df, pStr(m("uri")), robots,
        m.get("agent").map(pStr).getOrElse("*"),
        m.get("default-delay").map(pDouble).getOrElse(1.0))
    case "snapshot-latest" =>
      val m = pMap(params.head)
      df => graft.operators.Snapshots.latest(df, pStr(m("key")), pStr(m("ts")),
        m.get("digest").map(pStr).getOrElse("digest"))
    case "snapshot-diff" =>
      val m = pMap(params.head)
      df => {
        val old = df.sparkSession.read.parquet(pStr(m("old-path")))
        graft.operators.Snapshots.diff(old, df, pStr(m("key")), pStr(m("digest")))
      }
    case "compression-ratio" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("compression_ratio"),
        graft.functions.Compress.compressionRatio(col(pStr(m("text"))),
          m.get("level").map(pLong(_).toInt).getOrElse(6)))
    case "byte-level" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("byte_level"),
        graft.functions.ByteLevel.toByteLevel(col(pStr(m("field")))))
    case "byte-level-decode" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("text"),
        graft.functions.ByteLevel.fromByteLevel(col(pStr(m("field")))))
    case "byte-level-pretokens" =>
      val m = pMap(params.head)
      df => df.withColumn(m.get("out").map(pStr).getOrElse("pretokens"),
        graft.functions.ByteLevel.pretokens(col(pStr(m("text")))))
    case "mirror-pairs" =>
      val m = pMap(params.head)
      df => graft.operators.Snapshots.mirrorPairs(df, pStr(m("host")),
        pStr(m("digest")),
        m.get("min-shared").map(pLong).getOrElse(2L),
        m.get("max-hosts").map(pLong(_).toInt).getOrElse(16))
    case "refetch-candidates" =>
      val m = pMap(params.head)
      df => {
        val caps = df.sparkSession.read.parquet(pStr(m("captures-path")))
        graft.operators.Snapshots.refetchCandidates(df, pStr(m("loc")),
          pStr(m("lastmod")), caps,
          m.get("key").map(pStr).getOrElse("urlkey"),
          m.get("ts").map(pStr).getOrElse("ts"))
      }

    case other => throw new IllegalArgumentException(s"unknown action '$other'")
  }

  // ---------------- param coercion ----------------

  // NOTE: params reaching the coercers have already been deep-unmasked
  // by applyOp (the single #secret reveal funnel).
  private def pStr(p: Any): String = p.toString.stripPrefix(":")
  private def pDouble(p: Any): Double = p.asInstanceOf[Number].doubleValue()
  private def pLong(p: Any): Long = p.asInstanceOf[Number].longValue()
  private def pStrs(p: Any): Seq[String] = p match {
    case s: Seq[_] => s.map(x => pStr(x))
    case single    => Seq(pStr(single))
  }
  private def pDoubles(p: Any): Seq[Double] =
    p.asInstanceOf[Seq[Any]].map(pDouble)
  private def pMap(p: Any): Map[String, Any] =
    p.asInstanceOf[Map[String, Any]].map { case (k, v) => k.stripPrefix(":") -> v }
  /** Shared mega-bucket guard spec for the LSH-composing actions
    * (`dedup-minhash-lsh`, `near-dup-prune`, `cluster-split`,
    * `edit-confirm`). `max-bucket` accepts an int (fixed cap),
    * `"unlimited"` (the pre-r14 opt-out), or `"auto"` — and DEFAULTS to
    * auto: resolve the cap from the corpus's exact bucket-size
    * histogram under a `pairs-per-doc` emission budget (default 32,
    * `cap-floor` 16; [[graft.operators.Dedup.solveBucketCap]]). Clean
    * corpora resolve to unlimited (bit-identical to the old default);
    * adversarial mega-bucket corpora get a bounded run instead of a
    * quadratic blow-up — the naive 100 TB user now gets the path that
    * SURVIVES, and can still opt out explicitly.
    */
  private def pBucketCap(m: Map[String, Any]): graft.operators.Dedup.BucketCap = {
    import graft.operators.Dedup.BucketCap
    def auto = BucketCap.Auto(
      pairsPerDoc = m.get("pairs-per-doc").map(pDouble).getOrElse(32.0),
      floor = m.get("cap-floor").map(pLong(_).toInt).getOrElse(16))
    m.get("max-bucket") match {
      case None => auto
      case Some(s: String) if pStr(s) == "auto" => auto
      case Some(s: String) if pStr(s) == "unlimited" => BucketCap.Unlimited
      case Some(v) => BucketCap.fromInt(pLong(v).toInt)
    }
  }

  /** Optional `audit-path` side output for the guard's [[graft.operators
    * .Dedup.LshAudit]] row — one tiny parquet a production run can join
    * into its run report, so "no near-dups" and "near-dups exempted by
    * cap" are distinguishable without scraping driver logs.
    *
    * `on-excluded: "fail"` upgrades the exclusion WARN to a hard error:
    * a run whose default-auto guard actually dropped buckets aborts
    * instead of producing a silently-approximate pair list — the
    * reproducibility stance for pipelines whose downstream cannot
    * tolerate the cap (default stays `"warn"`). Connectivity-face
    * actions (`cluster-split`, `near-dup-prune`) are exempt even under
    * `"fail"`: their star edges make the capped result EXACT, so an
    * exclusion there is a cost win, not an approximation.
    */
  private def writeCapAudit(m: Map[String, Any],
                            spark: org.apache.spark.sql.SparkSession,
                            audit: Option[graft.operators.Dedup.LshAudit],
                            connectivityExact: Boolean = false): Unit = {
    for (p <- m.get("audit-path").map(pStr); a <- audit)
      a.toDF(spark).coalesce(1).write.mode("overwrite").parquet(p)
    if (!connectivityExact &&
        m.get("on-excluded").map(pStr).contains("fail"))
      for (a <- audit; if a.excludedBuckets > 0)
        throw new IllegalStateException(
          s"mega-bucket guard excluded ${a.excludedBuckets} band buckets / " +
            s"${a.excludedMembers} member rows (resolved cap ${a.resolvedMaxBucket}, " +
            s"largest bucket ${a.largestBucket}) and on-excluded=fail — " +
            "raise pairs-per-doc, set max-bucket explicitly, or drop on-excluded")
  }

  private def durOf(params: Seq[Any]): Long = pLong(pMap(params.head)("duration"))
  private def sizeOf(params: Seq[Any]): Int = pLong(pMap(params.head)("size")).toInt
  private def delayOf(params: Seq[Any]): Long =
    params.headOption.map(pMap).flatMap(_.get("delay")).map(pLong).getOrElse(0L)
}

/** Named-pipeline registry — the analog of the reference's stream registry
  * + `stream`/`streams` declarations (`action.clj:1829-1850`,
  * `stream.clj:129-143` reload, `stream.clj:276-296` dynamic add/remove).
  * Thread-safe; pipelines are plain [[Node]] data, so list/add/remove is a
  * control-plane operation, not a recompile of the engine.
  *
  * Each stream is compiled once ([[Engine]]), at the first push that can
  * use the compiled form, and kept until the stream is re-added or
  * removed; its includes are expanded when it is registered. A push runs
  * against the stream entry it found when it started, so a re-add never
  * mixes two pipelines in one push.
  */
final class StreamRegistry(ctx: EngineCtx = EngineCtx()) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One registered stream: its document, its pipeline with includes
    * expanded at registration, and its compiled form once built. A failed
    * expansion is not kept: it is retried, and fails again, at every use.
    */
  private final class Registered(val node: Node, val default: Boolean) {
    private val expandedAtAdd = scala.util.Try(Node.expandIncludes(node))
    def pipeline: Node = expandedAtAdd.getOrElse(Node.expandIncludes(node))
    val compiled = new java.util.concurrent.atomic.AtomicReference[Engine.Compiled]()
  }

  private val streams = new scala.collection.concurrent.TrieMap[String, Registered]()
  private val compileCount = new java.util.concurrent.atomic.AtomicLong()

  def add(name: String, pipeline: Node, default: Boolean = false): Unit = synchronized {
    // names arrive from JSON documents (the HTTP add-stream analog) and
    // become file names in saveTo — refuse anything that could escape the
    // persistence directory or fail to round-trip through loadFrom
    require(name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
      !name.contains("..") && name != "." ,
      s"invalid stream name '$name': must be non-empty, no path separators or '..'")
    streams.put(name, new Registered(pipeline, default))
  }
  /** Unregister a stream. Also forgets any directory-load record for the
    * name, so a later [[reloadFrom]] treats a still-present file as a
    * fresh ADD (directory = source of truth, the reference's reload
    * contract) instead of inconsistently resurrecting the stream only
    * when the file's bytes happened to change.
    *
    * Mutations share [[reloadFrom]]'s monitor: a SIGHUP reload racing a
    * concurrent HTTP remove/add can no longer interleave between the
    * reload's dirDocs snapshot and its re-registration (which could
    * resurrect a just-removed stream or drop a just-added dir record).
    */
  def remove(name: String): Unit = synchronized {
    streams.remove(name)
    dirDocs.remove(name); dirOrigin.remove(name)
  }
  def get(name: String): Option[Node] = streams.get(name).map(_.node)

  /** A stream's pipeline as it runs: includes expanded. */
  private[ir] def pipeline(name: String): Option[Node] = streams.get(name).map(_.pipeline)

  /** Export a stream's full document as JSON (the HTTP API's
    * `get-stream`, which returns the stored config —
    * `handler.clj:64-72`); round-trips through [[addJson]].
    */
  def getJson(name: String): Option[String] = streams.get(name).map(s => Node.toJson(doc(name, s)))

  private def doc(name: String, s: Registered): Node =
    Node("stream", Seq(Map("name" -> name, "default" -> s.default)), Seq(s.node))

  def list: Seq[String] = streams.keySet.toSeq.sorted

  /** Streams flagged `default: true` — the ones that receive events not
    * addressed to a specific stream (reference `stream.clj:260-268`).
    */
  def defaults: Seq[String] = streams.collect { case (n, s) if s.default => n }.toSeq.sorted

  /** The reference's `push!` routing (`stream.clj:260-275`): input
    * addressed to `"default"` runs through every default-flagged stream;
    * a named stream runs alone, and an unknown name is an error
    * ("Stream %s not found").
    */
  def push(input: DataFrame, stream: String = "default"): Map[String, StreamResult] =
    if (stream == "default") defaults.map(n => n -> run(n, input)).toMap
    else if (streams.contains(stream)) Map(stream -> run(stream, input))
    else throw new IllegalArgumentException(s"Stream $stream not found")

  /** Load `{"streams": [{"action":"stream","params":[{"name":...}],
    * "children":[...]}]}` documents (one child pipeline per stream; several
    * children are teed via an implicit `sdo`).
    */
  def addJson(json: String): Seq[String] =
    Node.manyFromJson(json).map(addStreamNode)

  /** Load a reference-shaped EDN stream file (the format `read-edn-dirs`
    * consumes, `stream.clj:154-166`): a top-level map of
    * `{:name {:actions {...} :default bool}}` entries — the migration
    * path for existing reference stream configs. See [[Edn]].
    */
  def addEdn(text: String): Seq[String] =
    Edn.streamDocs(text).map(addStreamNode)

  /** (name, default-flag, pipeline) of a `stream` document node. */
  private def parseStreamNode(n: Node): (String, Boolean, Node) =
    StreamRegistry.streamMeta(n)

  def addStreamNode(n: Node): String = {
    val (name, default, pipeline) = parseStreamNode(n)
    add(name, pipeline, default)
    name
  }

  /** Run a registered pipeline over an input frame. A pushed frame (see
    * [[Engine.pushedRows]]) runs through the stream's compiled form; any
    * other frame is compiled against and run once.
    */
  def run(name: String, input: DataFrame): StreamResult = {
    val s = streams.getOrElse(name,
      throw new IllegalArgumentException(s"unknown stream '$name'"))
    Engine.pushedRows(input) match {
      case Some(rows) => compiled(s, input.sparkSession).run(rows, ctx, this)
      case None       => Engine.runExpanded(s.pipeline, input, ctx, this)
    }
  }

  /** The stream's kept compiled form, compiling it when there is none
    * for this session. A compile with a failed node is not kept.
    */
  private def compiled(s: Registered, spark: org.apache.spark.sql.SparkSession): Engine.Compiled = {
    def kept = Option(s.compiled.get).filter(_.spark eq spark)
    kept.getOrElse(s.synchronized {
      kept.getOrElse {
        val (c, keep) = Engine.compileStream(s.pipeline, spark, ctx)
        if (keep) { s.compiled.set(c); compileCount.incrementAndGet() }
        c
      }
    })
  }

  /** Stream compiles kept since this registry was made
    * (`graft_stream_compiles_total`): one per stream and registration
    * that was pushed to.
    */
  def compiles: Long = compileCount.get()

  /** Registered streams that hold a compiled form. */
  private[graft] def compiledStreams: Int = streams.values.count(_.compiled.get != null)

  /** Persist every registered stream as `<dir>/<name>.json` — the analog
    * of the reference's `add-stream` `:persist` flag, which writes the
    * stream config into the streams directory so dynamically-added
    * streams survive a restart (`stream.clj:276-296`).
    *
    * Streams loaded from a DIFFERENT directory are skipped: with a
    * multi-directory config, persisting a tail-dir stream into the head
    * dir would make the next boot load the same name from two places,
    * and a later reload diff would attribute it to whichever parsed
    * last. Dir-loaded streams already have a file; only dynamic ones
    * (and this dir's own, possibly HTTP-updated, streams) are written.
    */
  def saveTo(dir: String): Unit = synchronized {
    val d = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(d)
    streams.foreach { case (name, s) =>
      if (dirOrigin.get(name).exists(_ != normPath(dir))) {
        log.warn(s"[registry] stream '$name' came from " +
          s"'${dirOrigin(name)}' — not persisted into '$dir' (its own file is the source of truth)")
      } else persistOne(d, name, s)
    }
  }

  private def persistOne(d: java.nio.file.Path, name: String, s: Registered): Unit = {
    // a #secret value serializes as its MASK (Node.toJson) — the
    // persisted copy cannot round-trip the secret. Warn loudly so the
    // operator keeps the EDN source of truth instead of silently
    // rebooting the stream with the literal mask string as the value.
    if (hasSecret(s.node))
      log.warn(s"[registry] stream '$name' contains #secret values: " +
        "persisted copy is REDACTED and will not run correctly if reloaded — " +
        "keep the original EDN file as the source of truth")
    java.nio.file.Files.writeString(d.resolve(s"$name.json"), Node.toJson(doc(name, s)))
  }

  private def hasSecret(n: Node): Boolean = StreamRegistry.hasSecret(n)

  /** Load every `*.json` and `*.edn` stream document from a directory
    * (boot-time reload, `stream.clj:129-143`; the reference's directories
    * hold EDN — accepting both lets a migrating user point this at their
    * existing streams directory unchanged). Returns the loaded names.
    */
  def loadFrom(dir: String): Seq[String] = synchronized {
    parseDir(dir).map { n =>
      val name = addStreamNode(n)
      dirDocs.put(name, n)
      dirOrigin.put(name, normPath(dir))
      name
    }
  }

  /** The last directory-loaded stream documents, by name — the analog of
    * the reference's `streams-configurations`, which `reload` diffs the
    * re-read directory against. Streams added dynamically (addJson /
    * add-stream without persist) are absent here, so a reload never
    * touches them — exactly the reference's merge semantics
    * (`stream.clj:227-259`: to-remove is computed from the OLD directory
    * config, not from the compiled set).
    */
  private val dirDocs = new scala.collection.concurrent.TrieMap[String, Node]()

  /** Which directory (normalized absolute path) each dir-loaded stream
    * came from — lets [[saveTo]] refuse to clone a tail-dir stream into
    * another directory's persistence file.
    */
  private val dirOrigin = new scala.collection.concurrent.TrieMap[String, String]()

  private def normPath(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Parse every `*.json` / `*.edn` stream document in `dir` without
    * touching the registry.
    */
  private def parseDir(dir: String): Seq[Node] = StreamRegistry.parseDirDocs(dir)

  /** Outcome of a [[reloadFrom]] diff (reference `new-config`,
    * `stream.clj:129-143`: to-add / to-reload / to-remove, plus the
    * unchanged set this implementation leaves untouched).
    */
  final case class ReloadResult(added: Seq[String], reloaded: Seq[String],
                                removed: Seq[String], unchanged: Seq[String])

  /** Diff-based hot reload — the SIGHUP / API-triggered `reload`
    * (`stream.clj:227-259`, `core.clj:136-143`): re-read the streams
    * directory and apply only the delta. Streams whose document is
    * byte-identical (structural `Node` equality — documents are plain
    * data) are NOT re-registered, so their registered pipeline keeps its
    * node identity (and anything keyed off it — running queries, caches —
    * is undisturbed); removed files unregister their streams; new or
    * changed documents (re)register. Dynamically-added streams that never
    * came from the directory are never removed by a reload.
    */
  def reloadFrom(dir: String): ReloadResult = reloadFrom(Seq(dir))

  /** Multi-directory reload: the reference's `streams-directories` is a
    * LIST (`read-edn-dirs` merges them); diffing against the merged
    * listing means a reload never mistakes another directory's streams
    * for removed ones.
    */
  def reloadFrom(dirs: Seq[String]): ReloadResult = synchronized {
    val parsed = dirs.flatMap(d => parseDir(d).map(n => parseStreamNode(n)._1 -> (n, d)))
    val newDocs = scala.collection.immutable.ListMap(parsed: _*)
    val old = dirDocs.snapshot()
    val removed = (old.keySet -- newDocs.keySet).toSeq.sorted
    removed.foreach(remove) // remove() also forgets the dir record
    val added = scala.collection.mutable.ListBuffer[String]()
    val reloaded = scala.collection.mutable.ListBuffer[String]()
    val unchanged = scala.collection.mutable.ListBuffer[String]()
    newDocs.foreach { case (name, (doc, dir)) =>
      dirOrigin.put(name, normPath(dir)) // a file may have moved dirs
      old.get(name) match {
        case Some(prev) if prev == doc => unchanged += name
        case prev =>
          addStreamNode(doc)
          dirDocs.put(name, doc)
          if (prev.isEmpty) added += name else reloaded += name
      }
    }
    ReloadResult(added.toSeq, reloaded.toSeq, removed, unchanged.toSeq)
  }
}

object StreamRegistry {

  /** The `*.json` / `*.edn` document files in `dir`, sorted — the one
    * directory-listing rule every config reader shares (boot/reload
    * loading, the CLI `compile`/`test`/`graphviz` commands).
    */
  def listDocFiles(dir: String): Seq[java.nio.file.Path] = {
    val d = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(d)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val listing = java.nio.file.Files.list(d)
      try listing.iterator().asScala
        .filter(p => p.toString.endsWith(".json") || p.toString.endsWith(".edn"))
        .toSeq.sortBy(_.toString)
      finally listing.close()
    }
  }

  /** Parse every `*.json` / `*.edn` stream document in `dir` (the
    * reference's `read-edn-dirs` unit) without a registry — shared by
    * boot/reload loading and the CLI `compile`/`graphviz` commands.
    */
  def parseDirDocs(dir: String): Seq[Node] =
    listDocFiles(dir).flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      if (p.toString.endsWith(".edn")) Edn.streamDocs(text)
      else Node.manyFromJson(text)
    }

  /** Whether any param in the tree is a masked `#secret` value — writers
    * ([[StreamRegistry.saveTo]]'s persistOne, the CLI `compile`) must
    * warn that the serialized copy is redacted.
    */
  def hasSecret(n: Node): Boolean = {
    def in(p: Any): Boolean = p match {
      case _: Edn.Secret => true
      case xs: Seq[_]    => xs.exists(in)
      case m: Map[_, _]  => m.asInstanceOf[Map[Any, Any]].exists { case (_, v) => in(v) }
      case _             => false
    }
    n.params.exists(in) || n.children.exists(hasSecret)
  }

  /** (name, default-flag, pipeline) of a `stream` document node — the
    * public twin of the registry's internal parse, for tools that need
    * the name without registering (CLI `compile`).
    */
  def streamMeta(n: Node): (String, Boolean, Node) = {
    require(n.action == "stream", s"expected a 'stream' node, got '${n.action}'")
    val (name, default) = n.params.headOption match {
      case Some(m: Map[_, _]) =>
        val mm = m.asInstanceOf[Map[String, Any]]
        (mm.get("name").map(_.toString.stripPrefix(":"))
          .getOrElse(throw new IllegalArgumentException("stream node without a name")),
          mm.get("default").contains(true))
      case Some(s) => (s.toString.stripPrefix(":"), false)
      case None    => throw new IllegalArgumentException("stream node without params")
    }
    val pipeline = n.children match {
      case Seq(single) => single
      case many        => Node("sdo", Nil, many)
    }
    (name, default, pipeline)
  }
}
