package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Crawl-snapshot algebra over capture indexes (the [[graft.sources.Cdx]]
  * shape, but any `(key, ts, digest, …)` frame works): collapse a
  * multi-capture index to its freshest capture per URL, and diff two
  * snapshots into added / removed / changed / unchanged — the
  * incremental-recrawl question ("what do I actually need to refetch /
  * reprocess?") that turns a 100 TB full reprocess into a delta-sized
  * one.
  *
  * Scale shape: [[latest]] is ONE shuffle on the key with a map-side
  * partial (`max_by` is a declarative aggregate — no window, no sort of
  * the whole index); [[diff]] is a single full-outer shuffle join on the
  * key with both sides pruned to `(key, digest)` before the exchange.
  * SURT urlkeys spread hot hosts across paths, so per-key skew is
  * bounded by captures-per-URL, not pages-per-host.
  */
object Snapshots {

  /** `(name, type)` pairs of the [[diff]] output appended to the key —
    * the IR validate arm builds its frame from this constant. */
  val DiffSchema: Seq[(String, DataType)] = Seq(
    "old_digest" -> StringType,
    "new_digest" -> StringType,
    "status" -> StringType)

  /** One row per key: the capture with the greatest `(ts, digest)` —
    * the digest tie-break makes the pick deterministic when a URL is
    * captured twice in the same second (re-crawl storms do this).
    * Non-key columns survive (the winning row is kept whole).
    */
  def latest(captures: DataFrame, keyCol: String, tsCol: String,
             digestCol: String = "digest"): DataFrame = {
    val others = captures.columns.filter(_ != keyCol)
    captures
      .groupBy(col(keyCol))
      .agg(max_by(
        struct(others.map(col).toIndexedSeq: _*),
        struct(col(tsCol), col(digestCol))).as("__best"))
      .select(col(keyCol) +: others.map(c => col(s"__best.$c").as(c)).toIndexedSeq: _*)
  }

  /** Diff two snapshots (one row per key each — run [[latest]] first on
    * raw capture logs): `key, old_digest, new_digest, status` with
    * status ∈ `added` (key only in `newer`), `removed` (only in `old`),
    * `changed` (both, digests differ), `unchanged`.
    */
  def diff(old: DataFrame, newer: DataFrame, keyCol: String,
           digestCol: String): DataFrame = {
    val o = old.select(col(keyCol), col(digestCol).as("old_digest"))
    val n = newer.select(col(keyCol), col(digestCol).as("new_digest"))
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("old_digest").isNull, lit("added"))
          .when(col("new_digest").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed"))
          .otherwise(lit("unchanged")))
  }

  /** Close the discovery → capture loop: sitemap entries
    * (`loc`, `lastmod` — the [[graft.sources.Sitemap]] shape) joined
    * against latest captures (`urlkey`, 14-digit `ts` — the
    * [[graft.sources.Cdx]] shape, after [[latest]]) into a refetch
    * list. Appends `urlkey` (SURT of `loc`), `last_capture_ts` (null if
    * never captured), and `reason` ∈ `uncaptured` | `stale` (lastmod
    * newer than the capture, compared as zero-padded ts14 strings) |
    * `fresh`.
    *
    * Scale shape: one left equi-join on the urlkey — the sitemap side
    * is usually crawl-frontier-sized and AQE broadcasts it; otherwise
    * both sides shuffle once on the same key [[latest]] just grouped
    * by, so the exchange reuses that partitioning.
    */
  /** Mirror-host detection over a capture index: hosts serving many
    * byte-identical payloads are mirrors of one site (the classic crawl
    * pathology that multiplies a corpus without adding content).
    * Emits `(host1, host2, shared)` pairs — `host1 < host2` — with
    * `shared` = number of distinct digests both hosts serve, kept at
    * `shared >= minShared`. Feed into [[Dedup.clusterPairs]] (string
    * ids take its star-contraction rounds) to collapse mirror
    * families, or join back to keep one host per family.
    *
    * Digests served by more than `maxHostsPerDigest` hosts are excluded
    * BEFORE any host list materializes: a payload on thousands of hosts
    * is shared boilerplate (an empty 404 page, a parked-domain
    * template), not mirroring — and the exclusion is also what bounds
    * the pair fanout (≤ K² rows per digest) and the per-digest state
    * (the count-then-join keeps hot digests out of `collect_list`).
    *
    * Scale shape: one `(host, digest)` distinct, two digest-keyed
    * aggregations (the second reuses the first's partitioning), one
    * pair-count exchange — no corpus-sized window, no driver state.
    */
  def mirrorPairs(captures: DataFrame, hostCol: String, digestCol: String,
                  minShared: Long = 2, maxHostsPerDigest: Int = 16): DataFrame = {
    val hd = captures.select(col(hostCol).as("host"), col(digestCol).as("digest"))
      .distinct()
    val eligible = hd.groupBy("digest")
      .agg(count(lit(1)).as("__nh"))
      .filter(col("__nh") >= 2 && col("__nh") <= maxHostsPerDigest)
      .select("digest")
    val byDigest = hd.join(eligible, Seq("digest"))
      .groupBy("digest").agg(sort_array(collect_list(col("host"))).as("__hosts"))
    byDigest
      .select(explode(col("__hosts")).as("host1"), col("__hosts"))
      .select(col("host1"), explode(col("__hosts")).as("host2"))
      .filter(col("host1") < col("host2"))
      .groupBy("host1", "host2").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  def refetchCandidates(entries: DataFrame, locCol: String, lastmodCol: String,
                        captures: DataFrame, keyCol: String = "urlkey",
                        tsCol: String = "ts"): DataFrame = {
    val keyed = entries.withColumn("urlkey",
      graft.sources.Cdx.surtKey(col(locCol)))
    val caps = captures.select(col(keyCol).as("urlkey"),
      col(tsCol).as("last_capture_ts"))
    keyed.join(caps, Seq("urlkey"), "left")
      .withColumn("__lm", rpad(regexp_replace(col(lastmodCol), "[^0-9]", ""), 14, "0"))
      .withColumn("reason",
        when(col("last_capture_ts").isNull, lit("uncaptured"))
          .when(col("__lm") > col("last_capture_ts"), lit("stale"))
          .otherwise(lit("fresh")))
      .drop("__lm")
  }
}
