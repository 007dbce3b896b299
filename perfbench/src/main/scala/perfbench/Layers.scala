package perfbench

/** The per-layer metrics of the traced run, in the order printed. Every
  * traced run prints all of them; those of the other workload read 0.
  * Per-push values are means over the frames of the measured window.
  */
object Layers {
  val tcp: Seq[(String, String)] = Seq(
    "riemann_codec.decode_ms" -> "ms",
    "riemann_codec.bytes" -> "bytes",
    "to_frame.ms" -> "ms",
    "engine.run_self_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.job_overhead_ms" -> "ms",
    "spark.task_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "file_sink.write_ms" -> "ms",
    "file_sink.self_ms" -> "ms",
    "file_sink.files" -> "count",
    "file_sink.bytes" -> "bytes",
    "file_sink.failed" -> "count",
    "websocket_hub.publish_ms" -> "ms",
    "websocket_hub.self_ms" -> "ms",
    "websocket_hub.frames" -> "count",
    "control_plane.add_stream_ms" -> "ms",
    "riemann_tcp.wait_ms" -> "ms",
    "riemann_tcp.traced_frames" -> "count")

  val batch: Seq[(String, String)] =
    BatchWorkload.Queries.flatMap(q => Seq(s"batch.$q.s" -> "s", s"batch.$q.jobs" -> "count",
      s"batch.$q.task_s" -> "s", s"batch.$q.shuffle_mb" -> "MB")) :+ ("traced.batch_total_s" -> "s")

  /** Run context and the traced run's own end-to-end figures. */
  val common: Seq[(String, String)] = Seq(
    "fail_ratio" -> "ratio",
    "ack_samples" -> "count",
    "traced.events_per_s" -> "events/s",
    "traced.ack_p50_ms" -> "ms",
    "calib_s" -> "s",
    "load_1m_start" -> "load",
    "load_1m_end" -> "load")

  val all: Seq[(String, String)] = tcp ++ batch ++ common

  /** `measured` in the order of `names`; a name nothing measured reads 0,
    * a measured name missing from `names` is a harness bug.
    */
  def complete(names: Seq[(String, String)],
               measured: Seq[(String, Double, String)]): Seq[(String, Double, String)] = {
    val byName = measured.map(m => m._1 -> m).toMap
    val unknown = byName.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the list: ${unknown.mkString(", ")}")
    names.map { case (n, u) => byName.getOrElse(n, (n, 0.0, u)) }
  }
}
