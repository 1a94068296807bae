package perfbench

/** Per-layer metrics of a traced window, normalised per operation (a
  * pass for `etl`/`curate`, a request for `search`). A layer the
  * workload does not call reads 0. */
object Layers {
  /** Span layer → metric prefix, for the generic call/task/job/byte set. */
  private val layers = Seq("stream", "dedup", "curation", "text", "similarity")

  def of(ctx: Ctx, wl: Workload, tracer: Tracer, w: Window, ops: Long,
      gcS: Double): Map[String, Double] = {
    val spans = tracer.windowSpans
    val self = tracer.selfNs(spans)
    def per(x: Double): Double = x / ops
    val by = layers.map { l =>
      val ss = spans.filter(_.layer == l)
      l -> (ss.map(s => self(s.id)).sum / 1e9, tracer.countersOf(ss))
    }.toMap
    val engine = tracer.countersOf(spans)
    engine.add(tracer.unattributed)
    val (streamCall, stream) = by("stream")
    val (dedupCall, dedup) = by("dedup")
    val (_, curation) = by("curation")
    val (_, text) = by("text")
    val (simCall, sim) = by("similarity")
    val generic = Map(
      "stream.call_s" -> per(streamCall),
      "stream.task_s" -> per(stream.runMs / 1e3),
      "stream.jobs" -> per(stream.jobs.toDouble),
      "stream.shuffle_write_bytes" -> per(stream.shuffleWrite.toDouble),
      "dedup.call_s" -> per(dedupCall),
      "dedup.task_s" -> per(dedup.runMs / 1e3),
      "dedup.shuffle_write_bytes" -> per(dedup.shuffleWrite.toDouble),
      "dedup.spill_bytes" -> per(dedup.spill.toDouble),
      "curation.task_s" -> per(curation.runMs / 1e3),
      "curation.shuffle_write_bytes" -> per(curation.shuffleWrite.toDouble),
      "text.task_s" -> per(text.runMs / 1e3),
      "similarity.call_ms" -> per(simCall * 1e3),
      "similarity.jobs_per_request" -> per(sim.jobs.toDouble),
      "similarity.task_ms_per_request" -> per(sim.runMs.toDouble),
      "engine.jobs" -> per(engine.jobs.toDouble),
      "engine.tasks" -> per(engine.tasks.toDouble),
      "engine.gc_s" -> per(gcS),
      "engine.scheduler_delay_s" -> per(engine.schedDelayMs / 1e3),
      "engine.shuffle_write_bytes" -> per(engine.shuffleWrite.toDouble),
      "engine.spill_bytes" -> per(engine.spill.toDouble))
    val zeros = Seq("stream.errors.caught_frac", "stream.concurrent.overlap",
      "dedup.verify_yield", "dedup.cc_jobs",
      "similarity.index_rows_scanned_per_query", "similarity.files_read_per_request",
      "streaming.trigger_ms_p50", "streaming.addbatch_ms_p50",
      "streaming.rows_per_batch", "streaming.backlog_files_end",
      "sink.files_written", "sink.bytes_per_row", "loadgen.sched_lag_ms_p90",
      "ingest.latency_ms_p50", "ingest.latency_ms_p90", "ingest.failed_docs")
      .map(_ -> 0.0).toMap
    zeros ++ generic ++ wl.layerMetrics(ctx, ops)
  }
}
