package perfbench

/** The per-layer metrics of the traced run: every name is printed on every
  * workload (0 where the workload never calls that layer), with the
  * end-to-end metric and workload it should move. */
object Layers {

  final case class Metric(name: String, unit: String, better: String, moves: String)

  private val bulkTput = "suite_turns_per_s on bulk_suite"
  private val bulkEff = "scaling_eff on bulk_suite"
  private val nightly = "incremental_s_p50 on nightly_append"
  private val streamP50 = "batch_commit_s_p50 and stream_turns_per_s on stream_ingest"
  private val streamSink = "batch_commit_s_p50 and sink_bytes_per_input_byte on stream_ingest"

  val all: Seq[Metric] = Seq(
    Metric("rule_planner.fused_job_s", "s", "lower", bulkTput),
    Metric("rule_planner.fused_cpu_s", "s", "lower", bulkTput),
    Metric("checks.uniqueness_job_s", "s", "lower", bulkTput),
    Metric("checks.window_jobs_s", "s", "lower", bulkTput),
    Metric("checks.straggler_ratio", "ratio", "lower", bulkEff),
    Metric("validator.drift_job_s", "s", "lower", bulkTput),
    Metric("validator.referential_job_s", "s", "lower", bulkTput),
    Metric("validator.jobs", "count", "lower", bulkEff),
    Metric("validator.job_overlap", "ratio", "higher", bulkEff),
    Metric("validator.driver_gap_s", "s", "lower", bulkEff),
    Metric("validator.self_s", "s", "lower", "turns_per_s on every workload"),
    Metric("spark.core_busy_frac.hi", "fraction", "higher", bulkEff),
    Metric("spark.core_busy_frac.lo", "fraction", "higher", bulkEff),
    Metric("spark.cpu_s_per_mturn.hi", "s", "lower", bulkTput),
    Metric("spark.cpu_s_per_mturn.lo", "s", "lower", bulkTput),
    Metric("spark.shuffle_mb.hi", "MB", "lower", bulkTput),
    Metric("spark.shuffle_mb.lo", "MB", "lower", bulkTput),
    Metric("spark.read_mb.hi", "MB", "lower", s"$bulkTput; $nightly"),
    Metric("spark.read_mb.lo", "MB", "lower", s"$bulkTput; $nightly"),
    Metric("spark.gc_s.hi", "s", "lower", bulkTput),
    Metric("spark.gc_s.lo", "s", "lower", bulkTput),
    Metric("spark.job_s", "s", "lower", "op_s_p50 on every workload"),
    Metric("spark.task_failures", "count", "lower", "ops_failed_frac on every workload"),
    Metric("spark.rep_drift", "ratio", "lower", "op_s_p50 spread on every workload"),
    Metric("spark.rep_heap_drift", "ratio", "lower", "heap_peak_mb on every workload"),
    Metric("snap_table.snapshot_s", "s", "lower", nightly),
    Metric("snap_table.changes_s", "s", "lower", nightly),
    Metric("snap_table.read_touched_s", "s", "lower", nightly),
    Metric("snap_table.touched_file_frac", "fraction", "lower", nightly),
    Metric("snap_table.self_s", "s", "lower", s"$nightly; $streamP50"),
    Metric("validator.rows_read_per_delta_row", "ratio", "lower", nightly),
    Metric("checkpoint.record_s", "s", "lower", nightly),
    Metric("checkpoint.bytes", "bytes", "lower", nightly),
    Metric("stream.trigger_s", "s", "lower", streamP50),
    Metric("stream.add_batch_s", "s", "lower", streamP50),
    Metric("stream.planning_s", "s", "lower", streamP50),
    Metric("stream.wal_commit_s", "s", "lower", streamP50),
    Metric("stream.commit_growth", "ratio", "lower", streamP50),
    Metric("validator.incremental_batch_s", "s", "lower", streamSink),
    Metric("snap_table.append_batch_s", "s", "lower", streamSink),
    Metric("profiler.profile_run_s", "s", "lower", streamSink),
    Metric("profiler.self_s", "s", "lower", streamSink),
    Metric("metrics_sink.append_s", "s", "lower", streamSink),
    Metric("metrics_sink.self_s", "s", "lower", streamSink),
    Metric("stream.self_s", "s", "lower", streamP50),
    Metric("snap_table.manifest_bytes", "bytes", "lower", streamSink),
    Metric("snap_table.data_files", "count", "lower", streamSink),
    Metric("profiler.state_bytes", "bytes", "lower", streamSink),
    Metric("trace.overhead_s", "s", "lower", "none: traced minus untraced op_s_p50"),
    Metric("trace.overhead_frac", "fraction", "lower", "none: trace.overhead_s over untraced op_s_p50")
  )

  /** Spark counters of one operation at `threads` threads over `work`
    * turns. The names get a ".hi"/".lo" suffix in [[collect]]. */
  def spark(w: SparkWindow, sec: Double, threads: Int, work: Long): Map[String, Double] = Map(
    "spark.core_busy_frac" -> w.runSec / math.max(sec * threads, 1e-9),
    "spark.cpu_s_per_mturn" -> w.cpuSec() / math.max(work / 1e6, 1e-12),
    "spark.shuffle_mb" -> w.shuffleMb,
    "spark.read_mb" -> w.readMb,
    "spark.gc_s" -> w.gcSec,
    "spark.job_s" -> w.union(w.jobs),
    "spark.task_failures" -> w.failedTasks.toDouble)

  private val perCount = Set("spark.core_busy_frac", "spark.cpu_s_per_mturn",
    "spark.shuffle_mb", "spark.read_mb", "spark.gc_s")

  /** Self time of each program layer per traced operation at the high
    * thread count: span time not covered by its child spans (nested calls
    * and the Spark jobs attached to it). */
  private def selfTimes(tracer: Tracer, ops: Seq[OpRec]): Map[String, Double] = {
    val ids = ops.filter(o => o.ok && o.traced && o.threads == Env.hi).map(_.index + 1L).toSet
    if (ids.isEmpty) Map.empty
    else {
      val spans = tracer.all.filter(s => ids(s.op))
      val kids = spans.groupBy(_.parent)
      spans.filterNot(s => s.layer == "bench" || s.layer == "spark")
        .groupBy(_.layer).map { case (layer, ss) =>
          s"$layer.self_s" -> ss.map(s => Tracer.selfTime(s, kids.getOrElse(s.id, Nil))).sum / ids.size
        }
    }
  }

  /** The full per-layer map of a traced run. */
  def collect(ctx: Ctx, ops: Seq[OpRec]): Map[String, Double] = {
    val plain = ops.flatMap(_.layer.keys).toSet -- perCount
    val failures = ops.flatMap(_.layer.get("spark.task_failures")).sum
    val measured =
      Loop.layerMeans(ops, Env.hi, plain) ++
        Loop.layerMeans(ops, Env.hi, perCount, ".hi") ++
        Loop.layerMeans(ops, Env.lo, perCount, ".lo") ++
        selfTimes(ctx.tracer, ops) ++
        Loop.common(ops) +
        ("spark.task_failures" -> failures)
    all.map(m => m.name -> measured.getOrElse(m.name, 0.0)).toMap
  }
}
