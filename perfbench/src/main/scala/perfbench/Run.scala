package perfbench

import java.nio.file.Path

import scala.collection.mutable

/** Settings of one benchmark invocation. `scale` multiplies every input
  * size (the smoke test runs at a tiny fraction). */
final case class Ctx(workload: String, seed: Long, seconds: Double,
    trace: Boolean, scale: Double, work: Path, tracer: Tracer) {
  def sized(n: Long): Long = math.max(1L, math.round(n * scale))
}

/** One operation of a closed loop. `seconds` is the timed part; `work` the
  * turns it validated; `ok` false when it threw or disagreed with the
  * oracle. `samples` are finer latencies inside the operation (micro-batch
  * commits), `figures` other untraced per-operation results, `layer` the
  * traced per-layer figures. */
final case class OpRec(index: Int, threads: Int, traced: Boolean,
    seconds: Double, work: Long, ok: Boolean, heapAfterGcMb: Double,
    layer: Map[String, Double] = Map.empty, samples: Seq[Double] = Nil,
    figures: Map[String, Double] = Map.empty, warmup: Boolean = false)

/** Everything a workload hands back to [[Main]]. `e2e` holds the
  * end-to-end metrics of the JSON result, `report` the workload's own
  * named metrics (name, value, unit) printed for readers. */
final case class RunResult(attempted: Int, failed: Int,
    e2e: Map[String, Double], report: Seq[(String, Double, String)],
    layer: Map[String, Double])

object Loop {

  /** Runs operations back to back until `seconds` have passed. The thread
    * counts alternate hi, lo, hi, ... and always end on hi, so the hi
    * operations bracket the lo ones and slow drift over a run lands on both
    * counts alike; at least hi, lo, hi always runs. With tracing, the first
    * half of the time runs untraced and the second half traced, each half
    * its own hi-bracketed sequence, so the run measures its own tracing
    * overhead. `warmups` operations at hi run first (checked, not timed),
    * so JIT and code generation are done before timing starts. A throwing
    * operation is recorded as failed, never retried or timed. */
  def run(ctx: Ctx, warmups: Int)(op: (Int, Int, Boolean) => OpRec): Seq[OpRec] = {
    val out = mutable.ArrayBuffer.empty[OpRec]
    def next(threads: Int, traced: Boolean): OpRec = guarded(out.size, threads, traced)(op)
    (0 until warmups).foreach(_ => out += next(Env.hi, traced = false).copy(warmup = true))
    val t0 = Env.now()
    def phase(traced: Boolean, until: Double): Unit = {
      out += next(Env.hi, traced)
      do Seq(Env.lo, Env.hi).foreach(threads => out += next(threads, traced))
      while (Env.now() < until)
    }
    if (ctx.trace) {
      phase(traced = false, t0 + ctx.seconds / 2)
      phase(traced = true, t0 + ctx.seconds)
    } else phase(traced = false, t0 + ctx.seconds)
    out.toList
  }

  def guarded(i: Int, threads: Int, traced: Boolean)(
      op: (Int, Int, Boolean) => OpRec): OpRec =
    try {
      val (r, wall) = Env.timed(op(i, threads, traced))
      System.err.println(f"[perfbench] op $i%d threads=$threads%d traced=$traced%s " +
        f"ok=${r.ok}%s timed=${r.seconds}%.3f s wall=$wall%.3f s")
      r
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] operation $i ($threads threads) threw: $e")
        e.printStackTrace(System.err)
        Env.stopAll()
        OpRec(i, threads, traced, 0.0, 0L, ok = false, Heap.afterGcMb)
    }

  /** Generated input rows, kept in memory so that each set-up repetition
    * times only the workload's write path, not the generator. */
  def generated(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val kept = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    kept.count()
    kept
  }

  /** Median set-up time over `reps` repetitions of `f`. */
  def setup(reps: Int)(f: Int => Unit): Double =
    Stats.median((0 until reps).map(r => Env.timed(f(r))._2))

  def timedOk(ops: Seq[OpRec], threads: Int, traced: Boolean = false): Seq[OpRec] =
    ops.filter(o => o.ok && !o.warmup && o.threads == threads && o.traced == traced)

  /** The end-to-end figures every workload reports from its untraced
    * operations: throughput and median latency at the high thread count,
    * and scaling efficiency between the two counts (NaN when every
    * operation at one of the counts failed). */
  def headline(ops: Seq[OpRec]): (Double, Double, Double) = {
    val hiOps = timedOk(ops, Env.hi)
    val loOps = timedOk(ops, Env.lo)
    if (hiOps.isEmpty || loOps.isEmpty) return (Double.NaN, Double.NaN, Double.NaN)
    val tputHi = Stats.median(hiOps.map(o => o.work / o.seconds))
    val tputLo = Stats.median(loOps.map(o => o.work / o.seconds))
    val eff = tputHi / (tputLo * Env.hi.toDouble / Env.lo)
    (tputHi, Stats.median(hiOps.map(_.seconds)), eff)
  }

  /** Per-layer figures shared by every workload: run-order drift of wall
    * time and live heap, task failures, and tracing overhead. */
  def common(ops: Seq[OpRec]): Map[String, Double] = {
    val hiOps = ops.filter(o => o.ok && !o.warmup && o.threads == Env.hi)
    val untraced = timedOk(ops, Env.hi)
    val traced = timedOk(ops, Env.hi, traced = true)
    val overhead =
      if (untraced.isEmpty || traced.isEmpty) 0.0
      else Stats.median(traced.map(_.seconds)) - Stats.median(untraced.map(_.seconds))
    Map(
      "spark.rep_drift" -> Stats.thirdsRatio(hiOps.map(_.seconds)),
      "spark.rep_heap_drift" -> Stats.thirdsRatio(ops.filterNot(_.warmup).map(_.heapAfterGcMb)),
      "trace.overhead_s" -> overhead,
      "trace.overhead_frac" ->
        (if (untraced.isEmpty) 0.0 else overhead / Stats.median(untraced.map(_.seconds))))
  }

  /** Mean of each layer figure over the traced operations at `threads`,
    * with `suffix` appended to the name (".hi" / ".lo" for the Spark
    * counters measured at both thread counts). */
  def layerMeans(ops: Seq[OpRec], threads: Int, names: Set[String],
      suffix: String = ""): Map[String, Double] = {
    val ts = ops.filter(o => o.ok && o.traced && o.threads == threads)
    if (ts.isEmpty) Map.empty
    else ts.flatMap(_.layer.keys).distinct.filter(names).map { k =>
      (k + suffix) -> ts.map(_.layer.getOrElse(k, 0.0)).sum / ts.size
    }.toMap
  }
}
