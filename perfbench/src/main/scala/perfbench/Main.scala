package perfbench

import java.nio.file.Files

/** Transcript-validation benchmark.
  *
  * {{{
  * Main --workload bulk_suite|nightly_append|stream_ingest --seed N
  *      --seconds S --trace 0|1 --work DIR [--scale F] [--spans FILE]
  * }}}
  *
  * Generates the workload's inputs from the seed, runs closed-loop
  * operations for S seconds, checks every result against an independent
  * oracle and prints, as the last line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics untraced,
  * the per-layer metrics traced. Exits 1 when any operation failed.
  */
object Main {

  val workloads: Map[String, Ctx => RunResult] = Map(
    "bulk_suite" -> BulkSuite.run,
    "nightly_append" -> NightlyAppend.run,
    "stream_ingest" -> StreamIngest.run)

  /** End-to-end metrics of the JSON result: (name, unit). */
  val endToEnd: Seq[(String, String)] = Seq(
    "turns_per_s" -> "turns/s", "op_s_p50" -> "s", "scaling_eff" -> "ratio",
    "setup_s" -> "s", "heap_peak_mb" -> "MB")

  private def parse(args: List[String], acc: Map[String, String] = Map.empty): Map[String, String] =
    args match {
      case k :: v :: rest if k.startsWith("--") => parse(rest, acc + (k.drop(2) -> v))
      case Nil => acc
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }

  def main(args: Array[String]): Unit = {
    val a = parse(args.toList)
    val name = a.getOrElse("workload", "")
    val run = workloads.getOrElse(name, {
      System.err.println(s"unknown workload '$name'; one of ${workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val work = Env.path(a("work")).toAbsolutePath
    Files.createDirectories(work)
    val trace = a.getOrElse("trace", "0") == "1"
    val ctx = Ctx(name, a("seed").toLong, a("seconds").toDouble, trace,
      a.getOrElse("scale", "1").toDouble, work, new Tracer(trace))
    Heap.install()

    val r = try run(ctx) finally Env.stopAll()
    a.get("spans").foreach(f => ctx.tracer.write(Env.path(f)))

    r.report.foreach { case (n, v, u) => println(f"$name%s $n%s = ${Json.num(v)}%s $u%s") }
    val metrics: Seq[(String, Double, String)] =
      if (trace) {
        Layers.all.foreach(m => println(s"$name ${m.name} = ${Json.num(r.layer(m.name))} ${m.unit}  (moves ${m.moves})"))
        Layers.all.map(m => (m.name, r.layer(m.name), m.unit))
      } else endToEnd.map { case (n, u) => (n, r.e2e(n), u) }
    val correct = r.failed == 0
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},"metrics":{$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
