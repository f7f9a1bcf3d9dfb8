package perfbench

import graft.{TableConfig, ValidationConfig}
import graft.bench.TranscriptSuite
import graft.engine.Validator
import graft.io.{TranscriptConfig, Transcripts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `bulk_suite`: the full transcript constraint suite over the conv_id
  * bucketed table, one pass per operation, alternating `nproc` and
  * `nproc/4` threads, each pass in a fresh session. */
object BulkSuite {
  private val Table = "transcripts"
  private val Convs = 3000L
  /** Buckets of the at-rest layout: four task waves at four threads. The
    * program's own 128 suits its 32-core design point; at this size and
    * core count 128 buckets would make per-task overhead, not per-turn
    * work, the bulk of every pass. */
  private val Buckets = 16
  private def partExpr = pmod(xxhash64(col("conv_id")), lit(32))

  private def config(convs: Long, seed: Long) =
    TranscriptConfig(numConvs = convs, seed = seed, hotConvExtraTurns = convs / 10)

  private def withLen(df: DataFrame) =
    df.withColumn("text_len", coalesce(length(col("text")), lit(0)).cast("double"))

  /** Writes the turns table as [[TranscriptSuite.materialize]] does, at
    * [[Buckets]] buckets, with its schema DDL. */
  private def materialize(spark: SparkSession, turns: DataFrame, dir: String): Unit = {
    spark.sql("DROP TABLE IF EXISTS graft_bench_turns")
    turns.repartition(Buckets, col("conv_id"))
      .write.bucketBy(Buckets, "conv_id")
      .option("path", s"$dir/turns_bucketed").mode("overwrite")
      .saveAsTable("graft_bench_turns")
    java.nio.file.Files.writeString(Env.path(s"$dir/turns_schema.ddl"), turns.schema.toDDL)
  }

  /** The reference tables of the drift and referential rules. */
  private def references(spark: SparkSession, dir: String, convs: Long, seed: Long): Unit = {
    val cfg = config(convs, seed)
    withLen(Transcripts.turns(spark, Transcripts.drifted(cfg.copy(numConvs = math.max(convs / 4, 1)))))
      .write.mode("overwrite").parquet(s"$dir/baseline")
    Transcripts.convIndex(spark, cfg).write.mode("overwrite").parquet(s"$dir/conv_index")
  }

  /** Declares the bucketed table in a fresh session's catalog. */
  private def openTurns(spark: SparkSession, dir: String): DataFrame = {
    val ddl = java.nio.file.Files.readString(Env.path(s"$dir/turns_schema.ddl"))
    spark.sql(s"""CREATE TABLE graft_bench_turns ($ddl) USING parquet
      |CLUSTERED BY (conv_id) INTO $Buckets BUCKETS
      |LOCATION '$dir/turns_bucketed'""".stripMargin)
    spark.table("graft_bench_turns")
  }

  private def oracle(spark: SparkSession, dir: String, convs: Long): (Long, Map[String, Expect]) = {
    val t = spark.read.parquet(s"$dir/turns_bucketed")
    val (n, c) = Oracle.rowCounts(t, Seq(
      "text_null" -> col("text").isNull,
      "role_null" -> col("role").isNull,
      "conv_bad" -> (col("conv_id").isNotNull &&
        !col("conv_id").rlike("^(conv|orph)-[0-9a-f]{8}$")),
      "turn_out" -> (col("turn_idx") < 0 || col("turn_idx") > 100000),
      "role_numeric" -> col("role").rlike("^[0-9]+$"),
      "tool_missing" -> (col("tool").isNull &&
        (col("role").isNull || col("role") === "tool")),
      "orphan" -> Oracle.notInIndex(convs)))
    val (groups, badGroups) = Oracle.sequenceGroups(t)
    (n, Map(
      "text_completeness" -> Expect(c("text_null"), n),
      "role_completeness" -> Expect(c("role_null"), n),
      "conv_id_pattern" -> Expect(c("conv_bad"), n),
      "turn_idx_range" -> Expect(c("turn_out"), n),
      "role_type_conformance" -> Expect(c("role_numeric"), n),
      "key_uniqueness" -> Expect(Oracle.duplicateRows(t), n),
      "turn_sequence" -> Expect(badGroups, groups),
      "tool_turns_have_tool" -> Expect(c("tool_missing"), n),
      "min_size" -> Expect(if (n < 10) 1L else 0L, 1L),
      "conv_referential" -> Expect(c("orphan"), n)))
  }

  private def layers(w: SparkWindow, sec: Double, threads: Int, turns: Long): Map[String, Double] = {
    val fused = w.labelled("fused-stats")
    val uniq = w.labelled("rule:key_uniqueness")
    val windows = w.labelled("rule:turn_sequence", "rule:ts_monotonic", "rule:role_grammar")
    Map(
      "rule_planner.fused_job_s" -> w.wall(fused),
      "rule_planner.fused_cpu_s" -> w.cpuSec(w.tasksOf(fused)),
      "checks.uniqueness_job_s" -> w.wall(uniq),
      "checks.window_jobs_s" -> w.wall(windows),
      "checks.straggler_ratio" -> w.straggler(w.tasksOf(uniq ++ windows)),
      "validator.drift_job_s" -> w.wall(w.labelled("drift-batch")),
      "validator.referential_job_s" -> w.wall(w.labelled("rule:conv_referential")),
      "validator.jobs" -> w.jobs.size.toDouble,
      "validator.job_overlap" -> w.wall(w.jobs) / math.max(w.union(w.jobs), 1e-9),
      "validator.driver_gap_s" -> (sec - w.union(w.jobs))
    ) ++ Layers.spark(w, sec, threads, turns)
  }

  def run(ctx: Ctx): RunResult = {
    val convs = ctx.sized(Convs)
    val dirs = (0 until 3).map(r => ctx.work.resolve(s"bulk-$r").toString)
    val setup = Env.phase("session")(Env.freshSession(Env.hi, ctx.work))
    // the hot conversation gets convs / 10 extra turns, as in materialize
    val generated = Env.phase("generate")(Loop.generated(
      withLen(Transcripts.turns(setup, config(convs, ctx.seed)))))
    val setupS = Env.phase("inputs x3")(Loop.setup(3)(r => materialize(setup, generated, dirs(r))))
    generated.unpersist()
    dirs.init.foreach(d => Env.deleteTree(Env.path(d)))
    val dir = dirs.last
    Env.phase("references")(references(setup, dir, convs, ctx.seed))
    val (turns, expect) = Env.phase("oracle")(oracle(setup, dir, convs))
    Env.stopAll()

    // every pass must agree with the first one on all rules, and with the
    // oracle on the rules it covers
    var first: Option[(Map[String, (Long, Long, Boolean)], Int)] = None
    val ops = Loop.run(ctx, warmups = 1) { (i, threads, traced) =>
      val spark = Env.freshSession(threads, ctx.work)
      val listener = if (traced) Some(new JobListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val rules = TranscriptSuite.rules
      val table = openTurns(spark, dir)
      val baseline = spark.read.parquet(s"$dir/baseline")
      val convIndex = spark.read.parquet(s"$dir/conv_index")
      val validator = new Validator(spark,
        ValidationConfig(tables = Seq(TableConfig(Table, rules))), {
          case "baseline" => Some(baseline)
          case "conv_index" => Some(convIndex)
          case _ => None
        })
      val op = i + 1L
      val from = ctx.tracer.clock()
      val ((summary, verdicts), sec) = ctx.tracer.span("bench", "op:bulk_suite", op = op, parent = 0L) {
        Env.timed(ctx.tracer.span("validator", "Validator.executeRulesPartitioned") {
          validator.executeRulesPartitioned(table, rules, Table, Some(partExpr))
        })
      }
      val to = ctx.tracer.clock()
      spark.stop()
      val got = summary.results.map(r => r.rule_name -> (r.failed_count, r.total_count, r.passed)).toMap
      val mismatches = Oracle.compare(rules, summary.results, expect) ++ (first match {
        case None => first = Some((got, verdicts.size)); Nil
        case Some((g0, v0)) =>
          rules.map(_.name).filter(n => got.get(n) != g0.get(n))
            .map(n => s"$n: ${got.get(n)} differs from the first pass ${g0.get(n)}") ++
            (if (verdicts.size != v0) Seq(s"partition verdicts ${verdicts.size} vs $v0") else Nil)
      })
      val ok = Oracle.report(s"bulk_suite op $i, $threads threads", mismatches)
      val layer = listener.map { l =>
        val w = SparkWindow.of(l, from, to)
        w.attach(ctx.tracer, ctx.tracer.all.filter(_.op == op))
        layers(w, sec, threads, turns)
      }.getOrElse(Map.empty)
      OpRec(i, threads, traced, sec, turns, ok, Heap.afterGcMb, layer)
    }

    val (tput, p50, eff) = Loop.headline(ops)
    val failed = ops.count(!_.ok)
    RunResult(ops.size, failed,
      Map("turns_per_s" -> tput, "op_s_p50" -> p50, "scaling_eff" -> eff,
        "setup_s" -> setupS, "heap_peak_mb" -> Heap.peakMb),
      Seq(("suite_turns_per_s", tput, "turns/s"), ("scaling_eff", eff, "ratio"),
        ("setup_s", setupS, "s"), ("heap_peak_mb", Heap.peakMb, "MB"),
        ("ops_failed_frac", failed.toDouble / ops.size, "fraction"),
        ("turns_per_pass", turns.toDouble, "turns")),
      Layers.collect(ctx, ops))
  }
}
