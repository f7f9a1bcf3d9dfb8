package perfbench

import java.nio.file.{Files, StandardCopyOption}

import graft.{RuleType, TableConfig, ValidationConfig, ValidationRule, ValidationSummary}
import graft.engine.{Profiler, RulePlanner, Validator}
import graft.io.{MetricsSink, SnapTable, TranscriptConfig, Transcripts}
import graft.streaming.StreamValidator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `stream_ingest`: one operation drains pre-landed batch files through
  * [[StreamValidator.start]] into a fresh `snap:` sink, with history
  * frames, a metrics sink and a profile directory, one file per
  * micro-batch and no trigger delay. Batch b holds the first turns of a
  * block of new conversations and the remaining turns of block b−1. */
object StreamIngest {
  private val Table = "turns"
  private val Batches = 4
  private val ConvsPerBatch = 150L
  private val OpenTurns = 4 // turns of a conversation that land in its first batch

  val rules: Seq[ValidationRule] = Seq(
    ValidationRule("text_complete", RuleType.Completeness, Seq("text"), threshold = Some(0.9)),
    ValidationRule("conv_pattern", RuleType.Pattern, Seq("conv_id"),
      expression = Some("^conv-[0-9a-f]{8}$"), threshold = Some(0.9)),
    ValidationRule("turn_range", RuleType.Range, Seq("turn_idx"),
      parameters = Map("min" -> "0", "max" -> "100000"), threshold = Some(0.9)),
    ValidationRule("turn_key", RuleType.Uniqueness, Seq("conv_id", "turn_idx"),
      threshold = Some(0.9)),
    ValidationRule("turn_seq", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0"), threshold = Some(0.5)),
    ValidationRule("size", RuleType.RowCount, Seq(), parameters = Map("min_rows" -> "1")))

  private val rowRules = Map(
    "text_complete" -> col("text").isNull,
    "conv_pattern" -> (col("conv_id").isNotNull && !col("conv_id").rlike("^conv-[0-9a-f]{8}$")),
    "turn_range" -> (col("turn_idx") < 0 || col("turn_idx") > 100000))

  private def batchFile(input: String, b: Int) = f"$input/batch-$b%05d.parquet"

  /** The turns of every batch, tagged with their batch number. */
  private def generate(spark: SparkSession, batches: Int, convsPerBatch: Long, seed: Long): DataFrame = {
    val cfg = TranscriptConfig(numConvs = batches * convsPerBatch, seed = seed)
    val cid = when(col("conv_id").startsWith("BAD ID "),
        substring(col("conv_id"), 8, 20).cast("long"))
      .otherwise(conv(substring(col("conv_id"), 6, 8), 16, 10).cast("long"))
    Transcripts.turns(spark, cfg)
      .withColumn("batch", (floor(cid / convsPerBatch) +
        when(col("turn_idx") >= OpenTurns, 1).otherwise(0)).cast("int"))
      .filter(col("batch") < batches)
  }

  /** Lands the batch files: one parquet file per batch, modification times
    * in batch order so the file source reads them in that order. */
  private def land(turns: DataFrame, input: String, batches: Int): Unit = {
    val staged = s"$input-staging"
    turns.repartition(col("batch"))
      .write.partitionBy("batch").parquet(staged)
    Files.createDirectories(Env.path(input))
    val t0 = System.currentTimeMillis() - 3600000L
    (0 until batches).foreach { b =>
      val part = Env.treeFiles(Env.path(s"$staged/batch=$b"), _.toString.endsWith(".parquet"))
      require(part.size == 1, s"batch $b landed as ${part.size} files")
      val dest = Env.path(batchFile(input, b))
      Files.move(part.head, dest, StandardCopyOption.REPLACE_EXISTING)
      dest.toFile.setLastModified(t0 + b * 1000L)
    }
    Env.deleteTree(Env.path(staged))
  }

  /** Per batch: input rows, rows that pass the filters, failures per row
    * rule. */
  private final case class Expected(perBatch: Map[Long, (Long, Long, Map[String, Long])]) {
    def rows(batches: Int): Long = (0 until batches).map(b => perBatch(b.toLong)._1).sum
    def clean(batches: Int): Long = (0 until batches).map(b => perBatch(b.toLong)._2).sum
  }

  private def oracle(spark: SparkSession, input: String, batches: Int): Expected = {
    val files = (0 until batches).map(b => batchFile(input, b))
    val t = spark.read.parquet(files: _*)
      .withColumn("b", regexp_extract(input_file_name(), "batch-([0-9]+)", 1).cast("long"))
    val keep = col("text").isNotNull && col("conv_id").rlike("^conv-[0-9a-f]{8}$") &&
      col("turn_idx").between(0, 100000)
    val names = rowRules.keys.toSeq.sorted
    val per = t.groupBy("b").agg(count(lit(1)),
        (sum(when(keep, 1L).otherwise(0L)) +: names.map(n => sum(when(rowRules(n), 1L).otherwise(0L)))): _*)
      .collect()
    Expected(per.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
      names.zipWithIndex.map { case (n, i) => n -> r.getLong(3 + i) }.toMap)).toMap)
  }

  /** Mismatches of one drain against the oracle. */
  private def check(spark: SparkSession, sink: String, profileDir: String, e: Expected,
      batches: Int, outcomes: Seq[StreamValidator.BatchOutcome]): Seq[String] = {
    val versions = SnapTable.versions(spark, sink)
    val clean = SnapTable.read(spark, sink).count()
    val profile = org.json4s.jackson.JsonMethods.parse(
      Files.readString(Env.path(s"$profileDir/$Table/profile.json")))
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val profiled = (profile \ "columns").children
      .map(c => (c \ "total_count").extract[Long]).distinct
    val batchIds = outcomes.map(_.batchId).sorted
    val perBatch = outcomes.flatMap { o =>
      val (rows, _, fails) = e.perBatch(o.batchId)
      Oracle.compare(rules, o.summary.results,
        fails.map { case (n, f) => n -> Expect(f, rows) }).map(m => s"batch ${o.batchId}: $m")
    }
    perBatch ++
      (if (batchIds != (0 until batches).map(_.toLong)) Seq(s"batches seen $batchIds") else Nil) ++
      (if (versions.size != batches) Seq(s"${versions.size} committed versions for $batches batches") else Nil) ++
      (if (clean != e.clean(batches)) Seq(s"sink holds $clean rows, expected ${e.clean(batches)}") else Nil) ++
      (if (profiled != List(e.rows(batches)))
        Seq(s"lifetime profile counts $profiled, expected ${e.rows(batches)}") else Nil)
  }

  /** Replays, on the same batch files, the public calls each micro-batch
    * makes, each in its own span: validation, metrics sink, profiling and
    * the sequenced append. */
  private def replay(spark: SparkSession, ctx: Ctx, op: Long, config: ValidationConfig,
      input: String, dir: String, batches: Int): Unit = {
    val tr = ctx.tracer
    val sink = s"$dir/sink"
    (0 until batches).foreach { b =>
      tr.span("bench", s"replay:batch-$b", op = op, parent = 0L) {
        val batch = spark.read.parquet(batchFile(input, b))
        val validator = new Validator(spark, config)
        val summary: ValidationSummary =
          if (SnapTable.versions(spark, sink).isEmpty)
            tr.span("validator", "Validator.executeRules")(validator.executeRules(batch, rules, Table))
          else tr.span("validator", "Validator.validateTableIncremental") {
            validator.validateTableIncremental(
              SnapTable.read(spark, sink).unionByName(batch), batch, Table,
              tableFrameForKeys = Some(keys =>
                SnapTable.readTouchedBy(spark, sink, keys.head, batch).unionByName(batch)))
          }
        tr.span("metrics_sink", "MetricsSink.appendSummary")(
          MetricsSink.appendSummary(spark, summary, s"$dir/metrics", s"batch-$b"))
        tr.span("profiler", "Profiler.profileRun")(
          Profiler.profileRun(batch, s"$dir/profile/$Table", f"batch-$b%012d"))
        tr.span("snap_table", "SnapTable.appendBatch")(
          SnapTable.appendBatch(spark, sink, RulePlanner.applyFilters(batch, rules), b.toLong))
      }
    }
  }

  def run(ctx: Ctx): RunResult = {
    val batches = Batches
    val convsPerBatch = ctx.sized(ConvsPerBatch)
    val inputs = (0 until 5).map(r => ctx.work.resolve(s"stream-input-$r").toString)
    val setup = Env.phase("session")(Env.freshSession(Env.hi, ctx.work))
    val generated = Env.phase("generate")(Loop.generated(generate(setup, batches, convsPerBatch, ctx.seed)))
    val setupS = Env.phase("inputs x5")(Loop.setup(5)(r => land(generated, inputs(r), batches)))
    generated.unpersist()
    inputs.init.foreach(d => Env.deleteTree(Env.path(d)))
    val input = inputs.last
    val schema = setup.read.parquet(batchFile(input, 0)).schema
    val expected = Env.phase("oracle")(oracle(setup, input, batches))
    val inputBytes = (0 until batches).map(b => Files.size(Env.path(batchFile(input, b)))).sum
    Env.stopAll()
    val config = ValidationConfig(tables = Seq(TableConfig(Table, rules)))

    // two warm-up drains: every batch compiles new generated classes, and
    // the per-batch time falls steeply over the first drains of a JVM while
    // the JIT catches up
    val ops = Loop.run(ctx, warmups = 2) { (i, threads, traced) =>
      val spark = Env.freshSession(threads, ctx.work)
      val listener = if (traced) Some(new JobListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val dir = ctx.work.resolve(s"stream-op-$i").toString
      val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[StreamValidator.BatchOutcome]()
      val source = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(input)
      val op = i + 1L
      val from = ctx.tracer.clock()
      val (query, sec) = ctx.tracer.span("bench", "op:stream_ingest", op = op, parent = 0L) {
        Env.timed {
          val q = ctx.tracer.span("stream", "StreamValidator.start")(
            StreamValidator.start(spark, source, config, Table,
              checkpointDir = s"$dir/checkpoint", validatedSink = Some(s"snap:$dir/sink"),
              triggerMs = 0L, onResult = o => { outcomes.add(o); () },
              metricsSink = Some(s"$dir/metrics"), profileDir = Some(s"$dir/profile"),
              historyFrames = true))
          ctx.tracer.span("stream", "StreamingQuery.processAllAvailable")(q.processAllAvailable())
          q
        }
      }
      val to = ctx.tracer.clock()
      query.stop()
      query.exception.foreach(e => throw e)
      val progress = query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
      def durations(key: String) = progress.map(p =>
        Option(p.durationMs.get(key)).map(_.doubleValue / 1e3).getOrElse(0.0)).toSeq
      val commits = durations("triggerExecution")
      System.err.println(s"[perfbench] op $i batch commits (s): ${commits.mkString(" ")}")
      import scala.jdk.CollectionConverters._
      val ok = Oracle.report(s"stream_ingest op $i, $threads threads",
        check(spark, s"$dir/sink", s"$dir/profile", expected, batches, outcomes.asScala.toSeq) ++
          (if (commits.size != batches) Seq(s"${commits.size} progress reports for $batches batches") else Nil))
      val sinkBytes = Env.treeBytes(Env.path(s"$dir/sink")) + Env.treeBytes(Env.path(s"$dir/profile"))
      val layer = listener.map { l =>
        val snap = SnapTable.snapshot(spark, s"$dir/sink")
        val manifestBytes = Env.treeBytes(Env.path(s"$dir/sink/_log"))
        val stateBytes = Env.treeFiles(Env.path(s"$dir/profile/$Table"),
          _.getFileName.toString.startsWith("state_")).map(Files.size).sum
        val replayDir = s"$dir-replay"
        val replayFrom = ctx.tracer.clock()
        replay(spark, ctx, op, config, input, replayDir, batches)
        val replayTo = ctx.tracer.clock()
        spark.stop()
        val w = SparkWindow.of(l, from, to)
        w.attach(ctx.tracer, ctx.tracer.all.filter(s => s.op == op && s.end <= to))
        SparkWindow.of(l, replayFrom, replayTo)
          .attach(ctx.tracer, ctx.tracer.all.filter(s => s.op == op && s.start >= replayFrom))
        val spans = ctx.tracer.all.filter(_.op == op)
        def mean(name: String) = {
          val ds = spans.filter(_.name == name).map(_.dur)
          if (ds.isEmpty) 0.0 else ds.sum / ds.size
        }
        val q = math.max(1, commits.size / 4)
        Env.deleteTree(Env.path(replayDir))
        Map(
          "stream.trigger_s" -> Stats.median(commits),
          "stream.add_batch_s" -> Stats.median(durations("addBatch")),
          "stream.planning_s" -> Stats.median(durations("queryPlanning")),
          "stream.wal_commit_s" -> Stats.median(durations("walCommit")),
          "stream.commit_growth" ->
            Stats.median(commits.takeRight(q)) / math.max(Stats.median(commits.take(q)), 1e-9),
          "validator.incremental_batch_s" -> mean("Validator.validateTableIncremental"),
          "snap_table.append_batch_s" -> mean("SnapTable.appendBatch"),
          "profiler.profile_run_s" -> mean("Profiler.profileRun"),
          "metrics_sink.append_s" -> mean("MetricsSink.appendSummary"),
          "snap_table.manifest_bytes" -> manifestBytes.toDouble,
          "snap_table.data_files" -> snap.files.size.toDouble,
          "profiler.state_bytes" -> stateBytes.toDouble
        ) ++ Layers.spark(w, sec, threads, expected.rows(batches))
      }.getOrElse(Map.empty)
      spark.stop()
      Env.deleteTree(Env.path(dir))
      OpRec(i, threads, traced, sec, expected.rows(batches), ok, Heap.afterGcMb, layer,
        samples = commits, figures = Map("sink_ratio" -> sinkBytes.toDouble / inputBytes))
    }

    val (tput, _, eff) = Loop.headline(ops)
    val hiOps = Loop.timedOk(ops, Env.hi)
    val commits = hiOps.flatMap(_.samples)
    val p50 = Stats.median(commits)
    val tailQ = Stats.tailPercentile(commits.size)
    val tail = if (commits.isEmpty) Double.NaN else tailQ.map(Stats.pct(commits, _)).getOrElse(commits.max)
    val sinkRatio = Stats.median(hiOps.map(_.figures("sink_ratio")))
    val failed = ops.count(!_.ok)
    RunResult(ops.size, failed,
      Map("turns_per_s" -> tput, "op_s_p50" -> p50, "scaling_eff" -> eff,
        "setup_s" -> setupS, "heap_peak_mb" -> Heap.peakMb),
      Seq(("stream_turns_per_s", tput, "turns/s"), ("batch_commit_s_p50", p50, "s"),
        ("batch_commit_s_tail", tail, "s"),
        ("batch_commit_tail_percentile", tailQ.map(_ * 100).getOrElse(100.0), "percentile"),
        ("batch_commit_samples", commits.size.toDouble, "count"),
        ("sink_bytes_per_input_byte", sinkRatio, "ratio"),
        ("setup_s", setupS, "s"), ("heap_peak_mb", Heap.peakMb, "MB"),
        ("ops_failed_frac", failed.toDouble / ops.size, "fraction"),
        ("input_turns_per_drain", expected.rows(batches).toDouble, "turns")),
      Layers.collect(ctx, ops))
  }
}
