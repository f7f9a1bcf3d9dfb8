package perfbench

import graft.{RuleType, TableConfig, ValidationConfig, ValidationRule}
import graft.engine.Validator
import graft.io.{SnapTable, TranscriptConfig, Transcripts}
import graft.state.Checkpoint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `nightly_append`: the CLI's `--incremental` path composed from public
  * calls, over a conv_id-clustered snap table right after one delta was
  * committed. Each operation first restores the table to its created
  * version and re-commits the same delta (untimed), so every operation
  * validates the same situation. */
object NightlyAppend {
  private val Table = "turns"
  private val Convs = 3000L
  private val Files = 16
  private val NewConvsPerMille = 5L

  val rules: Seq[ValidationRule] = Seq(
    ValidationRule("text_complete", RuleType.Completeness, Seq("text"), threshold = Some(0.9)),
    ValidationRule("conv_pattern", RuleType.Pattern, Seq("conv_id"),
      expression = Some("^conv-[0-9a-f]{8}$"), threshold = Some(0.9)),
    ValidationRule("turn_range", RuleType.Range, Seq("turn_idx"),
      parameters = Map("min" -> "0", "max" -> "100000"), threshold = Some(0.9)),
    ValidationRule("turn_key", RuleType.Uniqueness, Seq("conv_id", "turn_idx"),
      threshold = Some(0.9)),
    ValidationRule("turn_seq", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0"), threshold = Some(0.8)),
    ValidationRule("size", RuleType.RowCount, Seq(), parameters = Map("min_rows" -> "1000")))

  /** The night's delta, the same size for every seed: four continuation
    * turns for 1% of the existing conversations, evenly spaced over the
    * whole key range from a seeded offset (indices continue where the
    * generator's conversation length ends), plus new eight-turn
    * conversations past the existing id range. */
  private def delta(spark: SparkSession, cfg: TranscriptConfig): DataFrame = {
    val len = (lit(cfg.minTurns) + pmod(xxhash64(lit(cfg.seed), lit("len"), col("cid")),
      lit(cfg.turnSpread.toLong))).cast("int")
    val continued = spark.range(0L, math.max(1L, cfg.numConvs / 100)).toDF("k")
      .select((lit(1L + math.floorMod(cfg.seed, 100L)) + col("k") * 100L).as("cid"))
      .filter(col("cid") < cfg.numConvs)
      .select(col("cid"), len.as("first"), lit(4).as("n"))
    val newConvs = math.max(1L, cfg.numConvs * NewConvsPerMille / 1000)
    val fresh = spark.range(cfg.numConvs, cfg.numConvs + newConvs).toDF("cid")
      .select(col("cid"), lit(0).as("first"), lit(8).as("n"))
    continued.unionByName(fresh)
      .select(col("cid"), explode(sequence(col("first"), col("first") + col("n") - 1)).as("tix"))
      .select(
        format_string("conv-%08x", col("cid")).as("conv_id"),
        col("tix").cast("int").as("turn_idx"),
        when(col("tix") % 2 === 0, "user").otherwise("assistant").as("role"),
        concat(lit("appended turn "), col("tix").cast("string")).as("text"),
        lit(null).cast("string").as("tool"),
        timestamp_seconds(lit(1700000000L) + col("cid") * 300L + col("tix").cast("long") * 7L).as("ts"))
  }

  private def oracle(spark: SparkSession, dir: String, deltaPath: String): (Long, Map[String, Expect]) = {
    val base = spark.read.parquet(s"$dir/data")
    val d = spark.read.parquet(deltaPath)
    val (n, c) = Oracle.rowCounts(d, Seq(
      "text_null" -> col("text").isNull,
      "conv_bad" -> (col("conv_id").isNotNull && !col("conv_id").rlike("^conv-[0-9a-f]{8}$")),
      "turn_out" -> (col("turn_idx") < 0 || col("turn_idx") > 100000)))
    val table = base.unionByName(d)
    // a group rule sees every table row sharing its key with a delta row
    def affected(keys: String*) = table.join(d.select(keys.map(col): _*).distinct(), keys, "left_semi")
    val (groups, badGroups) = Oracle.sequenceGroups(affected("conv_id"))
    val sameKey = affected("conv_id", "turn_idx")
    val all = table.count()
    (n, Map(
      "text_complete" -> Expect(c("text_null"), n),
      "conv_pattern" -> Expect(c("conv_bad"), n),
      "turn_range" -> Expect(c("turn_out"), n),
      "turn_key" -> Expect(Oracle.duplicateRows(sameKey), sameKey.count()),
      "turn_seq" -> Expect(badGroups, groups),
      "size" -> Expect(if (all < 1000) 1L else 0L, 1L)))
  }

  def run(ctx: Ctx): RunResult = {
    val convs = ctx.sized(Convs)
    val cfg = TranscriptConfig(numConvs = convs, seed = ctx.seed, hotConvExtraTurns = convs / 10)
    val dirs = (0 until 3).map(r => ctx.work.resolve(s"nightly-$r").toString)
    val deltaPath = ctx.work.resolve("nightly-delta").toString
    val setup = Env.phase("session")(Env.freshSession(Env.hi, ctx.work))
    val generated = Env.phase("generate")(Loop.generated(Transcripts.turns(setup, cfg)))
    val setupS = Env.phase("inputs x3")(Loop.setup(3)(r => SnapTable.create(setup, dirs(r),
      SnapTable.clustered(generated, "conv_id", Files))))
    generated.unpersist()
    dirs.init.foreach(d => Env.deleteTree(Env.path(d)))
    val dir = dirs.last
    delta(setup, cfg).coalesce(1).write.parquet(deltaPath)
    val (deltaRows, expect) = Env.phase("oracle")(oracle(setup, dir, deltaPath))
    val created = SnapTable.snapshot(setup, dir)
    Env.stopAll()
    val ckPath = ctx.work.resolve("nightly-checkpoint.json").toString
    val config = ValidationConfig(tables = Seq(TableConfig(Table, rules)))

    // three warm-up operations (they are short): after one, the next is
    // still ~25 % faster
    val ops = Loop.run(ctx, warmups = 3) { (i, threads, traced) =>
      val spark = Env.freshSession(threads, ctx.work)
      val listener = if (traced) Some(new JobListener) else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val ck = new Checkpoint(ckPath)
      SnapTable.restore(spark, dir, created.version)
      ck.recordSnapshot(Table, Checkpoint.snapCursor(created.tableId,
        SnapTable.currentVersion(spark, dir)))
      SnapTable.append(spark, dir, spark.read.parquet(deltaPath))
      val validator = new Validator(spark, config, checkpoint = Some(ck))
      val tr = ctx.tracer
      val op = i + 1L
      val touchedFiles = new java.util.concurrent.atomic.AtomicLong(0L)
      val from = tr.clock()
      // timed from the committed delta to the verdict and the recorded cursor
      val ((summary, snap), sec) = tr.span("bench", "op:nightly_append", op = op, parent = 0L) {
        Env.timed {
          val snap = tr.span("snap_table", "SnapTable.snapshot")(SnapTable.snapshot(spark, dir))
          val cursor = tr.span("checkpoint", "Checkpoint.recordedSnapCursor")(
            ck.recordedSnapCursor(Table)).getOrElse(sys.error("no recorded cursor"))._2
          val d = tr.span("snap_table", "SnapTable.changes")(
            SnapTable.changes(spark, dir, cursor, Some(snap.version)))
          val full = tr.span("snap_table", "SnapTable.read")(SnapTable.read(spark, dir))
          val summary = tr.span("validator", "Validator.validateTableIncremental") {
            val parent = tr.currentId
            validator.validateTableIncremental(full, d, Table,
              tableFrameForKeys = Some(keys =>
                tr.span("snap_table", "SnapTable.readTouchedBy", op = op, parent = parent) {
                  val f = SnapTable.readTouchedBy(spark, dir, keys.head, d)
                  if (traced) touchedFiles.addAndGet(f.inputFiles.length.toLong)
                  f
                }))
          }
          tr.span("checkpoint", "Checkpoint.recordSnapshot")(
            ck.recordSnapshot(Table, Checkpoint.snapCursor(snap.tableId, snap.version)))
          (summary, snap)
        }
      }
      val to = tr.clock()
      spark.stop()
      val cursorOk = new Checkpoint(ckPath).recordedSnapVersion(Table).contains(snap.version)
      val ok = Oracle.report(s"nightly_append op $i, $threads threads",
        Oracle.compare(rules, summary.results, expect) ++
          (if (cursorOk) Nil else Seq(s"cursor not advanced to v${snap.version}")))
      val layer = listener.map { l =>
        val w = SparkWindow.of(l, from, to)
        val spans = tr.all.filter(_.op == op)
        w.attach(tr, spans)
        def sum(name: String) = spans.filter(_.name == name).map(_.dur).sum
        Map(
          "snap_table.snapshot_s" -> sum("SnapTable.snapshot"),
          "snap_table.changes_s" -> sum("SnapTable.changes"),
          "snap_table.read_touched_s" -> sum("SnapTable.readTouchedBy"),
          "snap_table.touched_file_frac" ->
            touchedFiles.get.toDouble / math.max(1, snap.files.size * spans.count(_.name == "SnapTable.readTouchedBy")),
          "validator.rows_read_per_delta_row" -> w.records.toDouble / deltaRows,
          "checkpoint.record_s" -> sum("Checkpoint.recordSnapshot"),
          "checkpoint.bytes" -> java.nio.file.Files.size(Env.path(ckPath)).toDouble
        ) ++ Layers.spark(w, sec, threads, deltaRows)
      }.getOrElse(Map.empty)
      OpRec(i, threads, traced, sec, deltaRows, ok, Heap.afterGcMb, layer)
    }

    val (tput, p50, eff) = Loop.headline(ops)
    val failed = ops.count(!_.ok)
    RunResult(ops.size, failed,
      Map("turns_per_s" -> tput, "op_s_p50" -> p50, "scaling_eff" -> eff,
        "setup_s" -> setupS, "heap_peak_mb" -> Heap.peakMb),
      Seq(("incremental_s_p50", p50, "s"), ("setup_s", setupS, "s"),
        ("heap_peak_mb", Heap.peakMb, "MB"),
        ("ops_failed_frac", failed.toDouble / ops.size, "fraction"),
        ("delta_turns", deltaRows.toDouble, "turns"),
        ("table_files", created.files.size.toDouble, "files")),
      Layers.collect(ctx, ops))
  }
}
