package graft.bench

import graft._
import graft.io.{TranscriptConfig, Transcripts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full north-rule constraint suite over a materialized transcripts
  * table, used by the perfbench bulk_suite workload and by tests.
  *
  * The suite is exactly what BASELINE.md defines as "full constraint-suite
  * pass": single-pass fused column stats (completeness / pattern / range /
  * type-conformance), composite-key uniqueness on (conv_id, turn_idx),
  * dense turn_idx sequence and monotone ts per conversation, referential
  * integrity of conv_id against the conversation index (riding the same
  * walk: its per-conversation group rows joined to the index's keys), the
  * role-transition grammar per conversation, chi-square
  * drift on role and KS drift on text-length vs a drifted snapshot, and
  * per-partition verdicts over conv_id buckets.
  */
object TranscriptSuite {

  def rules: Seq[ValidationRule] = Seq(
    ValidationRule("text_completeness", RuleType.Completeness, Seq("text"), threshold = Some(0.97)),
    ValidationRule("role_completeness", RuleType.Completeness, Seq("role"), threshold = Some(0.97)),
    ValidationRule("conv_id_pattern", RuleType.Pattern, Seq("conv_id"),
      expression = Some("^(conv|orph)-[0-9a-f]{8}$"), threshold = Some(0.99)),
    ValidationRule("turn_idx_range", RuleType.Range, Seq("turn_idx"),
      parameters = Map("min" -> "0", "max" -> "100000"), threshold = Some(0.99)),
    ValidationRule("role_type_conformance", RuleType.TypeConformance, Seq("role"),
      parameters = Map("expected_type" -> "bigint", "reject" -> "true"),
      threshold = Some(0.98), severity = Severity.Warning),
    // partition_covers_key: the suite partitions by pmod(xxhash64(conv_id))
    // — a function of a key column — so equal keys are co-partitioned and
    // the global verdict is the exact roll-up of per-partition dup counts
    // (no table-wide distinct shuffle). Walk key (conv_id, turn_idx): it
    // rides the same group-walk job as the three rules below, counting
    // distinct turn_idx per conversation
    ValidationRule("key_uniqueness", RuleType.Uniqueness, Seq("conv_id", "turn_idx"),
      threshold = Some(0.99),
      parameters = Map("partition_covers_key" -> "true")),
    // dense per-conversation turn_idx (the −1 injections leave gaps); a
    // member of the (conv_id, turn_idx) walk — on the bucketed layout the
    // walk's only exchange is its per-partition roll-up (BucketingSpec)
    ValidationRule("turn_sequence", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0",
        "partition_covers_key" -> "true"),
      threshold = Some(0.9), severity = Severity.Warning),
    // ts never regresses along turn_idx; the walk's window partitions by
    // conv_id, so the bucketed layout plans NO exchange — only the
    // per-bucket sort by (turn_idx, ts) that uniqueness and sequence share
    ValidationRule("ts_monotonic", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "ts",
        "partition_covers_key" -> "true"),
      threshold = Some(0.9), severity = Severity.Warning),
    // role DFA: turns alternate user ↔ {assistant,tool,system} and every
    // conversation opens with a user turn. Same walk as ts_monotonic, with
    // its own sort by (turn_idx, role) — the walk's second and last Sort,
    // no exchange on the bucketed layout; violations come from the injected
    // numeric-string roles, NULL-role first turns, and duplicated keys (a
    // dup row makes a same-role self-edge the grammar doesn't allow)
    ValidationRule("role_grammar", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> ("user->assistant,user->tool,user->system," +
          "assistant->user,tool->user,system->user"),
        "first" -> "user", "partition_covers_key" -> "true"),
      threshold = Some(0.5), severity = Severity.Warning),
    // declarative compliance — one more counter in the SAME fused pass
    // (zero extra scans): tool turns must name their tool
    ValidationRule("tool_turns_have_tool", RuleType.Predicate, Seq(),
      expression = Some("role != 'tool' OR tool IS NOT NULL"),
      threshold = Some(0.5), severity = Severity.Warning),
    // size contract — rides the fused count and the partition totals,
    // ZERO additional jobs (suite cost unchanged)
    ValidationRule("min_size", RuleType.RowCount, Seq(),
      parameters = Map("min_rows" -> "10", "min_partition_rows" -> "10"),
      severity = Severity.Warning),
    // rides the conv_id walk above: one row per conversation, carrying its
    // turn count, is joined to the index — no scan of its own.
    // broadcast=false: the conversation index is ~turns/18 rows (10^9-scale
    // dim at the design point) — a broadcast would serialize a driver-side
    // hash build; shuffle join scales with the cluster
    ValidationRule("conv_referential", RuleType.Referential, Seq("conv_id"),
      parameters = Map("ref_table" -> "conv_index", "broadcast" -> "false"),
      threshold = Some(0.98)),
    // bounded-categorical tier: the injected numeric-string junk roles are
    // an unbounded label space (~68k distinct at the 28M-turn design
    // point — enough to trip the histogram bucket guard); naming the
    // expected vocabulary folds them into one __other__ bucket, so the
    // drift histogram stays 6 buckets at ANY scale
    ValidationRule("role_drift", RuleType.drift, Seq("role"),
      parameters = Map("method" -> "chi_square", "ref_table" -> "baseline",
        "values" -> "user,assistant,system,tool",
        "critical" -> "10000"), severity = Severity.Warning),
    ValidationRule("text_len_drift", RuleType.drift, Seq("text_len"),
      parameters = Map("method" -> "ks", "ref_table" -> "baseline",
        "lo" -> "0", "hi" -> "2000", "bins" -> "64", "critical" -> "0.3"),
      severity = Severity.Warning)
  )

  /** Bucket count for the at-rest turns layout. 128 = 4 task-waves at 32
    * cores and enough splits for any ladder level; on a real cluster this
    * would scale with executor count. */
  val BucketCount = 128

  /** Materialize a deterministic transcripts table (+ drifted baseline +
    * conversation index). The turns table is written BUCKETED by conv_id —
    * the north-star's "explicit repartitioning on conv_id" made durable:
    * a bucketed at-rest layout means every key-local operation (composite-key
    * uniqueness grouping, the referential anti-join's fact side) reads
    * already-distributed data and plans NO exchange for the 28M-row side.
    * `repartition(BucketCount, conv_id)` before the bucketed write uses the
    * same murmur3 hash as the bucket spec, so each task owns exactly one
    * bucket → one file per bucket, no small-file explosion. The schema DDL
    * is saved alongside so later sessions can re-declare the external table
    * (see [[openTurns]]). Returns the turn count. Not part of the timed
    * suite. */
  def materialize(spark: SparkSession, dir: String, numConvs: Long, shufflePartitions: Int): Long = {
    val cfg = TranscriptConfig(numConvs = numConvs, hotConvExtraTurns = numConvs / 10)
    val turns = Transcripts.turns(spark, cfg)
      .withColumn("text_len", coalesce(length(col("text")), lit(0)).cast("double"))
    spark.sql("DROP TABLE IF EXISTS graft_bench_turns")
    turns.repartition(BucketCount, col("conv_id"))
      .write.bucketBy(BucketCount, "conv_id")
      .option("path", s"$dir/turns_bucketed")
      .mode("overwrite")
      .saveAsTable("graft_bench_turns")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/turns_schema.ddl"), turns.schema.toDDL)
    Transcripts.turns(spark, Transcripts.drifted(cfg.copy(numConvs = math.max(numConvs / 4, 1))))
      .withColumn("text_len", coalesce(length(col("text")), lit(0)).cast("double"))
      .write.mode("overwrite").parquet(s"$dir/baseline")
    Transcripts.convIndex(spark, cfg).write.mode("overwrite").parquet(s"$dir/conv_index")
    spark.table("graft_bench_turns").count()
  }

  /** Open the materialized turns table, re-declaring the external bucketed
    * table in this session's catalog when absent (fresh ladder sessions have
    * an empty in-memory catalog; the bucket files + saved schema DDL carry
    * everything needed — the standard external-bucketed-table pattern, no
    * metastore required). */
  def openTurns(spark: SparkSession, dir: String): DataFrame = {
    if (!spark.catalog.tableExists("graft_bench_turns")) {
      val ddl = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/turns_schema.ddl"))
      spark.sql(
        s"""CREATE TABLE graft_bench_turns ($ddl) USING parquet
           |CLUSTERED BY (conv_id) INTO $BucketCount BUCKETS
           |LOCATION '$dir/turns_bucketed'""".stripMargin)
    }
    spark.table("graft_bench_turns")
  }
}
