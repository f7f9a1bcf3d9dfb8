package graft

import graft.engine.{Checks, RulePlanner, Suggest, Validator}
import graft.io.{Tables, TranscriptConfig, Transcripts}
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — one `queries` entry per operator (SURVEY.md §2), with
  * DuckDB-runnable ANSI SQL oracles in [[oracleSql]] wherever the operator
  * is SQL-expressible. Column names and values are engineered to agree
  * bit-for-bit with the oracle: money sums go through DECIMAL(18,2) (exact)
  * before a final cast to double; all double math is plain left-associative
  * arithmetic over integer counts (reproducible by any IEEE-754 engine); no
  * `pow`/`round` (libm/rounding-mode variance); every result is ORDER BY'd.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.testTable(s, dir, name)

  /** Scratch dir for a snap-table query, wiped before rebuild so reruns
    * start from version 1 (the driver executes every query twice). */
  private def snapScratch(s: SparkSession, sfDir: String, tag: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_snap_${tag}_" + Dedup.stableSuffix(sfDir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }

  private def dec(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  // -------------------------------------------------------------- transcripts

  /** Deterministic north-rule transcripts slice used by entry + the
    * rows-only transcript queries (seeded; same rows at any parallelism). */
  val entryConfig: TranscriptConfig = TranscriptConfig(numConvs = 500L, hotConvExtraTurns = 800L)

  private def transcriptRules: Seq[ValidationRule] = Seq(
    ValidationRule("text_completeness", RuleType.Completeness, Seq("text"), threshold = Some(0.97)),
    ValidationRule("role_completeness", RuleType.Completeness, Seq("role"), threshold = Some(0.97)),
    ValidationRule("conv_id_pattern", RuleType.Pattern, Seq("conv_id"),
      expression = Some("^(conv|orph)-[0-9a-f]{8}$"), threshold = Some(0.99)),
    ValidationRule("turn_idx_range", RuleType.Range, Seq("turn_idx"),
      parameters = Map("min" -> "0", "max" -> "100000"), threshold = Some(0.99)),
    ValidationRule("role_type_conformance", RuleType.TypeConformance, Seq("role"),
      parameters = Map("expected_type" -> "bigint", "reject" -> "true"),
      threshold = Some(0.98), severity = Severity.Warning),
    ValidationRule("turn_idx_outliers", RuleType.Outlier, Seq("turn_idx"),
      threshold = Some(0.99), severity = Severity.Warning,
      parameters = Map("max_zscore" -> "4.0")),
    ValidationRule("key_uniqueness", RuleType.Uniqueness, Seq("conv_id", "turn_idx"),
      threshold = Some(0.99),
      parameters = Map("partition_covers_key" -> "true")),
    ValidationRule("conv_referential", RuleType.Referential, Seq("conv_id"),
      parameters = Map("ref_table" -> "conv_index", "broadcast" -> "true"), threshold = Some(0.98)),
    // set membership: the closed role vocabulary (numeric-string injections
    // fail it, like type_conformance's reject mode, plus any future drifted
    // label); fuses into the same single-pass aggregate
    ValidationRule("role_allowed", RuleType.AllowedValues, Seq("role"),
      parameters = Map("values" -> "user,assistant,system,tool"),
      threshold = Some(0.98), severity = Severity.Warning),
    // event-time staleness vs an instant pinned after the generator's base
    // epoch: early conversations (cid*300 s offsets below the cutoff) are
    // stale; fuses as one long comparison
    ValidationRule("ts_freshness", RuleType.Freshness, Seq("ts"),
      parameters = Map("max_age_seconds" -> "1296000", // 15 days
        "reference_time" -> "2023-12-01T00:00:00Z"),
      threshold = Some(0.3), severity = Severity.Warning),
    // per-conversation turn_idx must run 0,1,2,… gapless (the −1 injections
    // violate); verdict unit is conversations; partition_covers_key: the
    // suite partitions on a function of conv_id, so the global verdict is
    // the per-partition roll-up — no second table-wide job
    ValidationRule("turn_sequence", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0",
        "partition_covers_key" -> "true"),
      threshold = Some(0.9), severity = Severity.Warning),
    // event time must never run backwards as turn_idx advances within a
    // conversation; (turn_idx, ts) tiebreak keeps the walk deterministic
    // over the duplicate-turn injections
    ValidationRule("ts_monotonic", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "ts",
        "partition_covers_key" -> "true"),
      threshold = Some(0.9), severity = Severity.Warning),
    // role DFA: turns alternate user ↔ {assistant,tool,system}, every
    // conversation opens with a user turn — one window pass sharing the
    // conv_id partitioning (violations: numeric-string roles break edges,
    // a NULL first role shifts the walk start, duplicated keys make
    // same-role self-edges)
    ValidationRule("role_grammar", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> ("user->assistant,user->tool,user->system," +
          "assistant->user,tool->user,system->user"),
        "first" -> "user", "partition_covers_key" -> "true"),
      threshold = Some(0.5), severity = Severity.Warning),
    // declarative compliance, fused: tool turns must name their tool
    ValidationRule("tool_turns_have_tool", RuleType.Predicate, Seq(),
      expression = Some("role != 'tool' OR tool IS NOT NULL"),
      threshold = Some(0.5), severity = Severity.Warning),
    // size contract: rides the fused count globally and partTotals per
    // partition — zero extra jobs; flags dead/thin ingest buckets
    ValidationRule("min_size", RuleType.RowCount, Seq(),
      parameters = Map("min_rows" -> "10", "min_partition_rows" -> "10"),
      severity = Severity.Warning),
    // distinct-count contract: the role vocabulary is small and closed
    ValidationRule("role_cardinality", RuleType.Cardinality, Seq("role"),
      parameters = Map("min_distinct" -> "2", "max_distinct" -> "10"),
      severity = Severity.Warning),
    // determinant→dependent consistency: a duplicated (conv_id, turn_idx)
    // slot must AGREE on its role — the generator's re-ingest duplicates
    // are exact copies and pass; a conflicting slot would be corruption
    // only this family isolates. conv_id ⊆ determinant, so the suite's
    // conv_id-derived partitions cover it and the roll-up IS the global
    ValidationRule("turn_role_consistent", RuleType.FunctionalDependency,
      Seq("conv_id", "turn_idx"),
      parameters = Map("dependent" -> "role", "partition_covers_key" -> "true"),
      severity = Severity.Warning),
    // distribution-position contract: p95 conversation depth in band via
    // the mergeable one-pass sketch tier (binary verdict)
    ValidationRule("turn_depth_p95", RuleType.Quantile, Seq("turn_idx"),
      parameters = Map("q" -> "0.95", "min_value" -> "1", "max_value" -> "100000",
        "approx" -> "true"),
      severity = Severity.Warning)
  )

  /** Flagship: the full north-rule constraint suite over the synthetic
    * transcripts table — fused stats pass + composite-key uniqueness +
    * referential integrity — returning one row per rule verdict. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val cfg = entryConfig
    // the synthesized turns regenerate per scan (unlike a parquet table,
    // where repeated section scans ride the page cache) — under an active
    // CacheScope (Verify wraps every query in one) the input is
    // materialized once for the suite's ~6 passes and released after;
    // bare calls stay persist-free
    val turns = graft.operators.CacheScope.ambient.cache(Transcripts.turns(spark, cfg))
    val index = Transcripts.convIndex(spark, cfg)
    val config = ValidationConfig(tables = Seq(TableConfig("transcripts", transcriptRules)))
    val validator = new Validator(spark, config,
      name => if (name == "conv_index") Some(index) else None)
    val summary = validator.validateTable(turns, "transcripts")
    summary.results
      .map(r => (r.rule_name, r.rule_type, r.passed, r.failed_count, r.total_count, r.success_rate, r.severity))
      .toDF("rule_name", "rule_type", "passed", "failed_count", "total_count", "success_rate", "severity")
      .orderBy("rule_name")
  }

  // ------------------------------------------------------------- query suite

  /** (name, spark plan, optional DuckDB oracle SQL). */
  private case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

  /** Driver-visible invariant row for rows-only ANN queries: append
    * (query_id = id = rank = −1, cosine = recall vs the exact brute-force
    * top-k) so the dumped artifact itself certifies retrieval quality —
    * same pattern as the partition-verdict `__global_check` rows. */
  private def withRecallRow(s: SparkSession, ann0: DataFrame, brute: DataFrame): DataFrame = {
    import s.implicits._
    val ann = graft.operators.CacheScope.ambient.cache(ann0)
    val (_, hits, total) = setStats(ann, brute, Seq("query_id", "id"))
    val recall = if (total == 0) 1.0 else hits.toDouble / total
    ann.unionByName(
      Seq((-1L, -1L, recall, -1)).toDF("query_id", "id", "cosine", "rank"))
  }

  /** Pool for [[overlapped]] — daemon threads, unbounded (a query
    * forces at most a couple of frames at once). */
  private lazy val overlapPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-query-overlap"); t.setDaemon(true); t
      }))

  /** Materialize a CACHED frame on a background thread (guide §2.6 —
    * overlap independent jobs) while `body` runs an independent pipeline's
    * driver-blocking actions (a mid-plan collect, an index write, a k-means
    * build) on the calling thread. The background count is always awaited
    * before this returns or throws, so it never outlives the call and runs
    * into the next query; when `body` succeeds, a background failure is
    * rethrown, so error behavior matches the sequential formulation. The
    * frame must already be under a CacheScope: the forced blocks are what
    * every later consumer reads. */
  private[graft] def overlapped[A](df: DataFrame)(body: => A): A = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val f = Future { df.count(); () }(overlapPool)
    val out = try body finally Await.ready(f, Duration.Inf)
    Await.result(f, Duration.Inf)
    out
  }

  /** Certification stats for two DISTINCT row sets sharing `keys`:
    * (rows only in `found`, rows in both, total rows in `ref`) — ONE
    * full-outer-join aggregate job, so each upstream pipeline executes
    * exactly once (the exceptAll/intersect/count formulation re-executed
    * both pipelines per action — measured 2× the whole query's cost).
    * Rows with a NULL in any key column are EXCLUDED from both sides:
    * SQL join equality never matches NULLs, so such a row present in both
    * sets would double-count as found-only AND ref-only — a false
    * certification failure (all current callers emit non-null keys; the
    * filter makes the contract explicit rather than data-dependent). */
  private def setStats(found: DataFrame, ref: DataFrame, keys: Seq[String]): (Long, Long, Long) = {
    val nonNull = keys.map(col(_).isNotNull).reduce(_ && _)
    val f = found.select(keys.map(col): _*).filter(nonNull).withColumn("__f", lit(1))
    val r = ref.select(keys.map(col): _*).filter(nonNull).withColumn("__r", lit(1))
    val row = f.join(r, keys, "full_outer")
      .agg(
        sum(when(col("__f").isNotNull && col("__r").isNull, 1L).otherwise(0L)),
        sum(when(col("__f").isNotNull && col("__r").isNotNull, 1L).otherwise(0L)),
        sum(when(col("__r").isNotNull, 1L).otherwise(0L))).head()
    def g(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    (g(0), g(1), g(2))
  }

  /** Sampled-recall certification for pair-finding queries over embeddings:
    * the exact reference is the brute-force cosine pair list restricted to
    * the deterministic stratum id_a < 200 (all partners) — O(200·n) instead
    * of O(n²) per run. Appends (id_a=−1, id_b=unsound_count, cosine=recall):
    * unsound_count MUST be 0 (every emitted pair carries its exact cosine ≥
    * threshold), recall estimates completeness on the stratum. */
  private def withPairRecallRow(
      s: SparkSession, found0: DataFrame, emb: DataFrame, threshold: Double): DataFrame =
    withPairRecallRowPrebuilt(s, found0, stratumBrutePairs(emb, threshold))

  /** The exact reference pair list for [[withPairRecallRow]] — split out so
    * a query whose found-pipeline needs driver-blocking index builds
    * (k-means) can materialize this INDEPENDENT subtree concurrently. */
  private def stratumBrutePairs(emb: DataFrame, threshold: Double): DataFrame = {
    val a = emb.filter(col("vec_id") < 200)
      .select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
  }

  private def withPairRecallRowPrebuilt(
      s: SparkSession, found0: DataFrame, brute: DataFrame): DataFrame = {
    import s.implicits._
    // the found pairs feed both the cert join and the query output —
    // materialized once under the harness CacheScope
    val found = graft.operators.CacheScope.ambient.cache(found0)
    val (unsound, hits, total) =
      setStats(found.filter(col("id_a") < 200), brute, Seq("id_a", "id_b"))
    val recall = if (total == 0) 1.0 else hits.toDouble / total
    found.unionByName(Seq((-1L, unsound, recall)).toDF("id_a", "id_b", "cosine"))
  }

  private val ruleSuiteForFilters = Seq(
    ValidationRule("props_complete", RuleType.Completeness, Seq("props")),
    ValidationRule("value_range", RuleType.Range, Seq("value"),
      parameters = Map("min" -> "0", "max" -> "100")),
    ValidationRule("type_pattern", RuleType.Pattern, Seq("event_type"),
      expression = Some("^[a-z]+$")))

  private def all: Seq[Q] = Seq(

    // ---- aggregation / scan pushdown -------------------------------------
    Q("q1_pricing_summary",
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dec(col("l_quantity")).as("sum_qty"),
          dec(col("l_extendedprice")).as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    // ---- completeness (fused-aggregate rule) -----------------------------
    Q("q_completeness_events",
      (s, d) => t(s, d, "events").agg(
        count(lit(1)).as("total_count"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"),
        sum(when(col("value").isNull || isnan(col("value")), 1L).otherwise(0L)).as("null_value"),
        sum(when(col("event_type").isNull, 1L).otherwise(0L)).as("null_event_type")),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS total_count,
        CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
        CAST(SUM(CASE WHEN value IS NULL OR isnan(value) THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
        CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type
        FROM events""")),

    // ---- range rule, grouped (per-partition verdict shape) ---------------
    Q("q_range_events",
      (s, d) => t(s, d, "events").groupBy(col("event_type")).agg(
        count(lit(1)).as("total_count"),
        sum(when(!(col("value") >= 0 && col("value") <= 100), 1L).otherwise(0L)).as("range_failed"))
        .orderBy("event_type"),
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS total_count,
        CAST(SUM(CASE WHEN NOT (value >= 0 AND value <= 100) THEN 1 ELSE 0 END) AS BIGINT) AS range_failed
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- pattern rule ----------------------------------------------------
    Q("q_pattern_events",
      (s, d) => t(s, d, "events").agg(
        count(lit(1)).as("total_count"),
        sum(when(col("event_type").isNotNull && !col("event_type").rlike("^(click|view|signup)$"), 1L)
          .otherwise(0L)).as("pattern_failed")),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS total_count,
        CAST(SUM(CASE WHEN event_type IS NOT NULL AND NOT regexp_matches(event_type, '^(click|view|signup)$') THEN 1 ELSE 0 END) AS BIGINT) AS pattern_failed
        FROM events""")),

    // ---- composite-key uniqueness ----------------------------------------
    Q("q_uniqueness_lineitem",
      (s, d) => {
        val li = t(s, d, "lineitem")
        li.agg(count(lit(1)).as("total_count"))
          .crossJoin(li.select("l_orderkey", "l_linenumber").distinct()
            .agg(count(lit(1)).as("distinct_keys")))
          .select(col("total_count"), col("distinct_keys"),
            (col("total_count") - col("distinct_keys")).as("dup_count"))
      },
      Some("""SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS total_count,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS distinct_keys,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) - (SELECT CAST(COUNT(*) AS BIGINT) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS dup_count""")),

    // ---- uniqueness violation groups -------------------------------------
    Q("q_dup_keys_lineitem",
      (s, d) => Checks.duplicateKeys(t(s, d, "lineitem"), Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, CAST(COUNT(*) AS BIGINT) AS dup_count
        FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- uniqueness violation ROWS (window over key partition) ----------
    Q("q_dup_rows_lineitem",
      (s, d) => Checks.duplicateRows(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        Seq("l_orderkey", "l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        QUALIFY COUNT(*) OVER (PARTITION BY l_orderkey, l_linenumber) > 1
        ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""")),

    // ---- sequence rule (dense per-key index integrity) --------------------
    Q("q_sequence_lineitem",
      (s, d) => Checks.sequenceGroups(t(s, d, "lineitem"), Seq("l_orderkey"), "l_linenumber")
        .agg(count(lit(1)).as("total_groups"),
          sum(when(Checks.sequenceViolationCond(Some(1L)), 1L).otherwise(0L)).as("violating_groups"),
          sum(col("n_distinct")).as("distinct_pairs")),
      Some("""WITH g AS (SELECT l_orderkey, COUNT(DISTINCT l_linenumber) AS n, MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx
        FROM lineitem WHERE l_linenumber IS NOT NULL GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS total_groups,
        CAST(SUM(CASE WHEN NOT (n = mx - mn + 1 AND mn = 1) THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
        CAST(SUM(n) AS BIGINT) AS distinct_pairs FROM g""")),

    // ---- incremental tier: family-aware frames over an append delta ------
    // validateTableIncremental end-to-end: the "appended" rows are the
    // high line numbers; row rules must see ONLY them, group-unit rules the
    // whole affected orders (semi-join), absolute rules the whole table.
    // The oracle re-derives each frame and verdict count in plain SQL, so
    // the frame routing itself is hash-checked, not just spec-asserted.
    Q("q_incremental_frames_lineitem",
      (s, d) => {
        // deliberately NOT cached: the three validation frames run
        // concurrently and each re-reads the single-split source — a cache
        // would serialize all of them behind one single-task build
        // (measured 1.1 → 2.5 s), while the concurrent parquet re-reads
        // ride the page cache
        val li = t(s, d, "lineitem")
        val delta = li.filter(col("l_linenumber") >= 6)
        val rules = Seq(
          ValidationRule("flag_complete", RuleType.Completeness, Seq("l_returnflag"),
            threshold = Some(0.0)),
          ValidationRule("line_seq", RuleType.Sequence, Seq("l_orderkey"),
            parameters = Map("index" -> "l_linenumber", "start" -> "1"),
            threshold = Some(0.0)),
          ValidationRule("line_key", RuleType.Uniqueness, Seq("l_orderkey", "l_linenumber"),
            threshold = Some(0.0)),
          ValidationRule("size", RuleType.RowCount, Seq(),
            parameters = Map("min_rows" -> "1")))
        val v = new Validator(s,
          ValidationConfig(tables = Seq(TableConfig("li", rules = rules))))
        val summary = v.validateTableIncremental(li, delta, "li")
        import s.implicits._
        summary.results
          .map(r => (r.rule_name, r.metadata("incremental"), r.failed_count, r.total_count))
          .toDF("rule_name", "frame", "failed_count", "total_count")
          .orderBy("rule_name")
      },
      Some("""WITH delta AS (SELECT * FROM lineitem WHERE l_linenumber >= 6),
        key_frame AS (SELECT l.* FROM lineitem l
          JOIN (SELECT DISTINCT l_orderkey, l_linenumber FROM delta) d
          USING (l_orderkey, l_linenumber)),
        seq_frame AS (SELECT l.* FROM lineitem l
          JOIN (SELECT DISTINCT l_orderkey FROM delta) d USING (l_orderkey)),
        seq_g AS (SELECT l_orderkey, COUNT(DISTINCT l_linenumber) AS n,
            MIN(l_linenumber) AS mn, MAX(l_linenumber) AS mx
          FROM seq_frame WHERE l_linenumber IS NOT NULL GROUP BY 1)
        SELECT 'flag_complete' AS rule_name, 'delta' AS frame,
          CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS failed_count,
          CAST(COUNT(*) AS BIGINT) AS total_count FROM delta
        UNION ALL
        SELECT 'line_key', 'affected_groups',
          (SELECT CAST(COUNT(*) AS BIGINT) FROM key_frame) -
            (SELECT CAST(COUNT(*) AS BIGINT) FROM
              (SELECT DISTINCT l_orderkey, l_linenumber FROM key_frame)),
          (SELECT CAST(COUNT(*) AS BIGINT) FROM key_frame)
        UNION ALL
        SELECT 'line_seq', 'affected_groups',
          CAST(SUM(CASE WHEN NOT (n = mx - mn + 1 AND mn = 1) THEN 1 ELSE 0 END) AS BIGINT),
          CAST(COUNT(*) AS BIGINT) FROM seq_g
        UNION ALL
        SELECT 'size', 'full',
          CAST(CASE WHEN COUNT(*) >= 1 THEN 0 ELSE 1 END AS BIGINT),
          CAST(1 AS BIGINT) FROM lineitem
        ORDER BY rule_name""")),

    // ---- conversation assembly (ordered parts → one document per key) ----
    Q("q_assemble_lineitem",
      (s, d) => graft.operators.Curation.assembleByKey(
        t(s, d, "lineitem").filter(col("l_orderkey") < 3000),
        "l_orderkey", "l_linenumber", Seq("l_returnflag", "l_linestatus"),
        fieldSep = ":", lineSep = "|")
        .orderBy("l_orderkey"),
      // ORDER BY pins the FULL struct order: the testdata injects duplicate
      // l_linenumber values, and a bare ORDER BY l_linenumber leaves tie
      // order engine-defined — the operator's lexicographic struct sort is
      // the deterministic contract both sides must state explicitly
      Some("""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_parts,
        string_agg(COALESCE(l_returnflag, '') || ':' || COALESCE(l_linestatus, ''), '|'
          ORDER BY l_linenumber, l_returnflag, l_linestatus) AS document
        FROM lineitem WHERE l_orderkey < 3000 AND l_linenumber IS NOT NULL
        GROUP BY 1 ORDER BY 1""")),

    // ---- predicate rule (declarative row compliance, fused) --------------
    Q("q_predicate_lineitem",
      (s, d) => {
        val li = t(s, d, "lineitem")
        val rule = ValidationRule("sane_charges", RuleType.Predicate, Seq(),
          expression = Some("l_discount <= 0.06 AND l_tax >= 0 AND l_quantity >= 1"))
        li.agg(count(lit(1)).as("total_rows"),
          sum(when(RulePlanner.failCondition(li.schema, rule), 1L).otherwise(0L))
            .as("failed_rows"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
        CAST(SUM(CASE WHEN NOT COALESCE(l_discount <= 0.06 AND l_tax >= 0 AND l_quantity >= 1, FALSE)
                 THEN 1 ELSE 0 END) AS BIGINT) AS failed_rows
        FROM lineitem""")),

    // ---- correlation contract (binary verdict; flag-only output so no
    // cross-engine float formatting enters the compare) --------------------
    Q("q_correlation_events",
      (s, d) => t(s, d, "events").agg(
        when(Checks.safeCorr(col("value"), col("user_id")).between(-0.5, 0.5), 0L)
          .otherwise(1L).as("failed"),
        sum(when(col("value").isNotNull && col("user_id").isNotNull, 1L).otherwise(0L))
          .as("pairs")),
      Some("""SELECT CAST(CASE WHEN corr(value, CAST(user_id AS DOUBLE)) BETWEEN -0.5 AND 0.5
                 THEN 0 ELSE 1 END AS BIGINT) AS failed,
        CAST(SUM(CASE WHEN value IS NOT NULL AND user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pairs
        FROM events""")),

    // ---- row_count + cardinality contracts (binary verdicts) -------------
    Q("q_row_count_events",
      (s, d) => t(s, d, "events").agg(count(lit(1)).as("row_count"),
        when(count(lit(1)).between(500L, 100000000L), 0L).otherwise(1L).as("failed")),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
        CAST(CASE WHEN COUNT(*) BETWEEN 500 AND 100000000 THEN 0 ELSE 1 END AS BIGINT) AS failed
        FROM events""")),
    Q("q_cardinality_events",
      (s, d) => {
        val c = col("event_type")
        val distinctVals = (countDistinct(c) +
          max(when(c.isNull, 1L).otherwise(0L))).as("distinct_vals")
        t(s, d, "events").agg(distinctVals,
          when((countDistinct(c) + max(when(c.isNull, 1L).otherwise(0L)))
            .between(2L, 50L), 0L).otherwise(1L).as("failed"))
      },
      Some("""SELECT CAST(COUNT(DISTINCT event_type) + MAX(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS distinct_vals,
        CAST(CASE WHEN COUNT(DISTINCT event_type) + MAX(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) BETWEEN 2 AND 50 THEN 0 ELSE 1 END AS BIGINT) AS failed
        FROM events""")),

    // ---- functional dependency (determinant → dependent consistency): the
    // violating-groups face — every order whose return flag is inconsistent
    // across its line items, with the distinct-flag count -----------------
    Q("q_fd_lineitem",
      (s, d) => Checks.fdViolations(Checks.spreadSmall(t(s, d, "lineitem")),
        Seq("l_orderkey"), Seq("l_returnflag")).orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_values FROM (
          SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem)
        GROUP BY l_orderkey HAVING COUNT(*) > 1 ORDER BY l_orderkey""")),

    // ---- quantile contract (binary verdict; flag-only output — the exact
    // interpolated percentile itself stays out of the cross-engine compare,
    // the correlation family's convention) --------------------------------
    Q("q_quantile_events",
      (s, d) => t(s, d, "events").agg(
        when(percentile(col("value").cast("double"), lit(0.95)).between(100.0, 200.0), 0L)
          .otherwise(1L).as("failed"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("non_null")),
      Some("""SELECT CAST(CASE WHEN quantile_cont(value, 0.95) BETWEEN 100 AND 200 THEN 0 ELSE 1 END AS BIGINT) AS failed,
        CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS non_null
        FROM events""")),

    // ---- entropy contract (distribution shape; flag + integer pair so no
    // cross-engine float formatting enters the compare — the bounds sit far
    // from the data's entropy, so a ULP of drift cannot flip the flag) ------
    Q("q_entropy_events",
      (s, d) => Checks.entropyParts(t(s, d, "events"), "event_type")
        .select(col("__n").as("n_nonnull"),
          when((log(col("__n")) - col("__clnc") / col("__n")).between(0.5, 5.0), 0L)
            .otherwise(1L).as("failed")),
      Some("""WITH c AS (SELECT event_type AS v, COUNT(*) AS c FROM events
               WHERE event_type IS NOT NULL GROUP BY 1)
        SELECT CAST(SUM(c) AS BIGINT) AS n_nonnull,
        CAST(CASE WHEN ln(SUM(c)) - SUM(c * ln(c)) / SUM(c) BETWEEN 0.5 AND 5.0
             THEN 0 ELSE 1 END AS BIGINT) AS failed FROM c""")),

    // ---- reconciliation (cross-table aggregate audit): the FULL library
    // path — Validator + tableResolver + per-partition verdicts — against a
    // fact slice with one surgically-dropped stratum; the oracle re-derives
    // the per-partition FULL OUTER compare in SQL -------------------------
    Q("q_reconciliation_events",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("event_type").isNotNull)
        val fact = ev.filter(!(col("event_type") === "click" && col("user_id") % 50 === 0))
        val v = new Validator(s, ValidationConfig(),
          n => if (n == "events_src") Some(ev) else None)
        val rule = ValidationRule("recon_events", RuleType.Reconciliation, Nil,
          parameters = Map("ref_table" -> "events_src"))
        val (_, verdicts) = v.executeRulesPartitioned(fact, Seq(rule), "events",
          Some(col("event_type")))
        import s.implicits._
        verdicts.filter(_.rule_name == "recon_events")
          .map(x => (x.partition, x.failed_count, x.total_count))
          .toDF("part", "failed_count", "total_count")
          .orderBy("part")
      },
      Some("""WITH fact AS (SELECT event_type, COUNT(*) AS c FROM events
               WHERE event_type IS NOT NULL
                 AND NOT (event_type = 'click' AND user_id % 50 = 0) GROUP BY 1),
             ref AS (SELECT event_type, COUNT(*) AS c FROM events
               WHERE event_type IS NOT NULL GROUP BY 1)
        SELECT COALESCE(f.event_type, r.event_type) AS part,
        CAST(CASE WHEN f.c IS NULL OR r.c IS NULL OR f.c <> r.c THEN 1 ELSE 0 END AS BIGINT) AS failed_count,
        CAST(1 AS BIGINT) AS total_count
        FROM fact f FULL OUTER JOIN ref r ON f.event_type = r.event_type
        ORDER BY part""")),

    // ---- sampled-validation tier: the config surface end-to-end — rate
    // rules run on the deterministic md5-rank key sample (user_id keys:
    // whole users kept or dropped together), the diff rule is
    // sample-exempt and sees the FULL table (vs itself → zero differing
    // keys; a sampled fact side would read as mass deletion). The oracle
    // re-derives both: the range counts over the same md5-permille slice,
    // the diff totals over the full key universe ---------------------------
    Q("q_sampled_verdicts_events",
      (s, d) => {
        val ev = t(s, d, "events")
        val cfg = ValidationConfig(tables = Seq(TableConfig("events",
          rules = Seq(
            ValidationRule("value_range", RuleType.Range, Seq("value"),
              parameters = Map("min" -> "0", "max" -> "100")),
            ValidationRule("ids_match", RuleType.Diff, Seq("event_id"),
              parameters = Map("ref_table" -> "events_snapshot",
                "compare_columns" -> "event_type"))),
          sampleBy = Some("user_id"), samplePermille = 300)))
        val v = new Validator(s, cfg,
          n => if (n == "events_snapshot") Some(ev) else None)
        val summary = v.validateTable(ev, "events")
        import s.implicits._
        summary.results.map(r => (r.rule_name, r.failed_count, r.total_count))
          .toDF("rule_name", "failed_count", "total_count").orderBy("rule_name")
      },
      Some("""WITH s AS (SELECT * FROM events
          WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 300)
        SELECT 'ids_match' AS rule_name,
          CAST(CASE WHEN COUNT(*) - COUNT(event_id) > 0 THEN 2 ELSE 0 END AS BIGINT) AS failed_count,
          CAST(COUNT(DISTINCT event_id) + CASE WHEN COUNT(*) - COUNT(event_id) > 0 THEN 2 ELSE 0 END AS BIGINT) AS total_count
        FROM events
        UNION ALL
        SELECT 'value_range',
          CAST(COALESCE(SUM(CASE WHEN value < 0 OR value > 100 THEN 1 ELSE 0 END), 0) AS BIGINT),
          CAST(COUNT(*) AS BIGINT)
        FROM s
        ORDER BY rule_name""")),

    // ---- constraint suggestion (Deequ ConstraintSuggestion workflow): the
    // rules the DATA supports — completeness / uniqueness / range /
    // allowed_values / type_conformance derived in two scans (one fused
    // facts aggregate + one exact pass over HLL-gated candidates). The
    // oracle re-derives every suggestion with exact SQL aggregates, so the
    // engine's candidate gating provably changes nothing. No float ever
    // enters a string: bounds/thresholds are typed columns ---------------
    Q("q_suggest_rules_events",
      (s, d) => Suggest.suggestionsDF(s, t(s, d, "events"),
          columns = Seq("event_id", "user_id", "event_type", "value"))
        .orderBy("column", "rule_type"),
      Some("""WITH f AS (SELECT COUNT(*) AS total,
          COUNT(*) - COUNT(event_id) AS n_eid, COUNT(DISTINCT event_id) AS d_eid,
          MIN(CAST(event_id AS DOUBLE)) AS lo_eid, MAX(CAST(event_id AS DOUBLE)) AS hi_eid,
          COUNT(*) - COUNT(user_id) AS n_uid, COUNT(DISTINCT user_id) AS d_uid,
          MIN(CAST(user_id AS DOUBLE)) AS lo_uid, MAX(CAST(user_id AS DOUBLE)) AS hi_uid,
          COUNT(*) - COUNT(event_type) AS n_et, COUNT(DISTINCT event_type) AS d_et,
          SUM(CASE WHEN event_type IS NOT NULL AND TRY_CAST(event_type AS BIGINT) IS NOT NULL THEN 1 ELSE 0 END) AS cast_et,
          MAX(CASE WHEN event_type LIKE '%,%' THEN 1 ELSE 0 END) AS comma_et,
          COUNT(*) - COUNT(value) + COALESCE(SUM(CASE WHEN value IS NOT NULL AND isnan(value) THEN 1 ELSE 0 END), 0) AS n_val,
          COALESCE(SUM(CASE WHEN value IS NOT NULL AND isnan(value) THEN 1 ELSE 0 END), 0) AS nan_val,
          COUNT(DISTINCT value) AS d_val,
          MIN(value) FILTER (WHERE NOT isnan(value)) AS lo_val,
          MAX(value) FILTER (WHERE NOT isnan(value)) AS hi_val
          FROM events),
        vals AS (SELECT string_agg(v, ',' ORDER BY v) AS set_et FROM
          (SELECT DISTINCT event_type AS v FROM events WHERE event_type IS NOT NULL))
        SELECT * FROM (
          SELECT 'event_id' AS "column", 'completeness' AS rule_type,
            CASE WHEN n_eid = 0 THEN NULL ELSE floor(100.0*(total-n_eid)/total)/100.0 END AS threshold,
            CAST(NULL AS DOUBLE) AS min_value, CAST(NULL AS DOUBLE) AS max_value, CAST(NULL AS VARCHAR) AS allowed,
            CASE WHEN n_eid = 0 THEN 'no NULLs observed in ' || CAST(total AS VARCHAR) || ' rows'
                 ELSE 'NULLs in ' || CAST(n_eid AS VARCHAR) || ' of ' || CAST(total AS VARCHAR) || ' rows; threshold floored to the observed rate' END AS reason
          FROM f WHERE CAST(n_eid AS DOUBLE)/total <= 0.05
          UNION ALL
          SELECT 'event_id', 'uniqueness', NULL, NULL, NULL, NULL,
            'all ' || CAST(total AS VARCHAR) || ' rows distinct'
          FROM f WHERE n_eid = 0 AND d_eid = total
          UNION ALL
          SELECT 'event_id', 'range', NULL, lo_eid, hi_eid, NULL, 'observed numeric bounds'
          FROM f WHERE total - n_eid > 0
          UNION ALL
          SELECT 'user_id', 'completeness',
            CASE WHEN n_uid = 0 THEN NULL ELSE floor(100.0*(total-n_uid)/total)/100.0 END,
            NULL, NULL, NULL,
            CASE WHEN n_uid = 0 THEN 'no NULLs observed in ' || CAST(total AS VARCHAR) || ' rows'
                 ELSE 'NULLs in ' || CAST(n_uid AS VARCHAR) || ' of ' || CAST(total AS VARCHAR) || ' rows; threshold floored to the observed rate' END
          FROM f WHERE CAST(n_uid AS DOUBLE)/total <= 0.05
          UNION ALL
          SELECT 'user_id', 'uniqueness', NULL, NULL, NULL, NULL,
            'all ' || CAST(total AS VARCHAR) || ' rows distinct'
          FROM f WHERE n_uid = 0 AND d_uid = total
          UNION ALL
          SELECT 'user_id', 'range', NULL, lo_uid, hi_uid, NULL, 'observed numeric bounds'
          FROM f WHERE total - n_uid > 0
          UNION ALL
          SELECT 'event_type', 'completeness',
            CASE WHEN n_et = 0 THEN NULL ELSE floor(100.0*(total-n_et)/total)/100.0 END,
            NULL, NULL, NULL,
            CASE WHEN n_et = 0 THEN 'no NULLs observed in ' || CAST(total AS VARCHAR) || ' rows'
                 ELSE 'NULLs in ' || CAST(n_et AS VARCHAR) || ' of ' || CAST(total AS VARCHAR) || ' rows; threshold floored to the observed rate' END
          FROM f WHERE CAST(n_et AS DOUBLE)/total <= 0.05
          UNION ALL
          SELECT 'event_type', 'uniqueness', NULL, NULL, NULL, NULL,
            'all ' || CAST(total AS VARCHAR) || ' rows distinct'
          FROM f WHERE n_et = 0 AND d_et = total
          UNION ALL
          SELECT 'event_type', 'allowed_values', NULL, NULL, NULL, (SELECT set_et FROM vals),
            CAST(d_et AS VARCHAR) || ' distinct values observed'
          FROM f WHERE total - n_et > 0 AND d_et BETWEEN 1 AND 10 AND comma_et = 0
          UNION ALL
          SELECT 'event_type', 'type_conformance', NULL, NULL, NULL, NULL,
            'all non-null values parse as bigint'
          FROM f WHERE total - n_et > 0 AND cast_et = total - n_et
          UNION ALL
          SELECT 'value', 'completeness',
            CASE WHEN n_val = 0 THEN NULL ELSE floor(100.0*(total-n_val)/total)/100.0 END,
            NULL, NULL, NULL,
            CASE WHEN n_val = 0 THEN 'no NULLs observed in ' || CAST(total AS VARCHAR) || ' rows'
                 ELSE 'NULLs in ' || CAST(n_val AS VARCHAR) || ' of ' || CAST(total AS VARCHAR) || ' rows; threshold floored to the observed rate' END
          FROM f WHERE CAST(n_val AS DOUBLE)/total <= 0.05
          UNION ALL
          SELECT 'value', 'uniqueness', NULL, NULL, NULL, NULL,
            'all ' || CAST(total AS VARCHAR) || ' rows distinct'
          FROM f WHERE n_val = 0 AND d_val = total
          UNION ALL
          SELECT 'value', 'range', NULL, lo_val, hi_val, NULL, 'observed numeric bounds'
          FROM f WHERE total - n_val > 0 AND nan_val = 0
        ) ORDER BY "column", rule_type""")),

    // ---- diff rule (keyed row-level diff vs a reference snapshot): the
    // full library path — Validator + resolver + the quarantine face — over
    // a current table derived from the snapshot with surgical removals
    // (keys %97), content changes (+1 price on keys %31) and additions
    // (re-keyed copies of keys %89); the oracle re-derives every key's
    // status by comparing the actual content in SQL, so the engine's
    // hash-digest classification is certified against a direct compare ----
    Q("q_diff_orders",
      (s, d) => {
        val ref = t(s, d, "orders").filter(col("o_orderkey").isNotNull)
        val cur = ref.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 31 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
          .unionByName(ref.filter(col("o_orderkey") % 89 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)))
        val v = new Validator(s, ValidationConfig(),
          n => if (n == "orders_snapshot") Some(ref) else None)
        val rule = ValidationRule("orders_diff", RuleType.Diff, Seq("o_orderkey"),
          parameters = Map("ref_table" -> "orders_snapshot",
            "compare_columns" -> "o_totalprice,o_orderstatus"))
        v.violations(cur, rule).orderBy("o_orderkey", "status")
      },
      Some("""WITH ref AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey IS NOT NULL),
        cur AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 31 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
                 o_orderstatus
          FROM ref WHERE o_orderkey % 97 <> 0
          UNION ALL
          SELECT o_orderkey + 1000000000, o_totalprice, o_orderstatus FROM ref WHERE o_orderkey % 89 = 0),
        l AS (SELECT o_orderkey, COUNT(*) AS cnt_left, MIN(o_totalprice) AS p, MIN(o_orderstatus) AS st FROM cur GROUP BY 1),
        r AS (SELECT o_orderkey, COUNT(*) AS cnt_right, MIN(o_totalprice) AS p, MIN(o_orderstatus) AS st FROM ref GROUP BY 1),
        j AS (SELECT COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
          CASE WHEN r.o_orderkey IS NULL THEN 'added'
               WHEN l.o_orderkey IS NULL THEN 'removed'
               WHEN l.cnt_left = r.cnt_right
                    AND (l.p = r.p OR (l.p IS NULL AND r.p IS NULL))
                    AND (l.st = r.st OR (l.st IS NULL AND r.st IS NULL)) THEN 'equal'
               ELSE 'changed' END AS status,
          CAST(l.cnt_left AS BIGINT) AS cnt_left, CAST(r.cnt_right AS BIGINT) AS cnt_right
          FROM l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey)
        SELECT * FROM j WHERE status <> 'equal' ORDER BY o_orderkey, status""")),

    // ---- diff column attribution ("what drifted"): per compare column,
    // how many both-side keys it changed on — price mutations on %31 keys
    // and status mutations on %53 keys must attribute to exactly their
    // own column; the oracle re-derives both counts from the mutation
    // predicates directly --------------------------------------------------
    Q("q_diff_columns_orders",
      (s, d) => {
        val ref = t(s, d, "orders").filter(col("o_orderkey").isNotNull)
        val cur = ref.filter(col("o_orderkey") % 97 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 31 === 0, col("o_totalprice") + lit(1.0))
              .otherwise(col("o_totalprice")))
          .withColumn("o_orderstatus",
            when(col("o_orderkey") % 53 === 0, lit("Z"))
              .otherwise(col("o_orderstatus")))
        Checks.diffColumnStats(cur, ref, Seq("o_orderkey"),
          Seq("o_totalprice", "o_orderstatus")).orderBy("column")
      },
      Some("""WITH ref AS (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL),
        k AS (SELECT DISTINCT o_orderkey FROM ref WHERE o_orderkey % 97 <> 0)
        SELECT * FROM (
          SELECT 'o_orderstatus' AS "column",
            CAST((SELECT COUNT(*) FROM k WHERE o_orderkey % 53 = 0) AS BIGINT) AS changed_keys,
            CAST((SELECT COUNT(*) FROM k) AS BIGINT) AS keys_in_both
          UNION ALL
          SELECT 'o_totalprice',
            CAST((SELECT COUNT(*) FROM k WHERE o_orderkey % 31 = 0) AS BIGINT),
            CAST((SELECT COUNT(*) FROM k) AS BIGINT)
        ) ORDER BY "column" """)),

    // ---- monotonic rule (per-key ordering integrity) ----------------------
    Q("q_monotonic_lineitem",
      (s, d) => Checks.monotonicGroups(t(s, d, "lineitem"), Seq("l_orderkey"),
          "l_linenumber", "l_shipdate")
        .agg(count(lit(1)).as("total_groups"),
          sum(when(col("inversions") > 0L, 1L).otherwise(0L)).as("violating_groups"),
          sum(col("inversions")).as("total_inversions")),
      Some("""WITH g AS (SELECT l_orderkey,
          CASE WHEN l_shipdate < lag(l_shipdate) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_shipdate)
               THEN 1 ELSE 0 END AS v
          FROM lineitem WHERE l_linenumber IS NOT NULL AND l_shipdate IS NOT NULL),
        a AS (SELECT l_orderkey, SUM(v) AS inv FROM g GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS total_groups,
        CAST(SUM(CASE WHEN inv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
        CAST(SUM(inv) AS BIGINT) AS total_inversions FROM a""")),

    // ---- transition rule: per-key value-adjacency grammar (role DFA) -----
    // grammar over l_returnflag walks per order: N may repeat or escalate
    // to A, A may repeat or escalate to R, R only repeats; walks must
    // start at N and end at N or R. Real violations exist at every SF
    // (return flags follow dates, not line numbers) — the oracle re-walks
    // the same DFA with lag/lead windows.
    Q("q_transition_lineitem",
      (s, d) => Checks.transitionGroups(t(s, d, "lineitem"), Seq("l_orderkey"),
          "l_linenumber", "l_returnflag",
          pairs = Seq("N" -> "N", "N" -> "A", "A" -> "A", "A" -> "R", "R" -> "R"),
          first = Some(Seq("N")), last = Some(Seq("N", "R")))
        .agg(count(lit(1)).as("total_groups"),
          sum(when(col("bad_rows") > 0L, 1L).otherwise(0L)).as("violating_groups"),
          sum(col("bad_rows")).as("total_bad_rows")),
      Some("""WITH w AS (SELECT l_orderkey,
          CAST(l_returnflag AS VARCHAR) AS v,
          lag(CAST(l_returnflag AS VARCHAR)) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, CAST(l_returnflag AS VARCHAR)) AS prev,
          lead(CAST(l_returnflag AS VARCHAR)) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, CAST(l_returnflag AS VARCHAR)) IS NULL AS is_last
          FROM lineitem WHERE l_linenumber IS NOT NULL AND l_returnflag IS NOT NULL),
        g AS (SELECT l_orderkey, SUM(CASE WHEN
            (prev IS NOT NULL AND NOT ((prev = 'N' AND v = 'N') OR (prev = 'N' AND v = 'A')
              OR (prev = 'A' AND v = 'A') OR (prev = 'A' AND v = 'R') OR (prev = 'R' AND v = 'R')))
            OR (prev IS NULL AND v NOT IN ('N'))
            OR (is_last AND v NOT IN ('N', 'R'))
          THEN 1 ELSE 0 END) AS bad FROM w GROUP BY 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS total_groups,
        CAST(SUM(CASE WHEN bad > 0 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
        CAST(SUM(bad) AS BIGINT) AS total_bad_rows FROM g""")),

    // ---- transition-grammar mining: the observed DFA facts ---------------
    // (prev→next) adjacency supports plus walk start/end states — the frame
    // Suggest.transitionGrammar authors rules from (one window pass, facts
    // aggregated by struct key so the shuffle carries O(states²) groups)
    Q("q_transition_facts_lineitem",
      (s, d) => Checks.transitionFacts(t(s, d, "lineitem"), Seq("l_orderkey"),
        "l_linenumber", "l_returnflag"),
      Some("""WITH w AS (SELECT l_orderkey, CAST(l_returnflag AS VARCHAR) AS v,
          lag(CAST(l_returnflag AS VARCHAR)) OVER win AS prev,
          lead(CAST(l_returnflag AS VARCHAR)) OVER win IS NULL AS is_last
          FROM lineitem WHERE l_linenumber IS NOT NULL AND l_returnflag IS NOT NULL
          WINDOW win AS (PARTITION BY l_orderkey ORDER BY l_linenumber, CAST(l_returnflag AS VARCHAR)))
        SELECT 'edge' AS kind, prev AS from_value, v AS to_value,
          CAST(COUNT(*) AS BIGINT) AS support FROM w WHERE prev IS NOT NULL GROUP BY 2, 3
        UNION ALL SELECT 'first', CAST(NULL AS VARCHAR), v, CAST(COUNT(*) AS BIGINT)
          FROM w WHERE prev IS NULL GROUP BY 3
        UNION ALL SELECT 'last', CAST(NULL AS VARCHAR), v, CAST(COUNT(*) AS BIGINT)
          FROM w WHERE is_last GROUP BY 3""")),

    // ---- referential integrity (anti-join) -------------------------------
    Q("q_referential_orphans",
      (s, d) => Checks.orphans(
        t(s, d, "orders").filter(col("o_custkey").isNotNull), "o_custkey",
        t(s, d, "customer"), "c_custkey", broadcastDim = true)
        .agg(count(lit(1)).as("orphan_count")),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS orphan_count FROM orders
        WHERE o_custkey IS NOT NULL AND o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)""")),

    // ---- broadcast join + rollup -----------------------------------------
    Q("q_segment_revenue",
      (s, d) => t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), dec(col("o_totalprice")).as("revenue"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- multi-join rollup (TPC-H Q3-flavored shipping priority) ---------
    Q("q3_shipping_priority",
      (s, d) => {
        val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = t(s, d, "orders")
        val li = t(s, d, "lineitem")
        // decimal-cast BOTH factors before multiplying: engines round a
        // computed double→decimal cast differently at half-cent edges, but
        // 2dp-valued doubles cast to DECIMAL(18,2) identically and decimal
        // arithmetic is exact from there
        val price = col("l_extendedprice").cast(DecimalType(18, 2))
        val disc = col("l_discount").cast(DecimalType(18, 2))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"))
          .agg(sum(price * (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - disc))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // ---- semi-join (EXISTS) ----------------------------------------------
    Q("q_semi_join_customers",
      (s, d) => t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey").as("c_custkey")).distinct(),
          Seq("c_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("active_customers"))
        .orderBy("c_mktsegment"),
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS active_customers
        FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- distribution drift: chi-square ----------------------------------
    Q("q_chisq_events",
      (s, d) => {
        val ev = t(s, d, "events")
        Checks.chiSquareContributions(
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 0), "event_type"),
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 1), "event_type"))
          .orderBy("bucket")
      },
      Some("""WITH ha AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS obs_a FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS obs_b FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(obs_a, 0.0) AS obs_a, coalesce(obs_b, 0.0) AS obs_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        tot AS (SELECT SUM(obs_a) AS ta, SUM(obs_b) AS tb, SUM(obs_a) + SUM(obs_b) AS g FROM j)
        SELECT bucket, obs_a, obs_b,
          (obs_a - (obs_a + obs_b) * ta / g) * (obs_a - (obs_a + obs_b) * ta / g) / ((obs_a + obs_b) * ta / g) AS contrib_a,
          (obs_b - (obs_a + obs_b) * tb / g) * (obs_b - (obs_a + obs_b) * tb / g) / ((obs_a + obs_b) * tb / g) AS contrib_b
        FROM j, tot ORDER BY bucket""")),

    // ---- distribution drift: bounded-categorical tier --------------------
    // the `values` projection over a HIGH-cardinality column (props: one
    // bucket per distinct JSON string raw): the named members keep their
    // buckets, everything else folds into __other__, NULL keeps its own —
    // histogram space O(values) at ANY cardinality, the tier that keeps
    // chi-square drift viable over unbounded label spaces
    Q("q_drift_bounded_events",
      (s, d) => {
        val ev = t(s, d, "events")
        val vals = Seq("""{"k": 0}""", """{"k": 1}""", """{"k": 2}""")
        def h(f: DataFrame) = Checks.categoricalHistogram(
          f.select(Checks.boundedCategory(col("props"), vals).as("b")), "b")
        Checks.chiSquareContributions(
          h(ev.filter(pmod(col("user_id"), lit(2)) === 0)),
          h(ev.filter(pmod(col("user_id"), lit(2)) === 1)))
          .orderBy("bucket")
      },
      Some("""WITH pb AS (SELECT user_id, CASE WHEN props IS NULL THEN '__NULL__'
          WHEN props IN ('{"k": 0}', '{"k": 1}', '{"k": 2}') THEN props
          ELSE '__other__' END AS bucket FROM events),
        ha AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS obs_a FROM pb WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT bucket, CAST(COUNT(*) AS DOUBLE) AS obs_b FROM pb WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(obs_a, 0.0) AS obs_a, coalesce(obs_b, 0.0) AS obs_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        tot AS (SELECT SUM(obs_a) AS ta, SUM(obs_b) AS tb, SUM(obs_a) + SUM(obs_b) AS g FROM j)
        SELECT bucket, obs_a, obs_b,
          (obs_a - (obs_a + obs_b) * ta / g) * (obs_a - (obs_a + obs_b) * ta / g) / ((obs_a + obs_b) * ta / g) AS contrib_a,
          (obs_b - (obs_a + obs_b) * tb / g) * (obs_b - (obs_a + obs_b) * tb / g) / ((obs_a + obs_b) * tb / g) AS contrib_b
        FROM j, tot ORDER BY bucket""")),

    // ---- distribution drift: TVD (size-invariant effect size) ------------
    Q("q_tvd_events",
      (s, d) => {
        val ev = t(s, d, "events")
        Checks.tvdContributions(
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 0), "event_type"),
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 1), "event_type"))
          .orderBy("bucket")
      },
      Some("""WITH ha AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS cnt_a FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS cnt_b FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(cnt_a, 0.0) AS cnt_a, coalesce(cnt_b, 0.0) AS cnt_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        tot AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM j)
        SELECT bucket, cnt_a / ta AS p_a, cnt_b / tb AS p_b, ABS(cnt_a / ta - cnt_b / tb) AS abs_diff
        FROM j, tot ORDER BY bucket""")),

    // ---- distribution drift: Cramér's V (the familiar effect size) -------
    // closes the "every drift method oracle-checked" loop: chi_square / ks /
    // tvd / psi / js each carry an oracle; cramers_v was spec-only. Statistic
    // = √(Σ contrib) — the non-associative sum stays driver-side, each row is
    // independent double arithmetic over exact integer counts.
    Q("q_cramers_events",
      (s, d) => {
        val ev = t(s, d, "events")
        Checks.cramersVContributions(
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 0), "event_type"),
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 1), "event_type"))
          .orderBy("bucket")
      },
      Some("""WITH ha AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS obs_a FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS obs_b FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(obs_a, 0.0) AS obs_a, coalesce(obs_b, 0.0) AS obs_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        tot AS (SELECT SUM(obs_a) AS ta, SUM(obs_b) AS tb, SUM(obs_a) + SUM(obs_b) AS g FROM j)
        SELECT bucket, obs_a, obs_b,
          ((obs_a - (obs_a + obs_b) * ta / g) * (obs_a - (obs_a + obs_b) * ta / g) / ((obs_a + obs_b) * ta / g)
         + (obs_b - (obs_a + obs_b) * tb / g) * (obs_b - (obs_a + obs_b) * tb / g) / ((obs_a + obs_b) * tb / g)) / g AS contrib
        FROM j, tot ORDER BY bucket""")),

    // ---- distribution drift: PSI (log-weighted, size-invariant) ----------
    // The one oracle query with a transcendental: LN. Verified bit-identical
    // between java.lang.Math.log (Spark codegen) and DuckDB's ln for these
    // operands (both correctly-rounded here); inputs to LN are the exact
    // rational proportions, so the whole column reproduces bit-for-bit.
    Q("q_psi_events",
      (s, d) => {
        val ev = t(s, d, "events")
        Checks.psiContributions(
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 0), "event_type"),
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 1), "event_type"))
          .orderBy("bucket")
      },
      Some("""WITH ha AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS cnt_a FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS cnt_b FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(cnt_a, 0.0) AS cnt_a, coalesce(cnt_b, 0.0) AS cnt_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        tot AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM j)
        SELECT bucket, GREATEST(cnt_a / ta, 1e-6) AS p_a, GREATEST(cnt_b / tb, 1e-6) AS p_b,
          (GREATEST(cnt_a / ta, 1e-6) - GREATEST(cnt_b / tb, 1e-6)) * LN(GREATEST(cnt_a / ta, 1e-6) / GREATEST(cnt_b / tb, 1e-6)) AS contrib
        FROM j, tot ORDER BY bucket""")),

    // ---- Jensen–Shannon drift (per-bucket contribution face; every row is
    // IEEE double arithmetic over rational proportions + one LN — the same
    // operand class the psi oracle verified bit-identical) -----------------
    Q("q_js_events",
      (s, d) => {
        val ev = t(s, d, "events")
        Checks.jsContributions(
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 0), "event_type"),
          Checks.categoricalHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 1), "event_type"))
          .orderBy("bucket")
      },
      Some("""WITH ha AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS cnt_a FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT coalesce(CAST(event_type AS VARCHAR), '__NULL__') AS bucket, CAST(COUNT(*) AS DOUBLE) AS cnt_b FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(cnt_a, 0.0) AS cnt_a, coalesce(cnt_b, 0.0) AS cnt_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        tot AS (SELECT SUM(cnt_a) AS ta, SUM(cnt_b) AS tb FROM j),
        p AS (SELECT bucket, cnt_a / ta AS p_a, cnt_b / tb AS p_b FROM j, tot)
        SELECT bucket, p_a, p_b,
          (CASE WHEN p_a > 0 THEN p_a * LN(p_a / ((p_a + p_b) / 2.0)) ELSE 0.0 END) / 2.0 +
          (CASE WHEN p_b > 0 THEN p_b * LN(p_b / ((p_a + p_b) / 2.0)) ELSE 0.0 END) / 2.0 AS contrib
        FROM p ORDER BY bucket""")),

    // ---- allowed_values rule (set membership), grouped -------------------
    Q("q_allowed_values_events",
      (s, d) => {
        val ev = t(s, d, "events")
        val rule = ValidationRule("et_allowed", RuleType.AllowedValues, Seq("event_type"),
          parameters = Map("values" -> "click,view,signup,purchase"))
        ev.groupBy(col("event_type")).agg(
          count(lit(1)).as("total_count"),
          sum(when(RulePlanner.failCondition(ev.schema, rule), 1L).otherwise(0L)).as("not_allowed"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS total_count,
        CAST(SUM(CASE WHEN event_type IS NOT NULL AND CAST(event_type AS VARCHAR) NOT IN ('click','view','signup','purchase') THEN 1 ELSE 0 END) AS BIGINT) AS not_allowed
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- row-annotation mode (DQX apply_checks convention): rows come back
    // WITH the names of the row-level rules they fail, routed by severity —
    // the third interpretation of a rule set beside verdicts and filters.
    // NULL user_ids are seeded deterministically (the table has none); the
    // oracle rebuilds the tag arrays as severity-grouped concat_ws of the
    // same predicates, in the same rule order, NULL when clean. ------------
    Q("q_annotate_events",
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("user_id",
            when(pmod(col("event_id"), lit(37)) === 0, lit(null)).otherwise(col("user_id")))
        val rules = Seq(
          ValidationRule("uid_present", RuleType.Completeness, Seq("user_id")),
          ValidationRule("value_range", RuleType.Range, Seq("value"),
            parameters = Map("min" -> "0", "max" -> "150")),
          ValidationRule("et_allowed", RuleType.AllowedValues, Seq("event_type"),
            parameters = Map("values" -> "click,view,signup,purchase"),
            severity = Severity.Warning),
          ValidationRule("big_purchase", RuleType.Predicate, Nil,
            expression = Some("NOT (event_type = 'purchase' AND value > 120)"),
            severity = Severity.Warning))
        RulePlanner.annotate(ev, rules)
          .select(col("event_id"),
            array_join(col("_dq_errors"), ",").as("dq_errors"),
            array_join(col("_dq_warnings"), ",").as("dq_warnings"))
          .orderBy("event_id")
      },
      Some("""WITH ev AS (
          SELECT event_id,
            CASE WHEN event_id % 37 = 0 THEN NULL ELSE user_id END AS user_id,
            event_type, value
          FROM events)
        SELECT event_id,
          nullif(concat_ws(',',
            CASE WHEN user_id IS NULL THEN 'uid_present' END,
            CASE WHEN NOT (value >= 0 AND value <= 150) THEN 'value_range' END), '') AS dq_errors,
          nullif(concat_ws(',',
            CASE WHEN event_type IS NOT NULL AND CAST(event_type AS VARCHAR)
                   NOT IN ('click','view','signup','purchase') THEN 'et_allowed' END,
            CASE WHEN NOT coalesce(NOT (event_type = 'purchase' AND value > 120), FALSE)
                 THEN 'big_purchase' END), '') AS dq_warnings
        FROM ev ORDER BY event_id""")),

    // ---- freshness rule (event-time staleness vs pinned instant) ---------
    Q("q_freshness_events",
      (s, d) => {
        val ev = t(s, d, "events")
        val rule = ValidationRule("ts_fresh", RuleType.Freshness, Seq("ts"),
          parameters = Map("max_age_seconds" -> "1209600", // 14 days
            "reference_time" -> "2024-02-01T00:00:00Z"))
        ev.agg(
          count(lit(1)).as("total_count"),
          sum(when(RulePlanner.failCondition(ev.schema, rule), 1L).otherwise(0L)).as("stale_count"),
          // testdata parquet timestamps are NTZ; session TZ is UTC, so the
          // cast is the identity instant mapping (same as the rule's cond)
          max(unix_micros(col("ts").cast("timestamp"))).as("max_ts_micros"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS total_count,
        CAST(SUM(CASE WHEN ts IS NOT NULL AND epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-18 00:00:00') THEN 1 ELSE 0 END) AS BIGINT) AS stale_count,
        CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_micros FROM events""")),

    // ---- distribution drift: KS over histograms --------------------------
    Q("q_ks_events",
      (s, d) => {
        val ev = t(s, d, "events")
        Checks.ksCdfTable(
          Checks.numericHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 0), col("value"), 0.0, 500.0, 50),
          Checks.numericHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 1), col("value"), 0.0, 500.0, 50))
          .orderBy("bucket")
      },
      Some("""WITH ha AS (SELECT CAST(least(greatest(floor((value - 0.0) / 10.0), 0), 49) AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT CAST(least(greatest(floor((value - 0.0) / 10.0), 0), 49) AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        c AS (SELECT bucket, cnt_a, cnt_b, SUM(cnt_a) OVER (ORDER BY bucket) AS cum_a, SUM(cnt_b) OVER (ORDER BY bucket) AS cum_b FROM j),
        tot AS (SELECT CAST(SUM(cnt_a) AS DOUBLE) AS ta, CAST(SUM(cnt_b) AS DOUBLE) AS tb FROM j)
        SELECT bucket, cnt_a, cnt_b, CAST(cum_a AS DOUBLE) / ta AS cdf_a, CAST(cum_b AS DOUBLE) / tb AS cdf_b
        FROM c, tot ORDER BY bucket""")),

    // ---- earth-mover's drift (emd): per-bucket CDF gap × persistence —
    // emdStat ≡ Σ gap·span / (max−min), tied to this table in ChecksSpec --
    Q("q_emd_events",
      (s, d) => {
        val ev = t(s, d, "events")
        Checks.emdGapTable(
          Checks.numericHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 0), col("value"), 0.0, 500.0, 50),
          Checks.numericHistogram(ev.filter(pmod(col("user_id"), lit(2)) === 1), col("value"), 0.0, 500.0, 50))
          .orderBy("bucket")
      },
      Some("""WITH ha AS (SELECT CAST(least(greatest(floor((value - 0.0) / 10.0), 0), 49) AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt_a FROM events WHERE user_id % 2 = 0 GROUP BY 1),
        hb AS (SELECT CAST(least(greatest(floor((value - 0.0) / 10.0), 0), 49) AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt_b FROM events WHERE user_id % 2 = 1 GROUP BY 1),
        j AS (SELECT coalesce(ha.bucket, hb.bucket) AS bucket, coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        c AS (SELECT bucket, cnt_a, cnt_b, SUM(cnt_a) OVER (ORDER BY bucket) AS cum_a, SUM(cnt_b) OVER (ORDER BY bucket) AS cum_b, lead(bucket) OVER (ORDER BY bucket) AS nxt FROM j),
        tot AS (SELECT CAST(SUM(cnt_a) AS DOUBLE) AS ta, CAST(SUM(cnt_b) AS DOUBLE) AS tb FROM j)
        SELECT CAST(bucket AS BIGINT) AS bucket, cnt_a, cnt_b,
          ABS(CAST(cum_a AS DOUBLE) / ta - CAST(cum_b AS DOUBLE) / tb) AS gap,
          CAST(COALESCE(nxt - bucket, 0) AS BIGINT) AS span
        FROM c, tot ORDER BY bucket""")),

    // ---- sessionization (window + lag) -----------------------------------
    Q("q_sessions_events",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800L, 1L).otherwise(0L))
          .groupBy(col("user_id"))
          .agg(sum(col("new_sess")).as("n_sessions"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH x AS (SELECT user_id, ts, event_id, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events)
        SELECT user_id, CAST(SUM(CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        CAST(COUNT(*) AS BIGINT) AS n_events FROM x GROUP BY user_id ORDER BY user_id""")),

    // ---- keep-first dedup filter (window) --------------------------------
    Q("q_keep_first_events",
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events").withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).select("event_id", "user_id", "ts")
          .orderBy("user_id")
      },
      Some("""SELECT event_id, user_id, ts FROM events
        QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
        ORDER BY user_id""")),

    // ---- single-pass profile (SQL-parity subset; HLL tier is profile()) --
    Q("q_profile_events",
      (s, d) => t(s, d, "events").agg(
        count(lit(1)).as("total_count"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        min(col("ts")).as("min_ts"),
        max(col("ts")).as("max_ts"),
        countDistinct(col("user_id")).as("distinct_users"),
        countDistinct(col("event_type")).as("distinct_types")),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS total_count,
        CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
        MIN(value) AS min_value, MAX(value) AS max_value,
        MIN(ts) AS min_ts, MAX(ts) AS max_ts,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
        CAST(COUNT(DISTINCT event_type) AS BIGINT) AS distinct_types
        FROM events""")),

    // ---- profiler heavy hitters: the typed Aggregator's frequent-items
    // sketch face, ORACLED — with fewer distinct values than sketch
    // counters (events has a handful of types vs 256 counters) the
    // Misra-Gries-style summary is EXACT, so the sketch path must
    // reproduce a plain GROUP BY bit-for-bit; TopItems (8) exceeds the
    // value space, so tie order cannot change the reported SET ------------
    Q("q_profile_topk_events",
      (s, d) => {
        import s.implicits._
        graft.engine.Profiler.profileTyped(t(s, d, "events"), Seq("event_type"))
          .head.top_items.toDF("item", "cnt").orderBy("item")
      },
      Some("""SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE event_type IS NOT NULL GROUP BY 1 ORDER BY 1""")),

    // ---- profiler quantiles (rows-only: sketch estimates are approximate
    // by contract). Embedded CERTIFICATION rows make the dumped artifact
    // self-verifying without ScalaTest: for each profiled column a
    // `__rank_check:<col>` row carries, per quantile, the estimate's rank
    // deviation beyond tolerance — max(0, q − frac(≤est), frac(<est) − q)
    // computed against the EXACT data in one extra aggregate. The builtin
    // sketch runs at accuracy 10000 (rank error ≤ 1e-4); the check allows
    // 1e-3, so any non-zero deviation means a real sketch defect. ----------
    Q("q_profile_quantiles_events",
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
        val profs = graft.engine.Profiler.profile(ev, Seq("value", "user_id"))
        val base = profs.map(p => (p.column,
            p.quantiles.getOrElse("p50", Double.NaN),
            p.quantiles.getOrElse("p95", Double.NaN),
            p.quantiles.getOrElse("p99", Double.NaN)))
          .toDF("column", "p50", "p95", "p99")
        val qs = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)
        val tol = 1e-3
        // only columns that actually produced quantile estimates are
        // certifiable (an all-null / non-numeric column profiles with an
        // empty quantile map — nothing to rank-check)
        val certifiable = profs.filter(p => qs.forall(q => p.quantiles.contains(q._1)))
        // one exact-rank aggregate for all columns × quantiles (NaN-safe:
        // NaN sorts above every double in Spark, excluded from both sides)
        val checks: Seq[(String, Double, Double, Double)] =
          if (certifiable.isEmpty) Nil
          else {
            val aggs = certifiable.flatMap { p =>
              val c = col(p.column).cast("double")
              val ok = c.isNotNull && !isnan(c)
              count(when(ok, 1)).as(s"n_${p.column}") +:
                qs.flatMap { case (k, _) =>
                  val est = lit(p.quantiles(k))
                  Seq(
                    sum(when(ok && c <= est, 1L).otherwise(0L)).as(s"le_${k}_${p.column}"),
                    sum(when(ok && c < est, 1L).otherwise(0L)).as(s"lt_${k}_${p.column}"))
                }
            }
            val row = ev.agg(aggs.head, aggs.tail: _*).head()
            val byName = row.schema.fieldNames.zipWithIndex.toMap
            certifiable.map { p =>
              val n = row.getLong(byName(s"n_${p.column}")).toDouble
              val devs = qs.map { case (k, q) =>
                if (n == 0) 0.0 // no data → nothing to deviate from
                else {
                  val fracLe = row.getLong(byName(s"le_${k}_${p.column}")) / n
                  val fracLt = row.getLong(byName(s"lt_${k}_${p.column}")) / n
                  math.max(0.0, math.max((q - fracLe) - tol, (fracLt - q) - tol))
                }
              }
              (s"__rank_check:${p.column}", devs(0), devs(1), devs(2))
            }
          }
        (if (checks.isEmpty) base
         else base.unionByName(checks.toDF("column", "p50", "p95", "p99")))
          .orderBy("column")
      },
      None),

    // ---- incremental profiler state: slice → persist → reopen → merge.
    // The only profile shape that never re-reads history at 10^12 rows:
    // each ingest slice is profiled ONCE, the KB-scale sketch state
    // persisted, and whole-corpus profiles derived by merging states
    // (Profiler.profileState/mergeStates/finishState). ORACLED: the merge
    // below runs over states REOPENED from disk, so the hash match itself
    // covers the persistence round-trip — exact fields of the merged
    // profile (counts, min/max, conformance) must equal plain SQL
    // aggregates over the un-sliced table bit-for-bit, and
    // distinct:event_type is exact (5 values ≪ sketch capacity).
    // Embedded __check metrics certify what SQL cannot: each is a
    // deviation beyond tolerance (0.0 in the oracle) — merged exact
    // fields vs the one-shot aggregator, finished-profile equality across
    // the round-trip, and merged HLL/KLL estimates vs the exact answer. --
    Q("q_profile_incremental_events",
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
        val cols = Seq("event_type", "value")
        val slice = pmod(xxhash64(coalesce(col("event_id"), lit(-1L))), lit(2))
        val states = Seq(0, 1).map(i =>
          graft.engine.Profiler.profileState(ev.filter(slice === i), cols))
        val dir = java.nio.file.Files.createTempDirectory("profstate")
        val reopened = states.zipWithIndex.map { case (st, i) =>
          val p = s"$dir/slice_$i.bin"
          graft.engine.Profiler.writeState(st, p)
          graft.engine.Profiler.readState(p)
        }
        val roundtripDiffs = states.zip(reopened).count { case (a, b) =>
          graft.engine.Profiler.finishState(a) != graft.engine.Profiler.finishState(b) }
        val merged = graft.engine.Profiler
          .finishState(reopened.reduce(graft.engine.Profiler.mergeStates))
          .map(p => p.column -> p).toMap
        val oneShot = graft.engine.Profiler.profileTyped(ev, cols)
          .map(p => p.column -> p).toMap
        val exactDiffs = cols.map { c =>
          val (m, o) = (merged(c), oneShot(c))
          Seq(m.total_count != o.total_count, m.null_count != o.null_count,
            m.type_conforming != o.type_conforming,
            m.min_value != o.min_value, m.max_value != o.max_value).count(identity)
        }.sum
        // exact distinct + rank positions of the merged quantile estimates:
        // one aggregate over the exact data (value has no NaN in testdata;
        // count(col) ignores nulls on both engines)
        val mq = merged("value").quantiles
        val qs = Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)
        val v = col("value")
        val aggs = Seq(countDistinct(v).as("nd"), count(v).as("n")) ++
          qs.flatMap { case (k, _) =>
            val est = lit(mq(k))
            Seq(sum(when(v <= est, 1L).otherwise(0L)).as(s"le_$k"),
                sum(when(v < est, 1L).otherwise(0L)).as(s"lt_$k"))
          }
        val row = ev.agg(aggs.head, aggs.tail: _*).head()
        val idx = row.schema.fieldNames.zipWithIndex.toMap
        val n = row.getLong(idx("n")).toDouble
        val rankTol = 0.025 // KLL k=200 ≈ 1.65% rank error; merged ≤ ~2.5%
        val rankDev = qs.map { case (k, q) =>
          if (n == 0) 0.0 else {
            val fracLe = row.getLong(idx(s"le_$k")) / n
            val fracLt = row.getLong(idx(s"lt_$k")) / n
            math.max(0.0, math.max((q - fracLe) - rankTol, (fracLt - q) - rankTol))
          }
        }.max
        val exactNd = row.getLong(idx("nd")).toDouble
        val distDev = if (exactNd == 0) 0.0 else math.max(0.0,
          math.abs(merged("value").approx_distinct - exactNd) / exactNd - 0.05)
        Seq(
          ("__oneshot_exact_diffs", exactDiffs.toDouble),
          ("__persist_roundtrip_diffs", roundtripDiffs.toDouble),
          ("__sketch_distinct_check", distDev),
          ("__sketch_rank_check", rankDev),
          ("conforming:value", merged("value").type_conforming.toDouble),
          ("distinct:event_type", merged("event_type").approx_distinct.toDouble),
          ("max:value", merged("value").max_value.get.toDouble),
          ("min:value", merged("value").min_value.get.toDouble),
          ("null:event_type", merged("event_type").null_count.toDouble),
          ("null:value", merged("value").null_count.toDouble),
          ("total_count", merged("value").total_count.toDouble)
        ).toDF("metric", "num_value").orderBy("metric")
      },
      Some("""SELECT metric, num_value FROM (
          SELECT 'conforming:value' AS metric, CAST(COUNT(value) AS DOUBLE) AS num_value FROM events
          UNION ALL SELECT 'distinct:event_type', CAST(COUNT(DISTINCT event_type) AS DOUBLE) FROM events
          UNION ALL SELECT 'max:value', MAX(value) FROM events
          UNION ALL SELECT 'min:value', MIN(value) FROM events
          UNION ALL SELECT 'null:event_type', CAST(COUNT(*) - COUNT(event_type) AS DOUBLE) FROM events
          UNION ALL SELECT 'null:value', CAST(COUNT(*) - COUNT(value) AS DOUBLE) FROM events
          UNION ALL SELECT 'total_count', CAST(COUNT(*) AS DOUBLE) FROM events
          UNION ALL SELECT '__oneshot_exact_diffs', 0.0
          UNION ALL SELECT '__persist_roundtrip_diffs', 0.0
          UNION ALL SELECT '__sketch_distinct_check', 0.0
          UNION ALL SELECT '__sketch_rank_check', 0.0
        ) ORDER BY metric""")),

    // ---- outlier rule: violation rows through the engine's quarantine
    // feed. Bit-exact by the decimal recipe: moments route through
    // DECIMAL(18,4) (events.value is 2-dp — exact), mean/std derive in a
    // fixed double order mirrored literally by the SQL, so the threshold is
    // the same double in both engines and row membership agrees exactly. --
    Q("q_outlier_events",
      (s, d) => {
        val rule = ValidationRule("value_outliers", RuleType.Outlier, Seq("value"),
          parameters = Map("max_zscore" -> "3.0"))
        new Validator(s, ValidationConfig())
          .violations(t(s, d, "events"), rule)
          .select("event_id", "value").orderBy("event_id")
      },
      Some("""WITH m AS (SELECT COUNT(value) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
          CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s2
          FROM events)
        SELECT event_id, value FROM events, m
        WHERE value IS NOT NULL
          AND abs(value - s / n) > 3.0 * sqrt(
            CASE WHEN (s2 - s * s / n) / (n - 1) < 0 THEN 0
                 ELSE (s2 - s * s / n) / (n - 1) END)
        ORDER BY event_id""")),

    // ---- CSV / JSON scans, driver-visible: the parquet table round-trips
    // through the engine's own csv/json writers+readers (Tables.load format
    // dispatch), then aggregates — the oracle computes the same aggregate
    // from the parquet, so a hash match certifies the text readers preserve
    // the exercised value shapes bit-for-bit (longs, token-like strings,
    // doubles — Java's shortest-repr toString parses back to the same
    // double). Strings with embedded newlines would additionally need the
    // reader's multiLine option (deliberately NOT the default: multiLine
    // parses files unsplittably, a scale regression). ----------------------
    Q("q_csv_roundtrip_events",
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_csv_events_" + Dedup.stableSuffix(d)
        // spreadSmall: single-split source → the CSV serialization, the
        // inference pass AND the read-back all run one task otherwise
        Checks.spreadSmall(t(s, d, "events"), maxPartitions = 8)
          .select("event_id", "event_type", "value")
          .write.mode("overwrite").option("header", "true").csv(dir)
        graft.io.Tables.load(s, s"csv:$dir")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    Q("q_json_roundtrip_events",
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_json_events_" + Dedup.stableSuffix(d)
        Checks.spreadSmall(t(s, d, "events"), maxPartitions = 8)
          .select("event_id", "event_type", "value")
          .write.mode("overwrite").json(dir)
        graft.io.Tables.load(s, s"json:$dir")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- transaction-log table format (io.SnapTable — the Iceberg-shaped
    // stand-in): each query rebuilds a snap table from events in a scratch
    // dir (delete + recreate → rerun-idempotent), then certifies one
    // mechanism against the same parquet the oracle reads: time travel
    // (per-version aggregates), incremental changes (delta rows only), and
    // manifest pruning (readWhere ≡ filter; the file-skip proof lives in
    // SnapTableSpec, which the oracle can't see) -------------------------
    Q("q_snap_table_events",
      (s, d) => {
        val dir = snapScratch(s, d, "tbl")
        val ev = t(s, d, "events").select("event_id", "event_type", "value")
        graft.io.SnapTable.create(s, dir, ev.filter(col("event_id") % 10 < 8))
        graft.io.SnapTable.append(s, dir, ev.filter(col("event_id") % 10 >= 8))
        def agg(v: Long) = graft.io.SnapTable.read(s, dir, Some(v))
          .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
          .select(lit(v).as("version"), col("n"), col("sum_value"))
        agg(1L).unionByName(agg(2L)).orderBy("version")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
          FROM events WHERE event_id % 10 < 8
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(COUNT(*) AS BIGINT),
          CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) FROM events
        ORDER BY version""")),

    Q("q_snap_changes_events",
      (s, d) => {
        val dir = snapScratch(s, d, "chg")
        val ev = t(s, d, "events").select("event_id", "event_type", "value")
        graft.io.SnapTable.create(s, dir, ev.filter(col("event_id") % 10 < 8))
        graft.io.SnapTable.append(s, dir, ev.filter(col("event_id") % 10 >= 8))
        // a checkpoint that saw v1 revalidates exactly the appended rows
        graft.io.SnapTable.changes(s, dir, fromExclusive = 1L)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events WHERE event_id % 10 >= 8
        GROUP BY event_type ORDER BY event_type""")),

    // ---- ref_table as an explicit source spec: the PRODUCTION CLI resolver
    // (Cli.sourceResolver, no --sources mapping) loads `snap:DIR@v1`
    // directly, so a diff rule compares the current table against a
    // time-traveled version of its own history; violations must be exactly
    // the keys the v2 append introduced, which the oracle re-derives from
    // the same parquet split ------------------------------------------------
    Q("q_ref_spec_diff_events",
      (s, d) => {
        val dir = snapScratch(s, d, "refspec")
        val ev = t(s, d, "events").select("event_id", "event_type", "value")
        graft.io.SnapTable.create(s, dir, ev.filter(col("event_id") % 10 < 8))
        graft.io.SnapTable.append(s, dir, ev.filter(col("event_id") % 10 >= 8))
        val v = new Validator(s, ValidationConfig(),
          graft.Cli.sourceResolver(s, Map.empty))
        val rule = ValidationRule("vs_v1", RuleType.Diff, Seq("event_id"),
          parameters = Map("ref_table" -> s"snap:$dir@v1"))
        v.violations(graft.io.SnapTable.read(s, dir), rule)
          .orderBy("event_id", "status")
      },
      Some("""SELECT event_id, 'added' AS status,
          CAST(COUNT(*) AS BIGINT) AS cnt_left, CAST(NULL AS BIGINT) AS cnt_right
        FROM events WHERE event_id % 10 >= 8
        GROUP BY event_id ORDER BY event_id, status""")),

    Q("q_snap_prune_events",
      (s, d) => {
        val dir = snapScratch(s, d, "prune")
        val ev = t(s, d, "events").select("event_id", "event_type", "value")
        val maxId = ev.agg(max("event_id")).head().getLong(0)
        // four disjoint id-range files → footer bounds that can prune
        val cuts = Seq(0L, maxId / 4, maxId / 2, 3 * maxId / 4, maxId + 1)
        graft.io.SnapTable.create(s, dir,
          ev.filter(col("event_id") < cuts(1)).coalesce(1))
        cuts.sliding(2).drop(1).foreach { pair =>
          graft.io.SnapTable.append(s, dir,
            ev.filter(col("event_id") >= pair.head && col("event_id") < pair(1)).coalesce(1))
        }
        graft.io.SnapTable
          .readWhere(s, dir, "event_id", Some((maxId / 8).toString), Some((3 * maxId / 8).toString))
          .agg(count(lit(1)).as("n"), dec(col("value")).as("sum_value"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events, (SELECT MAX(event_id) AS m FROM events) mx
        WHERE event_id >= mx.m // 8 AND event_id <= 3 * mx.m // 8""")),

    // zero-ANYTHING rule authoring: suggestions from the snap manifest's
    // footer stats alone (no file read beyond one JSON); the oracle
    // re-derives every emission decision, threshold floor, and bound from
    // the same parquet with exact SQL aggregates
    Q("q_snap_suggest_events",
      (s, d) => {
        import s.implicits._
        val dir = snapScratch(s, d, "suggest")
        val snap = graft.io.SnapTable.create(s, dir, t(s, d, "events"))
        graft.engine.Suggest.fromSnapManifest(snap)
          .map(g => (g.column, g.ruleType, g.threshold, g.minValue, g.maxValue))
          .toDF("col_name", "rule_type", "threshold", "min_v", "max_v")
          .orderBy("col_name", "rule_type")
      },
      Some("""WITH t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS nn_event_id,
          SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS nn_ts,
          SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS nn_user_id,
          SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS nn_event_type,
          SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS nn_value,
          SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS nn_props,
          MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id,
          MIN(user_id) AS min_user_id, MAX(user_id) AS max_user_id
          FROM events)
        SELECT col_name, rule_type, threshold, min_v, max_v FROM (
          SELECT 'event_id' AS col_name, 'completeness' AS rule_type,
            CASE WHEN nn_event_id = 0 THEN NULL ELSE floor(100.0 * (n - nn_event_id) / n) / 100.0 END AS threshold,
            CAST(NULL AS DOUBLE) AS min_v, CAST(NULL AS DOUBLE) AS max_v, n, nn_event_id AS nn FROM t
          UNION ALL SELECT 'ts', 'completeness',
            CASE WHEN nn_ts = 0 THEN NULL ELSE floor(100.0 * (n - nn_ts) / n) / 100.0 END,
            NULL, NULL, n, nn_ts FROM t
          UNION ALL SELECT 'user_id', 'completeness',
            CASE WHEN nn_user_id = 0 THEN NULL ELSE floor(100.0 * (n - nn_user_id) / n) / 100.0 END,
            NULL, NULL, n, nn_user_id FROM t
          UNION ALL SELECT 'event_type', 'completeness',
            CASE WHEN nn_event_type = 0 THEN NULL ELSE floor(100.0 * (n - nn_event_type) / n) / 100.0 END,
            NULL, NULL, n, nn_event_type FROM t
          UNION ALL SELECT 'value', 'completeness',
            CASE WHEN nn_value = 0 THEN NULL ELSE floor(100.0 * (n - nn_value) / n) / 100.0 END,
            NULL, NULL, n, nn_value FROM t
          UNION ALL SELECT 'props', 'completeness',
            CASE WHEN nn_props = 0 THEN NULL ELSE floor(100.0 * (n - nn_props) / n) / 100.0 END,
            NULL, NULL, n, nn_props FROM t
        ) WHERE CAST(nn AS DOUBLE) / n <= 0.05
        UNION ALL
        SELECT 'event_id', 'range', NULL,
          CAST(min_event_id AS DOUBLE), CAST(max_event_id AS DOUBLE) FROM t
        UNION ALL
        SELECT 'user_id', 'range', NULL,
          CAST(min_user_id AS DOUBLE), CAST(max_user_id AS DOUBLE) FROM t
        ORDER BY col_name, rule_type""")),

    // ---- stats-tier validation: verdicts decided from the snap manifest's
    // footer statistics (completeness/row_count zero-scan; range/freshness
    // scan only boundary-straddling files). The oracle re-derives every
    // count with full SQL scans AND pins each rule's tier routing as a
    // literal — if a decidable rule ever silently fell back to scanning
    // (or an undecidable one got "decided"), the tier column mismatches ---
    Q("q_stats_tier_events",
      (s, d) => {
        import s.implicits._
        val dir = snapScratch(s, d, "statstier")
        val ev = t(s, d, "events")
        graft.io.SnapTable.create(s, dir,
          graft.io.SnapTable.clustered(ev, "event_id", 8))
        val cfg = ValidationConfig(tables = Seq(TableConfig("events", rules = Seq(
          ValidationRule("props_complete", RuleType.Completeness, Seq("props")),
          ValidationRule("value_complete", RuleType.Completeness, Seq("value")),
          ValidationRule("id_inside", RuleType.Range, Seq("event_id"),
            parameters = Map("min" -> "0", "max" -> "9000000000000000000")),
          ValidationRule("id_band", RuleType.Range, Seq("event_id"),
            parameters = Map("min" -> "100", "max" -> "20000")),
          ValidationRule("user_low", RuleType.Range, Seq("user_id"),
            parameters = Map("min" -> "500")),
          ValidationRule("size", RuleType.RowCount, Seq(),
            parameters = Map("min_rows" -> "1")),
          ValidationRule("fresh", RuleType.Freshness, Seq("ts"),
            parameters = Map("max_age_seconds" -> "0",
              "reference_time" -> "2024-01-01T00:00:00Z"))))))
        new Validator(s, cfg).validateSnapStatsFirst(dir, "events")
          .results
          .map(r => (r.rule_name, r.rule_type, r.failed_count, r.total_count,
            r.passed, r.metadata.getOrElse("tier", "scan")))
          .toDF("rule_name", "rule_type", "failed_count", "total_count",
            "passed", "tier")
          .orderBy("rule_name")
      },
      Some("""WITH f AS (SELECT CAST(COUNT(*) AS BIGINT) AS total,
          CAST(COUNT(*) - COUNT(props) AS BIGINT) AS null_props,
          CAST(COUNT(*) - COUNT(value)
            + COALESCE(SUM(CASE WHEN value IS NOT NULL AND isnan(value) THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS miss_value,
          CAST(COALESCE(SUM(CASE WHEN event_id < 100 OR event_id > 20000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS out_band,
          CAST(COALESCE(SUM(CASE WHEN user_id IS NOT NULL AND user_id < 500 THEN 1 ELSE 0 END), 0) AS BIGINT) AS low_user,
          CAST(COALESCE(SUM(CASE WHEN ts IS NOT NULL AND ts < TIMESTAMP '2024-01-01 00:00:00' THEN 1 ELSE 0 END), 0) AS BIGINT) AS stale
          FROM events)
        SELECT * FROM (
          SELECT 'fresh' AS rule_name, 'freshness' AS rule_type,
            stale AS failed_count, total AS total_count, stale = 0 AS passed,
            'stats' AS tier FROM f
          UNION ALL SELECT 'id_band', 'range', out_band, total, out_band = 0, 'stats' FROM f
          UNION ALL SELECT 'id_inside', 'range', 0, total, true, 'stats' FROM f
          UNION ALL SELECT 'props_complete', 'completeness', null_props, total, null_props = 0, 'stats' FROM f
          UNION ALL SELECT 'size', 'row_count', CASE WHEN total < 1 THEN 1 ELSE 0 END, 1, total >= 1, 'stats' FROM f
          UNION ALL SELECT 'user_low', 'range', low_user, total, low_user = 0, 'stats' FROM f
          UNION ALL SELECT 'value_complete', 'completeness', miss_value, total, miss_value = 0, 'scan' FROM f
        ) ORDER BY rule_name""")),

    // ---- stats-tier PER-FILE verdicts: the manifest's lineage unit as the
    // partition — each data file's pass/fail decided from its own footer
    // stats (plus the boundary-file scan). The table is built with one
    // append per equal-width event_id bucket, so file membership is pure
    // arithmetic and the oracle re-derives every per-file count from the
    // same bucket formula — a misattributed boundary count that still sums
    // to the right global total hash-mismatches here ----------------------
    Q("q_stats_file_verdicts_events",
      (s, d) => {
        import s.implicits._
        val dir = snapScratch(s, d, "statsfiles")
        // cached: the fixture reads 8 slices + maxId from the same table
        val ev = graft.operators.CacheScope.ambient.cache(t(s, d, "events"))
        val maxId = ev.agg(max("event_id")).head.getLong(0)
        val step = maxId / 8 + 1 // bucket b holds event_id ∈ [b·step, (b+1)·step)
        def slice(b: Long) = ev.where(col("event_id") >= b * step &&
          col("event_id") < (b + 1) * step).coalesce(1)
        graft.io.SnapTable.create(s, dir, slice(0))
        // appends 1..7: data writes concurrent, commits sequential — same
        // table (file set, footer stats, verdicts) as the serial build
        graft.io.SnapTable.appendMany(s, dir, (1L until 8L).map(slice))
        val cfg = ValidationConfig(tables = Seq(TableConfig("events", rules = Seq(
          ValidationRule("props_complete", RuleType.Completeness, Seq("props")),
          ValidationRule("id_band", RuleType.Range, Seq("event_id"),
            parameters = Map("min" -> "100", "max" -> "20000")),
          ValidationRule("user_low", RuleType.Range, Seq("user_id"),
            parameters = Map("min" -> "500"))))))
        val v = new Validator(s, cfg)
        v.validateSnapStatsFirst(dir, "events")
        val snap = graft.io.SnapTable.snapshot(s, dir)
        // file path → bucket via the file's own footer min (each file covers
        // exactly one bucket, so min/step IS the bucket id)
        val bucketOf = snap.files.map(f =>
          f.path -> f.stats("event_id").min.toLong / step).toMap
        v.partitionVerdictsOf("events")
          .filter(_.total_count > 0)
          .map(pv => (bucketOf(pv.partition), pv.rule_name,
            pv.failed_count, pv.total_count, pv.passed))
          .toDF("bucket", "rule_name", "failed_count", "total_count", "passed")
          .orderBy("rule_name", "bucket")
      },
      Some("""WITH s AS (SELECT MAX(event_id) // 8 + 1 AS step FROM events),
        b AS (SELECT event_id // (SELECT step FROM s) AS bucket,
              event_id, user_id, props FROM events)
        SELECT CAST(bucket AS BIGINT) AS bucket, rule_name,
          CAST(failed AS BIGINT) AS failed_count,
          CAST(total AS BIGINT) AS total_count, failed = 0 AS passed
        FROM (
          SELECT bucket, 'id_band' AS rule_name,
            COALESCE(SUM(CASE WHEN event_id < 100 OR event_id > 20000 THEN 1 ELSE 0 END), 0) AS failed,
            COUNT(*) AS total FROM b GROUP BY bucket
          UNION ALL SELECT bucket, 'props_complete',
            COUNT(*) - COUNT(props), COUNT(*) FROM b GROUP BY bucket
          UNION ALL SELECT bucket, 'user_low',
            COALESCE(SUM(CASE WHEN user_id IS NOT NULL AND user_id < 500 THEN 1 ELSE 0 END), 0),
            COUNT(*) FROM b GROUP BY bucket
        ) ORDER BY rule_name, bucket""")),

    // ---- schema drift (contract check): a mutated view of documents vs
    // the live table — the oracle pins the exact expected diff rows, which
    // the operator must re-derive from the real schemas -------------------
    Q("q_schema_drift_docs",
      (s, d) => {
        import s.implicits._
        val reference = t(s, d, "documents")
        val current = reference
          .drop("lang")
          .withColumn("n_chars", col("n_chars").cast("double"))
          .withColumn("quality", lit(0.5d))
        Checks.schemaDiff(current.schema, reference.schema)
          .toDF("col_name", "change", "current_type", "reference_type")
          .orderBy("col_name", "change")
      },
      Some("""SELECT * FROM (VALUES
          ('lang', 'removed', '', 'string'),
          ('n_chars', 'type_changed', 'double', 'bigint'),
          ('quality', 'added', 'double', ''))
          AS t(col_name, change, current_type, reference_type)
        ORDER BY col_name, change""")),

    // ---- rule-filter composition (data-cleaning mode) --------------------
    Q("q_filter_clean_events",
      (s, d) => RulePlanner.applyFilters(t(s, d, "events"), ruleSuiteForFilters)
        .orderBy("event_id"),
      Some("""SELECT * FROM events
        WHERE props IS NOT NULL AND value >= 0 AND value <= 100
          AND regexp_matches(event_type, '^[a-z]+$')
        ORDER BY event_id""")),

    // ---- text analysis ----------------------------------------------------
    Q("q_token_stats_docs",
      (s, d) => t(s, d, "documents")
        // counter struct projected once → ONE text scan feeds both stats
        // (TextStatsExpr); the regex oracle below is the semantic pin
        .select(col("doc_id"), col("text"),
          TextAnalysis.textStats(col("text")).as("__st"))
        .select(
          col("doc_id"),
          TextAnalysis.tokenCountFromStats(col("__st")).as("token_count"),
          TextAnalysis.qualityScoreFromStats(col("__st")).as("quality_score"),
          TextAnalysis.contentFingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""WITH f AS (SELECT doc_id,
          CAST(length(text) AS DOUBLE) AS len,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS INT) AS token_count,
          CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE) AS n_alpha,
          CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) AS n_punct,
          md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
          FROM documents),
        g AS (SELECT doc_id, len, token_count, fingerprint,
          CASE WHEN len >= 20 AND len <= 5000 THEN 1.0 WHEN len > 0 THEN 0.5 ELSE 0.0 END AS len_score,
          CASE WHEN len > 0 THEN n_alpha / len ELSE 0.0 END AS alpha_ratio,
          CASE WHEN len > 0 THEN n_punct / len ELSE 0.0 END AS punct_ratio,
          n_alpha / greatest(CAST(token_count AS DOUBLE), 1.0) AS mwl
          FROM f)
        SELECT doc_id, token_count,
          len_score * 0.3 + alpha_ratio * 0.3 +
          (CASE WHEN mwl >= 2.5 AND mwl <= 9.0 THEN 1.0 ELSE 0.4 END) * 0.2 +
          (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.3 END) * 0.2 AS quality_score,
          fingerprint
        FROM g ORDER BY doc_id""")),

    Q("q_langid_docs",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      Some("""WITH s AS (SELECT doc_id, lang,
          len(regexp_extract_all(lower(text), '\b(the|and|of|to|is|in|that|for|with|was)\b')) AS s_en,
          len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|nicht|ein|mit|von|zu)\b')) AS s_de,
          len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|des|que|pour|dans)\b')) AS s_fr,
          len(regexp_extract_all(lower(text), '\b(el|la|los|las|es|una|que|por|para|con)\b')) AS s_es,
          len(regexp_extract_all(lower(text), '\b(il|la|che|di|non|per|una|sono|con|del)\b')) AS s_it
          FROM documents)
        SELECT doc_id, lang,
          CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_it) = 0 THEN 'und'
               WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'en'
               WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'de'
               WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'fr'
               WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'es'
               ELSE 'it' END AS lang_pred
        FROM s ORDER BY doc_id""")),

    // ---- web-text markup cleaning. Like the boilerplate/redaction
    // queries, the markup is CONSTRUCTED deterministically from the table
    // (the word-soup corpus has none); the oracle builds the same
    // augmented text and runs the identical strip pipeline. ---------------
    Q("q_strip_markup_docs",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), concat(
            lit("<div class=\"post\"><p>"), col("text"),
            lit("</p> see https://example.org/item/"), col("doc_id"),
            lit("?q=1 and <a href=\"/x\">link</a></div>")).as("text"))
        docs.select(col("doc_id"),
          TextAnalysis.urlCount(col("text")).as("url_count"),
          TextAnalysis.stripMarkup(col("text")).as("clean"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT doc_id,
            '<div class="post"><p>' || text || '</p> see https://example.org/item/' ||
            CAST(doc_id AS VARCHAR) || '?q=1 and <a href="/x">link</a></div>' AS text
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
          CAST(length(regexp_extract_all(text, 'https?://[^\s]+')) AS INT) AS url_count,
          trim(regexp_replace(
            regexp_replace(
              regexp_replace(text, '<[^>]*>', ' ', 'g'),
              'https?://[^\s]+', ' ', 'g'),
            '\s+', ' ', 'g')) AS clean
        FROM docs ORDER BY doc_id""")),

    // ---- PII redaction: instances CONSTRUCTED deterministically from the
    // table (the word-soup corpus has none); the oracle builds the same
    // augmented text and nests the same four regexp_replace calls in the
    // same order ('g' flag). ----------------------------------------------
    Q("q_redact_docs",
      (s, d) => {
        // spreadSmall: the four sequential PII regex replaces are the one
        // text pipeline heavy enough to beat the extra exchange (A/B'd)
        val docs = Checks.spreadSmall(t(s, d, "documents")).filter(col("text").isNotNull)
          .select(col("doc_id"), concat(
            col("text"), lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
            lit(" from 10.0."), pmod(col("doc_id"), lit(200)), lit(".17 "),
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit("ssn 123-45-"),
                lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
              .otherwise(concat(lit("call +1 (555) 01"),
                lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
                lit("-2222")))).as("text"))
        docs.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("text"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ||
            ' from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.17 ' ||
            CASE WHEN doc_id % 3 = 0
                 THEN 'ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE 'call +1 (555) 01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-2222' END AS text
          FROM documents WHERE text IS NOT NULL)
        SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g'),
              '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '[IP]', 'g'),
            '\+?[0-9][0-9()\- ]{7,}[0-9]', '[PHONE]', 'g') AS text
        FROM docs ORDER BY doc_id""")),

    // ---- repetition cleanup: collapse runs of consecutively repeated
    // tokens. Runs are CONSTRUCTED deterministically from the table (a
    // doc_id%5-length stutter appended to each doc); the oracle states the
    // identical keep rule — token i survives iff it differs from token i−1 —
    // via DuckDB's (element, index) list_filter lambda. `removed` counts
    // collapsed tokens so the artifact shows the rewrite did work. ---------
    Q("q_collapse_runs_docs",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), concat(col("text"), lit(" "),
            expr("repeat('dup ', CAST(doc_id % 5 AS INT))"), lit("END")).as("text"))
        docs
          // struct projected once → ONE text scan yields the collapsed
          // string AND both token counts (no re-split for `removed`)
          .select(col("doc_id"), TextAnalysis.collapseRunsStats(col("text")).as("__cr"))
          .select(col("doc_id"), col("__cr.clean").as("clean"),
            (col("__cr.total") - col("__cr.kept")).as("removed"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT doc_id, text || ' ' || repeat('dup ', CAST(doc_id % 5 AS INT)) || 'END' AS text
          FROM documents WHERE text IS NOT NULL),
        tok AS (
          SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
          FROM docs),
        kept AS (
          SELECT doc_id, toks, list_filter(toks, (t, i) -> i = 1 OR t != toks[i-1]) AS k
          FROM tok)
        SELECT doc_id, array_to_string(k, ' ') AS clean,
          CAST(len(toks) - len(k) AS INT) AS removed
        FROM kept ORDER BY doc_id""")),

    // ---- corpus top-k n-grams (boilerplate detector) ---------------------
    Q("q_top_ngrams_docs",
      (s, d) => TextAnalysis.topNgrams(t(s, d, "documents"), "text", n = 3, k = 20),
      Some("""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
          FROM documents WHERE text IS NOT NULL),
        grams AS (
          SELECT DISTINCT doc_id, array_to_string(t[CAST(i AS INT):CAST(i+2 AS INT)], ' ') AS g
          FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
          WHERE len(t) >= 3
          UNION
          SELECT DISTINCT doc_id, array_to_string(t, ' ') AS g FROM toks WHERE len(t) < 3)
        SELECT g AS ngram, CAST(count(*) AS BIGINT) AS df
        FROM grams WHERE g <> ''
        GROUP BY g ORDER BY df DESC, g ASC LIMIT 20""")),

    // ---- boilerplate-line removal. The documents table has no cross-doc
    // repeated lines, so the query CONSTRUCTS the boilerplate scenario
    // deterministically from the table itself: a header every doc shares
    // (df=500, stripped), a footer half share (df=250, stripped) and a
    // per-doc unique footer (df=1, kept) — the oracle rebuilds the same
    // augmented corpus in SQL and strips with the same df>=100 rule. -------
    Q("q_strip_boilerplate_docs",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"),
            concat_ws("\n", lit("COMMON HEADER v1"), col("text"),
              when(pmod(col("doc_id"), lit(2)) === 0, lit("EVEN FOOTER"))
                .otherwise(concat(lit("odd footer "), col("doc_id")))).as("text"))
        TextAnalysis.stripBoilerplateLines(docs, "doc_id", "text", minDocs = 100L)
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
          SELECT doc_id, 'COMMON HEADER v1' || chr(10) || text || chr(10) ||
            CASE WHEN doc_id % 2 = 0 THEN 'EVEN FOOTER'
                 ELSE 'odd footer ' || CAST(doc_id AS VARCHAR) END AS text
          FROM documents WHERE text IS NOT NULL),
        pairs AS (
          SELECT DISTINCT doc_id, line FROM (
            SELECT doc_id, UNNEST(string_split(text, chr(10))) AS line FROM docs)
          WHERE line <> ''),
        hot AS (
          SELECT COALESCE(list(line), CAST([] AS VARCHAR[])) AS hotl FROM (
            SELECT line FROM pairs GROUP BY line HAVING count(*) >= 100))
        SELECT d.doc_id, array_to_string(
          list_filter(string_split(d.text, chr(10)), l -> NOT list_contains(h.hotl, l)),
          chr(10)) AS text
        FROM docs d, hot h ORDER BY d.doc_id""")),

    // ---- exact dedup summary ---------------------------------------------
    Q("q_exact_dedup_docs",
      (s, d) => {
        val docs = t(s, d, "documents")
        docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("distinct_texts"))
          .select(col("n_docs"), col("distinct_texts"),
            (col("n_docs") - col("distinct_texts")).as("exact_dup_docs"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
        CAST(COUNT(*) AS BIGINT) - CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_dup_docs
        FROM documents""")),

    // ---- exact n-gram Jaccard near-dup pairs (oracle-checkable tier) -----
    Q("q_ngram_dups_docs",
      (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        shingleSize = 3, minJaccard = 0.5)
        .orderBy("id_a", "id_b"),
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w FROM documents),
        sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2), i -> array_to_string(list_slice(w, i, i + 2), ' ')) ELSE [array_to_string(w, ' ')] END) AS s FROM toks),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.5
        ORDER BY id_a, id_b""")),

    // ---- duplicate clusters: pairs → connected components ----------------
    Q("q_dedup_clusters_docs",
      (s, d) => Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
          shingleSize = 3, minJaccard = 0.5))
        .orderBy("id"),
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w FROM documents),
        sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2), i -> array_to_string(list_slice(w, i, i + 2), ' ')) ELSE [array_to_string(w, ' ')] END) AS s FROM toks),
        sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        pairs AS (SELECT id_a, id_b FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.5),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(id, r) AS (SELECT id, id FROM nodes
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
        SELECT id, CAST(MIN(r) AS BIGINT) AS cluster FROM reach GROUP BY id ORDER BY id""")),

    // ---- PII + repetition signals -----------------------------------------
    Q("q_pii_repetition_docs",
      // the repetition struct is projected ONCE (non-cheap alias —
      // CollapseProject won't inline it) so both fractions ride one text scan
      (s, d) => t(s, d, "documents")
        .withColumn("__rep", TextAnalysis.repetitionStats(col("text")))
        .select(
          col("doc_id"),
          TextAnalysis.emailCount(col("text")).as("n_emails"),
          TextAnalysis.ipv4Count(col("text")).as("n_ipv4"),
          TextAnalysis.ssnCount(col("text")).as("n_ssn"),
          TextAnalysis.phoneCount(col("text")).as("n_phones"),
          TextAnalysis.dupLineFractionFromStats(col("__rep")).as("dup_line_frac"),
          TextAnalysis.dupWordFractionFromStats(col("__rep")).as("dup_word_frac"))
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, text,
          string_split(text, chr(10)) AS ls,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS ws
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
          CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ipv4,
          CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INT) AS n_ssn,
          CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS INT) AS n_phones,
          CASE WHEN len(ls) > 0 THEN (CAST(len(ls) AS DOUBLE) - CAST(len(list_distinct(ls)) AS DOUBLE)) / CAST(len(ls) AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
          CASE WHEN len(ws) > 0 THEN (CAST(len(ws) AS DOUBLE) - CAST(len(list_distinct(ws)) AS DOUBLE)) / CAST(len(ws) AS DOUBLE) ELSE 0.0 END AS dup_word_frac
        FROM w ORDER BY doc_id""")),

    // ---- MinHash+LSH near-dups (scale tier; hash-based → rows-only, with
    // an embedded CERTIFICATION row — same pattern as the ANN recall rows.
    // The row is (id_a=−1, id_b=unsound_count, jaccard=recall):
    // unsound_count MUST be 0 (every LSH pair is verified with the exact
    // Jaccard, so LSH ⊆ exact always) and recall is |LSH ∩ exact|/|exact|
    // vs the PPJoin exact pair list at the same threshold. The dumped
    // artifact itself certifies soundness and quantifies recall without
    // ScalaTest. ---------------------------------------------------------
    Q("q_minhash_lsh_docs",
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        // BOTH pipelines (LSH and the exact PPJoin it is certified against)
        // start from the same (id, shingles) frame — shingled ONCE under the
        // scope instead of twice; the LSH side then materializes on a
        // background thread while the exact side's hot-df pass (a driver-
        // blocking mid-plan collect) runs on this one (guide §2.6)
        val scope = graft.operators.CacheScope.ambient
        val small = Dedup.fitsBroadcast(docs)
        val shingled = scope.cache(Dedup.shingleDocs(docs, "doc_id", "text", 3))
        val lsh = scope.cache(Dedup.minHashLshPairsFromShingles(shingled,
          numHashes = 64, bands = 16, minJaccard = 0.5, small = small, scope = scope))
        val exact = overlapped(lsh) {
          Dedup.ngramJaccardPairsFromShingles(shingled,
            minJaccard = 0.5, maxShingleDf = 0L, hotDfThreshold = 64L,
            small = small, scope = scope)
        }
        val (unsound, hits, total) = setStats(lsh, exact, Seq("id_a", "id_b"))
        val recall = if (total == 0) 1.0 else hits.toDouble / total
        lsh.unionByName(Seq((-1L, unsound, recall)).toDF("id_a", "id_b", "jaccard"))
          .orderBy("id_a", "id_b")
      },
      None),

    // ---- SimHash near-dups (rows-only + embedded EXACTNESS row: the
    // pigeonhole banding is COMPLETE for hamming ≤ maxHamming — any pair
    // within the radius must agree on one full chunk — so the banded
    // result must EQUAL the brute-force all-pairs hamming scan. The
    // certification row (id_a = −1) carries the symmetric-difference
    // count vs brute force in id_b; 0 certifies exactness in the dump. ----
    Q("q_simhash_docs",
      (s, d) => {
        import s.implicits._
        val docs = t(s, d, "documents")
        val banded = graft.operators.CacheScope.ambient.cache(
          Dedup.simHashNearDups(docs, "doc_id", "text", maxHamming = 3))
        val sims = docs.select(col("doc_id").as("id"),
          Dedup.simHash(col("text")).as("sim"))
        val a = sims.select(col("id").as("id_a"), col("sim").as("sim_a"))
        val b = sims.select(col("id").as("id_b"), col("sim").as("sim_b"))
        val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
          .filter(col("hamming") <= 3)
        val (onlyBanded, both, bruteTotal) = setStats(banded, brute, Seq("id_a", "id_b"))
        val symDiff = onlyBanded + (bruteTotal - both)
        banded.unionByName(Seq((-1L, symDiff, -1)).toDF("id_a", "id_b", "hamming"))
          .orderBy("id_a", "id_b")
      },
      None),

    // ---- ANN: exact brute-force cosine top-k (rows-only) -----------------
    // Oracle-checked: DuckDB ranks the same cross join with
    // list_cosine_similarity. The output is rank-only (integers) — cosine
    // comparisons agree between engines (both IEEE double over the same
    // floats), but the VALUE's textual form would not, so the float stays
    // out of the compared columns. Ties broken by ascending id in both.
    Q("q_knn_brute_embeddings",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        Similarity.bruteForceTopK(
          emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .select("query_id", "id", "rank")
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id AS id,
                 list_cosine_similarity(e.embedding, q.qv) AS c
          FROM embeddings e CROSS JOIN q
          WHERE list_cosine_similarity(e.embedding, q.qv) IS NOT NULL)
        SELECT query_id, id, rank FROM (
          SELECT query_id, id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, id ASC) AS INT) AS rank
          FROM scored)
        WHERE rank <= 10 ORDER BY query_id, rank""")),

    // ---- ANN: LSH-bucketed top-k (rows-only + embedded recall row: the
    // dump itself certifies recall vs the exact brute-force ranking) ------
    Q("q_knn_lsh_embeddings",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        // planes sized to the corpus: 2^5 = 32 buckets keeps tens of
        // vectors per bucket at sf0.01–0.1 (1024 buckets left most queries
        // with near-empty probes — the embedded recall row exposed it)
        val ann = Similarity.lshTopK(emb, "vec_id", "embedding",
          queries, "vec_id", "embedding", dim = 64, k = 10, planes = 5)
        withRecallRow(s, ann,
          Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 10))
          .orderBy("query_id", "rank")
      },
      None),

    // ---- ANN: IVF top-k (rows-only + embedded recall row, as LSH) --------
    Q("q_knn_ivf_embeddings",
      (s, d) => {
        // source deliberately NOT cached (single split: a cache build is
        // one task and serializes the concurrent subtrees; page-cached
        // parquet re-reads are effectively free). The brute-force cert
        // subtree is independent of the index build's driver-blocking
        // collects, so it materializes on a background thread meanwhile
        // (guide §2.6)
        val emb = t(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 5)
        val brute = graft.operators.CacheScope.ambient.cache(
          Similarity.bruteForceTopK(emb, "vec_id", "embedding",
            queries, "vec_id", "embedding", k = 10))
        val ann = overlapped(brute) {
          val centroids = Similarity.sampleCentroids(emb, "vec_id", "embedding", 16)
          val indexed = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids)
          Similarity.ivfTopK(indexed, "vec_id", "embedding",
            queries, "vec_id", "embedding", centroids, k = 10, nprobe = 6)
        }
        withRecallRow(s, ann, brute)
          .orderBy("query_id", "rank")
      },
      None),

    // ---- ANN: top-k over the int8-quantized corpus. Oracle-checked: the
    // whole quantize→integer-cosine→rank pipeline re-derived in SQL. Codes
    // are bit-identical across engines (scale = float(max|x|/127), Java
    // half-up round == floor(x/scale + 0.5), both evaluated in IEEE double);
    // integer dots are exact in double, so the ranking agrees exactly —
    // stronger than the brute oracle, which only relies on comparison
    // agreement. Recall vs full precision bounded in SimilaritySpec. -------
    Q("q_knn_quantized_embeddings",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.select(col("vec_id"), Similarity.quantize(col("embedding")).as("qe"))
        Similarity.bruteForceTopKQuantized(q, "vec_id", "qe",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .select("query_id", "id", "rank")
          .orderBy("query_id", "rank")
      },
      Some("""WITH quant AS (
          SELECT vec_id,
            CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS FLOAT) AS scale,
            embedding
          FROM embeddings),
        codes AS (
          SELECT vec_id,
            CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                 ELSE list_transform(embedding, x ->
                   GREATEST(-127, LEAST(127, CAST(floor(CAST(x AS DOUBLE) / CAST(scale AS DOUBLE) + 0.5) AS INT)))) END AS q
          FROM quant),
        scored AS (
          SELECT qc.vec_id AS query_id, c.vec_id AS id,
            CASE WHEN list_dot_product(c.q, c.q) = 0 OR list_dot_product(qc.q, qc.q) = 0 THEN 0.0
                 ELSE list_dot_product(c.q, qc.q) / (sqrt(list_dot_product(c.q, c.q)) * sqrt(list_dot_product(qc.q, qc.q))) END AS cos
          FROM codes c CROSS JOIN (SELECT * FROM codes WHERE vec_id < 5) qc)
        SELECT query_id, id, rank FROM (
          SELECT query_id, id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, id ASC) AS INT) AS rank
          FROM scored)
        WHERE rank <= 10 ORDER BY query_id, rank""")),

    // ---- SemDeDup: semantic near-dups via k-means cell blocking (rows-
    // only; soundness + within-cell completeness asserted in DedupSpec;
    // embedded SAMPLED-recall certification row — see q_embedding_neardups)
    Q("q_semantic_neardups",
      (s, d) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        // the exact-reference cert subtree is independent of the found
        // pipeline — materialize it on a background thread while the
        // k-means index build (sample + 2 Lloyd rounds = 4 driver-blocking
        // collects) runs here (guide §2.6)
        val brute = graft.operators.CacheScope.ambient.cache(
          stratumBrutePairs(emb, 0.4))
        val found = overlapped(brute) {
          Dedup.semanticNearDups(emb, "vec_id", "embedding",
            cells = 16, threshold = 0.4)
        }
        withPairRecallRowPrebuilt(s, found, brute)
          .orderBy("id_a", "id_b")
      },
      None),

    // ---- embedding cosine near-dup pairs (rows-only + embedded SAMPLED-
    // recall certification: blocking methods are sound by construction —
    // every emitted pair passed the exact cosine — so the open question the
    // artifact should answer is RECALL. Brute-forcing all pairs would cost
    // O(n²) per bench run, so recall is certified on the deterministic
    // id_a < 200 stratum: (id_a=−1, id_b=unsound_count (MUST be 0),
    // cosine=recall on the stratum). ---------------------------------------
    Q("q_embedding_neardups",
      (s, d) => {
        import s.implicits._
        val emb = t(s, d, "embeddings")
        // two independent hyperplane grids, pairs unioned: the documented
        // recall complement for single-assignment blocking (a pair split by
        // one random grid rarely splits under an independent second one);
        // the embedded cert row MEASURES the achieved recall on the sampled
        // stratum, so the artifact itself shows what the second seed buys
        val found = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
            dim = 64, threshold = 0.4, planes = 4, seed = 42L)
          .unionByName(Dedup.embeddingNearDups(emb, "vec_id", "embedding",
            dim = 64, threshold = 0.4, planes = 4, seed = 1042L))
          .distinct()
        withPairRecallRow(s, found, emb, 0.4)
          .orderBy("id_a", "id_b")
      },
      None),

    // ---- curation: deterministic hash sample (oracle) --------------------
    Q("q_hash_sample_docs",
      (s, d) => graft.operators.Curation.hashSample(t(s, d, "documents"), "doc_id", 3)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2')
        ORDER BY doc_id""")),

    // ---- curation: deterministic shard export (training handoff) ---------
    // the manifest is recomputed from the EXPORTED parquet, so the oracle
    // checks the actual at-rest output: membership (md5 % n, engine-stable),
    // per-shard counts AND an id checksum per shard
    Q("q_shard_docs",
      (s, d) => {
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
          graft.operators.Dedup.stableSuffix(d)
        graft.operators.Curation.exportShards(t(s, d, "documents"), "doc_id", 8, dir)
        s.read.parquet(dir).groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("docs"), sum("doc_id").as("id_sum"))
          .orderBy("shard")
      },
      Some("""SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS BIGINT) AS shard,
        CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY 1 ORDER BY shard""")),

    // ---- curation: stratified deterministic sample (rebalance the lang
    // mix: keep 4/16 of the dominant en, all of zh, 8/16 of the rest) ------
    Q("q_stratified_sample_docs",
      (s, d) => graft.operators.Curation.stratifiedHashSample(
        t(s, d, "documents"), "doc_id", "lang",
        Map("en" -> 4, "zh" -> 16), defaultSixteenths = 8)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
        WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))
              <= CASE lang WHEN 'en' THEN 4 WHEN 'zh' THEN 16 ELSE 8 END
        ORDER BY doc_id""")),

    // ---- curation: token-budget corpus slice (global hash-order prefix
    // computed bucket-wise — no global sort; oracle runs the single-window
    // formulation the operator is row-identical to) ------------------------
    Q("q_token_budget_docs",
      (s, d) => graft.operators.Curation.tokenBudgetSample(
        t(s, d, "documents"), "doc_id", "n_chars", budget = 30000L)
        .select("doc_id", "n_chars").orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars FROM (
          SELECT doc_id, n_chars,
            SUM(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents)
        WHERE cum <= 30000 ORDER BY doc_id""")),

    // ---- curation: deterministic fixed-size eval slice -------------------
    Q("q_eval_slice_docs",
      (s, d) => graft.operators.Curation.hashTopN(t(s, d, "documents"), "doc_id", 50)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM (
          SELECT doc_id, lang FROM documents
          ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC LIMIT 50)
        ORDER BY doc_id""")),

    // ---- curation: deterministic weighted training mix (3:1 over the
    // even/odd doc split by token mass; budgets derive from the binding
    // corpus, slices are exact token-budget prefixes — oracle replicates
    // the double arithmetic in the same order) --------------------------
    Q("q_weighted_mix_docs",
      (s, d) => {
        val docs = t(s, d, "documents")
        val even = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        val odd = docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)
        graft.operators.Curation.weightedTokenMix(
          Seq(("even", even, 3.0), ("odd", odd, 1.0)), "doc_id", "n_chars")
          .select("source", "doc_id", "n_chars")
          .orderBy("source", "doc_id")
      },
      Some("""WITH t AS (SELECT
          CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN n_chars ELSE 0 END) AS DOUBLE) AS t0,
          CAST(SUM(CASE WHEN doc_id % 2 <> 0 THEN n_chars ELSE 0 END) AS DOUBLE) AS t1
          FROM documents),
        b AS (SELECT
          CASE WHEN t0 / 3.0 <= t1 / 1.0 THEN CAST(t0 AS BIGINT)
               ELSE CAST(floor(t1 * 3.0 / 1.0) AS BIGINT) END AS b0,
          CASE WHEN t0 / 3.0 <= t1 / 1.0 THEN CAST(floor(t0 * 1.0 / 3.0) AS BIGINT)
               ELSE CAST(t1 AS BIGINT) END AS b1 FROM t),
        c0 AS (SELECT doc_id, n_chars,
            SUM(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents WHERE doc_id % 2 = 0),
        c1 AS (SELECT doc_id, n_chars,
            SUM(n_chars) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM documents WHERE doc_id % 2 <> 0)
        SELECT 'even' AS source, doc_id, n_chars FROM c0, b WHERE cum <= b0
        UNION ALL
        SELECT 'odd' AS source, doc_id, n_chars FROM c1, b WHERE cum <= b1
        ORDER BY source, doc_id""")),

    // ---- curation: training-window chunking (context-window prep / RAG
    // chunker). maxTokens=64, overlap=8 → stride 56; the oracle replicates
    // the chunk-count formula and the 1-based inclusive list slices. ------
    Q("q_chunk_docs",
      (s, d) => graft.operators.Curation.chunkDocuments(
        t(s, d, "documents"), "doc_id", "text", maxTokens = 64, overlap = 8)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH toks AS (
          SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\r]+'), x -> len(x) > 0) AS t
          FROM documents WHERE text IS NOT NULL),
        k AS (SELECT doc_id, t,
          GREATEST(1, 1 + CAST(floor((CAST(len(t) AS DOUBLE) - 9) / 56) AS BIGINT)) AS nc
          FROM toks)
        SELECT doc_id, CAST(i AS INT) AS chunk_idx,
          array_to_string(t[(i*56 + 1):(i*56 + 64)], ' ') AS chunk
        FROM k, UNNEST(range(0, nc)) AS g(i)
        ORDER BY doc_id, chunk_idx""")),

    // ---- text: LM-lite bigram-coverage fluency score (the cheap stand-in
    // for a KenLM perplexity filter; integer-derived → bit-exact) ----------
    Q("q_bigram_coverage_docs",
      (s, d) => TextAnalysis.bigramCoverage(t(s, d, "documents"), "doc_id", "text", minDf = 2)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w FROM documents),
        sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1), i -> array_to_string(list_slice(w, i, i + 1), ' ')) ELSE [array_to_string(w, ' ')] END) AS b FROM toks),
        shf AS (SELECT doc_id, b FROM sh WHERE b <> ''),
        common AS (SELECT b FROM shf GROUP BY b HAVING count(*) >= 2),
        cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_common FROM shf WHERE b IN (SELECT b FROM common) GROUP BY doc_id),
        nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams FROM shf GROUP BY doc_id)
        SELECT d.doc_id, COALESCE(nb.n_bigrams, 0) AS n_bigrams,
          COALESCE(cov.n_common, 0) AS n_common,
          CASE WHEN COALESCE(nb.n_bigrams, 0) > 0
               THEN CAST(COALESCE(cov.n_common, 0) AS DOUBLE) / CAST(nb.n_bigrams AS DOUBLE)
               ELSE 0.0 END AS coverage
        FROM documents d
        LEFT JOIN nb ON nb.doc_id = d.doc_id
        LEFT JOIN cov ON cov.doc_id = d.doc_id
        ORDER BY d.doc_id""")),

    // ---- curation: token-budget sequence packing. Pack ids are
    // partition-local by design (not SQL-expressible), so the query outputs
    // the INVARIANTS of a correct packing, which ARE oracle-checkable:
    // every doc packed exactly once, token mass conserved, and zero
    // multi-doc packs over budget (the oracle's 0 is a constant — any
    // packing bug shows up as a nonzero on the Spark side). Per-row shape
    // is further pinned in CurationSpec. ------------------------------------
    Q("q_pack_docs",
      (s, d) => {
        val sized = t(s, d, "documents").select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("tokens"))
        val packed = graft.operators.Curation
          .packSequences(sized, "doc_id", "tokens", budget = 2048L)
        val coverage = packed.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("tokens")).as("total_tokens"))
        val violations = packed.groupBy("pack_id")
          .agg(sum(col("tokens")).as("__s"), count(lit(1)).as("__c"))
          .filter(col("__c") > 1 && col("__s") > 2048L)
          .agg(count(lit(1)).as("multi_doc_over_budget"))
        coverage.crossJoin(violations)
      },
      Some("""SELECT count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
          CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+'))) AS BIGINT) AS total_tokens,
          CAST(0 AS BIGINT) AS multi_doc_over_budget
        FROM documents""")),

    // ---- decontamination: train/test n-gram overlap ----------------------
    Q("q_decontaminate_docs",
      (s, d) => {
        val docs = t(s, d, "documents")
        val test = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        graft.operators.Curation.contaminatedIds(corpus, "doc_id", "text", test, "text", n = 5)
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS w FROM documents),
        sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 5 THEN list_transform(generate_series(1, len(w) - 4), i -> array_to_string(list_slice(w, i, i + 4), ' ')) ELSE [array_to_string(w, ' ')] END) AS s FROM toks),
        test AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0 AND s <> '')
        SELECT DISTINCT doc_id FROM sh
        WHERE doc_id % 50 <> 0 AND s <> '' AND s IN (SELECT s FROM test)
        ORDER BY doc_id""")),

    // ---- incremental near-dup against a MATERIALIZED on-disk signature
    // index: the index is written once (bucketed by band_hash / id — the
    // warehouse snapshot shape), re-opened from its files, and the "new"
    // batch joins the at-rest tables — no index-side exchange (see
    // Dedup.writeSignatureIndex). ------------------------------------------
    Q("q_minhash_incremental_docs",
      (s, d) => {
        val corpus = t(s, d, "documents")
        // cached: both bucketed index writes (bands + docs) scan this frame —
        // without the cache each write re-ran the full shingle+sign pass
        val index = graft.operators.CacheScope.ambient.cache(
          Dedup.buildSignatureIndex(corpus, "doc_id", "text",
            shingleSize = 3, numHashes = 64, bands = 16))
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sig_index_" + Dedup.stableSuffix(d)
        // "new" batch = a deterministic slice of the corpus re-ingested:
        // every slice doc must rediscover itself is NOT possible (self
        // pairs excluded) but near-dups of slice docs must surface. Its
        // signature build is independent of the index write — materialized
        // on a background thread while the two bucketed writes run here
        // (guide §2.6)
        val fresh = corpus.filter(pmod(col("doc_id"), lit(50)) === 0)
          .select(col("doc_id") + lit(1000000L) as "doc_id", col("text"))
        val freshIdx = graft.operators.CacheScope.ambient.cache(
          Dedup.buildSignatureIndex(fresh, "doc_id", "text",
            shingleSize = 3, numHashes = 64, bands = 16))
        overlapped(freshIdx) {
          Dedup.writeSignatureIndex(index, dir, buckets = 16)
        }
        val pairs = graft.operators.CacheScope.ambient.cache(
          Dedup.storedIndexPairs(freshIdx, dir, minJaccard = 0.99))
        // embedded CERTIFICATION row (id_new = −1, id_index = missing-self
        // count): every re-ingested doc is byte-identical to its original,
        // so its signature matches ALL bands and the exact-Jaccard verify
        // reads 1.0 — the on-disk index round-trip must rediscover every
        // one (testdata slice docs all exceed the shingle size). 0 in the
        // dump certifies detection completeness over exact duplicates.
        import s.implicits._
        val missingSelf = fresh.select(col("doc_id").as("id_new"))
          .join(pairs.filter(col("id_index") === col("id_new") - lit(1000000L))
            .select("id_new").distinct(), Seq("id_new"), "left_anti")
          .count()
        pairs.unionByName(Seq((-1L, missingSelf, -1.0)).toDF("id_new", "id_index", "jaccard"))
          .orderBy("id_new", "id_index")
      },
      None),

    // ---- transcripts: constraint suite + partition verdicts (rows-only) --
    Q("q_transcripts_suite",
      (s, _) => entry(s),
      None),

    Q("q_transcripts_partition_verdicts",
      (s, _) => {
        // full per-partition surface: fusible rules from the grouped fused
        // pass PLUS uniqueness (within-partition dups), sequence/monotonic
        // (grouped group-unit stats), referential (grouped orphan counts)
        // and drift (grouped histograms vs a drifted baseline) — 8 buckets
        // × the full transcriptRules vocabulary + 2 drift rules
        import s.implicits._
        // synthesized input cached for the suite's many grouped passes
        // (see entry) — released by the harness's per-query CacheScope
        val turns = graft.operators.CacheScope.ambient.cache(
          Transcripts.turns(s, entryConfig)
            .withColumn("text_len", coalesce(length(col("text")), lit(0)).cast("double")))
        val index = Transcripts.convIndex(s, entryConfig)
        val baseline = Transcripts.turns(s, Transcripts.drifted(entryConfig))
          .withColumn("text_len", coalesce(length(col("text")), lit(0)).cast("double"))
        val rules = transcriptRules ++ Seq(
          ValidationRule("role_drift", RuleType.drift, Seq("role"),
            parameters = Map("method" -> "chi_square", "ref_table" -> "baseline",
              "values" -> "user,assistant,system,tool", // bounded-categorical tier
              "critical" -> "10000"), severity = Severity.Warning),
          ValidationRule("text_len_drift", RuleType.drift, Seq("text_len"),
            parameters = Map("method" -> "ks", "ref_table" -> "baseline",
              "lo" -> "0", "hi" -> "2000", "bins" -> "64", "critical" -> "0.3"),
            severity = Severity.Warning))
        val cfg = ValidationConfig(tables = Seq(TableConfig("transcripts", rules)))
        val v = new Validator(s, cfg, {
          case "conv_index" => Some(index)
          case "baseline"   => Some(baseline)
          case _            => None
        })
        val (summary, verdicts) = v.executeRulesPartitioned(
          turns, rules, "transcripts", Some(pmod(xxhash64(col("conv_id")), lit(8))))
        // driver-visible invariant rows: for every additive rule the
        // per-partition failure counts must roll up to the global verdict
        // EXACTLY (fusible counts are the same pass; orphanhood is
        // row-level; the uniqueness/sequence/monotonic partition derives
        // from conv_id ⊆ key). passed=false on any __global_check row means
        // the partition machinery disagrees with the global one — certified
        // in CORRECTNESS_r{N} without ScalaTest. Excluded as non-additive:
        // drift (failed is partition-total-or-zero) and the binary families
        // (row_count/cardinality — 0/1 per partition, 0/1 globally).
        val nonAdditive = Set(RuleType.drift, RuleType.RowCount, RuleType.Cardinality,
          RuleType.Quantile)
        val checks = rules.filterNot(r => nonAdditive(r.ruleType)).map { r =>
          val partSum = verdicts.filter(_.rule_name == r.name).map(_.failed_count).sum
          val global = summary.results.find(_.rule_name == r.name).map(_.failed_count).getOrElse(-1L)
          PartitionVerdict("__global_check", r.name,
            partSum == global, global, partSum, if (partSum == global) 1.0 else 0.0)
        }
        (verdicts ++ checks).toDF().orderBy("partition", "rule_name")
      },
      None),

    // embedded certification: salted two-phase aggregation must yield the
    // EXACT duplicate groups of the plain single-phase groupBy — the
    // `__salt_check` row carries the symmetric-difference count (0 ⟺ the
    // skew mitigation is verdict-invariant, certified in the dump itself)
    Q("q_transcripts_dup_keys",
      (s, _) => {
        import s.implicits._
        val turns = graft.operators.CacheScope.ambient.cache(
          Transcripts.turns(s, entryConfig))
        val salted = graft.operators.CacheScope.ambient.cache(
          Checks.duplicateKeysSalted(turns, Seq("conv_id", "turn_idx")))
        val plain = Checks.duplicateKeys(turns, Seq("conv_id", "turn_idx"))
        val (onlySalted, both, plainTotal) =
          setStats(salted, plain, Seq("conv_id", "turn_idx", "dup_count"))
        val symDiff = onlySalted + (plainTotal - both)
        salted.unionByName(
          Seq(("__salt_check", -1, symDiff)).toDF("conv_id", "turn_idx", "dup_count"))
          .orderBy("conv_id", "turn_idx")
      },
      None),

    // ---- multimodal plumbing (rows-only; codec stubbed) ------------------
    // ---- tokenizer-accurate token counts (greedy-merge BPE) --------------
    // the exact tier above tokenEstimate's chars/words heuristic: a real
    // merge vocabulary (embedded default here; production loads the model's
    // merges via Bpe.Vocab.fromFile). The oracle runs the SAME algorithm as
    // nested SQL replace() calls generated from the SAME vocab
    // (Bpe.oracleSqlExpr) — integer ops only, engine-portable by
    // construction. Plugs into tokenBudgetSample/weightedTokenMix as the
    // token column (CurationSpec pins that composition).
    Q("q_bpe_tokens_docs",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.bpe_token_count(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, CAST(${graft.functions.Bpe.oracleSqlExpr("text",
          graft.functions.Bpe.Vocab.default)} AS BIGINT) AS bpe_tokens
        FROM documents ORDER BY doc_id""")),

    // ---- multimodal: unified REAL decode over a mixed-modality corpus ----
    // one media row per documents id — kind by id % 3, every payload a REAL
    // container (image: BMP for even ids / compressed PNG for odd, sniffed
    // from one binary column; audio: WAV PCM-16; video: AVI 'DIB ') built
    // from the deterministic formulas, decoded by the real codecs on the
    // executors, and reduced to ONE unified integer feature row per medium.
    // The oracle re-derives all three modalities' features in SQL and
    // UNION ALLs them — the cross-modal dispatch, every container parser,
    // and every feature reduction sit inside a single hash compare.
    Q("q_media_features",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            (id % 3) match {
              case 0 =>
                val img = Multimodal.syntheticImage(id, (4 + id % 5).toInt, (5 + id % 4).toInt)
                val bytes =
                  if (id % 2 == 0) Multimodal.BmpCodec.encode(img)
                  else Multimodal.PngCodec.encode(img)
                (id, "image", bytes)
              case 1 =>
                val n = (100L + id % 201L).toInt
                (id, "audio", Multimodal.WavCodec.encode(
                  Multimodal.syntheticWavSamples(id, n), 8000, 1))
              case _ =>
                (id, "video", Multimodal.syntheticAvi(id, (3 + id % 4).toInt,
                  (2 + id % 3).toInt, (2 + id % 5).toInt, microSecPerFrame = 40000L))
            }
          }.toDF("media_id", "kind", "bytes")
        Multimodal.extractMediaFeatures(media, "media_id", "kind", "bytes")
          .toDF().orderBy("media_id")
      },
      Some("""WITH img AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
                CAST(5 + doc_id % 4 AS INT) AS h FROM documents WHERE doc_id % 3 = 0),
        ipx AS (SELECT doc_id, w, h, x, y,
                  (x*7 + y*13 + doc_id*31) % 256 AS r,
                  (x*7 + y*13 + doc_id*31 + 97) % 256 AS g,
                  (x*7 + y*13 + doc_id*31 + 194) % 256 AS b
                FROM img, generate_series(0, 7) AS gx(x), generate_series(0, 7) AS gy(y)
                WHERE x < w AND y < h),
        irow AS (SELECT doc_id AS media_id, 'image' AS kind, true AS decode_ok,
                  w AS width, h AS height, CAST(-1 AS BIGINT) AS duration_ms,
                  CAST(w * h AS BIGINT) AS units,
                  CAST(SUM((y*w + x + 1) * (r + g + b)) AS BIGINT) AS checksum
                 FROM ipx GROUP BY doc_id, w, h),
        aud AS (SELECT doc_id, CAST(100 + doc_id % 201 AS BIGINT) AS n
                FROM documents WHERE doc_id % 3 = 1),
        asmp AS (SELECT doc_id, n, ((i * 2654435761 + doc_id * 40503) % 65536) - 32768 AS smp
                 FROM aud, generate_series(CAST(0 AS BIGINT), CAST(300 AS BIGINT)) AS t(i)
                 WHERE i < n),
        arow AS (SELECT doc_id AS media_id, 'audio' AS kind, true AS decode_ok,
                  -1 AS width, -1 AS height, CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
                  n AS units, CAST(SUM(smp) AS BIGINT) AS checksum
                 FROM asmp GROUP BY doc_id, n),
        vid AS (SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS w,
                  CAST(2 + doc_id % 3 AS INT) AS h, 2 + doc_id % 5 AS nf
                FROM documents WHERE doc_id % 3 = 2),
        vpx AS (SELECT doc_id, w, h, nf, i, x, y,
                  (x*7 + y*13 + doc_id*31 + i*19) % 256 AS r,
                  (x*7 + y*13 + doc_id*31 + i*19 + 97) % 256 AS g,
                  (x*7 + y*13 + doc_id*31 + i*19 + 194) % 256 AS b
                FROM vid, generate_series(0, 6) AS gi(i),
                  generate_series(0, 5) AS gx(x), generate_series(0, 3) AS gy(y)
                WHERE i < nf AND x < w AND y < h),
        vrow AS (SELECT doc_id AS media_id, 'video' AS kind, true AS decode_ok,
                  w AS width, h AS height, CAST(nf * 40 AS BIGINT) AS duration_ms,
                  CAST(nf AS BIGINT) AS units,
                  CAST(SUM((y*w + x + 1) * (r + g + b)) AS BIGINT) AS checksum
                 FROM vpx GROUP BY doc_id, w, h, nf)
        SELECT * FROM irow UNION ALL SELECT * FROM arow UNION ALL SELECT * FROM vrow
        ORDER BY media_id""")),

    // ---- multimodal: REAL audio decode (RIFF/WAVE PCM, pure JVM) ---------
    // one media row per documents id: a deterministic s16 waveform is
    // ENCODED into a real WAV container, then DECODED back by WavCodec on
    // the executors; every feature is exact integer arithmetic the oracle
    // re-derives from the same waveform formula — a header-parse or
    // sample-endianness bug breaks the match. (Absolute byte layout is
    // additionally pinned by MultimodalSpec's golden-bytes test.)
    Q("q_wav_features",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val n = (100L + id % 201L).toInt
            (id, Multimodal.WavCodec.encode(
              Multimodal.syntheticWavSamples(id, n), 8000, 1))
          }.toDF("media_id", "bytes")
        Multimodal.extractAudioFeatures(media, "media_id", "bytes")
          .toDF().orderBy("media_id")
      },
      Some("""WITH n AS (SELECT doc_id, CAST(100 + doc_id % 201 AS BIGINT) AS n FROM documents),
        s AS (SELECT doc_id, n, ((i * 2654435761 + doc_id * 40503) % 65536) - 32768 AS smp
              FROM n, generate_series(CAST(0 AS BIGINT), CAST(300 AS BIGINT)) AS t(i) WHERE i < n)
        SELECT doc_id AS media_id, true AS decode_ok, 8000 AS sample_rate, 1 AS channels, 16 AS bits,
          n AS n_frames, n * 1000 // 8000 AS duration_ms,
          CAST(MAX(ABS(smp)) AS BIGINT) AS peak_abs,
          CAST(SUM(smp * smp) AS BIGINT) AS sum_squares,
          CAST(SUM(smp) AS BIGINT) AS checksum
        FROM s GROUP BY doc_id, n ORDER BY media_id"""))
      ,

    // ---- multimodal: REAL image decode (BMP 24-bit BI_RGB, pure JVM) -----
    // one raster per documents id (widths 4-8 exercise 4-byte row padding),
    // ENCODED into a real BMP container, DECODED back by BmpCodec on the
    // executors; the checksum weights each pixel by raster position, so a
    // bottom-up/top-down row-order bug breaks the match even though plain
    // channel sums would cancel out. The oracle recomputes every feature
    // from the same pixel formula in SQL.
    Q("q_bmp_features",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val img = Multimodal.syntheticImage(id, (4 + id % 5).toInt, (3 + id % 4).toInt)
            (id, Multimodal.BmpCodec.encode(img))
          }.toDF("media_id", "bytes")
        Multimodal.extractImageFeatures(media, "media_id", "bytes")
          .toDF().orderBy("media_id")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
                CAST(3 + doc_id % 4 AS INT) AS h FROM documents),
        p AS (SELECT doc_id, w, h, x, y,
                (x*7 + y*13 + doc_id*31) % 256 AS r,
                (x*7 + y*13 + doc_id*31 + 97) % 256 AS g,
                (x*7 + y*13 + doc_id*31 + 194) % 256 AS b
              FROM d, generate_series(0, 7) AS gx(x), generate_series(0, 5) AS gy(y)
              WHERE x < w AND y < h)
        SELECT doc_id AS media_id, true AS decode_ok, w AS width, h AS height,
          CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
          CAST(SUM(b) AS BIGINT) AS sum_b,
          CAST(SUM((y*w + x + 1) * (r + g + b)) AS BIGINT) AS checksum
        FROM p GROUP BY doc_id, w, h ORDER BY media_id""")),

    // the full byte cycle: decode container → exact nearest-neighbor
    // resample (target pixel (x,y) = source (⌊x·sw/tw⌋, ⌊y·sh/th⌋)) →
    // RE-ENCODE → decode again → features. The oracle re-derives the
    // resampled raster through the same floor-division mapping, so a
    // one-pixel rounding difference anywhere in the cycle fails the hash.
    Q("q_bmp_resize",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val img = Multimodal.syntheticImage(id, (4 + id % 5).toInt, (3 + id % 4).toInt)
            val resized = Multimodal.resizeNearest(
              Multimodal.BmpCodec.decode(Multimodal.BmpCodec.encode(img)).get, 3, 2)
            (id, Multimodal.BmpCodec.encode(resized))
          }.toDF("media_id", "bytes")
        Multimodal.extractImageFeatures(media, "media_id", "bytes")
          .toDF().orderBy("media_id")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
                CAST(3 + doc_id % 4 AS INT) AS h FROM documents),
        p AS (SELECT doc_id, x, y, (x*w) // 3 AS sx, (y*h) // 2 AS sy
              FROM d, generate_series(0, 2) AS gx(x), generate_series(0, 1) AS gy(y)),
        q AS (SELECT doc_id, x, y,
                (sx*7 + sy*13 + doc_id*31) % 256 AS r,
                (sx*7 + sy*13 + doc_id*31 + 97) % 256 AS g,
                (sx*7 + sy*13 + doc_id*31 + 194) % 256 AS b
              FROM p)
        SELECT doc_id AS media_id, true AS decode_ok, 3 AS width, 2 AS height,
          CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
          CAST(SUM(b) AS BIGINT) AS sum_b,
          CAST(SUM((y*3 + x + 1) * (r + g + b)) AS BIGINT) AS checksum
        FROM q GROUP BY doc_id ORDER BY media_id""")),

    // ---- multimodal: REAL video decode (RIFF AVI, 'DIB ' frames) ---------
    // one AVI per documents id (2-6 frames at 25 fps), decoded by AviCodec
    // on the executors; sampleVideoFrames takes every 80 ms → frame step 2
    // (indices 0, 2, 4 where present) and reduces each DECODED frame to the
    // same exact integer features as the image path. The oracle replays the
    // sampling arithmetic and the per-frame pixel formula in SQL.
    Q("q_avi_frames",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            (id, Multimodal.syntheticAvi(id, (3 + id % 4).toInt, (2 + id % 3).toInt,
              (2 + id % 5).toInt, microSecPerFrame = 40000L))
          }.toDF("media_id", "bytes")
        Multimodal.sampleVideoFrames(media, "media_id", "bytes",
          everyMs = 80L, maxFrames = 8)
          .toDF().orderBy("media_id", "frame_idx")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(3 + doc_id % 4 AS INT) AS w,
                CAST(2 + doc_id % 3 AS INT) AS h, 2 + doc_id % 5 AS nf FROM documents),
        f AS (SELECT doc_id, w, h, i FROM d,
                generate_series(0, 4, 2) AS gi(i) WHERE i < nf),
        p AS (SELECT doc_id, w, h, i, x, y,
                (x*7 + y*13 + doc_id*31 + i*19) % 256 AS r,
                (x*7 + y*13 + doc_id*31 + i*19 + 97) % 256 AS g,
                (x*7 + y*13 + doc_id*31 + i*19 + 194) % 256 AS b
              FROM f, generate_series(0, 5) AS gx(x), generate_series(0, 3) AS gy(y)
              WHERE x < w AND y < h)
        SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
          CAST(i * 40 AS BIGINT) AS frame_ts_ms, w AS width, h AS height,
          CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
          CAST(SUM(b) AS BIGINT) AS sum_b,
          CAST(SUM((y*w + x + 1) * (r + g + b)) AS BIGINT) AS checksum
        FROM p GROUP BY doc_id, i, w, h ORDER BY media_id, frame_idx""")),

    // ---- multimodal: REAL compressed image decode (PNG, java.util.zip) ---
    // same raster formula as q_bmp_features but heights ≥ 5, so the
    // encoder's y % 5 filter schedule puts ALL FIVE PNG scanline filters
    // (None/Sub/Up/Average/Paeth) inside every file — a filter
    // reconstruction, zlib inflate, or chunk-CRC bug anywhere in the
    // decode breaks the hash against the pixel-formula oracle.
    Q("q_png_features",
      (s, d) => {
        import s.implicits._
        val media = t(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val img = Multimodal.syntheticImage(id, (4 + id % 5).toInt, (5 + id % 4).toInt)
            (id, Multimodal.PngCodec.encode(img))
          }.toDF("media_id", "bytes")
        Multimodal.extractImageFeatures(media, "media_id", "bytes", Multimodal.PngCodec)
          .toDF().orderBy("media_id")
      },
      Some("""WITH d AS (SELECT doc_id, CAST(4 + doc_id % 5 AS INT) AS w,
                CAST(5 + doc_id % 4 AS INT) AS h FROM documents),
        p AS (SELECT doc_id, w, h, x, y,
                (x*7 + y*13 + doc_id*31) % 256 AS r,
                (x*7 + y*13 + doc_id*31 + 97) % 256 AS g,
                (x*7 + y*13 + doc_id*31 + 194) % 256 AS b
              FROM d, generate_series(0, 7) AS gx(x), generate_series(0, 7) AS gy(y)
              WHERE x < w AND y < h)
        SELECT doc_id AS media_id, true AS decode_ok, w AS width, h AS height,
          CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
          CAST(SUM(b) AS BIGINT) AS sum_b,
          CAST(SUM((y*w + x + 1) * (r + g + b)) AS BIGINT) AS checksum
        FROM p GROUP BY doc_id, w, h ORDER BY media_id"""))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql.stripMargin.replaceAll("\\s+", " ").trim)).toMap
}
