package graft

import graft.engine.{Checks, Validator}
import graft.io.{TranscriptConfig, Transcripts}
import org.apache.spark.sql.functions._

class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  test("referential rule counts orphans via anti-join") {
    val fact = Seq(("c1", 0), ("c1", 1), ("zz", 0)).toDF("conv_id", "turn_idx")
    val dim = Seq("c1", "c2").toDF("conv_id")
    val rule = ValidationRule("ref", RuleType.Referential, Seq("conv_id"),
      parameters = Map("ref_table" -> "dim"))
    val v = new Validator(spark, ValidationConfig(),
      name => if (name == "dim") Some(dim) else None)
    val r = v.executeRules(fact, Seq(rule), "fact").results.head
    r.failed_count shouldBe 1
    r.total_count shouldBe 3
  }

  test("drift rule fires on drifted snapshot, quiet on identical") {
    val cfg = TranscriptConfig(numConvs = 300L)
    val base = Transcripts.turns(spark, cfg)
    val drifted = Transcripts.turns(spark, Transcripts.drifted(cfg))
    val rule = ValidationRule("role_drift", RuleType.drift, Seq("role"),
      parameters = Map("method" -> "chi_square", "ref_table" -> "baseline", "critical" -> "50"))
    def run(current: org.apache.spark.sql.DataFrame, baseline: org.apache.spark.sql.DataFrame) =
      new Validator(spark, ValidationConfig(),
        n => if (n == "baseline") Some(baseline) else None)
        .executeRules(current, Seq(rule), "t").results.head

    val quiet = run(base, base)
    quiet.failed_count shouldBe 0
    quiet.passed shouldBe true

    val loud = run(drifted, base)
    loud.failed_count shouldBe loud.total_count
    loud.passed shouldBe false
    loud.metadata("statistic").toDouble should be > 50.0
  }

  test("KS drift rule detects text-length shift") {
    val cfg = TranscriptConfig(numConvs = 300L)
    val base = Transcripts.turns(spark, cfg)
      .withColumn("text_len", coalesce(org.apache.spark.sql.functions.length(col("text")), lit(0)).cast("double"))
    val drifted = Transcripts.turns(spark, Transcripts.drifted(cfg))
      .withColumn("text_len", coalesce(org.apache.spark.sql.functions.length(col("text")), lit(0)).cast("double"))
    val rule = ValidationRule("len_drift", RuleType.drift, Seq("text_len"),
      parameters = Map("method" -> "ks", "ref_table" -> "baseline",
        "lo" -> "0", "hi" -> "2000", "bins" -> "64", "critical" -> "0.05"))
    val r = new Validator(spark, ValidationConfig(),
      n => if (n == "baseline") Some(base) else None)
      .executeRules(drifted, Seq(rule), "t").results.head
    r.metadata("statistic").toDouble should be > 0.05
    r.passed shouldBe false
  }

  test("KS drift on a NULL-containing column yields a verdict, not an error") {
    // text has injected NULLs; no coalesce — the NULL histogram bucket must
    // be excluded from the KS CDFs instead of exploding on toInt
    val cfg = TranscriptConfig(numConvs = 300L)
    val base = Transcripts.turns(spark, cfg)
      .withColumn("text_len", org.apache.spark.sql.functions.length(col("text")).cast("double"))
    val rule = ValidationRule("len_drift", RuleType.drift, Seq("text_len"),
      parameters = Map("method" -> "ks", "ref_table" -> "baseline",
        "lo" -> "0", "hi" -> "2000", "bins" -> "64", "critical" -> "0.3"))
    val r = new Validator(spark, ValidationConfig(),
      n => if (n == "baseline") Some(base) else None)
      .executeRules(base, Seq(rule), "t").results.head
    r.failed_count should not be -1L
    r.metadata("statistic").toDouble shouldBe 0.0 +- 1e-12 // identical snapshots
    r.passed shouldBe true
  }

  test("drift on a high-cardinality column raises the bucket guard, not a driver OOM") {
    // a categorical-drift rule (chi_square/tvd/psi/js buckets on the RAW
    // column) mistakenly pointed at an id column would collect one driver
    // row per distinct value — the guard inside Checks.multiHistogram must
    // fail the rule through its own error path before that happens
    val wide = spark.range(Checks.maxHistogramBuckets + 10L)
      .selectExpr("cast(id as string) as conv_id")
    val rule = ValidationRule("bad_drift", RuleType.drift, Seq("conv_id"),
      parameters = Map("method" -> "tvd", "ref_table" -> "baseline", "critical" -> "0.2"))
    val r = new Validator(spark, ValidationConfig(),
      n => if (n == "baseline") Some(wide) else None)
      .executeRules(wide, Seq(rule), "t").results.head
    r.failed_count shouldBe -1L
    r.message should include ("high-cardinality")
    // blast radius is ONE rule: a healthy drift rule co-batched in the
    // same scan still gets its verdict (the offender is excluded and the
    // rest re-run — never "the whole batch errored")
    val mixed = wide.withColumn("cat", (col("conv_id").cast("long") % 3).cast("string"))
    val healthy = ValidationRule("ok_drift", RuleType.drift, Seq("cat"),
      parameters = Map("method" -> "tvd", "ref_table" -> "baseline", "critical" -> "0.2"))
    val both = new Validator(spark, ValidationConfig(),
      n => if (n == "baseline") Some(mixed) else None)
      .executeRules(mixed, Seq(rule, healthy), "t").results
      .map(x => x.rule_name -> x).toMap
    both("bad_drift").failed_count shouldBe -1L
    both("bad_drift").message should include ("bad_drift")
    both("ok_drift").failed_count shouldBe 0L
    both("ok_drift").passed shouldBe true
    // the per-partition variant re-guards independently (partitions × buckets)
    val byPart = intercept[IllegalArgumentException] {
      Checks.multiHistogramByPartition(wide,
        Seq("h" -> col("conv_id")), lit(1))
    }
    byPart.getMessage should include ("high-cardinality")
  }

  test("drift values projection: bounded-categorical tier survives unbounded label spaces") {
    import graft.engine.Profiler
    // the SAME column shape the bucket guard rejects raw (junk tail wider
    // than maxHistogramBuckets): naming the expected vocabulary folds the
    // junk into __other__ — the raw rule errors, the bounded one verdicts
    val n = 3L * (Checks.maxHistogramBuckets + 10L)
    val wide = spark.range(n).selectExpr(
      "case when id % 3 = 0 then 'a' when id % 3 = 1 then 'b' else cast(id as string) end as cat")
    val raw = ValidationRule("raw_drift", RuleType.drift, Seq("cat"),
      parameters = Map("method" -> "tvd", "ref_table" -> "baseline", "critical" -> "0.2"))
    val bounded = ValidationRule("bounded_drift", RuleType.drift, Seq("cat"),
      parameters = Map("method" -> "tvd", "ref_table" -> "baseline",
        "values" -> "a, b", "critical" -> "0.2"))
    val v = new Validator(spark, ValidationConfig(),
      nm => if (nm == "baseline") Some(wide) else None)
    val res = v.executeRules(wide, Seq(raw, bounded), "t").results
      .map(r => r.rule_name -> r).toMap
    res("raw_drift").failed_count shouldBe -1L
    res("bounded_drift").passed shouldBe true
    res("bounded_drift").metadata("statistic").toDouble shouldBe 0.0 +- 1e-12
    // junk-share drift reads as OTHER-MASS movement: 1/3 junk → 2/3 junk
    val drifted = spark.range(n).selectExpr(
      "case when id % 3 = 0 then 'a' else cast(id as string) end as cat")
    val loud = v.executeRules(drifted, Seq(bounded), "t").results.head
    loud.passed shouldBe false
    loud.metadata("statistic").toDouble should be > 0.2
    // NULL keeps its OWN bucket — only non-member non-null values fold
    val buckets = Seq(Some("a"), Some("zzz"), None).toDF("c")
      .select(Checks.boundedCategory(org.apache.spark.sql.functions.col("c"), Seq("a", "b")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSet
    buckets shouldBe Set("a", Checks.OtherBucket, null)
    // rejections fail ONLY their own rule (pre-scan isolation): values on
    // a numeric-binned method, values naming nothing, values on a ts column
    val small = Seq(("a", 1.0, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("cat", "num", "ts")
    val vs = new Validator(spark, ValidationConfig(),
      nm => if (nm == "baseline") Some(small) else None)
    val bad = Seq(
      ValidationRule("ks_vals", RuleType.drift, Seq("num"),
        parameters = Map("method" -> "ks", "ref_table" -> "baseline",
          "values" -> "a", "critical" -> "0.3", "lo" -> "0", "hi" -> "10")),
      ValidationRule("empty_vals", RuleType.drift, Seq("cat"),
        parameters = Map("method" -> "tvd", "ref_table" -> "baseline",
          "values" -> " , ", "critical" -> "0.2")),
      ValidationRule("ts_vals", RuleType.drift, Seq("ts"),
        parameters = Map("method" -> "tvd", "ref_table" -> "baseline",
          "values" -> "2024-01-01 00:00:00", "critical" -> "0.2")),
      ValidationRule("healthy", RuleType.drift, Seq("cat"),
        parameters = Map("method" -> "tvd", "ref_table" -> "baseline",
          "values" -> "a,b", "critical" -> "0.2")))
    val mixed = vs.executeRules(small, bad, "t").results.map(r => r.rule_name -> r).toMap
    mixed("ks_vals").failed_count shouldBe -1L
    mixed("empty_vals").failed_count shouldBe -1L
    mixed("ts_vals").failed_count shouldBe -1L
    mixed("healthy").passed shouldBe true
    // ref_state baselines project the SKETCH keys identically: the
    // zero-scan verdict equals the ref_table one bit-for-bit (both exact)
    val dir = java.nio.file.Files.createTempDirectory("refstate_vals").toString
    val base = (Seq.fill(40)(Some("a")) ++ Seq.fill(40)(Some("b")) ++
      (1 to 15).map(i => Some(s"junk$i")) ++ Seq.fill(5)(Option.empty[String])).toDF("cat")
    Profiler.writeState(Profiler.profileState(base), s"$dir/cat.bin")
    val cur = (Seq.fill(30)(Some("a")) ++ Seq.fill(30)(Some("b")) ++
      (1 to 35).map(i => Some(s"other$i")) ++ Seq.fill(5)(Option.empty[String])).toDF("cat")
    def statOf(params: Map[String, String]): Double =
      new Validator(spark, ValidationConfig(),
        nm => if (nm == "baseline") Some(base) else None)
        .executeRules(cur, Seq(ValidationRule("d", RuleType.drift, Seq("cat"),
          parameters = params + ("method" -> "tvd") + ("critical" -> "0.2") +
            ("values" -> "a,b"))), "t").results.head.metadata("statistic").toDouble
    val viaState = statOf(Map("ref_state" -> s"$dir/cat.bin"))
    val viaTable = statOf(Map("ref_table" -> "baseline"))
    viaState shouldBe viaTable +- 1e-12
    viaState should be > 0.2 // the junk share tripled: other-mass drift
  }

  test("drift ref_state: baseline from a persisted profile state, zero baseline scan") {
    import graft.engine.Profiler
    val dir = java.nio.file.Files.createTempDirectory("refstate").toString
    // yesterday: 80/20 a/b with some NULLs — profiled once, state persisted
    val base = (Seq.fill(80)(Some("a")) ++ Seq.fill(20)(Some("b")) ++
      Seq.fill(10)(Option.empty[String])).toDF("cat")
    Profiler.writeState(Profiler.profileState(base), s"$dir/cat.bin")
    val rule = ValidationRule("cat_drift", RuleType.drift, Seq("cat"),
      parameters = Map("method" -> "tvd", "ref_state" -> s"$dir/cat.bin",
        "critical" -> "0.2"))
    // resolver knows NO tables: a verdict proves the baseline never
    // resolved a table (came from the state file alone)
    def run(current: org.apache.spark.sql.DataFrame) =
      new Validator(spark, ValidationConfig(), _ => None)
        .executeRules(current, Seq(rule), "t").results.head
    val quiet = run(base) // identical distribution incl. the NULL bucket
    quiet.passed shouldBe true
    quiet.metadata("statistic").toDouble shouldBe 0.0 +- 1e-12
    val loud = run((Seq.fill(20)(Some("a")) ++ Seq.fill(80)(Some("b")) ++
      Seq.fill(10)(Option.empty[String])).toDF("cat"))
    loud.passed shouldBe false
    loud.metadata("statistic").toDouble should be > 0.2
  }

  test("drift ref_state ks: numeric baseline from the persisted KLL sketch, zero baseline scan") {
    import graft.engine.Profiler
    val dir = java.nio.file.Files.createTempDirectory("refstate_ks").toString
    val base = spark.range(1000).selectExpr("cast(id as double) as v")
    Profiler.writeState(Profiler.profileState(base), s"$dir/v.bin")
    def run(current: org.apache.spark.sql.DataFrame, critical: String = "0.1") =
      new Validator(spark, ValidationConfig(), _ => None)
        .executeRules(current, Seq(ValidationRule("v_drift", RuleType.drift, Seq("v"),
          parameters = Map("method" -> "ks", "ref_state" -> s"$dir/v.bin",
            "critical" -> critical, "lo" -> "0", "hi" -> "1000", "bins" -> "50"))), "t")
        .results.head
    // identical data through the sketch face: D within the sketch's rank
    // error + one bucket of binning slack
    val quiet = run(base)
    quiet.failed_count should not be -1L
    quiet.passed shouldBe true
    quiet.metadata("statistic").toDouble should be < 0.05
    // a 30% location shift must clear the 0.1 gate decisively
    val loud = run(base.selectExpr("v + 300 as v"))
    loud.passed shouldBe false
    loud.metadata("statistic").toDouble should be > 0.25
    // and the zero-scan verdict agrees with the full ref_table scan within
    // the sketch tolerance (same rule, baseline re-scanned)
    def viaTable(current: org.apache.spark.sql.DataFrame) =
      new Validator(spark, ValidationConfig(),
        n => if (n == "baseline") Some(base) else None)
        .executeRules(current, Seq(ValidationRule("v_drift", RuleType.drift, Seq("v"),
          parameters = Map("method" -> "ks", "ref_table" -> "baseline",
            "critical" -> "0.1", "lo" -> "0", "hi" -> "1000", "bins" -> "50"))), "t")
        .results.head
    val drifted = base.selectExpr("v + 120 as v")
    val (s1, s2) = (run(drifted).metadata("statistic").toDouble,
      viaTable(drifted).metadata("statistic").toDouble)
    math.abs(s1 - s2) should be < 0.04 // ≤ 2× the k=200 rank error
  }

  test("drift method emd: ref_table and ref_state paths, location shift fires, local wobble doesn't") {
    import graft.engine.Profiler
    val dir = java.nio.file.Files.createTempDirectory("refstate_emd").toString
    val base = spark.range(1000).selectExpr("cast(id as double) as v")
    Profiler.writeState(Profiler.profileState(base), s"$dir/v.bin")
    def run(current: org.apache.spark.sql.DataFrame, baseParams: Map[String, String]) =
      new Validator(spark, ValidationConfig(),
        n => if (n == "baseline") Some(base) else None)
        .executeRules(current, Seq(ValidationRule("v_drift", RuleType.drift, Seq("v"),
          parameters = baseParams ++ Map("method" -> "emd",
            "critical" -> "0.1", "lo" -> "0", "hi" -> "1000", "bins" -> "50"))), "t")
        .results.head
    val viaTable = Map("ref_table" -> "baseline")
    val viaState = Map("ref_state" -> s"$dir/v.bin")
    // identical data: quiet on both baselines
    run(base, viaTable).metadata("statistic").toDouble shouldBe 0.0 +- 1e-12
    run(base, viaState).passed shouldBe true
    // a 30% location shift fires decisively: the CDF gap ramps up to 0.3
    // over the vacated low buckets then holds — averaged over the 49-step
    // span (top bucket clamps the overflow) that is exactly 12.6/49 ≈ 0.257
    val shifted = base.selectExpr("v + 300 as v")
    val loudT = run(shifted, viaTable)
    loudT.passed shouldBe false
    loudT.metadata("statistic").toDouble shouldBe (12.6 / 49) +- 0.01
    run(shifted, viaState).passed shouldBe false
    // local wobble (values jittered within a bucket's width) stays quiet
    // in emd even though mass crosses bucket edges
    val wobble = base.selectExpr("v + 7 as v")
    run(wobble, viaTable).metadata("statistic").toDouble should be < 0.02
    // zero-scan and full-scan statistics agree within sketch tolerance
    val drifted = base.selectExpr("v + 120 as v")
    math.abs(run(drifted, viaState).metadata("statistic").toDouble -
      run(drifted, viaTable).metadata("statistic").toDouble) should be < 0.04
  }

  test("drift ref_state on timestamp columns: canonical epoch keys verdict-match ref_table") {
    import graft.engine.Profiler
    val dir = java.nio.file.Files.createTempDirectory("refstate_ts").toString
    // sub-second precision on purpose: the JVM sketch form ("...:45.123456")
    // and the SQL cast form must land in the SAME epoch-micros bucket
    def frame(ds: Seq[String]) = ds.toDF("raw")
      .select(col("raw").cast("timestamp").as("ts"))
    val base = frame(Seq.fill(8)("2024-01-01 00:00:00") ++
      Seq.fill(2)("2024-01-02 12:30:45.123456") :+ null)
    val cur = frame(Seq.fill(2)("2024-01-01 00:00:00") ++
      Seq.fill(8)("2024-01-02 12:30:45.123456") :+ null)
    Profiler.writeState(Profiler.profileState(base), s"$dir/ts.bin")
    def run(params: Map[String, String]) =
      new Validator(spark, ValidationConfig(),
        n => if (n == "baseline") Some(base) else None)
        .executeRules(cur, Seq(ValidationRule("ts_drift", RuleType.drift, Seq("ts"),
          parameters = params)), "t").results.head
    val viaState = run(Map("method" -> "tvd", "ref_state" -> s"$dir/ts.bin", "critical" -> "0.2"))
    val viaTable = run(Map("method" -> "tvd", "ref_table" -> "baseline", "critical" -> "0.2"))
    viaState.failed_count should not be -1L
    viaState.metadata("statistic") shouldBe viaTable.metadata("statistic")
    viaState.passed shouldBe viaTable.passed
    viaState.passed shouldBe false // 6/11 of the mass moved > 0.2
    // identical distribution through the state face → exactly zero drift
    // (the instants bucket identically despite the two spellings)
    val quiet = new Validator(spark, ValidationConfig(), _ => None)
      .executeRules(base, Seq(ValidationRule("ts_drift", RuleType.drift, Seq("ts"),
        parameters = Map("method" -> "tvd", "ref_state" -> s"$dir/ts.bin",
          "critical" -> "0.2"))), "t").results.head
    quiet.metadata("statistic").toDouble shouldBe 0.0 +- 1e-12
    quiet.passed shouldBe true
    // zone independence: a state PROFILED under a different JVM default
    // zone yields the identical verdict — the sketch keys are epoch micros
    // from the instant itself, never a wall-clock rendering
    val prevTz = java.util.TimeZone.getDefault
    val altState = try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Kolkata"))
      Profiler.profileState(base)
    } finally java.util.TimeZone.setDefault(prevTz)
    Profiler.writeState(altState, s"$dir/ts_alt.bin")
    val viaAlt = run(Map("method" -> "tvd", "ref_state" -> s"$dir/ts_alt.bin",
      "critical" -> "0.2"))
    viaAlt.metadata("statistic") shouldBe viaState.metadata("statistic")

    // NTZ face: same contract through the LocalDateTime spelling
    def ntzFrame(ds: Seq[String]) = ds.toDF("raw")
      .select(expr("to_timestamp_ntz(raw)").as("ts"))
    val ntzBase = ntzFrame(Seq.fill(5)("2024-01-01 00:00:00") :+ "2024-01-02 06:00:00.5")
    Profiler.writeState(Profiler.profileState(ntzBase), s"$dir/ntz.bin")
    val ntzQuiet = new Validator(spark, ValidationConfig(), _ => None)
      .executeRules(ntzBase, Seq(ValidationRule("ts_drift", RuleType.drift, Seq("ts"),
        parameters = Map("method" -> "tvd", "ref_state" -> s"$dir/ntz.bin",
          "critical" -> "0.2"))), "t").results.head
    ntzQuiet.metadata("statistic").toDouble shouldBe 0.0 +- 1e-12
  }

  test("drift ref_state misconfigurations route to the rule's error path") {
    import graft.engine.Profiler
    val dir = java.nio.file.Files.createTempDirectory("refstate2").toString
    val cur = Seq("a", "b").toDF("cat")
    def result(params: Map[String, String]) =
      new Validator(spark, ValidationConfig(), _ => None)
        .executeRules(cur, Seq(ValidationRule("d", RuleType.drift, Seq("cat"),
          parameters = params)), "t").results.head
    Profiler.writeState(Profiler.profileState(cur), s"$dir/ok.bin")
    val num = Seq(1.0, 2.0).toDF("v")
    Profiler.writeState(Profiler.profileState(num), s"$dir/num.bin")
    // ks against a state whose column was NOT numeric (no quantile sketch):
    // the current-side scan is legal (live column is numeric) but the
    // baseline cannot exist — error, never a fabricated baseline
    val strState = Seq("a", "b").toDF("v")
    Profiler.writeState(Profiler.profileState(strState), s"$dir/str.bin")
    val ks = new Validator(spark, ValidationConfig(), _ => None)
      .executeRules(num, Seq(ValidationRule("d", RuleType.drift, Seq("v"),
        parameters = Map("method" -> "ks", "ref_state" -> s"$dir/str.bin",
          "critical" -> "0.3", "lo" -> "0", "hi" -> "10", "bins" -> "4"))), "t")
      .results.head
    ks.failed_count shouldBe -1L
    ks.message should include ("quantile sketch")
    // ks with a critical inside the sketch's own rank error: an approximate
    // baseline must never decide a verdict finer than it can see
    val fine = new Validator(spark, ValidationConfig(), _ => None)
      .executeRules(num, Seq(ValidationRule("d", RuleType.drift, Seq("v"),
        parameters = Map("method" -> "ks", "ref_state" -> s"$dir/num.bin",
          "critical" -> "0.01", "lo" -> "0", "hi" -> "10", "bins" -> "4"))), "t")
      .results.head
    fine.failed_count shouldBe -1L
    fine.message should include ("rank error")
    // non-categorical column type: JVM vs SQL string forms diverge for
    // timestamps/floats, so a double column errors instead of comparing
    // two spellings of the same value
    val typed = new Validator(spark, ValidationConfig(), _ => None)
      .executeRules(num, Seq(ValidationRule("d", RuleType.drift, Seq("v"),
        parameters = Map("method" -> "tvd", "ref_state" -> s"$dir/num.bin",
          "critical" -> "0.2"))), "t").results.head
    typed.failed_count shouldBe -1L
    typed.message should include ("string form")
    // both baselines named → ambiguous, error
    result(Map("method" -> "tvd", "ref_table" -> "x", "ref_state" -> s"$dir/ok.bin",
      "critical" -> "0.2")).failed_count shouldBe -1L
    // a purged (approximate) sketch must never become a silently-wrong
    // baseline: high-cardinality column → error naming the cause
    val wide = spark.range(200000).selectExpr("cast(id as string) as cat")
    Profiler.writeState(Profiler.profileState(wide), s"$dir/wide.bin")
    val approx = result(Map("method" -> "tvd", "ref_state" -> s"$dir/wide.bin",
      "critical" -> "0.2"))
    approx.failed_count shouldBe -1L
    approx.message should include ("approximate")
  }

  test("range rule accepts the reference's min_value/max_value spellings") {
    val df = Seq(-5.0, 1.0, 50.0, 120.0).toDF("score")
    val rule = ValidationRule("r", RuleType.Range, Seq("score"),
      parameters = Map("min_value" -> "0", "max_value" -> "100"))
    val r = new Validator(spark, ValidationConfig())
      .executeRules(df, Seq(rule), "t").results.head
    r.failed_count shouldBe 2 // -5 and 120
    r.total_count shouldBe 4
  }

  test("per-partition verdicts: one verdict per (partition, fusible rule)") {
    val turns = Transcripts.turns(spark, TranscriptConfig(numConvs = 200L))
    val rules = Seq(
      ValidationRule("text_c", RuleType.Completeness, Seq("text"), threshold = Some(0.9)),
      ValidationRule("turn_r", RuleType.Range, Seq("turn_idx"),
        parameters = Map("min" -> "0", "max" -> "100000"), threshold = Some(0.9)))
    val v = new Validator(spark, ValidationConfig())
    val (_, verdicts) = v.executeRulesPartitioned(turns, rules, "t",
      Some(pmod(xxhash64(col("conv_id")), lit(4))))
    verdicts.length shouldBe 8 // 4 partitions × 2 fusible rules
    // each rule's partition totals partition the data
    verdicts.filter(_.rule_name == "text_c").map(_.total_count).sum shouldBe turns.count()
    // every rule sees the same rows in a partition
    verdicts.groupBy(_.partition).values.foreach { g =>
      g.map(_.total_count).distinct.length shouldBe 1
    }
  }

  test("partition keys: raw-key grouping stringifies like cast-to-string; nulls and exotic types keep working") {
    val df = Seq((1L, Some("a"), Some(1.0)), (2L, None, Some(2.0)), (3L, Some("b"), Option.empty[Double]))
      .toDF("id", "grp", "v")
    val rule = ValidationRule("v_c", RuleType.Completeness, Seq("v"), threshold = Some(0.5))
    val v = new Validator(spark, ValidationConfig())
    // string partition column: grouped raw, keys pass through (null included)
    val (_, sv) = v.executeRulesPartitioned(df, Seq(rule), "t", Some(col("grp")))
    sv.map(_.partition).toSet shouldBe Set("a", "b", null)
    sv.find(_.partition == "b").get.failed_count shouldBe 1
    // numeric expression: driver-side stringification matches cast-to-string
    val (_, nv) = v.executeRulesPartitioned(df, Seq(rule), "t", Some(pmod(col("id"), lit(2))))
    nv.map(_.partition).toSet shouldBe Set("0", "1")
    // a timestamp key is NOT raw-stringable (toString appends ".0") — the
    // cast fallback must produce Spark's text form, not Java's
    val td = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Some(1.0)),
      (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), Option.empty[Double])).toDF("ts", "v")
    val (_, tv) = v.executeRulesPartitioned(td, Seq(rule), "t", Some(col("ts")))
    tv.map(_.partition).toSet shouldBe Set("2024-01-01 00:00:00", "2024-01-02 00:00:00")
  }

  test("outlier rule: flags known anomalies, NULLs not failed, partition sums match global") {
    // 100 values at 10.0 ± small spread, two gross anomalies, one NULL
    val base = (1 to 100).map(i => (i.toLong, Some(10.0 + (i % 5) * 0.01)))
    val rows = base ++ Seq((101L, Some(500.0)), (102L, Some(-400.0)), (103L, Option.empty[Double]))
    val df = rows.toDF("id", "v")
    val rule = ValidationRule("v_out", RuleType.Outlier, Seq("v"),
      parameters = Map("max_zscore" -> "3.0"))
    val v = new Validator(spark, ValidationConfig())
    val (summary, verdicts) = v.executeRulesPartitioned(df, Seq(rule), "t",
      Some(pmod(col("id"), lit(4))))
    val res = summary.results.head
    res.failed_count shouldBe 2 // the two anomalies; NULL not failed
    res.total_count shouldBe 103
    res.metadata.keySet should contain allOf ("mean", "stddev", "max_zscore")
    // per-partition failure counts (global moments) sum to the global count
    val outlierVerdicts = verdicts.filter(_.rule_name == "v_out")
    outlierVerdicts.map(_.failed_count).sum shouldBe 2
    outlierVerdicts.map(_.total_count).sum shouldBe 103
    // violation rows = exactly the anomalous ids
    v.violations(df, rule).select("id").collect().map(_.getLong(0)).toSet shouldBe Set(101L, 102L)
    // degenerate: single non-null value → passes with marker, no crash
    val single = Seq((1L, Some(5.0)), (2L, Option.empty[Double])).toDF("id", "v")
    val dres = v.executeRules(single, Seq(rule), "t").results.head
    dres.passed shouldBe true
    dres.failed_count shouldBe 0
    dres.metadata.get("degenerate") shouldBe Some("true")
    // filter mode: outliers AND nulls dropped, inliers kept
    val cleaned = engine.RulePlanner.applyFilters(df, Seq(rule))
    cleaned.count() shouldBe 100
    cleaned.agg(max(col("v"))).head().getDouble(0) should be <= 11.0
  }

  test("schema rule: contract diffs vs a reference table, nullability opt-in") {
    val reference = Seq((1L, "a", 10)).toDF("id", "name", "n")
    val current = Seq((1L, 0.5, true)).toDF("id", "n", "extra") // name dropped, n retyped, extra added
    val rule = ValidationRule("contract", RuleType.SchemaDrift, Nil,
      parameters = Map("ref_table" -> "snapshot"), threshold = Some(0.9))
    val v = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(reference) else None)
    val res = v.executeRules(current, Seq(rule), "t").results.head
    res.failed_count shouldBe 3 // removed name, retyped n, added extra
    res.total_count shouldBe 4  // union of column sets: id, name, n, extra
    res.passed shouldBe false   // 1/4 < 0.9
    res.metadata("diffs") should (include("name:removed") and
      include("n:type_changed") and include("extra:added"))
    // identical schemas pass clean
    val same = v.executeRules(reference, Seq(rule), "t").results.head
    same.passed shouldBe true
    same.failed_count shouldBe 0
    // nullability differences ignored unless opted in
    import org.apache.spark.sql.types._
    val relaxed = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row]),
      StructType(Seq(StructField("id", LongType, nullable = true),
        StructField("name", StringType, nullable = true),
        StructField("n", IntegerType, nullable = true))))
    val strictRef = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row]),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("name", StringType, nullable = true),
        StructField("n", IntegerType, nullable = true))))
    val v2 = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(strictRef) else None)
    v2.executeRules(relaxed, Seq(rule), "t").results.head.failed_count shouldBe 0
    val strictRule = rule.copy(parameters = rule.parameters + ("check_nullability" -> "true"))
    v2.executeRules(relaxed, Seq(strictRule), "t").results.head.failed_count shouldBe 1
    // nullability rows keep the type slots TYPED (annotated, not booleans)
    val ndiff = engine.Checks.schemaDiff(relaxed.schema, strictRef.schema)
    ndiff shouldBe Seq(("id", "nullability_changed", "bigint", "bigint not null"))
    // case-duplicate columns force case-sensitive matching: the duplicate
    // is never compared against its namesake's type, and the union count
    // stays >= the diff count
    import org.apache.spark.sql.types._
    val dup = StructType(Seq(StructField("ts", StringType), StructField("TS", LongType)))
    val one = StructType(Seq(StructField("ts", StringType)))
    engine.Checks.schemaDiff(dup, one) shouldBe Seq(("TS", "added", "bigint", ""))
    engine.Checks.schemaUnionColumnCount(dup, one) shouldBe 2
  }

  test("outlier batch: an out-of-range column fails ITS rule only, siblings keep verdicts") {
    // v is in range; big holds epoch-micros-scale values (> 1e14) that the
    // exact decimal route cannot carry — its rule must error while v's
    // rule still produces a real verdict (per-column isolation on the
    // fused-moments failure path)
    val df = (1 to 50).map(i => (i.toLong, 10.0 + (i % 5) * 0.01, 1.7e15 + i))
      .toDF("id", "v", "big")
    val rules = Seq(
      ValidationRule("v_out", RuleType.Outlier, Seq("v"),
        parameters = Map("max_zscore" -> "3.0")),
      ValidationRule("big_out", RuleType.Outlier, Seq("big"),
        parameters = Map("max_zscore" -> "3.0")))
    val v = new Validator(spark, ValidationConfig())
    val res = v.executeRules(df, rules, "t").results.map(r => r.rule_name -> r).toMap
    res("big_out").failed_count shouldBe -1L // error sentinel
    res("big_out").message should include("1e14")
    res("v_out").passed shouldBe true
    res("v_out").failed_count shouldBe 0L
    res("v_out").total_count shouldBe 50L
  }

  test("partitioned uniqueness + referential verdicts sum to the global counts") {
    val cfg = TranscriptConfig(numConvs = 300L)
    val turns = Transcripts.turns(spark, cfg)
    val index = Transcripts.convIndex(spark, cfg)
    val rules = Seq(
      ValidationRule("text_c", RuleType.Completeness, Seq("text"), threshold = Some(0.9)),
      ValidationRule("key_uniqueness", RuleType.Uniqueness, Seq("conv_id", "turn_idx"),
        threshold = Some(0.99)),
      ValidationRule("key_uniqueness_rollup", RuleType.Uniqueness, Seq("conv_id", "turn_idx"),
        threshold = Some(0.99), parameters = Map("partition_covers_key" -> "true")),
      ValidationRule("conv_ref", RuleType.Referential, Seq("conv_id"),
        parameters = Map("ref_table" -> "conv_index", "broadcast" -> "true"),
        threshold = Some(0.98)))
    val v = new Validator(spark, ValidationConfig(),
      n => if (n == "conv_index") Some(index) else None)
    val (summary, verdicts) = v.executeRulesPartitioned(
      turns, rules, "t", Some(pmod(xxhash64(col("conv_id")), lit(8))))
    val global = summary.results.map(r => r.rule_name -> r.failed_count).toMap
    val nTurns = turns.count()
    // uniqueness: the partition expr derives from the key, so within-partition
    // dup counts sum to the global (total - distinct) exactly
    val uniq = verdicts.filter(_.rule_name == "key_uniqueness")
    uniq should not be empty
    uniq.map(_.failed_count).sum shouldBe global("key_uniqueness")
    uniq.map(_.total_count).sum shouldBe nTurns
    // partition_covers_key: the roll-up global verdict equals the separate
    // table-wide distinct computation, without its shuffle
    global("key_uniqueness_rollup") shouldBe global("key_uniqueness")
    summary.results.find(_.rule_name == "key_uniqueness_rollup").get
      .metadata("partitioned") shouldBe "true"
    summary.results.find(_.rule_name == "key_uniqueness").get
      .metadata.get("partitioned") shouldBe None
    // referential: orphanhood is row-level — partition counts always roll up
    val ref = verdicts.filter(_.rule_name == "conv_ref")
    ref should not be empty
    ref.map(_.failed_count).sum shouldBe global("conv_ref")
    ref.map(_.total_count).sum shouldBe nTurns
    global("conv_ref") should be > 0L // orphan channel is injected
    summary.results.find(_.rule_name == "conv_ref").get.metadata("partitioned") shouldBe "true"
    // all three rule families share the same partition labels
    verdicts.groupBy(_.rule_name).values.map(_.map(_.partition).toSet).toSet.size shouldBe 1
  }

  test("per-partition drift verdicts flag the drifted partition only") {
    // baseline: 1/3 assistant, 2/3 user. current: partition 1 matches the
    // baseline mixture exactly; partition 0 is all "zzz" (drifted)
    val baseline = (0L until 300L)
      .map(i => (i, if (i % 3 == 0) "assistant" else "user")).toDF("id", "role")
    val current = (0L until 600L)
      .map(i => (i, if (i % 2 == 0) "zzz" else if ((i / 2) % 3 == 0) "assistant" else "user"))
      .toDF("id", "role")
    val rule = ValidationRule("role_drift", RuleType.drift, Seq("role"),
      parameters = Map("method" -> "chi_square", "ref_table" -> "baseline", "critical" -> "50"))
    val v = new Validator(spark, ValidationConfig(),
      n => if (n == "baseline") Some(baseline) else None)
    val (summary, verdicts) = v.executeRulesPartitioned(
      current, Seq(rule), "t", Some(pmod(col("id"), lit(2))))
    val byPart = verdicts.filter(_.rule_name == "role_drift").map(v => v.partition -> v).toMap
    byPart.keySet shouldBe Set("0", "1")
    byPart("0").passed shouldBe false // all-zzz partition drifts hard
    byPart("0").failed_count shouldBe 300
    byPart("1").passed shouldBe true // baseline-shaped partition is quiet
    byPart("1").failed_count shouldBe 0
    byPart.values.map(_.total_count).sum shouldBe 600
    // the global verdict sees the 50% zzz mixture and fails too
    summary.results.find(_.rule_name == "role_drift").get.passed shouldBe false
  }

  test("tvd drift: a small drifted partition fires where chi-square lacks the sample size") {
    // baseline 10k rows 50/50; partition 1 mirrors it (5k rows), partition 0
    // is 40 rows ALL drifted. Two-sample chi-square of 40-vs-10000 tops out
    // near ~40 — below a critical of 50 that the same FULLY drifted
    // distribution would clear easily at global size — while TVD sees the
    // full 0.5 mass shift at any sample size.
    val baseline = (0L until 10000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "role")
    val current = ((0L until 40L).map(i => (i * 2, "b")) ++ // partition 0: all-b, tiny
      (0L until 5000L).map(i => (i * 2 + 1, if (i % 2 == 0) "a" else "b"))) // partition 1: 50/50
      .toDF("id", "role")
    def run(method: String, critical: String) = {
      val rule = ValidationRule("role_drift", RuleType.drift, Seq("role"),
        parameters = Map("method" -> method, "ref_table" -> "baseline", "critical" -> critical))
      val v = new Validator(spark, ValidationConfig(),
        n => if (n == "baseline") Some(baseline) else None)
      v.executeRulesPartitioned(current, Seq(rule), "t", Some(pmod(col("id"), lit(2))))
        ._2.filter(_.rule_name == "role_drift").map(x => x.partition -> x.passed).toMap
    }
    val chi = run("chi_square", "50")
    chi("0") shouldBe true // MISSED: consistent significance test, 40 rows of evidence
    chi("1") shouldBe true
    val tvd = run("tvd", "0.2")
    tvd("0") shouldBe false // caught: 0.5 of the mass moved, size-free
    tvd("1") shouldBe true
    // js through the same rule path: size-invariant too (all-b vs 50/50
    // reads ≈0.216 nats regardless of the 40-row sample), bounded gate
    val js = run("js", "0.1")
    js("0") shouldBe false
    js("1") shouldBe true
  }

  test("totalVariationDistance: hand values and edge cases") {
    Checks.totalVariationDistance(Map("a" -> 1L, "b" -> 1L), Map("a" -> 1L, "b" -> 1L)) shouldBe 0.0
    Checks.totalVariationDistance(Map("a" -> 10L), Map("b" -> 7L)) shouldBe 1.0
    Checks.totalVariationDistance(
      Map("a" -> 3L, "b" -> 1L), Map("a" -> 1L, "b" -> 3L)) shouldBe 0.5 +- 1e-12
    Checks.totalVariationDistance(Map.empty, Map.empty) shouldBe 0.0
    Checks.totalVariationDistance(Map.empty, Map("a" -> 5L)) shouldBe 1.0
  }

  test("ksStat raises on a non-empty histogram with no numeric buckets; 0.0 when truly empty") {
    val numeric = Map("1" -> 5L, "2" -> 5L)
    // misconfigured rule: the column buckets entirely to non-numeric labels
    an[IllegalArgumentException] should be thrownBy
      Checks.ksStat(Map("__NULL__" -> 10L), numeric)
    an[IllegalArgumentException] should be thrownBy
      Checks.ksStat(numeric, Map("x" -> 3L, "y" -> 4L))
    // genuinely empty inputs: no data, no drift
    Checks.ksStat(Map.empty, numeric) shouldBe 0.0
    Checks.ksStat(numeric, Map.empty) shouldBe 0.0
    // and the misconfiguration surfaces through the rule's error path
    val df = Seq((1L, "only"), (2L, "strings")).toDF("id", "v")
    val base = Seq((1L, "only")).toDF("id", "v")
    val rule = ValidationRule("ksbad", RuleType.drift, Seq("v"),
      parameters = Map("method" -> "ks", "ref_table" -> "b", "critical" -> "0.5"))
    val v = new Validator(spark, ValidationConfig(), n => if (n == "b") Some(base) else None)
    val res = v.executeRules(df, Seq(rule), "t").results.head
    res.passed shouldBe false
    res.failed_count shouldBe -1 // error sentinel, not a silent pass
  }

  test("failing per-partition uniqueness job surfaces as rule error, not silent Nil") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // key column doesn't exist → the grouped per-partition job fails analysis
    val rule = ValidationRule("uniq_bad", RuleType.Uniqueness, Seq("no_such_col"),
      parameters = Map("partition_covers_key" -> "true"))
    val v = new Validator(spark, ValidationConfig())
    val (summary, verdicts) = v.executeRulesPartitioned(
      df, Seq(rule), "t", Some(pmod(col("id"), lit(2))))
    verdicts.filter(_.rule_name == "uniq_bad") shouldBe empty
    val res = summary.results.find(_.rule_name == "uniq_bad").get
    res.passed shouldBe false
    res.failed_count shouldBe -1 // sentinel: the failure is visible, not swallowed
  }

  test("report: dict keeps table keys, bare summary keyed single_table; stats summed (validator.py:197-228)") {
    val df = Seq((Some(1), "a"), (None, "b")).toDF("id", "v")
    val rules = Seq(ValidationRule("c", RuleType.Completeness, Seq("id")))
    val v = new Validator(spark, ValidationConfig())
    val s = v.executeRules(df, rules, "t1")
    // dict input keeps its keys even with ONE entry (test_cli.py:52-55
    // expects "customers" in table_results, not single_table)
    val rep = v.report(Map("t1" -> s))
    rep.total_tables shouldBe 1
    rep.table_results.keySet shouldBe Set("t1")
    rep.overall_stats.total_failed shouldBe 1
    rep.table_results("t1").rules.head.`type` shouldBe "completeness"
    // a bare summary is what gets the single_table key (validator.py:204-206)
    v.report(s).table_results.keySet shouldBe Set("single_table")
    // two tables, one passing one failing → 0.5
    val pass = v.executeRules(Seq((Some(1), "a")).toDF("id", "v"), rules, "t2")
    val rep2 = v.report(Map("t1" -> s, "t2" -> pass))
    rep2.total_tables shouldBe 2
    rep2.overall_stats.overall_success_rate shouldBe 0.5 +- 1e-12
    rep2.overall_stats.total_execution_time_ms shouldBe
      (s.total_execution_time_ms + pass.total_execution_time_ms) +- 1e-9
    rep2.table_results.keySet shouldBe Set("t1", "t2")
  }

  test("fused execution preserves rule order (globals first) in results") {
    val df = Seq((Some(1), "a")).toDF("id", "v")
    val config = ValidationConfig(
      globalRules = Seq(ValidationRule("g1", RuleType.Completeness, Seq("id"))),
      tables = Seq(TableConfig("t", Seq(
        ValidationRule("t1", RuleType.Completeness, Seq("v")),
        ValidationRule("t2", RuleType.Uniqueness, Seq("id"))))))
    val v = new Validator(spark, config)
    v.validateTable(df, "t").results.map(_.rule_name) shouldBe Seq("g1", "t1", "t2")
  }

  test("missing column surfaces as per-rule error, not job failure") {
    val df = Seq(1).toDF("v")
    val v = new Validator(spark, ValidationConfig())
    val rs = v.executeRules(df, Seq(
      ValidationRule("ok", RuleType.Completeness, Seq("v")),
      ValidationRule("missing", RuleType.Completeness, Seq("nope"))), "t").results
    rs.find(_.rule_name == "ok").get.passed shouldBe true
    val bad = rs.find(_.rule_name == "missing").get
    bad.passed shouldBe false
    bad.failed_count shouldBe -1
  }

  test("sequence rule: gaps, wrong starts, duplicates, NULLs, partition verdicts") {
    import org.apache.spark.sql.functions.{col, pmod, abs => sabs, xxhash64}
    val df = Seq(
      ("a", Some(0)), ("a", Some(1)), ("a", Some(2)),              // dense from 0: clean
      ("b", Some(0)), ("b", Some(2)),                              // gap at 1: violating
      ("c", Some(1)), ("c", Some(2)),                              // dense but starts at 1
      ("d", Some(0)), ("d", Some(0)), ("d", Some(1)),              // duplicate 0: NOT a sequence violation
      ("e", Some(0)), ("e", None)                                  // NULL index excluded: {0} is dense
    ).toDF("conv_id", "turn_idx")
    val v = new Validator(spark, ValidationConfig())
    // no start requirement: only the gap fails (c's offset start is fine)
    val noStart = ValidationRule("seq", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx"))
    val r1 = v.executeRules(df, Seq(noStart), "t").results.head
    r1.total_count shouldBe 5 // unit = groups
    r1.failed_count shouldBe 1 // only b
    // start=0: c now fails too
    val startZero = ValidationRule("seq0", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0"))
    val r2 = v.executeRules(df, Seq(startZero), "t").results.head
    r2.failed_count shouldBe 2
    // violation rows are the violating GROUPS with their stats
    val viols = v.violations(df, startZero).orderBy("conv_id").collect()
    viols.map(_.getString(0)).toSeq shouldBe Seq("b", "c")
    // per-partition verdicts: partition derives from the key, so the
    // roll-up equals the global and partition_covers_key promotes it
    val covered = ValidationRule("seqp", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0",
        "partition_covers_key" -> "true"))
    val (summary, verdicts) = v.executeRulesPartitioned(df, Seq(covered), "t",
      Some(pmod(sabs(xxhash64(col("conv_id"))), org.apache.spark.sql.functions.lit(4))))
    val seqVerdicts = verdicts.filter(_.rule_name == "seqp")
    seqVerdicts.map(_.failed_count).sum shouldBe 2
    seqVerdicts.map(_.total_count).sum shouldBe 5
    summary.results.head.failed_count shouldBe 2
    summary.results.head.total_count shouldBe 5
    // missing index parameter surfaces as the rule's error result
    val bad = v.executeRules(df,
      Seq(ValidationRule("noidx", RuleType.Sequence, Seq("conv_id"))), "t").results.head
    bad.failed_count shouldBe -1
  }

  test("monotonic rule: inversions, strict mode, ties, NULLs, partition verdicts") {
    import org.apache.spark.sql.functions.{col, pmod, abs => sabs, xxhash64}
    val df = Seq(
      ("a", Some(0), Some(10L)), ("a", Some(1), Some(20L)), ("a", Some(2), Some(20L)), // non-decreasing: clean (ties ok non-strict)
      ("b", Some(0), Some(10L)), ("b", Some(1), Some(5L)),                             // regression: violating
      ("c", Some(0), Some(1L)), ("c", Some(1), None), ("c", Some(2), Some(2L)),        // NULL value excluded: 1→2 clean
      ("d", Some(0), Some(3L)), ("d", Some(0), Some(1L)), ("d", Some(1), Some(5L))     // tie on order: (order,value) walk 1,3,5 clean
    ).toDF("conv_id", "turn_idx", "v")
    val v = new Validator(spark, ValidationConfig())
    val rule = ValidationRule("mono", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "v"))
    val r1 = v.executeRules(df, Seq(rule), "t").results.head
    r1.total_count shouldBe 4 // unit = groups
    r1.failed_count shouldBe 1 // only b
    // strict: a's tie (20,20) now violates
    val strict = ValidationRule("monos", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "v", "strict" -> "true"))
    v.executeRules(df, Seq(strict), "t").results.head.failed_count shouldBe 2
    // descending direction: b's 10→5 walk is now clean; a (10→20),
    // c (1→2) and d (3,1 tie-walk →5) ascend somewhere → violating
    val desc = ValidationRule("monod", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "v", "direction" -> "desc"))
    v.executeRules(df, Seq(desc), "t").results.head.failed_count shouldBe 3
    // violation rows: the regressing transition with its predecessor
    val viols = v.violations(df, rule).collect()
    viols.map(_.getString(0)).toSeq shouldBe Seq("b")
    viols.head.getAs[Long]("__prev_value") shouldBe 10L
    // per-partition verdicts: partition derives from the key → roll-up
    // equals the global and partition_covers_key promotes it
    val covered = ValidationRule("monop", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "v",
        "partition_covers_key" -> "true"))
    val (summary, verdicts) = v.executeRulesPartitioned(df, Seq(covered), "t",
      Some(pmod(sabs(xxhash64(col("conv_id"))), org.apache.spark.sql.functions.lit(4))))
    val mv = verdicts.filter(_.rule_name == "monop")
    mv.map(_.failed_count).sum shouldBe 1
    mv.map(_.total_count).sum shouldBe 4
    summary.results.head.failed_count shouldBe 1
    summary.results.head.total_count shouldBe 4
    // missing parameters surface as the rule's error result
    v.executeRules(df, Seq(ValidationRule("noparams", RuleType.Monotonic,
      Seq("conv_id"))), "t").results.head.failed_count shouldBe -1
    // a direction typo is rejected, not silently treated as ascending
    v.executeRules(df, Seq(ValidationRule("baddir", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "v",
        "direction" -> "descending"))), "t").results.head.failed_count shouldBe -1
    v.executeRules(df, Seq(ValidationRule("badstrict", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "v",
        "strict" -> "True"))), "t").results.head.failed_count shouldBe -1
  }

  test("transition rule: edge grammar, start/accept sets, NULLs, partition verdicts") {
    import org.apache.spark.sql.functions.{col, pmod, abs => sabs, xxhash64}
    val df = Seq(
      ("a", Some(0), Some("user")), ("a", Some(1), Some("assistant")),
      ("a", Some(2), Some("user")), ("a", Some(3), Some("assistant")), // legal walk
      ("b", Some(0), Some("user")), ("b", Some(1), Some("user")),      // user→user: illegal edge
      ("c", Some(0), Some("assistant")), ("c", Some(1), Some("user")), // starts wrong AND ends wrong
      ("d", Some(0), Some("user")), ("d", Some(1), None),
      ("d", Some(2), Some("assistant")),                               // NULL value excluded: user→assistant clean
      ("e", Some(0), Some("user"))                                     // single row: first AND last
    ).toDF("conv_id", "turn_idx", "role")
    val v = new Validator(spark, ValidationConfig())
    val edges = "user->assistant, assistant->user"
    // edges only: just b fails (user→user); c's assistant→user step IS an
    // allowed edge — without start/accept sets its walk is legal
    val rule = ValidationRule("trans", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role", "pairs" -> edges))
    val r1 = v.executeRules(df, Seq(rule), "t").results.head
    r1.total_count shouldBe 5 // unit = groups
    r1.failed_count shouldBe 1 // only b
    r1.metadata("unit") shouldBe "groups"
    // start set user: c now fails (starts at assistant)
    val withFirst = ValidationRule("transf", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> edges, "first" -> "user"))
    v.executeRules(df, Seq(withFirst), "t").results.head.failed_count shouldBe 2
    // accept set assistant: c (ends user) and e (single row, ends user) fail too
    val withLast = ValidationRule("transl", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> edges, "first" -> "user", "last" -> "assistant"))
    v.executeRules(df, Seq(withLast), "t").results.head.failed_count shouldBe 3
    // violation rows name the position and predecessor
    val viols = v.violations(df, withLast).orderBy("conv_id", "turn_idx").collect()
    // __position is the row's place in its walk (b's bad edge lands on
    // b's final row → "last"), not which constraint broke — the broken
    // constraint is readable from (__prev_value, __position) together
    viols.map(r => (r.getString(0), r.getAs[String]("__position"))).toSeq shouldBe
      Seq(("b", "last"), ("c", "first"), ("c", "last"), ("e", "first"))
    viols.find(_.getString(0) == "b").get.getAs[String]("__prev_value") shouldBe "user"
    // e is a single-row walk: it reports "first" but ALSO violates the
    // accept set — the row face dedups to one row per violating row, and
    // e's sole row appears once (position reports the first broken check)
    // per-partition verdicts: partition derives from the key → roll-up
    // equals the global and partition_covers_key promotes it
    val covered = ValidationRule("transp", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> edges, "first" -> "user", "last" -> "assistant",
        "partition_covers_key" -> "true"))
    val (summary, verdicts) = v.executeRulesPartitioned(df, Seq(covered), "t",
      Some(pmod(sabs(xxhash64(col("conv_id"))), org.apache.spark.sql.functions.lit(4))))
    val tv = verdicts.filter(_.rule_name == "transp")
    tv.map(_.failed_count).sum shouldBe 3
    tv.map(_.total_count).sum shouldBe 5
    summary.results.head.failed_count shouldBe 3
    summary.results.head.total_count shouldBe 5
    // malformed grammar surfaces as the rule's error result, never a verdict
    v.executeRules(df, Seq(ValidationRule("nopairs", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role"))), "t")
      .results.head.failed_count shouldBe -1
    v.executeRules(df, Seq(ValidationRule("badedge", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> "user=>assistant"))), "t").results.head.failed_count shouldBe -1
    v.executeRules(df, Seq(ValidationRule("emptyfirst", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> edges, "first" -> " , "))), "t").results.head.failed_count shouldBe -1
  }

  test("row_count and cardinality rules: binary verdicts, NULL distinct, approx, partitions") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("a", Some("x")), ("a", Some("y")), ("a", None), ("b", Some("x")))
      .toDF("part_key", "v")
    val v = new Validator(spark, ValidationConfig())
    def rc(params: (String, String)*) = ValidationRule("size", RuleType.RowCount, Seq(),
      parameters = params.toMap)
    def card(params: (String, String)*) = ValidationRule("card", RuleType.Cardinality, Seq("v"),
      parameters = params.toMap)
    // row_count: 4 rows; binary verdict, total 1
    val ok = v.executeRules(df, Seq(rc("min_rows" -> "2")), "t").results.head
    ok.failed_count shouldBe 0; ok.total_count shouldBe 1
    ok.metadata("row_count") shouldBe "4"
    v.executeRules(df, Seq(rc("min_rows" -> "5")), "t").results.head.failed_count shouldBe 1
    v.executeRules(df, Seq(rc("max_rows" -> "3")), "t").results.head.failed_count shouldBe 1
    // cardinality: distinct v = {x, y, NULL} = 3 (NULL is a value, pyspark parity)
    val c1 = v.executeRules(df, Seq(card("min_distinct" -> "3", "max_distinct" -> "3")), "t").results.head
    c1.failed_count shouldBe 0; c1.metadata("distinct") shouldBe "3"
    v.executeRules(df, Seq(card("max_distinct" -> "2")), "t").results.head.failed_count shouldBe 1
    // approx tier agrees at tiny cardinality
    v.executeRules(df, Seq(card("min_distinct" -> "3", "max_distinct" -> "3",
      "approx" -> "true")), "t").results.head.failed_count shouldBe 0
    // partitioned: a has 3 rows / distinct {x,y,NULL}=3; b has 1 row / {x}=1.
    // Partition verdicts use their OWN bound (min_partition_rows) — the
    // table-level min_rows must NOT be applied per bucket (a healthy table
    // whose min_rows exceeds table_size/buckets would go 100% red)
    val (summary, verdicts) = v.executeRulesPartitioned(df,
      Seq(rc("min_rows" -> "4", "min_partition_rows" -> "2"),
        card("min_distinct" -> "2")), "t", Some(col("part_key")))
    val rcByPart = verdicts.filter(_.rule_name == "size").map(x => x.partition -> x.failed_count).toMap
    rcByPart shouldBe Map("a" -> 0L, "b" -> 1L) // thin bucket flagged, zero extra jobs
    val cdByPart = verdicts.filter(_.rule_name == "card").map(x => x.partition -> x.failed_count).toMap
    cdByPart shouldBe Map("a" -> 0L, "b" -> 1L)
    summary.results.find(_.rule_name == "size").get.failed_count shouldBe 0 // global 4 ≥ 4
    summary.results.find(_.rule_name == "card").get.failed_count shouldBe 0 // global 3 ≥ 2
    // a table-bound-only row_count rule emits NO partition verdicts
    val (_, v2) = v.executeRulesPartitioned(df, Seq(rc("min_rows" -> "2")), "t",
      Some(col("part_key")))
    v2.filter(_.rule_name == "size") shouldBe empty
    // partition_covers_key is rejected for cardinality (binary verdicts
    // don't roll up) and surfaces as the rule's error result
    val (s2, _) = v.executeRulesPartitioned(df,
      Seq(card("min_distinct" -> "2", "partition_covers_key" -> "true")), "t",
      Some(col("part_key")))
    s2.results.head.failed_count shouldBe -1
    // fail-loud on typo'd parameters: a malformed partition bound surfaces
    // as the rule's error result (not a silently-disabled check), and a
    // typo'd approx boolean must not fall back to the exact distinct
    v.executeRules(df, Seq(rc("min_partition_rows" -> "1O")), "t")
      .results.head.failed_count shouldBe -1
    v.executeRules(df, Seq(card("approx" -> "True")), "t")
      .results.head.failed_count shouldBe -1
    // the same strict-boolean contract on partition_covers_key: "True" must
    // error, not silently skip the roll-up promotion
    val (s3, _) = v.executeRulesPartitioned(df,
      Seq(ValidationRule("u", RuleType.Uniqueness, Seq("part_key"),
        parameters = Map("partition_covers_key" -> "True"))), "t",
      Some(col("part_key")))
    s3.results.head.failed_count shouldBe -1
  }

  test("correlation rule: bounds, degenerate handling, partition verdicts") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 6.0), // corr +1
      ("b", 1.0, 3.0), ("b", 2.0, 2.0), ("b", 3.0, 1.0), // corr −1
      ("c", 1.0, 5.0), ("c", 2.0, 5.0), ("c", 3.0, 5.0)  // y constant: corr undefined
    ).toDF("part_key", "x", "y")
    val v = new Validator(spark, ValidationConfig())
    def rule(params: (String, String)*) = ValidationRule("corr", RuleType.Correlation,
      Seq("x", "y"), parameters = params.toMap)
    // wide bounds pass; a tight positive bound fails the mixed global
    v.executeRules(df, Seq(rule()), "t").results.head.failed_count shouldBe 0
    val tight = v.executeRules(df, Seq(rule("min_corr" -> "0.99")), "t").results.head
    tight.failed_count shouldBe 1
    tight.metadata.contains("correlation") shouldBe true
    // per-partition: a passes, b (anti-correlated) and c (undefined —
    // stuck column, exactly what partition monitoring must catch) fail
    val (ps, verdicts) = v.executeRulesPartitioned(df,
      Seq(rule("min_corr" -> "0.9")), "t", Some(col("part_key")))
    withClue(ps.results.map(_.message).mkString("; ")) {
      verdicts.filter(_.rule_name == "corr").size should be > 0
    }
    verdicts.filter(_.rule_name == "corr")
      .map(x => x.partition -> x.failed_count).toMap shouldBe
      Map("a" -> 0L, "b" -> 1L, "c" -> 1L)
    // a GLOBALLY undefined corr is an error result, never a silent pass
    val const = Seq(("a", 1.0, 5.0), ("a", 2.0, 5.0)).toDF("part_key", "x", "y")
    v.executeRules(const, Seq(rule()), "t").results.head.failed_count shouldBe -1
    // missing second column and covers_key surface as errors
    v.executeRules(df, Seq(ValidationRule("c1", RuleType.Correlation, Seq("x"))), "t")
      .results.head.failed_count shouldBe -1
    val (s2, _) = v.executeRulesPartitioned(df,
      Seq(rule("partition_covers_key" -> "true")), "t", Some(col("part_key")))
    s2.results.head.failed_count shouldBe -1
  }

  test("entropy rule: bounds, undefined handling, partition verdicts") {
    import org.apache.spark.sql.functions.col
    // a: constant (entropy 0 — defined); b: two equally-likely values
    // (entropy ln 2); c: all NULL (undefined)
    val df = Seq(
      ("a", Some("x")), ("a", Some("x")),
      ("b", Some("x")), ("b", Some("y")),
      ("c", None: Option[String]), ("c", None: Option[String])
    ).toDF("part_key", "v")
    val v = new Validator(spark, ValidationConfig())
    def rule(params: (String, String)*) = ValidationRule("ent", RuleType.Entropy,
      Seq("v"), parameters = params.toMap)
    // global: counts {x:3, y:1} over N=4 → H = ln4 − (3·ln3)/4 ≈ 0.5623 nats
    val wide = v.executeRules(df, Seq(rule()), "t").results.head
    wide.failed_count shouldBe 0
    math.abs(wide.metadata("entropy").toDouble -
      (math.log(4) - 3 * math.log(3) / 4)) should be < 1e-12
    v.executeRules(df, Seq(rule("min_entropy" -> "0.6")), "t").results.head.failed_count shouldBe 1
    v.executeRules(df, Seq(rule("max_entropy" -> "0.5")), "t").results.head.failed_count shouldBe 1
    // a constant column has entropy 0 — DEFINED (passes default bounds)
    val const = Seq(("a", "x"), ("a", "x")).toDF("part_key", "v")
    v.executeRules(const, Seq(rule()), "t").results.head.failed_count shouldBe 0
    // an all-NULL column is undefined → error result, never a silent pass
    val allNull = Seq(("a", None: Option[String])).toDF("part_key", "v")
    v.executeRules(allNull, Seq(rule()), "t").results.head.failed_count shouldBe -1
    // per-partition with min_entropy 0.5: a (constant, H=0) and c
    // (undefined — dead column in one ingest bucket) fail; b (H=ln2) passes
    val (_, verdicts) = v.executeRulesPartitioned(df,
      Seq(rule("min_entropy" -> "0.5")), "t", Some(col("part_key")))
    verdicts.filter(_.rule_name == "ent")
      .map(x => x.partition -> x.failed_count).toMap shouldBe
      Map("a" -> 1L, "b" -> 0L, "c" -> 1L)
    // partition_covers_key is rejected (binary verdicts don't roll up)
    val (s2, _) = v.executeRulesPartitioned(df,
      Seq(rule("partition_covers_key" -> "true")), "t", Some(col("part_key")))
    s2.results.head.failed_count shouldBe -1
  }

  test("reconciliation rule: aggregate match vs ref table, tolerances, partition verdicts") {
    import org.apache.spark.sql.functions.col
    val fact = Seq(("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)).toDF("part_key", "amount")
    val ref = Seq(("a", 1.0), ("a", 2.0), ("c", 3.0), ("c", 5.0)).toDF("part_key", "amt")
    val v = new Validator(spark, ValidationConfig(),
      n => if (n == "src") Some(ref) else None)
    def rule(cols: Seq[String], params: (String, String)*) =
      ValidationRule("recon", RuleType.Reconciliation, cols,
        parameters = params.toMap + ("ref_table" -> "src"))
    // count (default agg, no column needed): 4 vs 4 → pass
    val cnt = v.executeRules(fact, Seq(rule(Nil)), "t").results.head
    cnt.failed_count shouldBe 0; cnt.total_count shouldBe 1
    cnt.metadata("value") shouldBe "4.0"; cnt.metadata("ref_value") shouldBe "4.0"
    // a dropped row fails the count; absolute tolerance absorbs it
    val short = fact.limit(3)
    v.executeRules(short, Seq(rule(Nil)), "t").results.head.failed_count shouldBe 1
    v.executeRules(short, Seq(rule(Nil, "tolerance" -> "1")), "t")
      .results.head.failed_count shouldBe 0
    // sum with ref_column mapping: 10 vs 11 → fail bare, pass within
    // tolerance 1 or tolerance_pct 10% (1.1); the LARGER tolerance applies
    v.executeRules(fact, Seq(rule(Seq("amount"), "agg" -> "sum",
      "ref_column" -> "amt")), "t").results.head.failed_count shouldBe 1
    v.executeRules(fact, Seq(rule(Seq("amount"), "agg" -> "sum",
      "ref_column" -> "amt", "tolerance" -> "1")), "t").results.head.failed_count shouldBe 0
    v.executeRules(fact, Seq(rule(Seq("amount"), "agg" -> "sum",
      "ref_column" -> "amt", "tolerance_pct" -> "0.1")), "t").results.head.failed_count shouldBe 0
    // misconfiguration surfaces as the rule's error result: unknown ref
    // table, missing ref_table, unknown agg, undefined aggregate (sum over
    // an all-NULL column)
    v.executeRules(fact, Seq(ValidationRule("r2", RuleType.Reconciliation, Nil,
      parameters = Map("ref_table" -> "nope"))), "t").results.head.failed_count shouldBe -1
    v.executeRules(fact, Seq(ValidationRule("r3", RuleType.Reconciliation, Nil)), "t")
      .results.head.failed_count shouldBe -1
    v.executeRules(fact, Seq(rule(Nil, "agg" -> "median")), "t")
      .results.head.failed_count shouldBe -1
    val nullRef = Seq(("a", None: Option[Double])).toDF("part_key", "amt")
    val vn = new Validator(spark, ValidationConfig(),
      n => if (n == "src") Some(nullRef) else None)
    vn.executeRules(fact, Seq(rule(Seq("amount"), "agg" -> "sum",
      "ref_column" -> "amt")), "t").results.head.failed_count shouldBe -1
    // per-partition: a matches on both sides; b exists only in the fact,
    // c only in the ref — BOTH fail (a vanished bucket must not net out)
    val (_, verdicts) = v.executeRulesPartitioned(fact,
      Seq(rule(Seq("amount"), "agg" -> "sum", "ref_column" -> "amt")), "t",
      Some(col("part_key")))
    verdicts.filter(_.rule_name == "recon")
      .map(x => x.partition -> x.failed_count).toMap shouldBe
      Map("a" -> 0L, "b" -> 1L, "c" -> 1L)
    // partition_covers_key is rejected (binary verdicts don't roll up)
    val (s2, _) = v.executeRulesPartitioned(fact,
      Seq(rule(Nil, "partition_covers_key" -> "true")), "t", Some(col("part_key")))
    s2.results.head.failed_count shouldBe -1
  }

  test("functional_dependency rule: consistency, NULLs, violations, partition verdicts") {
    import org.apache.spark.sql.functions.{col, pmod, abs => sabs, xxhash64}
    val df = Seq(
      ("a", Some("en"), 1), ("a", Some("en"), 2),        // consistent: en only
      ("b", Some("en"), 1), ("b", Some("fr"), 2),        // inconsistent: en+fr
      ("c", Some("de"), 1), ("c", None, 2),              // NULL is ONE value: de+NULL = 2 → inconsistent
      ("d", None, 1), ("d", None, 2),                    // NULL only: consistent (one value)
      (null.asInstanceOf[String], Some("en"), 1)         // NULL determinant forms its own group
    ).toDF("conv_id", "lang", "x")
    val v = new Validator(spark, ValidationConfig())
    def rule(params: (String, String)*) = ValidationRule("fd",
      RuleType.FunctionalDependency, Seq("conv_id"), parameters = params.toMap)
    val r1 = v.executeRules(df, Seq(rule("dependent" -> "lang")), "t").results.head
    r1.total_count shouldBe 5 // unit = groups (incl. the NULL-key group)
    r1.failed_count shouldBe 2 // b, c
    r1.metadata("unit") shouldBe "groups"
    // compound dependent: (lang, x) tuples — every multi-row group now
    // differs somewhere, so a..d all violate except none... a has (en,1),(en,2) → 2
    val r2 = v.executeRules(df, Seq(rule("dependent" -> "lang, x")), "t").results.head
    r2.failed_count shouldBe 4 // a, b, c, d (null-key group has one row)
    // violation rows: the inconsistent groups with their tuple counts
    val viols = v.violations(df, rule("dependent" -> "lang")).orderBy("conv_id").collect()
    viols.map(_.getString(0)).toSeq shouldBe Seq("b", "c")
    viols.map(_.getAs[Long]("n_values")).toSeq shouldBe Seq(2L, 2L)
    // per-partition verdicts: partition derives from the determinant →
    // roll-up equals the global and partition_covers_key promotes it
    val covered = rule("dependent" -> "lang", "partition_covers_key" -> "true")
    val (summary, verdicts) = v.executeRulesPartitioned(df, Seq(covered), "t",
      Some(pmod(sabs(xxhash64(col("conv_id"))), org.apache.spark.sql.functions.lit(4))))
    val fv = verdicts.filter(_.rule_name == "fd")
    fv.map(_.failed_count).sum shouldBe 2
    fv.map(_.total_count).sum shouldBe 5
    summary.results.head.failed_count shouldBe 2
    summary.results.head.total_count shouldBe 5
    // missing dependent parameter surfaces as the rule's error result
    v.executeRules(df, Seq(rule()), "t").results.head.failed_count shouldBe -1
    // a dependent inside the determinant is vacuously consistent → error
    v.executeRules(df, Seq(rule("dependent" -> "conv_id")), "t")
      .results.head.failed_count shouldBe -1
  }

  test("quantile rule: bounds, approx tier, undefined handling, partition verdicts") {
    import org.apache.spark.sql.functions.col
    // a: 1..4 (p50 interpolated 2.5); b: constant 10; c: all NULL
    val df = Seq(
      ("a", Some(1.0)), ("a", Some(2.0)), ("a", Some(3.0)), ("a", Some(4.0)),
      ("b", Some(10.0)), ("b", Some(10.0)),
      ("c", None: Option[Double])
    ).toDF("part_key", "v")
    val v = new Validator(spark, ValidationConfig())
    def rule(params: (String, String)*) = ValidationRule("qtl", RuleType.Quantile,
      Seq("v"), parameters = params.toMap)
    // global p50 over {1,2,3,4,10,10} = 3.5 (exact interpolated)
    val wide = v.executeRules(df, Seq(rule("q" -> "0.5")), "t").results.head
    wide.failed_count shouldBe 0
    wide.metadata("quantile").toDouble shouldBe 3.5
    v.executeRules(df, Seq(rule("q" -> "0.5", "min_value" -> "4")), "t")
      .results.head.failed_count shouldBe 1
    v.executeRules(df, Seq(rule("q" -> "0.5", "max_value" -> "3")), "t")
      .results.head.failed_count shouldBe 1
    // approx tier: small input → the sketch is exact-grade here, and the
    // verdict machinery is identical
    val approx = v.executeRules(df,
      Seq(rule("q" -> "0.5", "approx" -> "true", "min_value" -> "1")), "t").results.head
    approx.failed_count shouldBe 0
    // approx typo must not silently buy the exact sort (strict boolean)
    v.executeRules(df, Seq(rule("q" -> "0.5", "approx" -> "True")), "t")
      .results.head.failed_count shouldBe -1
    // q out of range / missing → error result
    v.executeRules(df, Seq(rule("q" -> "1.5")), "t").results.head.failed_count shouldBe -1
    v.executeRules(df, Seq(rule()), "t").results.head.failed_count shouldBe -1
    // an all-NULL column is undefined → error result, never a silent pass
    val allNull = Seq(("a", None: Option[Double])).toDF("part_key", "v")
    v.executeRules(allNull, Seq(rule("q" -> "0.5")), "t").results.head.failed_count shouldBe -1
    // per-partition with min_value 2: a (p50=2.5) passes, b (10) passes,
    // c (undefined — dead column in one bucket) FAILS its verdict
    val (_, verdicts) = v.executeRulesPartitioned(df,
      Seq(rule("q" -> "0.5", "min_value" -> "2")), "t", Some(col("part_key")))
    verdicts.filter(_.rule_name == "qtl")
      .map(x => x.partition -> x.failed_count).toMap shouldBe
      Map("a" -> 0L, "b" -> 0L, "c" -> 1L)
    // partition_covers_key is rejected (binary verdicts don't roll up)
    val (s2, _) = v.executeRulesPartitioned(df,
      Seq(rule("q" -> "0.5", "partition_covers_key" -> "true")), "t", Some(col("part_key")))
    s2.results.head.failed_count shouldBe -1
  }

  test("partition_by table config drives the partitioned path through validateTable") {
    val cfg = ValidationConfig(tables = Seq(TableConfig("t",
      Seq(ValidationRule("c", RuleType.Completeness, Seq("v"))),
      partitionBy = Some("k"), partitionBuckets = 4)))
    val v = new Validator(spark, cfg)
    val df = Seq(("a", Some(1)), ("b", None: Option[Int])).toDF("k", "v")
    val s = v.validateTable(df, "t")
    s.results.head.failed_count shouldBe 1 // global rides the grouped pass
    val verdicts = v.partitionVerdictsOf("t")
    verdicts.map(_.failed_count).sum shouldBe 1 // per-bucket, sums to global
    verdicts.foreach(_.rule_name shouldBe "c")
    // a table without partition_by yields no verdicts (and no grouped cost)
    val plain = new Validator(spark, ValidationConfig(tables = Seq(TableConfig("t",
      Seq(ValidationRule("c", RuleType.Completeness, Seq("v")))))))
    plain.validateTable(df, "t")
    plain.partitionVerdictsOf("t") shouldBe empty
  }

  test("the SHIPPED example config executes end-to-end against the advertised table shape") {
    import org.apache.spark.sql.functions.{coalesce => scoalesce, col, length => slength, lit}
    // the file users copy must RUN, not merely parse: a column typo or bad
    // parameter in examples/transcripts_config.yaml would otherwise ship
    // as a latent error the vocabulary test cannot see
    val cfg = graft.config.ConfigLoader.fromYamlFile(
      "examples/transcripts_config.yaml", env = Map.empty)
    val tcfg = graft.io.TranscriptConfig(numConvs = 300L, hotConvExtraTurns = 30L)
    def withLen(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("text_len", scoalesce(slength(col("text")), lit(0)).cast("double"))
    val turns = withLen(graft.io.Transcripts.turns(spark, tcfg))
    val baseline = withLen(graft.io.Transcripts.turns(spark,
      graft.io.Transcripts.drifted(tcfg)))
    val index = graft.io.Transcripts.convIndex(spark, tcfg)
    val v = new Validator(spark, cfg, {
      case "transcripts_baseline" => Some(baseline)
      case "conv_index"           => Some(index)
      case _                      => None
    })
    val rules = cfg.enabledRules("transcripts")
    rules.size should be >= 18 // the full advertised vocabulary
    // validateTable — the entry point the CLI runs — so the shipped
    // partition_by takes the PARTITIONED path over every family
    val summary = v.validateTable(turns, "transcripts")
    // every rule must produce a REAL verdict — an error sentinel here means
    // the shipped example is broken against its own advertised schema
    val errored = summary.results.filter(_.failed_count < 0)
    withClue(errored.map(r => s"${r.rule_name}: ${r.message}").mkString("; ")) {
      errored shouldBe empty
    }
    // and the configured partition_by actually produced per-bucket verdicts
    v.partitionVerdictsOf("transcripts") should not be empty
  }

  test("group-unit partition verdicts: an all-NULL partition is assessed as explicitly empty") {
    import org.apache.spark.sql.functions.{col, when => swhen, lit}
    val df = Seq(
      ("a", Some(0)), ("a", Some(1)),
      ("z", None: Option[Int]), ("z", None: Option[Int]) // whole partition excluded by the NULL filter
    ).toDF("conv_id", "turn_idx")
    val v = new Validator(spark, ValidationConfig())
    val rule = ValidationRule("seq", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0"))
    val (_, verdicts) = v.executeRulesPartitioned(df, Seq(rule), "t",
      Some(swhen(col("conv_id") === "z", lit(1)).otherwise(lit(0))))
    val byPart = verdicts.filter(_.rule_name == "seq").map(x => x.partition -> x).toMap
    byPart.keySet shouldBe Set("0", "1") // one verdict per (partition, rule)
    byPart("1").total_count shouldBe 0L // empty, not missing
    byPart("1").passed shouldBe true
    byPart("0").total_count shouldBe 1L
    // a NULL partition key whose rows are all NULL-filtered is also filled
    // (no NPE sorting the null key into the empty-verdict fill)
    val df2 = Seq((Some("a"), Some(0)), (None: Option[String], None: Option[Int]))
      .toDF("conv_id", "turn_idx")
    val (_, v2) = v.executeRulesPartitioned(df2, Seq(rule), "t", Some(col("conv_id")))
    val seqV = v2.filter(_.rule_name == "seq")
    seqV.size shouldBe 2
    seqV.find(_.partition == null).get.total_count shouldBe 0L
  }

  test("sampled tier: rate rules on the key sample, absolute families on the full table") {
    import org.apache.spark.sql.functions.col
    // 50 keys × 2 rows; every 10th key carries a range violation
    val df = (0 until 50).flatMap(k =>
      Seq((s"u$k", 1.0), (s"u$k", if (k % 10 == 0) -1.0 else 2.0))).toDF("uid", "v")
    val cfg = ValidationConfig(tables = Seq(TableConfig("t",
      rules = Seq(
        ValidationRule("v_range", RuleType.Range, Seq("v"),
          parameters = Map("min" -> "0", "max" -> "10")),
        // min_rows = the FULL size: passes only if row_count saw the whole table
        ValidationRule("size", RuleType.RowCount, Seq(),
          parameters = Map("min_rows" -> "100")),
        // group-unit family whose key CONTAINS the sample key: stays
        // sampled (whole groups survive — an honest cluster sample)
        ValidationRule("uid_uniq", RuleType.Uniqueness, Seq("uid", "v")),
        // group-unit family keyed OUTSIDE the sample key: a duplicate
        // pair spanning two uids survives at p² — runs FULL instead
        ValidationRule("v_uniq", RuleType.Uniqueness, Seq("v"))),
      sampleBy = Some("uid"), samplePermille = 400)))
    val v = new Validator(spark, cfg)
    val byName = v.validateTable(df, "t").results.map(r => r.rule_name -> r).toMap

    // the expected slice, derived with the SAME deterministic predicate
    val sampled = graft.operators.Curation.hashSamplePermille(df, "uid", 400)
    val expTotal = sampled.count()
    val expFailed = sampled.filter(col("v") < 0 || col("v") > 10).count()
    expTotal should be > 0L
    expTotal should be < 100L
    byName("v_range").total_count shouldBe expTotal
    byName("v_range").failed_count shouldBe expFailed
    byName("v_range").metadata("sampled_by") shouldBe "uid"
    byName("v_range").metadata("sample_permille") shouldBe "400"
    // the Wilson interval brackets the observed rate
    val lo = byName("v_range").metadata("ci95_lo").toDouble
    val hi = byName("v_range").metadata("ci95_hi").toDouble
    lo should be <= byName("v_range").success_rate
    hi should be >= byName("v_range").success_rate
    // the absolute family saw the FULL table (min_rows = full size passed)
    byName("size").passed shouldBe true
    byName("size").metadata("row_count") shouldBe "100"
    byName("size").metadata.get("sampled_by") shouldBe None
    // uniqueness keyed on the sample key: SAMPLED (verdict over the slice)
    byName("uid_uniq").total_count shouldBe expTotal
    byName("uid_uniq").metadata("sampled_by") shouldBe "uid"
    // uniqueness keyed outside the sample key: FULL (species problem)
    byName("v_uniq").total_count shouldBe 100L
    byName("v_uniq").metadata.get("sampled_by") shouldBe None
    // whole key groups are kept or dropped together
    sampled.groupBy("uid").count().filter(col("count") =!= 2).count() shouldBe 0L

    // a typo'd sample key degrades to the SAMPLED rules' failure results
    // (per-rule error isolation) — the absolute family still verdicts
    val badKey = ValidationConfig(tables = Seq(TableConfig("t",
      rules = cfg.tables.head.rules,
      sampleBy = Some("uidd"), samplePermille = 400)))
    var bkSummary: ValidationSummary = null
    var returnedAt = Long.MaxValue
    val bkJobs = jobSpans {
      bkSummary = new Validator(spark, badKey).validateTable(df, "t")
      returnedAt = System.currentTimeMillis()
    }.filterNot(j => String.valueOf(j._1).startsWith("listener-marker"))
    // every job the pass started has ended when validateTable returns
    bkJobs should not be empty
    all(bkJobs.map(_._3)) should be <= returnedAt
    val bk = bkSummary.results.map(r => r.rule_name -> r).toMap
    bk("v_range").failed_count shouldBe -1
    // a failure result carries NO sampled-tier marker: nothing was sampled
    bk("v_range").metadata.get("sampled_by") shouldBe None
    bk("size").passed shouldBe true
  }

  test("diff rule: keyed row-level diff vs a reference table") {
    import org.apache.spark.sql.functions.col
    val ref = Seq(
      ("k1", 1.0, "x"), ("k2", 2.0, "y"), ("k3", 3.0, "z"),
      ("k4", 4.0, "w"), ("k4", 4.0, "w"), // duplicate key, identical content
      ("k5", 5.0, "v")).toDF("id", "amt", "tag")
    val cur = Seq(
      ("k1", 1.0, "x"), // equal
      ("k2", 2.5, "y"), // changed: content differs
      // k3 removed
      ("k4", 4.0, "w"), // changed: multiplicity 2 → 1
      ("k5", 5.0, "v"), // equal
      ("k6", 6.0, "u")).toDF("id", "amt", "tag") // added
    val v = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(ref) else None)
    def rule(params: (String, String)*) = ValidationRule("d", RuleType.Diff,
      Seq("id"), parameters = params.toMap + ("ref_table" -> "snapshot"))

    // verdict unit is KEYS: 6 in the union, 4 differ (k2, k3, k4, k6)
    val r1 = v.executeRules(cur, Seq(rule()), "t").results.head
    r1.total_count shouldBe 6
    r1.failed_count shouldBe 4
    r1.metadata("unit") shouldBe "keys"
    r1.metadata("compare") shouldBe "amt,tag" // default: common non-key columns

    // violation rows: each differing key with its status and both counts
    val viols = v.violations(cur, rule()).orderBy("id").collect()
    viols.map(r => (r.getString(0), r.getString(1))).toSeq shouldBe Seq(
      ("k2", "changed"), ("k3", "removed"), ("k4", "changed"), ("k6", "added"))
    val k3 = viols.find(_.getString(0) == "k3").get
    k3.isNullAt(2) shouldBe true // cnt_left: absent side is NULL
    k3.getLong(3) shouldBe 1L
    val k4 = viols.find(_.getString(0) == "k4").get
    k4.getLong(2) shouldBe 1L; k4.getLong(3) shouldBe 2L

    // explicit compare_columns narrows the comparison: a tag-only change is
    // invisible when only amt is compared
    val tagOnly = Seq(("k1", 1.0, "CHANGED")).toDF("id", "amt", "tag")
    val vt = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(Seq(("k1", 1.0, "x")).toDF("id", "amt", "tag")) else None)
    vt.executeRules(tagOnly, Seq(rule("compare_columns" -> "amt")), "t")
      .results.head.failed_count shouldBe 0L
    vt.executeRules(tagOnly, Seq(rule()), "t").results.head.failed_count shouldBe 1L

    // multiset digest is a SUM, not XOR: {A,A,B} vs {B,C,C} must differ
    // (same count; an XOR digest cancels the pairs and calls them equal)
    val ml = Seq(("k7", 7.0), ("k7", 7.0), ("k7", 8.0)).toDF("id", "amt")
    val mr = Seq(("k7", 8.0), ("k7", 9.0), ("k7", 9.0)).toDF("id", "amt")
    val vm = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(mr) else None)
    val rm = vm.executeRules(ml, Seq(rule()), "t").results.head
    rm.failed_count shouldBe 1L

    // NULL keys never join: the same all-NULL key group on both sides
    // surfaces as one added AND one removed row, never a silent compare
    val nl = Seq((Option.empty[String], 1.0)).toDF("id", "amt")
    val vnull = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(nl) else None)
    val nviols = vnull.violations(nl, rule()).collect()
    nviols.map(_.getString(1)).sorted.toSeq shouldBe Seq("added", "removed")

    // opt-in column attribution: the verdict names which compare columns
    // changed and on how many both-side keys (k2's amt, k4's multiplicity
    // change attributing to both columns)
    val attributed = v.executeRules(cur,
      Seq(rule("attribute_columns" -> "true")), "t").results.head
    attributed.metadata("changed_columns") shouldBe "amt=2;tag=1"

    // a null SHIFTING position is a content change: (NULL,'x') vs
    // ('x',NULL) must classify 'changed' — xxhash64 skips null children,
    // so without the interleaved null indicators both rows would digest
    // identically and the change would read as 'equal'
    val nshift = Seq(("k", Option.empty[String], Option("x"))).toDF("id", "a", "b")
    val nref = Seq(("k", Option("x"), Option.empty[String])).toDF("id", "a", "b")
    val vns = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(nref) else None)
    vns.executeRules(nshift, Seq(rule()), "t").results.head.failed_count shouldBe 1L

    // a key column named after the diff output schema is rejected loudly
    // (the verdict label would overwrite the key value)
    val sdf = Seq(("k", "x")).toDF("status", "v")
    val vsd = new Validator(spark, ValidationConfig(),
      n => if (n == "snapshot") Some(sdf) else None)
    val res = vsd.executeRules(sdf, Seq(ValidationRule("d9", RuleType.Diff,
      Seq("status"), parameters = Map("ref_table" -> "snapshot"))), "t").results.head
    res.failed_count shouldBe -1
    res.message should include("collide")

    // misconfiguration → the rule's error result, never a silent pass:
    // missing ref_table, unknown ref table, compare column absent on a side
    v.executeRules(cur, Seq(ValidationRule("d2", RuleType.Diff, Seq("id"))), "t")
      .results.head.failed_count shouldBe -1
    v.executeRules(cur, Seq(ValidationRule("d3", RuleType.Diff, Seq("id"),
      parameters = Map("ref_table" -> "nope"))), "t").results.head.failed_count shouldBe -1
    v.executeRules(cur, Seq(rule("compare_columns" -> "amt, missing_col")), "t")
      .results.head.failed_count shouldBe -1

    // per-partition verdicts: partitioned by the key itself; removed keys
    // land in their own bucket; partition_covers_key promotes the roll-up
    // to the global verdict (the joined key frame IS the global universe)
    val covered = rule("partition_covers_key" -> "true")
    val (summary, verdicts) = v.executeRulesPartitioned(cur, Seq(covered), "t",
      Some(col("id")))
    summary.results.head.failed_count shouldBe 4
    summary.results.head.total_count shouldBe 6
    summary.results.head.metadata("partitioned") shouldBe "true"
    verdicts.filter(_.rule_name == "d")
      .map(x => x.partition -> x.failed_count).toMap shouldBe Map(
      "k1" -> 0L, "k2" -> 1L, "k3" -> 1L, "k4" -> 1L, "k5" -> 0L, "k6" -> 1L)
    // a partition expression over a NON-key column cannot evaluate on the
    // per-key frame → the rule's error result, not a wrong grouping
    val (sBad, _) = v.executeRulesPartitioned(cur, Seq(covered), "t",
      Some(col("amt")))
    sBad.results.head.failed_count shouldBe -1
  }

  private val walkRuleNames =
    Seq("key_uniqueness", "turn_sequence", "ts_monotonic", "role_grammar", "conv_referential")

  test("a partitioned pass runs the four walk rules as one group-walk, no per-rule jobs") {
    val cfg = TranscriptConfig(numConvs = 200L)
    val turns = Transcripts.turns(spark, cfg)
    val index = Transcripts.convIndex(spark, cfg)
    val rules = graft.bench.TranscriptSuite.rules.filter(r => walkRuleNames.contains(r.name))
    rules.map(_.name) shouldBe walkRuleNames
    rules.init.foreach(_.paramBool("partition_covers_key") shouldBe true)
    // a functional_dependency rule on conv_id rides the same walk
    val fd = ValidationRule("role_consistent", RuleType.FunctionalDependency, Seq("conv_id"),
      parameters = Map("dependent" -> "role", "partition_covers_key" -> "true"))
    val covered = rules :+ fd
    val uncovered = covered.map(r => r.copy(parameters = r.parameters - "partition_covers_key"))
    val bucket = pmod(xxhash64(col("conv_id")), lit(8))
    // the four rules share one walk key and the referential and
    // functional_dependency rules, grouped by its first column, ride it: one
    // SQL execution per walk level (a referential rule never joins the
    // constant-partition level)
    Seq(
      ("covered", covered, Some(bucket), Map("group-walk" -> 1)),
      ("unpartitioned", covered, None, Map("group-walk global" -> 1)),
      ("uncovered", uncovered, Some(bucket), Map("group-walk" -> 1, "group-walk global" -> 1))
    ).foreach { case (name, rs, p, levels) =>
      var summary: ValidationSummary = null
      val jobs = jobsDuring {
        summary = new Validator(spark, ValidationConfig(),
          n => if (n == "conv_index") Some(index) else None)
          .executeRulesPartitioned(turns, rs, "walkjobs", p)._1
      }.filter(j => j._1 != null && j._1.startsWith("walkjobs "))
      withClue(name) {
        summary.results.map(_.failed_count).foreach(_ should be >= 0L)
        summary.results.find(_.rule_name == "conv_referential").get.failed_count should be > 0L
        jobs.filter(_._1.contains("group-walk")).groupBy(_._1).map { case (d, js) =>
          d.stripPrefix("walkjobs ") -> js.map(_._3).distinct.size
        } shouldBe levels
        (walkRuleNames :+ fd.name).foreach(n => jobs.map(_._1) should not contain s"walkjobs rule:$n")
      }
    }
  }

  test("cardinality and correlation over too many partition buckets report the bucket guard") {
    val v = new Validator(spark, ValidationConfig())
    val df = spark.range(0, v.maxPartitionBuckets + 1L)
      .select(col("id"), (col("id") % 7).as("a"), (col("id") % 5).as("b"))
    val rules = Seq(
      ValidationRule("distinct_a", RuleType.Cardinality, Seq("a")),
      ValidationRule("corr_ab", RuleType.Correlation, Seq("a", "b")))
    val (summary, verdicts) = v.executeRulesPartitioned(df, rules, "tguard", Some(col("id")))
    summary.results.map(_.rule_name) shouldBe rules.map(_.name)
    summary.results.foreach { r =>
      withClue(r.rule_name) {
        r.failed_count shouldBe -1L
        r.message should include(s"more than ${v.maxPartitionBuckets} buckets")
      }
    }
    verdicts shouldBe empty
  }

  test("every rule's result comes from one section and equals the rule run alone") {
    val cfg = graft.config.ConfigLoader.fromYamlFile(
      "examples/transcripts_config.yaml", env = Map.empty)
    val tcfg = TranscriptConfig(numConvs = 100L, hotConvExtraTurns = 10L)
    def withLen(df: org.apache.spark.sql.DataFrame) = df.withColumn("text_len",
      coalesce(org.apache.spark.sql.functions.length(col("text")), lit(0)).cast("double"))
    val turns = withLen(Transcripts.turns(spark, tcfg))
    val baseline = withLen(Transcripts.turns(spark, Transcripts.drifted(tcfg)))
    val index = Transcripts.convIndex(spark, tcfg)
    val v = new Validator(spark, cfg, {
      case "transcripts_baseline" => Some(baseline)
      case "conv_index" => Some(index)
      case _ => None
    })
    val shipped = cfg.enabledRules("transcripts") :+ ValidationRule("tools_named",
      RuleType.CustomAgg, Nil,
      expression = Some("SELECT COUNT(*) FROM {table} WHERE role = 'tool' AND tool IS NULL"))
    shipped.map(_.ruleType).distinct.size shouldBe 25
    // analyzes as a Boolean, raises at run time under ANSI
    val raising = ValidationRule("raises", RuleType.Predicate, Nil,
      expression = Some("turn_idx div (turn_idx - turn_idx) >= 0"))
    val sectionOwned = Set(RuleType.Uniqueness, RuleType.Sequence, RuleType.Monotonic,
      RuleType.Transition, RuleType.Referential, RuleType.FunctionalDependency,
      RuleType.drift, RuleType.Outlier)
    val bucket = pmod(xxhash64(col("conv_id")), lit(8))
    val empty = turns.limit(0)
    // (name, table, rules, partition expression)
    val passes = Seq(
      ("partitioned", turns, shipped, Some(bucket)),
      ("unpartitioned", turns, shipped, None),
      ("empty", empty, shipped, Some(bucket)),
      ("empty, unpartitioned", empty, shipped, None),
      ("fused job fails", turns, shipped :+ raising, Some(bucket)))
    val alone = scala.collection.mutable.Map.empty[(Boolean, Boolean, String), ValidationResult]
    passes.foreach { case (name, df, rules, p) =>
      var summary: ValidationSummary = null
      val jobs = jobsDuring {
        summary = v.executeRulesPartitioned(df, rules, "owners", p)._1
      }.map(_._1)
      summary.results.find(_.rule_name == "raises").foreach(_.failed_count shouldBe -1L)
      rules.foreach { r =>
        withClue(s"$name / ${r.name}") {
          val own = alone.getOrElseUpdate((df eq empty, p.isDefined, r.name),
            v.executeRulesPartitioned(df, Seq(r), "alone", p)._1.results.head)
          summary.results.find(_.rule_name == r.name).get.copy(execution_time_ms = 0.0) shouldBe
            own.copy(execution_time_ms = 0.0)
          if (sectionOwned(r.ruleType) || graft.engine.RulePlanner.fusible(r))
            jobs should not contain s"owners rule:${r.name}"
        }
      }
    }
  }

  /** A predicate rule whose rows wait at [[FusedGate]]: the fused job
    * cannot end before the gate opens, or 30 s pass and the first row to
    * time out opens it. */
  private def gatedPredicate: ValidationRule = {
    spark.udf.register("fused_gate", (_: String) => {
      val gate = FusedGate.open
      if (!gate.await(30, java.util.concurrent.TimeUnit.SECONDS)) gate.countDown()
      true
    })
    ValidationRule("fused_gate", RuleType.Predicate, Seq(), expression = Some("fused_gate(conv_id)"))
  }

  test("the suite pass submits no referential job, and drift starts before the fused job ends") {
    val cfg = TranscriptConfig(numConvs = 200L)
    def withLen(df: org.apache.spark.sql.DataFrame) = df.withColumn("text_len",
      coalesce(org.apache.spark.sql.functions.length(col("text")), lit(0)).cast("double"))
    val turns = withLen(Transcripts.turns(spark, cfg))
    val baseline = withLen(Transcripts.turns(spark, Transcripts.drifted(cfg)))
    val index = Transcripts.convIndex(spark, cfg)
    val rules = graft.bench.TranscriptSuite.rules :+ gatedPredicate
    val v = new Validator(spark, ValidationConfig(), {
      case "baseline" => Some(baseline)
      case "conv_index" => Some(index)
      case _ => None
    })
    FusedGate.open = new java.util.concurrent.CountDownLatch(1)
    var summary: ValidationSummary = null
    // the fused job's rows wait until a drift job has started
    val jobs = try jobSpans(
      onStart = d => if (d == "suite drift-batch") FusedGate.open.countDown(),
      body = {
        summary = v.executeRulesPartitioned(turns, rules, "suite",
          Some(pmod(xxhash64(col("conv_id")), lit(8))))._1
      }) finally FusedGate.open.countDown()
    summary.results.map(_.failed_count).foreach(_ should be >= 0L)
    jobs.map(_._1) should not contain "suite rule:conv_referential"
    val fusedEnd = jobs.filter(_._1 == "suite fused-stats").map(_._3).max
    val driftStart = jobs.filter(_._1 == "suite drift-batch").map(_._2).min
    driftStart should be < fusedEnd
  }

  test("concurrent passes without drift or outlier rules start their walks before their fused jobs end") {
    val turns = Transcripts.turns(spark, TranscriptConfig(numConvs = 100L))
    val rules = Seq(
      ValidationRule("key_unique", RuleType.Uniqueness, Seq("conv_id", "turn_idx")),
      gatedPredicate)
    val tables = (0 until 4).map(i => s"gated$i")
    val walking = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    FusedGate.open = new java.util.concurrent.CountDownLatch(1)
    // every fused job's rows wait until all four walks have started
    val jobs = try jobSpans(
      onStart = d => if (d != null && d.endsWith(" group-walk global")) {
        walking.add(d)
        if (walking.size == tables.size) FusedGate.open.countDown()
      },
      body = {
        val passes = tables.map(t => new Thread(() => {
          new Validator(spark, ValidationConfig()).executeRules(turns, rules, t)
          ()
        }))
        passes.foreach(_.start())
        passes.foreach(_.join())
      }) finally FusedGate.open.countDown()
    // a walk's first job is its submission; under AQE its later stage jobs
    // queue behind the gated tasks
    tables.foreach { t =>
      withClue(t) {
        val fusedEnd = jobs.filter(_._1 == s"$t fused-stats").map(_._3).max
        jobs.filter(_._1 == s"$t group-walk global").map(_._2).min should be < fusedEnd
      }
    }
  }

  test("pooled validation jobs carry the submitting thread's job group") {
    // thread A warms the validator's pools (their threads inherit A's
    // local properties); thread B's jobs must still carry B's own group
    val cfg = TranscriptConfig(numConvs = 200L)
    val turns = Transcripts.turns(spark, cfg)
    val index = Transcripts.convIndex(spark, cfg)
    val rules = graft.bench.TranscriptSuite.rules.filterNot(_.ruleType == RuleType.drift) ++ Seq(
      ValidationRule("conv_unique", RuleType.Uniqueness, Seq("conv_id", "role")),
      ValidationRule("text_unique", RuleType.Uniqueness, Seq("conv_id", "text")))
    val v = new Validator(spark, ValidationConfig(),
      n => if (n == "conv_index") Some(index) else None)
    def onThread(group: String, table: String): Unit = {
      var failure: Option[Throwable] = None
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group, s"validation $group")
          v.executeRulesPartitioned(turns, rules, table,
            Some(pmod(xxhash64(col("conv_id")), lit(8))))
          ()
        } catch { case e: Throwable => failure = Some(e) }
      })
      t.start()
      t.join()
      failure.foreach(e => throw e)
    }
    val jobs = jobsDuring {
      onThread("g1", "tA")
      onThread("g2", "tB")
    }
    def groupsOf(table: String) =
      jobs.filter(j => j._1 != null && j._1.startsWith(s"$table ")).map(_._2)
    groupsOf("tA") should not be empty
    groupsOf("tB") should not be empty
    groupsOf("tA").distinct shouldBe Seq("g1")
    groupsOf("tB").distinct shouldBe Seq("g2")
  }
}

/** Holds every row of a gated fused job until the test opens it. */
object FusedGate {
  @volatile var open = new java.util.concurrent.CountDownLatch(0)
}
