package graft

import graft.engine.{Checks, Validator}
import graft.io.{TranscriptConfig, Transcripts}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ChecksSpec extends SparkSpec {
  import spark.implicits._

  /** Distinct-key count with PySpark-reference semantics: `distinct()` over
    * the selected columns counts a NULL (or all-NULL tuple) as one distinct
    * value — unlike SQL `COUNT(DISTINCT col)` which drops NULLs. The
    * reference for the group walk's uniqueness verdict (rows − distinct
    * keys). */
  private def distinctKeyCount(df: DataFrame, keys: Seq[String]): Long =
    df.select(keys.map(col): _*).distinct().count()

  /** (failed, total) of a uniqueness rule over `keys`, from the validator. */
  private def uniqueness(df: DataFrame, keys: Seq[String]): (Long, Long) = {
    val res = new Validator(spark, ValidationConfig())
      .executeRules(df, Seq(ValidationRule("u", RuleType.Uniqueness, keys)), "t").results.head
    (res.failed_count, res.total_count)
  }

  test("duplicateKeys and salted variant produce identical verdicts") {
    val t = Transcripts.turns(spark, TranscriptConfig(numConvs = 300L, hotConvExtraTurns = 500L))
    val plain = Checks.duplicateKeys(t, Seq("conv_id", "turn_idx"))
      .orderBy("conv_id", "turn_idx").collect()
    val salted = Checks.duplicateKeysSalted(t, Seq("conv_id", "turn_idx"), saltBuckets = 16)
      .orderBy("conv_id", "turn_idx").collect()
    plain.length shouldBe salted.length
    plain.zip(salted).foreach { case (a, b) =>
      a.getString(0) shouldBe b.getString(0)
      a.getInt(1) shouldBe b.getInt(1)
      a.getLong(2) shouldBe b.getLong(2)
    }
  }

  test("distinctKeyCount matches groupBy count") {
    val df = Seq[(Option[String], Option[Int])]((Some("a"), Some(1)), (Some("a"), Some(1)),
      (Some("a"), Some(2)), (Some("b"), Some(1)), (None, None), (None, None), (None, Some(1)))
      .toDF("k1", "k2")
    distinctKeyCount(df, Seq("k1", "k2")) shouldBe 5
    distinctKeyCount(df, Seq("k1")) shouldBe 3
    uniqueness(df, Seq("k1", "k2")) shouldBe ((7L - 5L, 7L))
    uniqueness(df, Seq("k1")) shouldBe ((7L - 3L, 7L))
  }

  test("duplicateRows returns full violating rows") {
    val df = Seq(("a", 1, "x"), ("a", 1, "y"), ("b", 2, "z")).toDF("k1", "k2", "v")
    val dups = Checks.duplicateRows(df, Seq("k1", "k2")).collect()
    dups.length shouldBe 2
    dups.map(_.getString(2)).toSet shouldBe Set("x", "y")
  }

  test("orphans: anti-join finds fact keys missing from dim; NULL keys are not orphans") {
    val fact = Seq((Some(1L), "a"), (Some(2L), "b"), (Some(3L), "c"), (Some(99L), "x"),
      (None, "n")).toDF("fk", "v")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    val o = Checks.orphans(fact, "fk", dim, "pk").collect()
    o.length shouldBe 1 // NULL fk excluded — completeness owns it (orphanCount parity)
    o.head.getLong(0) shouldBe 99L
    // non-broadcast path and the join-free count agree
    Checks.orphans(fact, "fk", dim, "pk", broadcastDim = false).count() shouldBe 1
    Checks.orphanCount(fact, "fk", dim, "pk") shouldBe 1
  }

  test("chi-square matches hand computation") {
    // 2x2 contingency: A: x=30,y=10; B: x=20,y=40
    // row totals: x=50,y=50; col totals: A=40,B=60; grand=100
    // e(x,A)=20 e(x,B)=30 e(y,A)=20 e(y,B)=30
    // chi2 = 100/20+100/30+100/20+100/30 = 5+3.333+5+3.333 = 16.6667
    val a = Seq(("x", 30L), ("y", 10L)).toDF("bucket", "cnt")
    val b = Seq(("x", 20L), ("y", 40L)).toDF("bucket", "cnt")
    val (stat, dof) = Checks.chiSquare(a, b)
    stat shouldBe 16.666666 +- 1e-4
    dof shouldBe 1
  }

  test("chi-square handles buckets absent from one side") {
    val a = Seq(("x", 10L), ("z", 5L)).toDF("bucket", "cnt")
    val b = Seq(("x", 10L)).toDF("bucket", "cnt")
    val (stat, _) = Checks.chiSquare(a, b)
    stat should be > 0.0
    stat.isNaN shouldBe false
  }

  test("EMD statistic: hand computation, bounds, shift-vs-pinch contrast with KS") {
    // A: 0→50, 1→50 (cdf .5, 1); B: 0→10, 1→90 (cdf .1, 1)
    // span 0→1: one step, gap |.5−.1| = .4 → emd = .4/1
    Checks.emdStat(Map("0" -> 50L, "1" -> 50L), Map("0" -> 10L, "1" -> 90L)) shouldBe 0.4 +- 1e-12
    // identical → 0; fully displaced across the span → 1
    Checks.emdStat(Map("0" -> 10L, "3" -> 5L), Map("0" -> 10L, "3" -> 5L)) shouldBe 0.0
    Checks.emdStat(Map("0" -> 10L), Map("10" -> 10L)) shouldBe 1.0 +- 1e-12
    // empty interior buckets keep paying: 10/11 of the mass transported
    // 2 of 5 steps (shared endpoint at 5) → (10/11)·(2/5) = 4/11
    Checks.emdStat(Map("0" -> 10L, "5" -> 1L), Map("2" -> 10L, "5" -> 1L)) shouldBe (4.0 / 11) +- 1e-12
    // distance weighting — ks cannot tell near from far transport, emd can:
    // 10% of mass moved one bucket vs across the whole range (endpoints
    // shared so both pairs span 49 steps)
    val a = Map("0" -> 99L, "49" -> 1L)
    val near = Map("0" -> 89L, "1" -> 10L, "49" -> 1L)
    val far = Map("0" -> 89L, "49" -> 11L)
    Checks.ksStat(a, near) shouldBe 0.1 +- 1e-12
    Checks.ksStat(a, far) shouldBe 0.1 +- 1e-12 // identical in ks
    Checks.emdStat(a, near) shouldBe (0.1 / 49) +- 1e-12 // one step of 49
    Checks.emdStat(a, far) shouldBe 0.1 +- 1e-12 // full-haul transport
    Checks.emdStat(a, far) / Checks.emdStat(a, near) shouldBe 49.0 +- 1e-9
    // misconfiguration (non-numeric buckets) raises, never silently passes
    val e = intercept[IllegalArgumentException] {
      Checks.emdStat(Map("cat" -> 5L), Map("0" -> 5L))
    }
    e.getMessage should include("numeric")
  }

  test("emdGapTable ties to emdStat: Σ gap·span / (max−min)") {
    val a = Seq((0, 30L), (3, 10L), (9, 60L)).toDF("bucket", "cnt")
    val b = Seq((1, 20L), (3, 50L), (7, 30L)).toDF("bucket", "cnt")
    val rows = Checks.emdGapTable(a, b).collect()
    val span = rows.map(_.getLong(4)).sum
    span shouldBe 9L // max 9 − min 0, partitioned among observed buckets
    val derived = rows.map(r => r.getDouble(3) * r.getLong(4)).sum / span
    val direct = Checks.emdStat(
      a.collect().map(r => r.getInt(0).toString -> r.getLong(1)).toMap,
      b.collect().map(r => r.getInt(0).toString -> r.getLong(1)).toMap)
    derived shouldBe direct +- 1e-12
  }

  test("KS statistic matches hand computation") {
    // A: bucket 0: 50, bucket 1: 50 → cdf .5, 1.0
    // B: bucket 0: 10, bucket 1: 90 → cdf .1, 1.0 → D = .4
    val a = Seq((0, 50L), (1, 50L)).toDF("bucket", "cnt")
    val b = Seq((0, 10L), (1, 90L)).toDF("bucket", "cnt")
    Checks.ksFromHistograms(a, b) shouldBe 0.4 +- 1e-12
  }

  test("KS is 0 for identical distributions, 1 for disjoint") {
    val a = Seq((0, 10L), (1, 20L)).toDF("bucket", "cnt")
    Checks.ksFromHistograms(a, a) shouldBe 0.0
    val lo = Seq((0, 10L)).toDF("bucket", "cnt")
    val hi = Seq((5, 10L)).toDF("bucket", "cnt")
    Checks.ksFromHistograms(lo, hi) shouldBe 1.0 +- 1e-12
  }

  test("numericHistogram clamps out-of-range values to edge bins") {
    val df = Seq(-5.0, 0.0, 5.0, 99.0, 500.0).toDF("v")
    val h = Checks.numericHistogram(df, col("v"), 0.0, 100.0, 10)
      .orderBy("bucket").collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    h(0) shouldBe 3 // -5 clamped, 0.0, 5.0
    h(9) shouldBe 2 // 99 + 500 clamped
  }

  test("keepFirstPerKey keeps exactly one row per key, deterministically") {
    val df = Seq(("a", 2, "second"), ("a", 1, "first"), ("b", 1, "only"))
      .toDF("k", "ord", "v")
    val kept = Checks.keepFirstPerKey(df, Seq("k"), "ord")
      .orderBy("k").collect()
    kept.length shouldBe 2
    kept(0).getString(2) shouldBe "first"
    kept(1).getString(2) shouldBe "only"
  }

  test("momentsExact: decimal-routed moments are exact and partitioning-invariant") {
    import spark.implicits._
    // 2-dp values: decimal(18,4) carries them exactly
    val vals = (1 to 1000).map(i => (i.toLong, (i * 0.25) + 0.01))
    val df = vals.toDF("id", "v")
    val (n, s, s2) = Checks.momentsExact(df, Seq("v"))("v")
    n shouldBe 1000
    // exact sums: Σ(i/4 + 0.01) and Σ(i/4 + 0.01)² via BigDecimal
    val exactS = vals.map(v => BigDecimal(v._2).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
    s shouldBe exactS.toDouble
    val exactS2 = vals.map { v =>
      val d = BigDecimal(v._2).setScale(4, BigDecimal.RoundingMode.HALF_UP); d * d
    }.sum
    s2 shouldBe exactS2.toDouble
    // bit-identical under any partitioning (the point of the decimal route)
    Checks.momentsExact(df.repartition(17), Seq("v"))("v") shouldBe ((n, s, s2))
    // meanStd matches the fixed-order formula
    val (mean, std) = Checks.meanStd(n, s, s2)
    mean shouldBe (s / n)
    std shouldBe math.sqrt((s2 - s * s / n) / (n - 1))
  }

  test("cramersV: hand value, bounds, and the dilution TVD avoids") {
    // the chi-square hand case above: chi2 = 16.667, grand = 100 → V = 0.408
    val a = Map("x" -> 30L, "y" -> 10L)
    val b = Map("x" -> 20L, "y" -> 40L)
    Checks.cramersV(a, b) shouldBe math.sqrt(16.666666666666668 / 100.0) +- 1e-9
    Checks.cramersV(a, a) shouldBe 0.0 +- 1e-12
    Checks.cramersV(Map.empty, Map.empty) shouldBe 0.0
    // identical DRIFT, bigger baseline: V shrinks (dilution) while TVD holds
    val drifted = Map("x" -> 10L, "y" -> 30L)
    val base = Map("x" -> 30L, "y" -> 10L)
    val base100x = base.map { case (k, v) => k -> v * 100 }
    val vSmall = Checks.cramersV(drifted, base)
    val vBig = Checks.cramersV(drifted, base100x)
    vBig should be < vSmall * 0.75
    Checks.totalVariationDistance(drifted, base100x) shouldBe
      Checks.totalVariationDistance(drifted, base) +- 1e-12
    // empty-side convention matches tvd: a missing baseline is TOTAL
    // divergence, never a silent pass (χ² alone would degenerate to 0)
    Checks.cramersV(Map.empty, Map("x" -> 5L)) shouldBe 1.0
    Checks.cramersV(Map("x" -> 5L), Map.empty) shouldBe 1.0
  }

  test("psi: hand value, size invariance, tail sensitivity TVD lacks, edges") {
    // hand case: p_a = (0.75, 0.25), p_b = (1/3, 2/3)
    // psi = (0.75-1/3)·ln(0.75/(1/3)) + (0.25-2/3)·ln(0.25/(2/3))
    val a = Map("x" -> 30L, "y" -> 10L)
    val b = Map("x" -> 20L, "y" -> 40L)
    val expected = (0.75 - 1.0 / 3) * math.log(0.75 / (1.0 / 3)) +
      (0.25 - 2.0 / 3) * math.log(0.25 / (2.0 / 3))
    Checks.psi(a, b) shouldBe expected +- 1e-12
    Checks.psi(a, a) shouldBe 0.0 +- 1e-15
    // size-invariant: scaling one side's counts changes nothing (proportions only)
    Checks.psi(a, b.map { case (k, v) => k -> v * 100 }) shouldBe expected +- 1e-12
    // tail sensitivity: a category collapsing 2% → 0.01% moves PSI past the
    // 0.1 "investigate" gate while TVD barely registers
    val base = Map("big" -> 9800L, "tail" -> 200L)
    val cur = Map("big" -> 9999L, "tail" -> 1L)
    Checks.psi(cur, base) should be > 0.1
    Checks.totalVariationDistance(cur, base) should be < 0.02
    // empty conventions: both empty → 0.0; one empty → large positive (the
    // epsilon floor), never a silent pass
    Checks.psi(Map.empty, Map.empty) shouldBe 0.0
    Checks.psi(Map.empty, Map("x" -> 5L)) should be > 1.0
    Checks.psi(Map("x" -> 5L), Map.empty) should be > 1.0
    // scalar ≡ contributions-table sum (the oracle face)
    val histA = Seq(("x", 30L), ("y", 10L), ("z", 0L)).toDF("bucket", "cnt")
    val histB = Seq(("x", 20L), ("y", 40L)).toDF("bucket", "cnt")
    val tableSum = Checks.psiContributions(histA, histB)
      .agg(org.apache.spark.sql.functions.sum("contrib")).head().getDouble(0)
    tableSum shouldBe Checks.psi(Map("x" -> 30L, "y" -> 10L, "z" -> 0L),
      Map("x" -> 20L, "y" -> 40L)) +- 1e-12
    intercept[IllegalArgumentException](Checks.psi(a, b, epsilon = 0.0))
  }

  test("jensenShannon: hand value, bounds, no-epsilon zero buckets, edges") {
    // hand case: p_a = (0.75, 0.25), p_b = (0.25, 0.75), m = (0.5, 0.5)
    // JS = 0.75·ln(1.5)/2 + 0.25·ln(0.5)/2 + 0.25·ln(0.5)/2 + 0.75·ln(1.5)/2
    //    = 0.75·ln 1.5 + 0.25·ln 0.5
    val a = Map("x" -> 30L, "y" -> 10L)
    val b = Map("x" -> 10L, "y" -> 30L)
    val expected = 0.75 * math.log(1.5) + 0.25 * math.log(0.5)
    Checks.jensenShannon(a, b) shouldBe expected +- 1e-12
    Checks.jensenShannon(a, a) shouldBe 0.0 +- 1e-15
    // size-invariant (proportions only)
    Checks.jensenShannon(a, b.map { case (k, v) => k -> v * 100 }) shouldBe expected +- 1e-12
    // BOUNDED: disjoint supports read exactly ln 2 — no epsilon in the
    // contract, unlike psi whose zero-bucket magnitude is an epsilon choice
    Checks.jensenShannon(Map("x" -> 5L), Map("y" -> 7L)) shouldBe math.log(2.0) +- 1e-12
    // a zero-share bucket is finite through the mixture (psi needs a floor)
    Checks.jensenShannon(Map("x" -> 1L, "y" -> 1L), Map("x" -> 2L)) should be < math.log(2.0)
    // empty conventions match the siblings: both → 0, one → ln 2
    Checks.jensenShannon(Map.empty, Map.empty) shouldBe 0.0
    Checks.jensenShannon(Map.empty, Map("x" -> 5L)) shouldBe math.log(2.0)
    Checks.jensenShannon(Map("x" -> 5L), Map.empty) shouldBe math.log(2.0)
    // scalar ≡ contributions-table sum (the oracle face)
    val histA = Seq(("x", 30L), ("y", 10L), ("z", 5L)).toDF("bucket", "cnt")
    val histB = Seq(("x", 10L), ("y", 30L)).toDF("bucket", "cnt")
    val tableSum = Checks.jsContributions(histA, histB)
      .agg(org.apache.spark.sql.functions.sum("contrib")).head().getDouble(0)
    tableSum shouldBe Checks.jensenShannon(
      Map("x" -> 30L, "y" -> 10L, "z" -> 5L), Map("x" -> 10L, "y" -> 30L)) +- 1e-12
    // both-empty contributions table is schema-only empty
    val empty = Seq.empty[(String, Long)].toDF("bucket", "cnt")
    Checks.jsContributions(empty, empty).count() shouldBe 0
  }

  test("momentsExact raises on values outside the exact decimal range instead of silently skewing") {
    // 1e15 doesn't fit DECIMAL(18,4): without the guard its cast would drop
    // it from the sums while count(col) still counted it — mean/std of a
    // different sample. The guard names the column and routes to the rule's
    // error path via the caller's catch.
    val df = Seq(1.0, 2.0, 1.0e15).toDF("v")
    val e = intercept[IllegalArgumentException](Checks.momentsExact(df, Seq("v")))
    e.getMessage should include("'v'")
    e.getMessage should include("1e14")
    // in-range columns are unaffected
    Checks.momentsExact(Seq(1.0, 2.0).toDF("v"), Seq("v"))("v")._1 shouldBe 2L
  }

  test("tvdContributions empty-input edges: well-formed, row-consistent rows") {
    val empty = Seq.empty[(String, Long)].toDF("bucket", "cnt")
    val some = Seq(("x", 30L), ("y", 10L)).toDF("bucket", "cnt")
    // both empty → empty table (statistic 0.0, like totalVariationDistance)
    Checks.tvdContributions(empty, empty).count() shouldBe 0
    Checks.totalVariationDistance(Map.empty, Map.empty) shouldBe 0.0
    // one empty: every row keeps abs_diff = |p_a - p_b| (no NaN, nothing
    // above 1); the per-bucket formula sums to 0.5 while the SCALAR layers
    // the conventional 1.0 on top (empty baseline = total divergence)
    val rows = Checks.tvdContributions(empty, some).collect()
    rows.foreach { r =>
      r.getDouble(1).isNaN shouldBe false
      r.getDouble(2).isNaN shouldBe false
      r.getDouble(3) shouldBe math.abs(r.getDouble(1) - r.getDouble(2)) +- 1e-15
      r.getDouble(3) should be <= 1.0
    }
    rows.map(_.getDouble(3)).sum / 2.0 shouldBe 0.5 +- 1e-12
    Checks.totalVariationDistance(Map.empty, Map("x" -> 30L)) shouldBe 1.0
  }

  test("safeCorr: hand values, degenerate → NULL, large-magnitude stability") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y")
    df.agg(Checks.safeCorr(col("x"), col("y"))).head().getDouble(0) shouldBe 1.0 +- 1e-12
    val anti = Seq((1.0, 3.0), (2.0, 2.0), (3.0, 1.0)).toDF("x", "y")
    anti.agg(Checks.safeCorr(col("x"), col("y"))).head().getDouble(0) shouldBe -1.0 +- 1e-12
    // constant column: NULL (a verdict), never a divide-by-zero job failure
    val const = Seq((1.0, 5.0), (2.0, 5.0)).toDF("x", "y")
    const.agg(Checks.safeCorr(col("x"), col("y"))).head().isNullAt(0) shouldBe true
    // epoch-microsecond magnitudes with a tiny spread: a raw-moment
    // Σx²−(Σx)² formulation cancels catastrophically here (the bug this
    // formulation replaced); central moments stay exact
    val base = 1700000000000000L
    val big = (0 until 100).map(i => (base + i.toLong, base + 2L * i)).toDF("x", "y")
    big.agg(Checks.safeCorr(col("x"), col("y"))).head().getDouble(0) shouldBe 1.0 +- 1e-9
  }

  test("verdicts are invariant under repartitioning (property)") {
    val t = Transcripts.turns(spark, TranscriptConfig(numConvs = 100L))
    val r1 = distinctKeyCount(t, Seq("conv_id", "turn_idx"))
    val r2 = distinctKeyCount(t.repartition(17), Seq("conv_id", "turn_idx"))
    r1 shouldBe r2
    val rows = t.count()
    uniqueness(t.repartition(17), Seq("conv_id", "turn_idx")) shouldBe ((rows - r1, rows))
    // the group-unit families carry the same contract: group stats and the
    // derived verdicts cannot depend on physical layout
    def seqStats(df: org.apache.spark.sql.DataFrame) =
      Checks.sequenceGroups(df, Seq("conv_id"), "turn_idx")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.get(2), r.get(3))).toMap
    seqStats(t.repartition(17)) shouldBe seqStats(t)
    def monoStats(df: org.apache.spark.sql.DataFrame) =
      Checks.monotonicGroups(df, Seq("conv_id"), "turn_idx", "ts")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    monoStats(t.repartition(17)) shouldBe monoStats(t)
  }

  test("diffColumnStats attributes changes to their columns over both-side keys") {
    import org.apache.spark.sql.functions.col
    val ref = Seq(
      ("k1", Option(1.0), Option("a")),
      ("k2", Option(2.0), Option("b")),
      ("k3", Option(3.0), Option("c")),
      ("k4", Option(4.0), Option("d")),
      ("k5", Option(5.0), Option("e"))).toDF("id", "amt", "tag")
    val cur = Seq(
      ("k1", Option(9.0), Option("a")),              // amt changed only
      ("k2", Option(2.0), Option("B")),              // tag changed only
      ("k3", Option.empty[Double], Option("c")),     // amt changed via null shift
      ("k4", Option(4.0), Option("d")),              // equal
      ("k6", Option(6.0), Option("f"))).toDF("id", "amt", "tag") // one-side key: excluded
    val stats = Checks.diffColumnStats(cur, ref, Seq("id"), Seq("amt", "tag"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    stats("amt") shouldBe ((2L, 4L)) // k1 + k3 of the 4 both-side keys
    stats("tag") shouldBe ((1L, 4L)) // k2

    // a multiplicity change has no single column to blame: attributes to all
    val dupCur = Seq(("k1", 1.0, "a"), ("k1", 1.0, "a")).toDF("id", "amt", "tag")
    val dupRef = Seq(("k1", 1.0, "a")).toDF("id", "amt", "tag")
    val dup = Checks.diffColumnStats(dupCur, dupRef, Seq("id"), Seq("amt", "tag"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    dup("amt") shouldBe 1L
    dup("tag") shouldBe 1L

    // no shared keys: zero counts, not an empty frame (the report always
    // names every compare column)
    val none = Checks.diffColumnStats(
      Seq(("a", 1.0)).toDF("id", "amt"), Seq(("b", 1.0)).toDF("id", "amt"),
      Seq("id"), Seq("amt")).collect()
    none.length shouldBe 1
    none.head.getLong(1) shouldBe 0L
    none.head.getLong(2) shouldBe 0L

    // schema evolution: a LOSSLESS widening (INT → BIGINT, FLOAT → DOUBLE)
    // must not read as change — digests hash the lossless common type
    val narrow = Seq(("k", 1)).toDF("id", "v")
    val wide = Seq(("k", 1L)).toDF("id", "v")
    Checks.tableDiff(wide, narrow, Seq("id"), Seq("v"))
      .filter(Checks.diffViolationCond).count() shouldBe 0L
    Checks.tableDiff(Seq(("k", 1.5d)).toDF("id", "v"),
      Seq(("k", 1.5f)).toDF("id", "v"), Seq("id"), Seq("v"))
      .filter(Checks.diffViolationCond).count() shouldBe 0L
    // a column pair with NO common type is a loud error, never a
    // silently-wrong all-changed comparison
    intercept[IllegalArgumentException] {
      Checks.tableDiff(Seq(("k", "x")).toDF("id", "v"),
        Seq(("k", 1)).toDF("id", "v"), Seq("id"), Seq("v"))
    }
    // integral embeds EXACTLY in a wide-enough float type: INT → DOUBLE is
    // admitted (2^31 < 2^53) …
    Checks.tableDiff(Seq(("k", 1)).toDF("id", "v"),
      Seq(("k", 1.0d)).toDF("id", "v"), Seq("id"), Seq("v"))
      .filter(Checks.diffViolationCond).count() shouldBe 0L
    // … and an all-null (void-typed) column promotes losslessly
    Checks.tableDiff(
      Seq("k").toDF("id").withColumn("v", org.apache.spark.sql.functions.lit(null)),
      Seq(("k", Option.empty[Int])).toDF("id", "v"), Seq("id"), Seq("v"))
      .filter(Checks.diffViolationCond).count() shouldBe 0L
    // but LONG vs FLOAT is NOT lossless (16777217L casts equal to
    // 16777216.0f under Spark's own tightest-common-type) — rejected
    // loudly rather than risking a silent false 'equal'
    intercept[IllegalArgumentException] {
      Checks.tableDiff(Seq(("k", 16777217L)).toDF("id", "v"),
        Seq(("k", 16777216.0f)).toDF("id", "v"), Seq("id"), Seq("v"))
    }
    // KEY columns get the same contract: a type mismatch on the join key
    // must not silently coerce (string '007' vs int 7 would collapse)
    intercept[IllegalArgumentException] {
      Checks.tableDiff(Seq(("7", 1.0)).toDF("id", "v"),
        Seq((7, 1.0)).toDF("id", "v"), Seq("id"), Seq("v"))
    }
    // a widened key (INT → BIGINT) still joins: canonicalized both sides
    Checks.tableDiff(Seq((7L, 1.0)).toDF("id", "v"),
      Seq((7, 1.0)).toDF("id", "v"), Seq("id"), Seq("v"))
      .filter(Checks.diffViolationCond).count() shouldBe 0L

    // PER-COLUMN MULTISET semantics, pinned: a cross-column value swap
    // preserves every column's multiset — attributable to NO column here,
    // while tableDiff's row-level digest still classifies the key changed
    val swapCur = Seq(("k", 1.0, 2.0), ("k", 2.0, 1.0)).toDF("id", "a", "b")
    val swapRef = Seq(("k", 1.0, 1.0), ("k", 2.0, 2.0)).toDF("id", "a", "b")
    val swap = Checks.diffColumnStats(swapCur, swapRef, Seq("id"), Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    swap("a") shouldBe 0L
    swap("b") shouldBe 0L
    Checks.tableDiff(swapCur, swapRef, Seq("id"), Seq("a", "b"))
      .filter(Checks.diffViolationCond).count() shouldBe 1L
  }

  test("diff properties over generated tables: exact reference, partition, symmetry, self-identity") {
    import org.scalacheck.{Gen, rng}
    // generated tables with duplicate keys, NULLs in both compare columns,
    // and overlapping-but-distinct key spaces; fixed seeds keep it
    // deterministic
    val rowGen = for {
      k <- Gen.chooseNum(0, 25).map(i => s"k$i")
      a <- Gen.option(Gen.chooseNum(0, 4).map(_.toDouble))
      b <- Gen.option(Gen.oneOf("x", "y", "z"))
    } yield (k, a, b)
    val tableGen = Gen.listOfN(50, rowGen)
    def mk(seed: Long) =
      tableGen.pureApply(Gen.Parameters.default, rng.Seed(seed)).toDF("id", "a", "b")
    // exact reference implementation: per-key multiset of (a, b) tuples
    def multisets(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.getString(0)).map { case (k, rs) =>
        k -> rs.map(r => (Option(r.get(1)), Option(r.get(2))))
          .groupBy(identity).map { case (t, o) => t -> o.length }
      }
    for (seed <- 1L to 6L) {
      val l = mk(seed)
      val r = mk(seed + 100)
      // self-identity: a table never differs from itself
      Checks.tableDiff(l, l, Seq("id"), Seq("a", "b"))
        .filter(Checks.diffViolationCond).count() shouldBe 0L
      // the engine's classification must equal the exact reference
      val lm = multisets(l.collect()); val rm = multisets(r.collect())
      val expected = (lm.keySet ++ rm.keySet).map { k =>
        k -> ((lm.get(k), rm.get(k)) match {
          case (Some(_), None)          => "added"
          case (None, Some(_))          => "removed"
          case (a, b) if a == b         => "equal"
          case _                        => "changed"
        })
      }.toMap
      val actual = Checks.tableDiff(l, r, Seq("id"), Seq("a", "b"))
        .collect().map(x => x.getString(0) -> x.getAs[String]("status")).toMap
      actual shouldBe expected
      // symmetry: swapping sides swaps added and removed, fixes the rest
      val rev = Checks.tableDiff(r, l, Seq("id"), Seq("a", "b"))
        .collect().map(x => x.getString(0) -> x.getAs[String]("status")).toMap
      rev.view.mapValues {
        case "added" => "removed"; case "removed" => "added"; case s => s
      }.toMap shouldBe actual
      // layout invariance: repartitioning changes nothing
      Checks.tableDiff(l.repartition(13), r.coalesce(1), Seq("id"), Seq("a", "b"))
        .collect().map(x => x.getString(0) -> x.getAs[String]("status"))
        .toMap shouldBe actual
    }
  }
}
