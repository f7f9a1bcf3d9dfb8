package graft

import graft.io.{TranscriptConfig, Transcripts}
import org.apache.spark.sql.functions._

class TranscriptsSpec extends SparkSpec {

  val cfg = TranscriptConfig(numConvs = 200L)

  test("generator is deterministic and partitioning-invariant") {
    val a = Transcripts.turns(spark, cfg)
    val b = Transcripts.turns(spark, cfg).repartition(13)
    a.count() shouldBe b.count()
    a.exceptAll(b).count() shouldBe 0
    b.exceptAll(a).count() shouldBe 0
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    // the BASELINE.json input-hint invariant: two independent generations
    // ordered by the composite key agree row-for-row on text
    val a = Transcripts.turns(spark, cfg)
      .orderBy("conv_id", "turn_idx", "ts").select("conv_id", "turn_idx", "text")
      .collect()
    val b = Transcripts.turns(spark, cfg).repartition(7)
      .orderBy("conv_id", "turn_idx", "ts").select("conv_id", "turn_idx", "text")
      .collect()
    a.length shouldBe b.length
    a.zip(b).foreach { case (x, y) => x shouldBe y }
  }

  test("injected violations appear at roughly configured rates") {
    val t = Transcripts.turns(spark, cfg)
    val n = t.count()
    val nullText = t.filter(col("text").isNull).count()
    val badConv = t.filter(!col("conv_id").rlike("^(conv|orph)-[0-9a-f]{8}$")).count()
    val negTurn = t.filter(col("turn_idx") < 0).count()
    val orphan = t.filter(col("conv_id").startsWith("orph-")).count()
    nullText should be > 0L
    badConv should be > 0L
    negTurn should be > 0L
    orphan should be > 0L
    // rates are per-mille-ish: none should exceed ~3x its configured rate
    nullText.toDouble / n should be < cfg.nullTextPerMille * 3e-3
    badConv.toDouble / n should be < cfg.badConvIdPerMille * 3e-3
  }

  test("duplicate (conv_id, turn_idx) keys injected and exact") {
    val t = Transcripts.turns(spark, cfg)
    val total = t.count()
    val distinct = t.select("conv_id", "turn_idx").distinct().count()
    (total - distinct) should be > 0L
  }

  test("skew: hot conversation dominates when configured") {
    val hot = Transcripts.turns(spark, cfg.copy(hotConvExtraTurns = 2000L))
    val counts = hot.groupBy("conv_id").count().orderBy(desc("count")).head()
    counts.getLong(1) should be >= 2000L
  }

  test("drifted snapshot shifts role distribution") {
    val base = Transcripts.turns(spark, cfg)
    val drift = Transcripts.turns(spark, Transcripts.drifted(cfg))
    def toolShare(df: org.apache.spark.sql.DataFrame): Double = {
      val n = df.count().toDouble
      df.filter(col("role") === "tool").count() / n
    }
    toolShare(drift) should be > toolShare(base) + 0.05
  }

  test("typed Dataset[Turn] surface agrees with the DataFrame") {
    val ds = Transcripts.turnsTyped(spark, cfg)
    ds.count() shouldBe Transcripts.turns(spark, cfg).count()
    val toolTurns = ds.filter(t => t.role == "tool" && t.tool != null)
    toolTurns.count() should be > 0L
    toolTurns.head().tool should not be null
  }

  test("ts is monotone within a conversation (well-formed rows)") {
    val t = Transcripts.turns(spark, cfg)
      .filter(col("conv_id").startsWith("conv-") && col("turn_idx") >= 0)
      .dropDuplicates("conv_id", "turn_idx")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val bad = t.withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull && col("ts") <= col("prev"))
    bad.count() shouldBe 0
  }

  test("driver smoke contract: SparkEntry.entry returns one verdict row per flagship rule") {
    // the driver smoke-checks entry(spark) for rows > 0 — pin the contract
    // here so a refactor cannot silently break the round's gate
    val rows = graft.operators.CacheScope.cached { SparkEntry.entry(spark).collect() }
    rows.length should be > 0
    rows.map(_.getString(0)).distinct.length shouldBe rows.length // one row per rule
    val families = rows.map(_.getString(1)).toSet
    families should contain allOf (RuleType.Completeness, RuleType.Uniqueness,
      RuleType.Referential, RuleType.Sequence, RuleType.Transition,
      RuleType.FunctionalDependency)
    // verdict columns are populated (no -1/-1 error sentinels in the
    // flagship suite — every rule executed for real)
    rows.count(_.getLong(3) < 0L) shouldBe 0
  }

  test("SparkEntry.overlapped: a failing block surfaces only after the background count ended") {
    // each of the 4 background tasks sleeps, then tallies itself: had the
    // block's exception escaped without the wait, the tally would be short
    // and the count job would still be running into the next query
    OverlapTally.done.set(0)
    val slow = spark.range(0, 4, 1, 4).toDF().filter(udf { (x: Long) =>
      Thread.sleep(300); OverlapTally.done.incrementAndGet(); x >= 0 }.apply(col("id")))
    val e = intercept[IllegalStateException] {
      SparkEntry.overlapped(slow) { throw new IllegalStateException("block failed") }
    }
    e.getMessage shouldBe "block failed"
    OverlapTally.done.get shouldBe 4
  }

  test("SparkEntry.overlapped: a background failure is rethrown after a clean block") {
    val failing = spark.range(0, 1).toDF().filter(udf { (x: Long) =>
      if (x >= 0) throw new RuntimeException("background failed"); true }.apply(col("id")))
    val e = intercept[Exception] { SparkEntry.overlapped(failing) { 7 } }
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq should contain ("background failed")
    SparkEntry.overlapped(spark.range(0, 3).toDF()) { 7 } shouldBe 7
  }
}

private object OverlapTally {
  val done = new java.util.concurrent.atomic.AtomicInteger
}
