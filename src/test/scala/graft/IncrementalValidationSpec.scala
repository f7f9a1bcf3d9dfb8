package graft

import graft.engine.Validator
import org.apache.spark.sql.functions._

/** Family-aware frames for the incremental tier
  * ([[Validator.validateTableIncremental]]): row-level rules see only the
  * appended delta, group-unit rules see the affected groups IN FULL (whole
  * conversations revalidated; historical duplicates caught), absolute
  * families see the whole table. The two group-unit assertions here are the
  * regression proofs for the naive slice-validation bugs: a turn appended to
  * an existing conversation must NOT read as a sequence gap, and a new row
  * duplicating a HISTORICAL key must NOT escape uniqueness. */
class IncrementalValidationSpec extends SparkSpec {
  import spark.implicits._

  // history: conversations a and b, two dense turns each. delta (the rows
  // of the new commit): legit growth of a (turns 2-3, one null role), a
  // brand-new conversation c, and a row duplicating b's HISTORICAL turn 0.
  private def history = Seq(
    ("a", 0L, "user"), ("a", 1L, "assistant"),
    ("b", 0L, "user"), ("b", 1L, "assistant")
  ).toDF("conv_id", "turn_idx", "role")
  private def delta = Seq(
    ("a", 2L, "user"), ("a", 3L, null: String),
    ("c", 0L, "user"),
    ("b", 0L, "user")
  ).toDF("conv_id", "turn_idx", "role")
  private def full = history.union(delta)

  private def cfg(rules: ValidationRule*) =
    ValidationConfig(tables = Seq(TableConfig("t", rules = rules.toSeq)))

  test("row rules see the delta, group rules the affected groups, absolute rules the table") {
    val completeness = ValidationRule("role_complete", RuleType.Completeness,
      Seq("role"), threshold = Some(0.5))
    val sequence = ValidationRule("turn_seq", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0"))
    val uniqueness = ValidationRule("turn_key", RuleType.Uniqueness,
      Seq("conv_id", "turn_idx"))
    val size = ValidationRule("size", RuleType.RowCount, Seq(),
      parameters = Map("min_rows" -> "5"))
    val v = new Validator(spark, cfg(completeness, sequence, uniqueness, size))
    val summary = v.validateTableIncremental(full, delta, "t")
    val r = summary.results.map(x => x.rule_name -> x).toMap

    // results keep rule order and each names the frame it saw
    summary.results.map(_.rule_name) shouldBe
      Seq("role_complete", "turn_seq", "turn_key", "size")
    r("role_complete").metadata("incremental") shouldBe "delta"
    r("turn_seq").metadata("incremental") shouldBe "affected_groups"
    r("turn_key").metadata("incremental") shouldBe "affected_groups"
    r("size").metadata("incremental") shouldBe "full"

    // row-level: ONLY the delta's 4 rows, 1 null role
    r("role_complete").total_count shouldBe 4L
    r("role_complete").failed_count shouldBe 1L

    // sequence: conversation a is revalidated WHOLE (0,1,2,3 — dense), so
    // its appended turns starting at 2 are NOT a gap (the naive delta-only
    // frame would fail it under start=0). Unit = affected groups: a, b, c.
    r("turn_seq").total_count shouldBe 3L
    r("turn_seq").failed_count shouldBe 0L

    // uniqueness: the delta row (b,0) duplicates a HISTORICAL key — caught
    // because the frame is all table rows sharing the delta's key values
    // (the naive delta-only frame has no duplicate and would pass). Frame =
    // (a,2),(a,3),(c,0),(b,0)x2.
    r("turn_key").total_count shouldBe 5L
    r("turn_key").failed_count shouldBe 1L

    // absolute: row_count sees the whole table (8 rows >= 5)
    r("size").passed shouldBe true
    r("size").metadata("row_count") shouldBe "8"

    // incremental runs publish no per-partition verdicts
    v.partitionVerdictsOf("t") shouldBe empty
  }

  test("NULL-key delta rows stay in the affected-groups frame (null-safe semi-join)") {
    // NULL keys form their own group on the full path — an equi-join
    // (where NULL never matches) would silently drop them and the
    // historical duplicate below would escape
    val hist = Seq((Option.empty[String], 0L, "user"), (Some("a"), 0L, "user"))
      .toDF("conv_id", "turn_idx", "role")
    val d = Seq((Option.empty[String], 0L, "user"))
      .toDF("conv_id", "turn_idx", "role")
    val uniq = ValidationRule("turn_key", RuleType.Uniqueness,
      Seq("conv_id", "turn_idx"))
    val v = new Validator(spark, cfg(uniq))
    val r = v.validateTableIncremental(hist.union(d), d, "t").results.head
    r.metadata("incremental") shouldBe "affected_groups"
    // frame = both NULL-key rows (the "a" group is unaffected): 2 rows,
    // 1 distinct key, 1 duplicate caught
    r.total_count shouldBe 2L
    r.failed_count shouldBe 1L
  }

  test("tableFrameForKeys hook: a pruned superset gives identical verdicts; a throwing hook falls back") {
    val uniq = ValidationRule("turn_key", RuleType.Uniqueness,
      Seq("conv_id", "turn_idx"))
    val seqr = ValidationRule("turn_seq", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "start" -> "0"))
    val v = new Validator(spark, cfg(uniq, seqr))
    val base = v.validateTableIncremental(full, delta, "t")
      .results.map(r => r.rule_name -> (r.failed_count, r.total_count)).toMap

    // the hook contract: any SUPERSET of the delta-key rows — here the
    // storage layer "pruned" conversation groups the delta can't touch
    // (atomic: the frames are built concurrently, one per key set)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val pruned = v.validateTableIncremental(full, delta, "t",
      tableFrameForKeys = Some { keys =>
        calls.incrementAndGet()
        full.filter(col("conv_id").isin("a", "b", "c"))
      }).results.map(r => r.rule_name -> (r.failed_count, r.total_count)).toMap
    pruned shouldBe base
    // one hook call: the (conv_id) table side also serves (conv_id, turn_idx)
    calls.get shouldBe 1

    // a hook that throws must not abort the table: the frame falls back to
    // the FULL table — correct but unpruned (larger totals, same failures)
    val thrown = v.validateTableIncremental(full, delta, "t",
      tableFrameForKeys = Some(_ => sys.error("storage hiccup"))).results
    thrown.filter(_.failed_count < 0) shouldBe empty
    thrown.map(r => r.rule_name -> r.metadata("incremental")).toMap shouldBe
      Map("turn_key" -> "full", "turn_seq" -> "full")
    thrown.map(r => r.rule_name -> r.failed_count).toMap shouldBe
      Map("turn_key" -> 1L, "turn_seq" -> 0L)
  }

  test("an incremental pass caches no block and runs no fused job over an affected-groups frame") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import scala.jdk.CollectionConverters._
    // nightly_append's shape: three row rules (the delta frame), a table
    // size (the full frame), and a uniqueness and a sequence rule on two
    // key sets (one affected-groups frame each)
    val v = new Validator(spark, cfg(
      ValidationRule("role_complete", RuleType.Completeness, Seq("role"), threshold = Some(0.5)),
      ValidationRule("conv_pattern", RuleType.Pattern, Seq("conv_id"), expression = Some("^[a-z]$")),
      ValidationRule("turn_range", RuleType.Range, Seq("turn_idx"),
        parameters = Map("min" -> "0", "max" -> "100")),
      ValidationRule("turn_key", RuleType.Uniqueness, Seq("conv_id", "turn_idx")),
      ValidationRule("turn_seq", RuleType.Sequence, Seq("conv_id"),
        parameters = Map("index" -> "turn_idx", "start" -> "0")),
      ValidationRule("size", RuleType.RowCount, Seq(), parameters = Map("min_rows" -> "5"))))
    val cached = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val marker = s"listener-marker-${System.nanoTime()}"
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid) cached.add(b.blockId.name)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          plans.put(x.executionId.toString, x.physicalPlanDescription)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        def prop(k: String) = props.map(_.getProperty(k)).orNull
        jobs.add((prop("spark.job.description"), prop("spark.sql.execution.id")))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val summary = try {
      val s = v.validateTableIncremental(full, delta, "t")
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_._1 == marker) && System.nanoTime() < deadline) Thread.sleep(50)
      s
    } finally sc.removeSparkListener(listener)
    summary.results.map(r => r.rule_name -> r.metadata("incremental")) shouldBe Seq(
      "role_complete" -> "delta", "conv_pattern" -> "delta", "turn_range" -> "delta",
      "turn_key" -> "affected_groups", "turn_seq" -> "affected_groups", "size" -> "full")
    // nothing is cached: each affected-groups frame has one reader, its walk
    cached.asScala shouldBe empty
    // two fused jobs — the delta frame's rules and the full frame's row
    // total — and neither reads an affected-groups frame (a semi-join)
    val fused = jobs.asScala.filter(_._1 == "t fused-stats").map(_._2).toSeq.distinct
    fused.size shouldBe 2
    fused.foreach(id => plans.get(id) should not include "LeftSemi")
  }

  test("a misconfigured group rule errors as its own result, not the table") {
    val bad = ValidationRule("bad_seq", RuleType.Sequence, Seq("no_such_col"),
      parameters = Map("index" -> "turn_idx"))
    val good = ValidationRule("role_complete", RuleType.Completeness,
      Seq("role"), threshold = Some(0.5))
    val v = new Validator(spark, cfg(bad, good))
    val summary = v.validateTableIncremental(full, delta, "t")
    val r = summary.results.map(x => x.rule_name -> x).toMap
    r("bad_seq").failed_count shouldBe -1L
    r("bad_seq").severity shouldBe Severity.Error
    r("role_complete").passed shouldBe true
    r("role_complete").total_count shouldBe 4L
  }
}
