package graft

import graft.engine.{Checks, GroupWalk, Validator}
import graft.streaming.StreamValidator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The uniqueness, sequence, monotonic, transition and
  * functional_dependency rules share one grouped walk per key on every
  * entry path: every (partition, rule) verdict and every global verdict
  * must equal the per-family reference pipelines run on their own. */
class GroupWalkSpec extends SparkSpec {
  import spark.implicits._

  private type Turn = (Option[String], String, Option[Int], Option[Long], Option[String])
  private val columns = Seq("conv_id", "sub", "turn_idx", "ts", "role")

  private val turnRows: Seq[Turn] = Seq(
    // a: clean walk ending on assistant
    (Some("a"), "x", Some(0), Some(1L), Some("user")),
    (Some("a"), "x", Some(1), Some(2L), Some("assistant")),
    (Some("a"), "x", Some(2), Some(3L), Some("user")),
    (Some("a"), "x", Some(3), Some(4L), Some("assistant")),
    // b: duplicate (conv_id, turn_idx) rows whose ts and role differ — the
    // tie-break decides the walk order — and one exact duplicate
    (Some("b"), "x", Some(0), Some(10L), Some("user")),
    (Some("b"), "x", Some(1), Some(20L), Some("assistant")),
    (Some("b"), "y", Some(1), Some(15L), Some("user")),
    (Some("b"), "x", Some(2), Some(30L), Some("assistant")),
    (Some("b"), "x", Some(2), Some(30L), Some("assistant")),
    // c: NULL indices, one row NULL everywhere but the key
    (Some("c"), "x", None, Some(5L), Some("user")),
    (Some("c"), "x", Some(0), Some(1L), Some("user")),
    (Some("c"), "x", Some(1), Some(2L), Some("assistant")),
    (Some("c"), "x", None, None, None),
    (Some("c"), "x", None, None, None),
    // d: NULL values on the first row, mid-walk and on the last row
    (Some("d"), "x", Some(0), None, None),
    (Some("d"), "x", Some(1), Some(1L), Some("user")),
    (Some("d"), "x", Some(2), None, Some("assistant")),
    (Some("d"), "x", Some(3), Some(0L), None),
    (Some("d"), "x", Some(4), Some(5L), Some("user")),
    (Some("d"), "x", Some(5), Some(6L), None),
    // e: a single-row group
    (Some("e"), "x", Some(0), Some(1L), Some("user")),
    // f: non-increasing ts with a tie, a gap, starts at 1, ends on tool
    (Some("f"), "x", Some(1), Some(30L), Some("assistant")),
    (Some("f"), "x", Some(3), Some(20L), Some("user")),
    (Some("f"), "x", Some(4), Some(20L), Some("tool")),
    // NULL conversation key (its own partition)
    (None, "x", Some(0), Some(1L), Some("user")),
    (None, "x", Some(1), Some(0L), Some("assistant")),
    (None, "x", Some(1), Some(0L), Some("assistant")),
    // z: a partition whose rows every walk family but uniqueness excludes
    (Some("z"), "x", None, Some(1L), Some("user")),
    (Some("z"), "y", None, Some(2L), Some("user"))
  )

  private def turns: DataFrame = turnRows.toDF(columns: _*)

  private def part: Column =
    when(col("conv_id").isNull, lit(null).cast("long"))
      .when(col("conv_id") === "z", lit(7L))
      .otherwise(pmod(xxhash64(col("conv_id")), lit(3L)))

  private def suite(covers: Boolean): Seq[ValidationRule] = {
    val c = if (covers) Map("partition_covers_key" -> "true") else Map.empty[String, String]
    val sfx = if (covers) "_c" else ""
    def walk(kv: (String, String)*) = c ++ Map("order_by" -> "turn_idx") ++ kv
    val edges = "user->assistant,assistant->user,user->tool,tool->user"
    Seq(
      ValidationRule(s"u1$sfx", RuleType.Uniqueness, Seq("conv_id"),
        threshold = Some(0.5), parameters = c),
      ValidationRule(s"u2$sfx", RuleType.Uniqueness, Seq("conv_id", "turn_idx"), parameters = c),
      ValidationRule(s"u3$sfx", RuleType.Uniqueness, Seq("conv_id", "sub", "turn_idx"),
        threshold = Some(0.9), parameters = c),
      ValidationRule(s"seq$sfx", RuleType.Sequence, Seq("conv_id"),
        parameters = c ++ Map("index" -> "turn_idx")),
      ValidationRule(s"seq0$sfx", RuleType.Sequence, Seq("conv_id"),
        threshold = Some(0.5), parameters = c ++ Map("index" -> "turn_idx", "start" -> "0")),
      ValidationRule(s"subseq$sfx", RuleType.Sequence, Seq("conv_id", "sub"),
        parameters = c ++ Map("index" -> "turn_idx", "start" -> "0")),
      ValidationRule(s"mono$sfx", RuleType.Monotonic, Seq("conv_id"),
        parameters = walk("value" -> "ts")),
      ValidationRule(s"strict$sfx", RuleType.Monotonic, Seq("conv_id"),
        threshold = Some(0.5), parameters = walk("value" -> "ts", "strict" -> "true")),
      ValidationRule(s"desc$sfx", RuleType.Monotonic, Seq("conv_id"),
        parameters = walk("value" -> "ts", "direction" -> "desc")),
      ValidationRule(s"grammar$sfx", RuleType.Transition, Seq("conv_id"),
        parameters = walk("value" -> "role", "pairs" -> edges)),
      ValidationRule(s"firstlast$sfx", RuleType.Transition, Seq("conv_id"),
        threshold = Some(0.5),
        parameters = walk("value" -> "role", "pairs" -> edges,
          "first" -> "user", "last" -> "assistant,tool")),
      // functional_dependency: riding u1's walk (no index), a compound
      // dependent, riding subseq's (conv_id, sub; turn_idx) hash walk, and
      // alone on a key no other rule groups by — which the conv_id-derived
      // partitions do not cover; role and ts hold NULLs
      ValidationRule(s"fd$sfx", RuleType.FunctionalDependency, Seq("conv_id"),
        threshold = Some(0.5), parameters = c ++ Map("dependent" -> "role")),
      ValidationRule(s"fd2$sfx", RuleType.FunctionalDependency, Seq("conv_id"),
        parameters = c ++ Map("dependent" -> "role, ts")),
      ValidationRule(s"subfd$sfx", RuleType.FunctionalDependency, Seq("conv_id", "sub"),
        parameters = c ++ Map("dependent" -> "ts"))) ++
      Seq(ValidationRule("subonly_fd", RuleType.FunctionalDependency, Seq("sub"),
        threshold = Some(0.5), parameters = Map("dependent" -> "role"))).filterNot(_ => covers)
  }

  private def dependent(r: ValidationRule): Seq[String] =
    r.param("dependent").get.split(",").map(_.trim).toSeq

  private def partTotals(df: DataFrame): Map[String, Long] =
    df.groupBy(part.as("__part")).count().collect()
      .map(r => Checks.partKeyString(r.get(0)) -> r.getLong(1)).toMap

  /** Reference per-partition verdicts of one rule: the family's own
    * pipeline keyed by (partition, keys), or the two-phase uniqueness
    * count. */
  private def reference(df: DataFrame, r: ValidationRule): Seq[PartitionVerdict] = {
    val dp = df.withColumn("__part", part)
    val keys = "__part" +: (if (r.columns.nonEmpty) r.columns else Seq(r.column))
    def verdict(p: String, failed: Long, total: Long) = {
      val rate = if (total == 0) 1.0 else (total - failed).toDouble / total
      PartitionVerdict(p, r.name, ValidationResult.passedOf(r.threshold, failed, rate),
        failed, total, rate)
    }
    def byPart(d: DataFrame, a: Column, b: Column): Map[String, (Long, Long)] =
      d.groupBy("__part").agg(a, b).collect()
        .map(x => Checks.partKeyString(x.get(0)) -> (x.getLong(1), x.getLong(2))).toMap
    val totals = partTotals(df)
    if (r.ruleType == RuleType.Uniqueness) {
      val dups = byPart(dp.groupBy(keys.map(col): _*).count(),
        sum("count") - count(lit(1)), lit(0L))
      totals.toSeq.map { case (p, n) => verdict(p, dups.get(p).map(_._1).getOrElse(0L), n) }
    } else {
      val (groups, viol) = familyGroups(dp, keys, r)
      val present = byPart(groups, count(lit(1)), sum(when(viol, 1L).otherwise(0L)))
      totals.keys.toSeq.map { p =>
        present.get(p).map { case (g, f) => verdict(p, f, g) }.getOrElse(verdict(p, 0L, 0L))
      }
    }
  }

  /** A group-unit rule's own per-group pipeline over `keys`, and its
    * violation predicate. */
  private def familyGroups(df: DataFrame, keys: Seq[String],
      r: ValidationRule): (DataFrame, Column) = r.ruleType match {
    case RuleType.FunctionalDependency =>
      (Checks.fdGroups(df, keys, dependent(r)), Checks.fdViolationCond)
    case RuleType.Sequence =>
      (Checks.sequenceGroups(df, keys, r.param("index").get),
        Checks.sequenceViolationCond(r.param("start").map(_.toLong)))
    case RuleType.Monotonic =>
      (Checks.monotonicGroups(df, keys, "turn_idx", r.param("value").get,
        r.paramBool("strict"), r.param("direction").contains("desc")),
        col("inversions") > 0L)
    case _ =>
      val states = (k: String) => r.param(k).map(_.split(",").toSeq)
      (Checks.transitionGroups(df, keys, "turn_idx", r.param("value").get,
        r.param("pairs").get.split(",").toSeq.map { e =>
          val Array(f, t) = e.split("->"); (f, t)
        }, states("first"), states("last")),
        col("bad_rows") > 0L)
  }

  /** Reference GLOBAL result of one rule over the whole table: the
    * two-phase uniqueness count (rows − distinct keys over rows) or the
    * family's own pipeline (violating groups over groups). `promoted`: the
    * metadata of a `partition_covers_key` roll-up instead of the rule's
    * own. */
  private def globalReference(df: DataFrame, r: ValidationRule,
      promoted: Boolean): ValidationResult = {
    val keys = if (r.columns.nonEmpty) r.columns else Seq(r.column)
    def counts(d: DataFrame, total: Column, failed: Column) = {
      val row = d.agg(total, failed).head()
      (if (row.isNullAt(1)) 0L else row.getLong(1), if (row.isNullAt(0)) 0L else row.getLong(0))
    }
    val (failed, total) =
      if (r.ruleType == RuleType.Uniqueness)
        counts(df.groupBy(keys.map(col): _*).count(), sum("count"), sum("count") - count(lit(1)))
      else {
        val (groups, viol) = familyGroups(df, keys, r)
        counts(groups, count(lit(1)), sum(when(viol, 1L).otherwise(0L)))
      }
    val unit = if (r.ruleType == RuleType.Uniqueness) Map.empty[String, String]
      else Map("unit" -> "groups")
    val walk = Map("order_by" -> "turn_idx", "value" -> r.param("value").getOrElse(""))
    val own = r.ruleType match {
      case RuleType.Uniqueness => Map.empty[String, String]
      case RuleType.Sequence => Map("index" -> r.param("index").get)
      case RuleType.Monotonic => walk
      case RuleType.FunctionalDependency => Map("dependent" -> dependent(r).mkString(","))
      case _ => walk + ("edges" -> r.param("pairs").get)
    }
    ValidationResult.verdict(r, failed, total, 0.0, Map("keys" -> keys.mkString(",")) ++ unit ++
      (if (promoted) Map("partitioned" -> "true") else own))
  }

  private def timeless(r: ValidationResult) = r.copy(execution_time_ms = 0.0)

  test("the grouped walk reproduces every per-family partition and promoted global verdict") {
    val df = turns
    val all = suite(covers = false) ++ suite(covers = true)
    val v = new Validator(spark, ValidationConfig())
    val rows = df.count()
    // without u1, the conv_id functional_dependency rules ride the ordered
    // (conv_id; turn_idx) walk instead of u1's unordered one
    Seq(all, all.filterNot(_.name.startsWith("u1"))).foreach { rules =>
      val (summary, verdicts) = v.executeRulesPartitioned(df, rules, "t", Some(part))
      rules.foreach { r =>
        val expected = reference(df, r)
        withClue(s"${r.name} of ${rules.size}") {
          verdicts.filter(_.rule_name == r.name).sortBy(x => Option(x.partition)) shouldBe
            expected.sortBy(x => Option(x.partition))
          val res = summary.results.find(_.rule_name == r.name).get
          res.failed_count should be >= 0L
          if (r.paramBool("partition_covers_key")) {
            val keys = (if (r.columns.nonEmpty) r.columns else Seq(r.column)).mkString(",")
            val (total, unit) =
              if (r.ruleType == RuleType.Uniqueness) (rows, Map.empty[String, String])
              else (expected.map(_.total_count).sum, Map("unit" -> "groups"))
            timeless(res) shouldBe timeless(ValidationResult.verdict(r,
              expected.map(_.failed_count).sum, total, 0.0,
              Map("keys" -> keys, "partitioned" -> "true") ++ unit))
          }
        }
      }
      // the fixture exercises what it claims to: a walk member of the
      // all-excluded partition is an explicit empty verdict, and each
      // family has both passing and failing partitions somewhere
      verdicts.find(x => x.rule_name == "seq" && x.partition == "7").get.total_count shouldBe 0L
      verdicts.find(x => x.rule_name == "u2" && x.partition == "7").get.failed_count shouldBe 1L
      Seq("u2", "u3", "seq0", "mono", "strict", "desc", "grammar", "firstlast",
          "fd", "fd2", "subfd", "subonly_fd").foreach { n =>
        withClue(n) { verdicts.filter(_.rule_name == n).map(_.failed_count).sum should be > 0L }
      }
    }
  }

  test("walk error isolation: bad members report their own errors, the rest keep real verdicts") {
    val df = turns
    val good = suite(covers = true)
    val missingValue = ValidationRule("mono_bad", RuleType.Monotonic, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "no_such_col",
        "partition_covers_key" -> "true"))
    val badPairs = ValidationRule("grammar_bad", RuleType.Transition, Seq("conv_id"),
      parameters = Map("order_by" -> "turn_idx", "value" -> "role",
        "pairs" -> "user=>assistant", "partition_covers_key" -> "true"))
    val v = new Validator(spark, ValidationConfig())
    // the partitioned pass, and the unpartitioned one (the flags unread)
    Seq(Some(part), None).foreach { p =>
      val (s0, v0) = v.executeRulesPartitioned(df, good, "t", p)
      val (s1, v1) = v.executeRulesPartitioned(df,
        good.take(7) ++ Seq(missingValue) ++ good.drop(7) ++ Seq(badPairs), "t", p)
      val res = s1.results.map(r => r.rule_name -> r).toMap
      res("mono_bad").failed_count shouldBe -1L
      res("mono_bad").message should include("no_such_col")
      res("grammar_bad").failed_count shouldBe -1L
      res("grammar_bad").message should include("user=>assistant")
      v1.filter(x => x.rule_name.endsWith("_bad")) shouldBe empty
      good.foreach { r =>
        withClue(s"${r.name} partitioned=${p.isDefined}") {
          res(r.name).failed_count should be >= 0L
          timeless(res(r.name)) shouldBe timeless(s0.results.find(_.rule_name == r.name).get)
          v1.filter(_.rule_name == r.name).toSet shouldBe v0.filter(_.rule_name == r.name).toSet
        }
      }
    }
  }

  test("a shared walk that fails at runtime re-runs its members one at a time") {
    // the index span overflows INT under ANSI arithmetic: only the
    // sequence rule's violation test raises, at run time
    val df = turns.unionByName(Seq[(Option[String], String, Option[Int], Option[Long], Option[String])](
      (Some("o"), "x", Some(Int.MinValue), Some(1L), Some("user")),
      (Some("o"), "x", Some(Int.MaxValue), Some(2L), Some("assistant"))
    ).toDF("conv_id", "sub", "turn_idx", "ts", "role"))
    val rules = suite(covers = true).filter(r => Set("u2_c", "mono_c", "grammar_c")(r.name))
    val overflow = ValidationRule("seq_overflow", RuleType.Sequence, Seq("conv_id"),
      parameters = Map("index" -> "turn_idx", "partition_covers_key" -> "true"))
    val v = new Validator(spark, ValidationConfig())
    // the partitioned pass, and the unpartitioned one (the flags unread)
    Seq(Some(part), None).foreach { p =>
      val (alone, _) = v.executeRulesPartitioned(df, Seq(overflow), "t", p)
      val (s0, v0) = v.executeRulesPartitioned(df, rules, "t", p)
      val (s1, v1) = v.executeRulesPartitioned(df, rules :+ overflow, "t", p)
      Seq(alone.results.head, s1.results.find(_.rule_name == "seq_overflow").get).foreach { r =>
        r.failed_count shouldBe -1L
        r.message.toLowerCase should include("overflow")
      }
      rules.foreach { r =>
        withClue(s"${r.name} partitioned=${p.isDefined}") {
          s1.results.find(_.rule_name == r.name).get.failed_count should be >= 0L
          timeless(s1.results.find(_.rule_name == r.name).get) shouldBe
            timeless(s0.results.find(_.rule_name == r.name).get)
          v1.filter(_.rule_name == r.name).toSet shouldBe v0.filter(_.rule_name == r.name).toSet
        }
      }
    }
  }

  test("every entry path gives the walk families' global verdicts of the reference pipelines") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rules = suite(covers = false) ++ suite(covers = true)
    val config = ValidationConfig(tables = Seq(TableConfig("t", rules)))
    val v = new Validator(spark, config)
    def byName(s: ValidationSummary) = s.results.map(r => r.rule_name -> timeless(r)).toMap
    /** One micro-batch of `data` through StreamValidator's per-batch path. */
    def streamed(data: Seq[Turn]): ValidationSummary = {
      val stream = MemoryStream[Turn]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[ValidationSummary]()
      val query = StreamValidator.start(spark, stream.toDF().toDF(columns: _*), config, "t",
        checkpointDir = java.nio.file.Files.createTempDirectory("walk_stream").toString,
        triggerMs = 100L, onResult = o => out.add(o.summary))
      try {
        stream.addData(data)
        query.processAllAvailable()
      } finally query.stop()
      out.size shouldBe 1
      out.peek()
    }
    val tables = Seq(
      "adversarial" -> turnRows,
      "empty" -> Seq.empty[Turn],
      "all-NULL keys" -> turnRows.map(_.copy(_1 = None)))
    tables.foreach { case (name, data) =>
      val df = data.toDF(columns: _*)
      val nonEmpty = data.nonEmpty
      // the delta is the table: every affected-groups frame is the whole
      // table, and the frame tags each walk result
      val incremental = v.validateTableIncremental(df, df, "t")
      incremental.results.foreach(_.metadata.get("incremental") shouldBe Some("affected_groups"))
      val paths = Seq(
        "executeRules" -> byName(v.executeRules(df, rules, "t")),
        "executeRulesPartitioned" -> byName(v.executeRulesPartitioned(df, rules, "t", Some(part))._1),
        "validateTableIncremental" -> byName(incremental).map {
          case (n, r) => n -> r.copy(metadata = r.metadata - "incremental")
        },
        "StreamValidator" -> byName(streamed(data)))
      rules.foreach { r =>
        val expected = globalReference(df, r, promoted = false)
        val promoted = globalReference(df, r,
          promoted = nonEmpty && r.paramBool("partition_covers_key"))
        paths.foreach { case (path, results) =>
          withClue(s"$name / $path / ${r.name}") {
            results(r.name) shouldBe (if (path == "executeRulesPartitioned") promoted else expected)
          }
        }
      }
    }
  }

  /** Dim of the referential tests: duplicate and NULL keys, a key no fact
    * row has, and "a"/"b" spelled as `id` too (a differently named
    * ref_column). */
  private def dim: DataFrame = Seq[(Option[String], Option[String])](
    (Some("a"), Some("a")), (Some("b"), Some("b")), (Some("b"), Some("b")),
    (None, None), (Some("z"), None), (Some("q"), Some("q"))).toDF("conv_id", "id")

  private def refRules: Seq[ValidationRule] = Seq(
    ValidationRule("ref_b", RuleType.Referential, Seq("conv_id"), threshold = Some(0.5),
      parameters = Map("ref_table" -> "dim", "broadcast" -> "true")),
    ValidationRule("ref_s", RuleType.Referential, Seq("conv_id"),
      parameters = Map("ref_table" -> "dim", "broadcast" -> "false")),
    ValidationRule("ref_id", RuleType.Referential, Seq("conv_id"),
      parameters = Map("ref_table" -> "dim", "ref_column" -> "id")))

  /** The referential fixture: the walk fixture plus a hot orphan key. */
  private val refRows: Seq[Turn] =
    turnRows ++ (0 until 40).map(i => (Some("h"), "x", Some(i), Some(i.toLong), Some("user")))

  /** A partition expression NOT derived from the key: conversations
    * straddle its partitions. */
  private def straddling: Column = pmod(coalesce(col("turn_idx"), lit(-1)), lit(3))

  /** Reference result of a referential rule over `df`, globally and per
    * partition of `p`: [[Checks.orphans]] counted, and [[Checks.orphanCount]]
    * for the global count. */
  private def refReference(df: DataFrame, r: ValidationRule, p: Column,
      partitioned: Boolean): (ValidationResult, Seq[PartitionVerdict]) = {
    val refColumn = r.param("ref_column").getOrElse("conv_id")
    val orphans = Checks.orphans(df, "conv_id", dim, refColumn, r.paramBool("broadcast"))
    val failed = Checks.orphanCount(df, "conv_id", dim, refColumn)
    orphans.count() shouldBe failed
    val byPart = orphans.groupBy(p.as("__part")).count().collect()
      .map(x => Checks.partKeyString(x.get(0)) -> x.getLong(1)).toMap
    val totals = df.groupBy(p.as("__part")).count().collect()
      .map(x => Checks.partKeyString(x.get(0)) -> x.getLong(1)).toMap
    val verdicts = totals.toSeq.map { case (part, n) =>
      val f = byPart.getOrElse(part, 0L)
      val rate = if (n == 0) 1.0 else (n - f).toDouble / n
      PartitionVerdict(part, r.name, ValidationResult.passedOf(r.threshold, f, rate), f, n, rate)
    }
    (ValidationResult.verdict(r, failed, df.count(), 0.0,
      Map("ref_table" -> "dim", "ref_column" -> refColumn) ++
        (if (partitioned) Map("partitioned" -> "true") else Map.empty)), verdicts)
  }

  test("referential rules ride the walk on every entry path with the reference's results") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val walkRules = suite(covers = true)
    val rules = refRules ++ walkRules
    val config = ValidationConfig(tables = Seq(TableConfig("t", rules)))
    val resolve = (n: String) => if (n == "dim") Some(dim) else None
    val v = new Validator(spark, config, resolve)
    def byName(s: ValidationSummary) = s.results.map(r => r.rule_name -> timeless(r)).toMap
    def streamed(data: Seq[Turn]): ValidationSummary = {
      val stream = MemoryStream[Turn]
      val out = new java.util.concurrent.ConcurrentLinkedQueue[ValidationSummary]()
      val query = StreamValidator.start(spark, stream.toDF().toDF(columns: _*), config, "t",
        checkpointDir = java.nio.file.Files.createTempDirectory("ref_stream").toString,
        triggerMs = 100L, onResult = o => out.add(o.summary), tableResolver = resolve)
      try {
        stream.addData(data)
        query.processAllAvailable()
      } finally query.stop()
      out.size shouldBe 1
      out.peek()
    }
    Seq(
      "adversarial" -> refRows,
      "empty" -> Seq.empty[Turn],
      "all-NULL keys" -> refRows.map(_.copy(_1 = None))).foreach { case (name, data) =>
      val df = data.toDF(columns: _*)
      val incremental = byName(v.validateTableIncremental(df, df, "t"))
      val global = Seq(
        "executeRules" -> byName(v.executeRules(df, rules, "t")),
        "validateTableIncremental" -> incremental.map {
          case (n, r) => n -> r.copy(metadata = r.metadata - "incremental")
        },
        "StreamValidator" -> byName(streamed(data)))
      refRules.foreach(r => incremental(r.name).metadata.get("incremental") shouldBe Some("full"))
      // partitioned: by the key's bucket or straddling it, alone or beside
      // walk rules on the same key
      val partitioned = for {
        (pn, p) <- Seq("keyed" -> part, "straddling" -> straddling)
        (wn, rs) <- Seq("alone" -> refRules, "with walk rules" -> rules)
      } yield (s"$pn, $wn", p, v.executeRulesPartitioned(df, rs, "t", Some(p)))
      refRules.foreach { r =>
        global.foreach { case (path, results) =>
          withClue(s"$name / $path / ${r.name}") {
            results(r.name) shouldBe timeless(refReference(df, r, part, partitioned = false)._1)
          }
        }
        partitioned.foreach { case (path, p, (summary, verdicts)) =>
          withClue(s"$name / executeRulesPartitioned $path / ${r.name}") {
            val (expected, expectedVerdicts) = refReference(df, r, p, partitioned = data.nonEmpty)
            byName(summary)(r.name) shouldBe timeless(expected)
            verdicts.filter(_.rule_name == r.name).sortBy(x => Option(x.partition)) shouldBe
              expectedVerdicts.sortBy(x => Option(x.partition))
          }
        }
      }
      // the walk rules beside the referential ones keep their own results
      val (alone, aloneVerdicts) = v.executeRulesPartitioned(df, walkRules, "t", Some(part))
      val (mixed, mixedVerdicts) = partitioned(1)._3
      walkRules.foreach { r =>
        withClue(s"$name / ${r.name}") {
          byName(mixed)(r.name) shouldBe byName(alone)(r.name)
          mixedVerdicts.filter(_.rule_name == r.name).toSet shouldBe
            aloneVerdicts.filter(_.rule_name == r.name).toSet
        }
      }
      if (name == "adversarial") Seq("ref_b", "ref_s", "ref_id").foreach { n =>
        global.head._2(n).failed_count should be > 40L // the hot orphan and more
      }
    }
  }

  test("a referential rule with an unknown ref_table or ref_column fails alone") {
    val df = refRows.toDF(columns: _*)
    val v = new Validator(spark, ValidationConfig(), n => if (n == "dim") Some(dim) else None)
    val good = refRules ++ suite(covers = true)
    val badTable = ValidationRule("ref_bad_table", RuleType.Referential, Seq("conv_id"),
      parameters = Map("ref_table" -> "no_such_dim"))
    val badColumn = ValidationRule("ref_bad_column", RuleType.Referential, Seq("conv_id"),
      parameters = Map("ref_table" -> "dim", "ref_column" -> "no_such_col"))
    Seq(Some(part), None).foreach { p =>
      val (s0, v0) = v.executeRulesPartitioned(df, good, "t", p)
      val (s1, v1) = v.executeRulesPartitioned(df, badTable +: good :+ badColumn, "t", p)
      val res = s1.results.map(r => r.rule_name -> r).toMap
      res("ref_bad_table").failed_count shouldBe -1L
      res("ref_bad_table").message should include("no_such_dim")
      res("ref_bad_column").failed_count shouldBe -1L
      res("ref_bad_column").message should include("no_such_col")
      v1.filter(_.rule_name.startsWith("ref_bad")) shouldBe empty
      good.foreach { r =>
        withClue(s"${r.name} partitioned=${p.isDefined}") {
          res(r.name).failed_count should be >= 0L
          timeless(res(r.name)) shouldBe timeless(s0.results.find(_.rule_name == r.name).get)
          v1.filter(_.rule_name == r.name).toSet shouldBe v0.filter(_.rule_name == r.name).toSet
        }
      }
    }
  }

  /** Distinct SQL executions among the walk jobs (`<table> group-walk`):
    * one per walk key when no walk is re-run. */
  private def walkExecutions(table: String, jobs: Seq[(String, String, String)]): Int =
    jobs.filter(_._1 == s"$table group-walk").map(_._3).distinct.size

  test("a cancelled walk reports the cancellation instead of re-running its members") {
    // an RDD-backed frame, so the optimizer cannot fold the gated filter
    // into a local relation at planning time: every scan runs in a job
    val df = spark.createDataFrame(turns.rdd, turns.schema).filter(udf { (s: String) =>
      WalkGate.open.await(60, java.util.concurrent.TimeUnit.SECONDS); s != null
    }.apply(col("sub")))
    val rules = suite(covers = true)
    val walkKeys = GroupWalk.walks(rules.flatMap(r => GroupWalk.member(df, r, _ => None).toOption)).size
    walkKeys should be > 1
    val sc = spark.sparkContext
    val walksStarted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val allStarted = scala.concurrent.Promise[Unit]()
    WalkGate.open = new java.util.concurrent.CountDownLatch(1)
    val jobs = jobsDuring(
      onStart = j => if (j._1 == "tcancel group-walk") {
        walksStarted.add(j._3)
        if (walksStarted.size >= walkKeys) allStarted.trySuccess(())
      },
      body = {
        val pass = new Thread(() => {
          sc.setJobGroup("walk-cancel", "cancelled pass")
          try new Validator(spark, ValidationConfig())
            .executeRulesPartitioned(df, rules, "tcancel", Some(part))
          catch { case _: Throwable => () }
          ()
        })
        pass.start()
        // every scan waits at the gate until each walk's job has started
        // and the pass's group is cancelled
        try {
          scala.concurrent.Await.result(allStarted.future,
            scala.concurrent.duration.Duration(60, "s"))
          sc.cancelJobGroup("walk-cancel")
        } finally WalkGate.open.countDown()
        pass.join()
      })
    walkExecutions("tcancel", jobs) shouldBe walkKeys
  }

  test("a cancelled fused job reports the cancellation instead of re-running its rules") {
    val df = spark.createDataFrame(turns.rdd, turns.schema).filter(udf { (s: String) =>
      WalkGate.open.await(60, java.util.concurrent.TimeUnit.SECONDS); s != null
    }.apply(col("sub")))
    val rules = Seq(
      ValidationRule("role_c", RuleType.Completeness, Seq("role"), threshold = Some(0.5)),
      ValidationRule("ts_c", RuleType.Completeness, Seq("ts"), threshold = Some(0.5)))
    val sc = spark.sparkContext
    val fusedStarted = scala.concurrent.Promise[Unit]()
    WalkGate.open = new java.util.concurrent.CountDownLatch(1)
    @volatile var summary: ValidationSummary = null
    val jobs = jobsDuring(
      onStart = j => if (j._1 == "tfcancel fused-stats") fusedStarted.trySuccess(()),
      body = {
        val pass = new Thread(() => {
          sc.setJobGroup("fused-cancel", "cancelled pass")
          summary = new Validator(spark, ValidationConfig())
            .executeRulesPartitioned(df, rules, "tfcancel", None)._1
        })
        pass.start()
        try {
          scala.concurrent.Await.result(fusedStarted.future,
            scala.concurrent.duration.Duration(60, "s"))
          sc.cancelJobGroup("fused-cancel")
        } finally WalkGate.open.countDown()
        pass.join()
      })
    jobs.map(_._1) should not contain "tfcancel fused-stats rerun"
    summary.results.map(_.rule_name) shouldBe rules.map(_.name)
    all(summary.results.map(_.failed_count)) shouldBe -1L
  }

  test("a cancelled incremental pass reports the cancellation instead of re-running any rule") {
    val df = spark.createDataFrame(turns.rdd, turns.schema).filter(udf { (s: String) =>
      WalkGate.open.await(60, java.util.concurrent.TimeUnit.SECONDS); s != null
    }.apply(col("sub")))
    // walk rules on two key sets (one affected-groups frame each), a row
    // rule (the delta frame) and a table size (the full frame)
    val walkRules = suite(covers = false).filter(r => Set("u2", "seq", "mono", "grammar", "fd")(r.name))
    val rules = walkRules ++ Seq(
      ValidationRule("role_c", RuleType.Completeness, Seq("role"), threshold = Some(0.5)),
      ValidationRule("size", RuleType.RowCount, Seq(), parameters = Map("min_rows" -> "1")))
    val frameWalks = walkRules.groupBy(_.columns.toSet).values.toSeq.flatMap(rs =>
      GroupWalk.walks(rs.flatMap(r => GroupWalk.member(df, r, _ => None).toOption)))
    frameWalks.exists(_._2.size > 1) shouldBe true
    val sc = spark.sparkContext
    val walksStarted = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val allStarted = scala.concurrent.Promise[Unit]()
    WalkGate.open = new java.util.concurrent.CountDownLatch(1)
    @volatile var summary: ValidationSummary = null
    val v = new Validator(spark, ValidationConfig(tables = Seq(TableConfig("tinc", rules))))
    val jobs = jobsDuring(
      onStart = j => if (j._1 == "tinc group-walk global") {
        walksStarted.add(j._3)
        if (walksStarted.size >= frameWalks.size) allStarted.trySuccess(())
      },
      body = {
        val pass = new Thread(() => {
          sc.setJobGroup("incremental-cancel", "cancelled pass")
          summary = v.validateTableIncremental(df, df, "tinc")
        })
        pass.start()
        // every scan waits at the gate until each frame's walk has started
        // and the pass's group is cancelled
        try {
          scala.concurrent.Await.result(allStarted.future,
            scala.concurrent.duration.Duration(60, "s"))
          sc.cancelJobGroup("incremental-cancel")
        } finally WalkGate.open.countDown()
        pass.join()
      })
    jobs.map(_._1) should not contain "tinc fused-stats rerun"
    // one SQL execution per walk: no member re-ran alone
    jobs.filter(_._1 == "tinc group-walk global").map(_._3).distinct.size shouldBe frameWalks.size
    summary.results.map(_.rule_name) shouldBe rules.map(_.name)
    summary.results.foreach { r =>
      withClue(s"${r.rule_name}: ${r.message}") {
        (r.failed_count >= 0 || r.message.toLowerCase.contains("cancel")) shouldBe true
      }
    }
    all(walkRules.map(r => summary.results.find(_.rule_name == r.name).get.failed_count)) shouldBe -1L
  }

  test("a walk over too many partition buckets reports the guard instead of re-running") {
    val v = new Validator(spark, ValidationConfig())
    val df = spark.range(0, v.maxPartitionBuckets + 1L)
      .select(col("id"), (col("id") % 3).cast("int").as("turn_idx"))
    val rules = Seq(
      ValidationRule("ids_unique", RuleType.Uniqueness, Seq("id", "turn_idx")),
      ValidationRule("ids_seq", RuleType.Sequence, Seq("id"),
        parameters = Map("index" -> "turn_idx")))
    var summary: ValidationSummary = null
    val jobs = jobsDuring {
      summary = v.executeRulesPartitioned(df, rules, "tguard", Some(col("id")))._1
    }
    walkExecutions("tguard", jobs) shouldBe 1
    summary.results.map(_.rule_name).toSet shouldBe rules.map(_.name).toSet
  }
  test("functional_dependency dependents: NaN, signed zeros and NULL floats count as grouping does") {
    val nan = Double.NaN
    val df = Seq[(Option[String], Int, Option[Double], Option[Double])](
      (Some("nan"), 0, Some(nan), Some(1.0)), (Some("nan"), 1, Some(nan), Some(1.0)),
      (Some("zero"), 0, Some(-0.0), Some(0.0)), (Some("zero"), 1, Some(0.0), Some(-0.0)),
      (Some("null"), 0, None, None), (Some("null"), 1, None, None),
      (Some("null1"), 0, None, Some(1.0)), (Some("null1"), 1, Some(1.0), Some(1.0)),
      (Some("nan1"), 0, Some(nan), None), (Some("nan1"), 1, Some(1.0), None), (Some("nan1"), 2, None, None),
      (Some("nannull"), 0, Some(nan), Some(2.0)), (Some("nannull"), 1, None, Some(2.0)),
      (Some("pair"), 0, Some(1.0), None), (Some("pair"), 1, Some(1.0), Some(2.0)),
      (None, 0, Some(-0.0), None), (None, 1, Some(0.0), None)
    ).toDF("k", "i", "x", "y")
    val p = pmod(xxhash64(col("k")), lit(3L))
    val fds = for {
      dep <- Seq("x", "y", "x,y")
      covers <- Seq(false, true)
    } yield ValidationRule(s"fd_${dep.replace(",", "")}${if (covers) "_c" else ""}",
      RuleType.FunctionalDependency, Seq("k"), threshold = Some(0.5),
      parameters = Map("dependent" -> dep) ++
        (if (covers) Map("partition_covers_key" -> "true") else Map.empty))
    // the walks an FD rule on k can ride: its own, an unordered one with and
    // without an index, an ordered one
    val hosts = Seq(
      "alone" -> Nil,
      "unordered" -> Seq(ValidationRule("u", RuleType.Uniqueness, Seq("k"))),
      "unordered, indexed" -> Seq(ValidationRule("ui", RuleType.Uniqueness, Seq("k", "i"))),
      "ordered" -> Seq(ValidationRule("m", RuleType.Monotonic, Seq("k"),
        parameters = Map("order_by" -> "i", "value" -> "y"))))
    val v = new Validator(spark, ValidationConfig())
    def verdict(r: ValidationRule, part: String, failed: Long, total: Long) = {
      val rate = if (total == 0) 1.0 else (total - failed).toDouble / total
      PartitionVerdict(part, r.name, ValidationResult.passedOf(r.threshold, failed, rate),
        failed, total, rate)
    }
    fds.foreach { r =>
      val dep = dependent(r)
      val groups = Checks.fdGroups(df.withColumn("__part", p), Seq("__part", "k"), dep)
        .groupBy("__part").agg(count(lit(1)), sum(when(Checks.fdViolationCond, 1L).otherwise(0L)))
        .collect().map(x => verdict(r, Checks.partKeyString(x.get(0)), x.getLong(2), x.getLong(1)))
      val global = Checks.fdGroups(df, Seq("k"), dep)
      val (total, failed) = (global.count(), global.filter(Checks.fdViolationCond).count())
      failed shouldBe Map("x" -> 3L, "y" -> 1L, "xy" -> 4L)(dep.mkString)
      val own = ValidationResult.verdict(r, failed, total, 0.0,
        Map("keys" -> "k", "dependent" -> dep.mkString(","), "unit" -> "groups"))
      val promoted = ValidationResult.verdict(r, failed, total, 0.0,
        Map("keys" -> "k", "unit" -> "groups", "partitioned" -> "true"))
      hosts.foreach { case (host, rs) =>
        withClue(s"${r.name} / $host") {
          timeless(v.executeRules(df, rs :+ r, "t").results.last) shouldBe own
          val (summary, verdicts) = v.executeRulesPartitioned(df, rs :+ r, "t", Some(p))
          timeless(summary.results.last) shouldBe
            (if (r.paramBool("partition_covers_key")) promoted else own)
          verdicts.filter(_.rule_name == r.name).sortBy(_.partition) shouldBe groups.sortBy(_.partition)
        }
      }
    }
  }

  test("a functional_dependency rider adds no Sort to an ordered walk and keeps its hash aggregates") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val df = turns
    val walkRules = Seq(
      ValidationRule("ts_mono", RuleType.Monotonic, Seq("conv_id"),
        parameters = Map("order_by" -> "turn_idx", "value" -> "ts")),
      ValidationRule("roles", RuleType.Transition, Seq("conv_id"),
        parameters = Map("order_by" -> "turn_idx", "value" -> "role", "pairs" -> "user->assistant")))
    val fd = ValidationRule("role_of_sub", RuleType.FunctionalDependency, Seq("conv_id"),
      parameters = Map("dependent" -> "role,sub"))
    val helper = new AdaptiveSparkPlanHelper {}
    def operators(rules: Seq[ValidationRule]): (Int, Int, Int) = {
      val walks = GroupWalk.walks(rules.map(r => GroupWalk.member(df, r, _ => None).toOption.get))
      walks should have size 1
      val (key, members) = walks.head
      val frame = GroupWalk.frame(df, key, members, part)
      frame.collect()
      val plan: SparkPlan = frame.queryExecution.executedPlan
      (helper.collect(plan) { case s: SortExec => s }.size,
        helper.collect(plan) { case a: HashAggregateExec => a }.size,
        helper.collect(plan) { case a: SortAggregateExec => a }.size)
    }
    val (sorts, hashAggs, sortAggs) = operators(walkRules)
    sortAggs shouldBe 0
    operators(walkRules :+ fd) shouldBe ((sorts, hashAggs, 0))
  }
}

/** Holds every scan of the cancellation test's table until the test has
  * cancelled the pass's job group. */
object WalkGate {
  @volatile var open = new java.util.concurrent.CountDownLatch(0)
}
