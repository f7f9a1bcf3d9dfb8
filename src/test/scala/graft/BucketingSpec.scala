package graft

import org.apache.spark.sql.functions._

/** Bucketed-table co-location: the at-rest layout that removes the shuffle
  * from repeated key-joins (referential checks, uniqueness audits) over the
  * same join key — the design the 100 TB deployment would use for the
  * turns ⋈ conv_index join. */
class BucketingSpec extends SparkSpec {

  test("re-declared external bucketed turns table: no exchange for key grouping; results layout-invariant") {
    import graft.bench.TranscriptSuite
    val dir = java.nio.file.Files.createTempDirectory("bucketed_turns").toString
    try {
      // session A materializes (bucketed write + schema DDL sidecar)
      val n = TranscriptSuite.materialize(spark, dir, numConvs = 300L, shufflePartitions = 4)
      n should be > 0L
      // simulate a FRESH session's empty catalog: drop the metadata, keep files
      spark.sql("DROP TABLE IF EXISTS graft_bench_turns")
      val turns = TranscriptSuite.openTurns(spark, dir)
      turns.count() shouldBe n
      // composite-key uniqueness grouping: bucketing on conv_id co-locates
      // every (conv_id, turn_idx) — the 28M-row exchange disappears
      val uniq = turns
        .groupBy(pmod(xxhash64(col("conv_id")), lit(8)).cast("string").as("__part"),
          col("conv_id"), col("turn_idx"))
        .agg(count(lit(1)).as("__cnt"))
      uniq.collect()
      val plan = uniq.queryExecution.executedPlan.toString
      plan should not include "Exchange hashpartitioning"
      // sequence-rule pipeline: both grouped phases ((conv_id, turn_idx)
      // dedup, then conv_id stats) are satisfied by the conv_id bucketing —
      // the whole dense-index check reads at-rest data with no exchange
      val seq = graft.engine.Checks.sequenceGroups(turns, Seq("conv_id"), "turn_idx")
      seq.collect()
      seq.queryExecution.executedPlan.toString should not include "Exchange hashpartitioning"
      // monotonic-rule pipeline: the window partitions by conv_id, which the
      // bucketing satisfies — no exchange, only the per-bucket sort
      val mono = graft.engine.Checks.monotonicGroups(turns, Seq("conv_id"), "turn_idx", "ts")
      mono.collect()
      mono.queryExecution.executedPlan.toString should not include "Exchange hashpartitioning"
      // conversation assembly: the collect_list aggregate groups by conv_id
      // — the render of 28M turns into documents shuffles NOTHING at rest
      val docs = graft.operators.Curation.assembleConversations(turns)
      docs.collect()
      docs.queryExecution.executedPlan.toString should not include "Exchange hashpartitioning"
      // and the verdict math is identical to the unbucketed formulation
      val fromBucketed = uniq.groupBy("__part")
        .agg((sum("__cnt") - count(lit(1))).as("f"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val plain = graft.io.Transcripts
        .turns(spark, graft.io.TranscriptConfig(numConvs = 300L, hotConvExtraTurns = 30L))
        .groupBy(pmod(xxhash64(col("conv_id")), lit(8)).cast("string").as("__part"),
          col("conv_id"), col("turn_idx"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy("__part").agg((sum("__cnt") - count(lit(1))).as("f"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      fromBucketed shouldBe plain
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bench_turns")
    }
  }

  test("the suite's four walk rules plan one scan, at most two sorts, no exchange below the roll-up") {
    import graft.bench.TranscriptSuite
    import graft.engine.GroupWalk
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("bucketed_walk").toString
    try {
      TranscriptSuite.materialize(spark, dir, numConvs = 300L, shufflePartitions = 4)
      spark.sql("DROP TABLE IF EXISTS graft_bench_turns")
      val turns = TranscriptSuite.openTurns(spark, dir)
      val names = Set("key_uniqueness", "turn_sequence", "ts_monotonic", "role_grammar")
      val members = TranscriptSuite.rules.filter(r => names(r.name))
        .map(r => GroupWalk.member(turns, r, _ => None).toOption.get)
      members should have size 4
      members.map(_.key).distinct should have size 1
      val walk = GroupWalk.frame(turns, members.head.key, members,
        pmod(xxhash64(col("conv_id")), lit(32)))
      walk.collect()
      val plan = walk.queryExecution.executedPlan
      val helper = new AdaptiveSparkPlanHelper {}
      helper.collect(plan) { case s: FileSourceScanExec => s } should have size 1
      helper.collect(plan) { case s: SortExec => s }.size should be <= 2
      // the only hash exchange is the roll-up's, on the partition key
      helper.collect(plan) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
          e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
            .flatMap(_.references.map(_.name))
      } shouldBe Seq(Seq("__part"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bench_turns")
    }
  }

  test("pre-bucketed tables join without an exchange on either side") {
    val sf = "/root/testdata/sf0.001"
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.read.parquet(s"$sf/lineitem.parquet")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
      spark.read.parquet(s"$sf/orders.parquet")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("ord_bucketed")

      val j = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      // the join itself must not reshuffle its inputs: no Exchange below the
      // SortMergeJoin (the final single-partition agg exchange is expected)
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      joinSection should not include "Exchange hashpartitioning(l_orderkey"
      joinSection should not include "Exchange hashpartitioning(o_orderkey"
      plan should include("SortMergeJoin")
      // and results are correct
      j.agg(sum("n")).head().getLong(0) shouldBe
        spark.read.parquet(s"$sf/lineitem.parquet")
          .join(spark.read.parquet(s"$sf/orders.parquet"),
            col("l_orderkey") === col("o_orderkey")).count()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("keyed table diff over a key-bucketed snapshot plans ZERO exchanges") {
    // the 100 TB diff shape: reference snapshot bucketed by the key; the
    // current slice derives from the same layout (filter/project preserve
    // partitioning). Both per-key aggregations are satisfied by the
    // bucketing and the full-outer join runs co-partitioned — the entire
    // diff reads at-rest data with no shuffle at all.
    val sf = "/root/testdata/sf0.001"
    try {
      spark.read.parquet(s"$sf/orders.parquet").filter(col("o_orderkey").isNotNull)
        .write.bucketBy(8, "o_orderkey").mode("overwrite").saveAsTable("diff_ref")
      val ref = spark.table("diff_ref")
      val cur = ref.filter(col("o_orderkey") % 97 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 31 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val d = graft.engine.Checks.tableDiff(cur, ref,
        Seq("o_orderkey"), Seq("o_totalprice"))
      val byStatus = d.filter(graft.engine.Checks.diffViolationCond)
        .groupBy("status").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      d.queryExecution.executedPlan.toString should not include "Exchange hashpartitioning"
      // and the classification is right: %97 keys removed, the surviving
      // %31 keys changed, nothing added
      val keys = ref.select("o_orderkey").distinct()
        .collect().map(_.getLong(0)).toSet
      byStatus.getOrElse("removed", 0L) shouldBe keys.count(_ % 97 == 0).toLong
      byStatus.getOrElse("changed", 0L) shouldBe
        keys.count(k => k % 31 == 0 && k % 97 != 0).toLong
      byStatus.getOrElse("added", 0L) shouldBe 0L
    } finally {
      spark.sql("DROP TABLE IF EXISTS diff_ref")
    }
  }
}
