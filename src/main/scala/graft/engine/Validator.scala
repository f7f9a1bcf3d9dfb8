package graft.engine

import graft._
import graft.state.Checkpoint
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/** Orchestration: validateTable / validateAllTables / report assembly.
  * Semantics mirror the reference (`/root/reference/src/data_validator/
  * validator.py:71-162`, `engines/__init__.py:74-114`), with the per-rule
  * execution re-planned into fused Spark jobs (see [[RulePlanner]]).
  */
class Validator(
    spark: SparkSession,
    config: ValidationConfig,
    /** resolver for referential rules: table name → DataFrame */
    tableResolver: String => Option[DataFrame] = _ => None,
    checkpoint: Option[Checkpoint] = None
) extends AutoCloseable {
  config.validateSqlRules()

  /** Release validator-held resources (reference context-manager exit,
    * `validator.py:303-310`, which disconnects the engine IT owns). This
    * validator borrows the caller's SparkSession — never stopped here —
    * and custom-rule temp views are already dropped per rule, so close()
    * is a no-op today; it exists so `scala.util.Using(new Validator(...))`
    * mirrors the reference's `with DataValidator(...)` and so resource
    * acquisition can grow without an API break. */
  override def close(): Unit = ()

  private val viewCounter = new AtomicLong(0)

  /** Execute all enabled rules for `tableName` against `df` — the
    * unpartitioned case of [[executeRulesPartitioned]]: one frame submitted
    * ([[submitFrame]]), then collected. Fusible rules share ONE aggregate
    * job; all drift rules share one multi-histogram scan per table side and
    * all outlier rules one batch; uniqueness, sequence, monotonic and
    * transition rules share one group-walk job per walk key, and
    * referential and functional_dependency rules ride the walk grouped by
    * their columns (see [[GroupWalk]]); every other rule is its own job.
    * Result order matches rule order (globals first — observable
    * contract). */
  def executeRules(df: DataFrame, rules: Seq[ValidationRule], tableName: String): ValidationSummary =
    executeRulesPartitioned(df, rules, tableName, None)._1

  /** Maximum distinct values a partition expression may produce. Verdicts
    * collect O(partitions × rules) rows to the driver, so the expression
    * must be a BUCKETING expression (e.g. `pmod(xxhash64(col), lit(32))`),
    * never a raw high-cardinality column — enforced after the grouped
    * aggregate, before anything else collects. */
  val maxPartitionBuckets: Int = 65536

  /** Like [[executeRules]] but, when `partitionExpr` is given, per-partition
    * verdicts come out alongside the global ones. Every rule's global
    * result comes from exactly one section:
    *  - fusible rules: the fused aggregate groups by the expression — global
    *    counts are the driver-side roll-up of the SAME single pass; when the
    *    shared job fails, each of its rules re-runs alone;
    *  - uniqueness, sequence, monotonic, transition, functional_dependency:
    *    one group-walk job per walk key over the partition expression (see
    *    [[GroupWalk]]); a
    *    partition's verdict assesses the rule WITHIN that partition
    *    (cross-partition duplicates or groups appear only in the global
    *    verdict, so per-partition failure counts sum to the global count
    *    exactly when the partition expression is derived from the key — the
    *    recommended layout). A rule declaring `partition_covers_key=true`
    *    takes its global verdict from that walk's roll-up; every other rule
    *    gets it from a second walk per key over one constant partition,
    *    which is also the only walk of an unpartitioned pass;
    *  - referential: a member of the partition-level walk grouped by its
    *    column (or of its own hash walk); orphan rows per partition, and
    *    the global verdict is their roll-up (orphanhood is per row);
    *  - drift: the histogram scan groups by (partition, bucket), started
    *    with the pass — its totals are histogram sums, never the fused
    *    job's;
    *  - outlier: one batch for every outlier rule, its counting job grouped
    *    by the expression;
    *  - diff with `partition_covers_key`: its per-partition job, whose
    *    roll-up is the global verdict;
    *  - every other rule: its own job; the cardinality, correlation,
    *    entropy, quantile, reconciliation and diff families add a grouped
    *    job for the per-partition verdicts, whose error is the rule's
    *    result. */
  def executeRulesPartitioned(
      df: DataFrame, rules: Seq[ValidationRule], tableName: String,
      partitionExpr: Option[org.apache.spark.sql.Column]): (ValidationSummary, Seq[PartitionVerdict]) = {
    val t0 = System.nanoTime()
    val (results, verdicts) = submitFrame(df, rules, tableName, partitionExpr)()
    (ValidationSummary.from(tableName, results, (System.nanoTime() - t0) / 1e6), verdicts)
  }

  /** The submit step of one frame's pass: builds and submits every section
    * of [[executeRulesPartitioned]] for `rules` over `df` without awaiting
    * any of them, and returns the collect step, which awaits the sections
    * on the caller's thread and assembles the results in rule order with
    * the frame's per-partition verdicts. A caller with several frames (the
    * incremental and sampled tiers) submits every frame before it collects
    * any, so their jobs overlap and no thread parks on a frame. */
  private def submitFrame(df: DataFrame, rules: Seq[ValidationRule], tableName: String,
      partitionExpr: Option[Column]): () => (Seq[ValidationResult], Seq[PartitionVerdict]) = {
    if (rules.isEmpty) return () => (Nil, Nil)
    val schema = df.schema

    // a rule referencing a missing column, or a predicate whose expression
    // doesn't ANALYZE to a Boolean, must fail ITS OWN rule (via
    // executeSingle, where the real analysis error surfaces), never the
    // whole fused job — the shared admission guard
    val wellFormedFusible = rules.filter(r => RulePlanner.admissible(df, r))

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration

    // 1. one fused job for all fusible rules (optionally partition-grouped);
    // the grouped pass also yields per-partition row totals, reused by the
    // per-partition verdicts below. The fused job runs as a FUTURE on its
    // own executor, so the bounded section pool can never deadlock against
    // it, and every other section's jobs overlap it. It is submitted now
    // when the frame has fusible rules or a partition expression; otherwise
    // only a row total needs it (row_count, custom, custom_agg, the outlier
    // batch) and the first of those to ask submits it, so a frame of walk
    // members alone submits no fused job.
    val fusedStart = System.nanoTime()
    val sc = spark.sparkContext
    lazy val fusedF: Future[Either[Throwable, (Long, Map[String, Long], Seq[PartitionVerdict], Map[String, Long])]] = SparkFuture(sc) {
      sc.setJobDescription(s"$tableName fused-stats")
      try {
        partitionExpr match {
          case None =>
            val (total, failed) = RulePlanner.runFused(df, wellFormedFusible)
            Right((total, failed, Nil: Seq[PartitionVerdict], Map.empty[String, Long]))
          case Some(p) =>
            val counters = wellFormedFusible.zipWithIndex.map { case (r, i) =>
              sum(when(RulePlanner.failCondition(schema, r), 1L).otherwise(0L))
                .cast("long").as(s"f_$i")
            }
            // The group key is the RAW expression (numeric for the
            // recommended bucketing expressions) — stringified driver-side
            // over these ≤65k rows; per-row cast-to-string across the whole
            // table was the measured CPU hot spot of the 32-thread bench
            // (Checks.rawKeyStringable).
            val rows = collectBuckets(df.groupBy(Checks.partGroupCol(df, p).as("__part"))
              .agg(count(lit(1)).as("__total"), counters: _*))
            val total = rows.map(_.getLong(1)).sum
            val failedByRule = wellFormedFusible.zipWithIndex.map { case (r, i) =>
              r.name -> rows.map(row => if (row.isNullAt(2 + i)) 0L else row.getLong(2 + i)).sum
            }.toMap
            val partTotals = rows.map(row => Checks.partKeyString(row.get(0)) -> row.getLong(1)).toMap
            val verdicts = rows.toSeq.flatMap { row =>
              val part = Checks.partKeyString(row.get(0))
              val ptotal = row.getLong(1)
              wellFormedFusible.zipWithIndex.map { case (r, i) =>
                val failed = if (row.isNullAt(2 + i)) 0L else row.getLong(2 + i)
                val rate = if (ptotal == 0) 1.0 else (ptotal - failed).toDouble / ptotal
                PartitionVerdict(part, r.name,
                  ValidationResult.passedOf(r.threshold, failed, rate), failed, ptotal, rate)
              }
            }
            Right((total, failedByRule, verdicts, partTotals))
        }
      } catch { case e: Throwable => Left(e) }
    }(Validator.fusedPool)
    if (wellFormedFusible.nonEmpty || partitionExpr.isDefined) fusedF
    // every consumer below takes the fused outcome through these lazies —
    // a section that needs the totals blocks HERE (after its own Spark job
    // has already run), never before submitting it
    lazy val fusedOutcome: Either[Throwable, (Long, Map[String, Long], Seq[PartitionVerdict], Map[String, Long])] =
      Await.result(fusedF, Duration.Inf)
    lazy val fusedMs = (System.nanoTime() - fusedStart) / 1e6

    implicit val ec: scala.concurrent.ExecutionContext = Validator.sectionPool
    lazy val fusedResults: Map[String, ValidationResult] =
      if (wellFormedFusible.isEmpty) Map.empty
      else fusedOutcome match {
        case Right((total, failedByRule, _, _)) =>
          wellFormedFusible.map { r =>
            r.name -> ValidationResult.verdict(r, failedByRule(r.name), total, fusedMs,
              Map("fused" -> "true"))
          }.toMap
        case Left(e) if Validator.sharedFailure(sc, e) =>
          wellFormedFusible.map(r => r.name -> ValidationResult.failure(r, e, fusedMs)).toMap
        case Left(_) =>
          // blast-radius recovery: the SHARED job failed (e.g. one predicate
          // raising at runtime under ANSI — statically undetectable), so each
          // rule re-runs as a fused job of its own: the poisoned rule gets its
          // real error, the healthy rules still get real verdicts — at the
          // reference's per-rule cost, paid only on this failure path
          wellFormedFusible.map(r => r.name -> SparkFuture(sc) {
            sc.setJobDescription(s"$tableName fused-stats rerun")
            executeSingle(df, r, tableName, None)
          }).map { case (n, f) => n -> Await.result(f, Duration.Inf) }.toMap
      }
    lazy val totalCount: Option[Long] = fusedOutcome.toOption.map(_._1)

    // The sections below are INDEPENDENT Spark jobs submitted CONCURRENTLY
    // on Validator.sectionPool, all before any section result is awaited,
    // so each job's ramp-up and tail overlaps the others. Results are
    // assembled by rule name, so ordering semantics are unchanged; each
    // section catches its own errors into per-rule failure results.
    // the fused pass's partition totals — forcing this AWAITS the fused job
    // (sections do it after their own Spark jobs have been submitted/run);
    // an unpartitioned frame has none and never forces it
    lazy val partTotals: Map[String, Long] =
      partitionExpr.flatMap(_ => fusedOutcome.toOption).map(_._4).getOrElse(Map.empty)
    // 2. all drift rules batched: one multi-histogram scan over df, grouped
    // by the partition expression when one is given, and one per distinct
    // baseline table — submitted now, since drift takes its totals from its
    // own histograms, never from the fused job
    val drift = submitDriftBatch(df, rules.filter(_.ruleType == RuleType.drift),
      partitionExpr, tableName)
    // 2c. all outlier rules batched: one fused moments job + one (optionally
    // partition-grouped) counting job for every outlier rule together. It
    // awaits the fused totals inside its future, so a pass without outlier
    // rules submits none.
    val outlierRules = rules.filter(_.ruleType == RuleType.Outlier)
    val outlierF: Future[(Map[String, ValidationResult], Seq[PartitionVerdict])] =
      if (outlierRules.isEmpty) Future.successful((Map.empty, Nil))
      else SparkFuture(sc) {
        sc.setJobDescription(s"$tableName outlier-batch")
        executeOutlierBatch(df, outlierRules, totalCount,
          partitionExpr.filter(_ => partTotals.nonEmpty), partTotals)
      }

    // 2b. the grouped per-key families: per-partition verdicts, and a
    // grouped rule declaring `partition_covers_key=true` (the partition
    // expression is a function of a subset of its key columns, so equal
    // keys are always co-partitioned) also gets its GLOBAL verdict from the
    // roll-up — the table-wide job disappears. The walk families are
    // served on every path, partitioned or not.
    type Grouped = (String, Option[ValidationResult], Seq[PartitionVerdict])
    // one grouped job per rule (diff and the binary families below), FLAT
    // (no nested awaits on the bounded pool). On success a
    // partition_covers_key roll-up — empty or not — is the global verdict;
    // on failure the job's error is the rule's result (−1/−1 sentinel,
    // severity→error). paramBool is fail-loud: its raise lands in this
    // rule's failure result too, never kills the await.
    def groupedRuleFuture(r: ValidationRule,
        run: () => Either[Throwable, Seq[PartitionVerdict]],
        extraMeta: Map[String, String]): Future[Grouped] =
      SparkFuture(sc) {
        val tu = System.nanoTime()
        def ms = (System.nanoTime() - tu) / 1e6
        sc.setJobDescription(s"$tableName rule:${r.name}")
        try {
          val verdicts = run().fold(e => throw e, identity)
          (r.name, Option.when(r.paramBool("partition_covers_key"))(
            ValidationResult.verdict(r, verdicts.map(_.failed_count).sum,
              verdicts.map(_.total_count).sum, ms,
              Map("keys" -> Validator.ruleKeys(r).mkString(","), "partitioned" -> "true") ++ extraMeta)),
            verdicts)
        } catch { case e: Throwable => (r.name, Some(ValidationResult.failure(r, e, ms)), Nil) }
      }
    // uniqueness + sequence + monotonic + transition + referential +
    // functional_dependency: every verdict comes from a group walk (see
    // [[GroupWalk]]), ONE future per walk and level. The partition level
    // (partitioned pass only) gives every member's per-partition verdicts
    // and the global verdict of a referential member (orphanhood is per
    // row, so partition counts always sum to the global one) or of a member
    // declaring `partition_covers_key=true`; the global level walks every
    // other member over one constant partition, since a group that
    // straddles partitions is walked in pieces. Global verdicts take their
    // totals from the walk itself, never from the fused job. A rule whose
    // parameters, columns or ref_table do not resolve reports its own
    // error; a walk failing at runtime re-runs its members one at a time —
    // unless the failure is one no member can cause (a cancelled job or job
    // group, an interrupt, a stopped context, too many partition buckets),
    // which every member reports.
    val walkFs: Seq[Future[Seq[Grouped]]] = {
      val prepared = rules.filter(r => GroupWalk.families(r.ruleType)).map(r => r -> (for {
        m <- GroupWalk.member(df, r, tableResolver)
        covers <- scala.util.Try(partitionExpr.isDefined && (m.isInstanceOf[GroupWalk.Orphan] ||
          r.paramBool("partition_covers_key"))).toEither
      } yield m -> covers))
      val members = prepared.collect { case (_, Right(mc)) => mc }
      val covers = members.collect { case (m, true) => m.rule.name }.toSet
      def failed(r: ValidationRule, tu: Long, e: Throwable): Grouped =
        (r.name, Some(ValidationResult.failure(r, e, (System.nanoTime() - tu) / 1e6)), Nil)
      // the `j`-th member's global verdict: its (g, f) sums over the rows
      def rollup(m: GroupWalk.Member, j: Int, rows: Array[org.apache.spark.sql.Row], tu: Long,
          promoted: Boolean) =
        ValidationResult.verdict(m.rule, rows.map(_.getLong(2 + 2 * j)).sum,
          rows.map(_.getLong(1 + 2 * j)).sum, (System.nanoTime() - tu) / 1e6,
          if (promoted) m.promotedMetadata else m.metadata)
      def walk(level: String, p: Option[Column])(w: (GroupWalk.Key, Seq[GroupWalk.Member]))(
          outcome: (GroupWalk.Member, Int, Array[org.apache.spark.sql.Row], Long) => Grouped) =
        SparkFuture(sc) {
          val tu = System.nanoTime()
          sc.setJobDescription(s"$tableName $level")
          def run(key: GroupWalk.Key, ms: Seq[GroupWalk.Member]): Seq[Grouped] =
            (try Right(walkRows(df, key, ms, p))
             catch { case e: Throwable => Left(e) }) match {
              case Right(rows) => ms.zipWithIndex.map { case (m, j) =>
                try outcome(m, j, rows, tu) catch { case e: Throwable => failed(m.rule, tu, e) }
              }
              case Left(e) if ms.size > 1 && !Validator.sharedFailure(sc, e) =>
                ms.flatMap(m => run(m.key, Seq(m)))
              case Left(e) => ms.map(m => failed(m.rule, tu, e))
            }
          run(w._1, w._2)
        }
      prepared.collect { case (r, Left(e)) => Future.successful(Seq(failed(r, System.nanoTime(), e))) } ++
        partitionExpr.toSeq.flatMap(p => GroupWalk.walks(members.map(_._1)).map(walk("group-walk", Some(p))(_) {
          // an empty table has nothing to promote
          (m, j, rows, tu) => (m.rule.name, Option.when(covers(m.rule.name))(
            rollup(m, j, rows, tu, promoted = rows.nonEmpty)), walkMemberVerdicts(m, j, rows, partTotals))
        })) ++
        GroupWalk.walks(members.collect { case (m, false) => m }).map(walk("group-walk global", None)(_) {
          (m, j, rows, tu) => (m.rule.name, Some(rollup(m, j, rows, tu, promoted = false)), Nil)
        })
    }
    // diff: one grouped job per rule yields per-partition verdicts, and
    // partition_covers_key promotes the roll-up to the global verdict
    // (verdict unit: keys, so the global total is the verdicts' own sum)
    val diffFs = partitionExpr.toSeq.flatMap(p => rules.filter(_.ruleType == RuleType.Diff).map(r =>
      groupedRuleFuture(r, () => diffPartitionVerdicts(df, r, p), Map("unit" -> "keys"))))
    // cardinality + correlation + entropy + reconciliation rules: one
    // grouped job per rule (reconciliation: one per side) for the
    // per-partition binary verdicts; the GLOBAL verdict always runs its own
    // job (none of these metrics roll up) via the straggler path below
    val cardFs = partitionExpr match {
      case Some(p) =>
        rules.filter(r => r.ruleType == RuleType.Cardinality ||
            r.ruleType == RuleType.Correlation ||
            r.ruleType == RuleType.Entropy ||
            r.ruleType == RuleType.Quantile ||
            r.ruleType == RuleType.Reconciliation).map { r =>
          val run = () => r.ruleType match {
            case RuleType.Cardinality => cardinalityPartitionVerdicts(df, r, p)
            case RuleType.Correlation => correlationPartitionVerdicts(df, r, p)
            case RuleType.Entropy => entropyPartitionVerdicts(df, r, p)
            case RuleType.Quantile => quantilePartitionVerdicts(df, r, p)
            case _ => reconciliationPartitionVerdicts(df, r, p)
          }
          groupedRuleFuture(r, run, Map.empty)
        }
      case _ => Nil
    }
    // row_count rules: per-partition binary verdicts derived from the fused
    // pass's partition totals — ZERO extra jobs (dead/thin ingest buckets
    // flagged for free). Partition verdicts use their OWN bounds
    // (min_partition_rows / max_partition_rows) and only exist when one is
    // set: applying the table-level bound to every bucket would fail all 32
    // buckets of a healthy table whose min_rows exceeds table_size/32.
    // Parse errors fall through to the global executeSingle, which
    // surfaces them as the rule's failure result.
    lazy val rowCountVerdicts: Seq[PartitionVerdict] =
      if (partTotals.nonEmpty)
        rules.filter(_.ruleType == RuleType.RowCount).flatMap { r =>
          try {
            val (_, _, minP, maxP) = rowCountBounds(r)
            if (minP.isEmpty && maxP.isEmpty) Nil // table bound is global-only
            else {
              val lo = minP.getOrElse(1L)
              val hi = maxP.getOrElse(Long.MaxValue)
              partTotals.toSeq.map { case (part, n) =>
                val failed = if (n < lo || n > hi) 1L else 0L
                val rate = 1.0 - failed
                PartitionVerdict(part, r.name,
                  ValidationResult.passedOf(r.threshold, failed, rate), failed, 1L, rate)
              }
            }
          } catch { case _: Throwable => Nil }
        }
      else Nil
    // 3. every rule no section above owns — each is an independent Spark
    // job, submitted HERE, BEFORE any section await, so single-rule jobs
    // overlap the sections. The routing is exact: a section owns a rule by
    // admission (fusible), by type (drift, outlier, the walk families) or,
    // for a diff rule of a partitioned pass, by any partition_covers_key but
    // `false` (its grouped future reports the promoted verdict or the
    // flag's parse error). executeSingle catches into a failure result, so
    // a Future here never fails.
    val fusibleNames = wellFormedFusible.map(_.name).toSet
    val owned = (r: ValidationRule) =>
      fusibleNames(r.name) || GroupWalk.families(r.ruleType) ||
        r.ruleType == RuleType.drift || r.ruleType == RuleType.Outlier ||
        (partitionExpr.isDefined && r.ruleType == RuleType.Diff &&
          r.parameters.get("partition_covers_key").exists(_ != "false"))
    val singleFs: Map[String, Future[ValidationResult]] = rules
      .filterNot(owned)
      .map(r => r.name -> SparkFuture(sc) {
        sc.setJobDescription(s"$tableName rule:${r.name}")
        executeSingle(df, r, tableName, totalCount)
      }).toMap

    () => {
      val (driftResults, driftVerdicts) = drift()
      val (outlierResults, outlierVerdicts) = Await.result(outlierF, Duration.Inf)
      val walked = walkFs.flatMap(f => Await.result(f, Duration.Inf))
      val grouped = (diffFs ++ cardFs).map(f => Await.result(f, Duration.Inf))
      // a grouped future's own result (its promoted verdict or its error) is
      // always kept; every per-partition verdict is dropped when the fused
      // pass yielded no partition totals (empty table or fused failure)
      val keepGrouped = partTotals.nonEmpty
      // a walk rule has one result per level it joined: a failure (the −1
      // sentinel) at either level is the rule's result
      val walkResults = walked.groupBy(_._1).map { case (n, outs) =>
        n -> outs.flatMap(_._2).minBy(_.failed_count)
      }
      val specialResults = grouped.collect { case (n, Some(res), _) => n -> res }.toMap ++ walkResults
      val specialVerdicts =
        (if (keepGrouped) grouped.flatMap(_._3) ++ walked.flatMap(_._3) else Nil) ++ rowCountVerdicts

      val results: Seq[ValidationResult] = rules.map { r =>
        fusedResults.getOrElse(r.name,
          driftResults.getOrElse(r.name,
            outlierResults.getOrElse(r.name,
              specialResults.getOrElse(r.name, Await.result(singleFs(r.name), Duration.Inf)))))
      }

      // opt-in violation EXAMPLES (`examples: N`, capped at 20 rows × 256
      // chars/field): a rule that FAILED ITS VERDICT (not merely tolerated
      // violations under its threshold) gets up to N offending rows rendered
      // into its result metadata — the consumer sees concrete offenders
      // without a trip to the quarantine table. `examples: 0` disables.
      // Deterministic: the face is sorted over all its columns before the
      // limit (TakeOrderedAndProject — bounded), so WHICH offenders appear is
      // layout- and run-invariant like every other output here. Capture jobs
      // overlap on the section pool. Cost note: capturing rows re-runs the
      // family's ROW face — for a partition_covers_key uniqueness rule that
      // is the table-wide shuffle the promoted verdict avoided, which is why
      // this is opt-in per rule. Capture never fails the rule (the verdict
      // already stands) — errors degrade to an examples_error note. Kept OUT
      // of the reference-parity report JSON (CliSpec pins its keys);
      // metadata is the library surface (the metrics sink stores metrics
      // only, by design — the DURABLE row surface is the quarantine sink).
      val exampleFs: Map[String, Future[ValidationResult => ValidationResult]] =
        results.collect {
          case res if !res.passed && res.failed_count > 0 &&
              rules.exists(r => r.name == res.rule_name && r.param("examples").isDefined) =>
            val r = rules.find(_.name == res.rule_name).get
            res.rule_name -> SparkFuture[ValidationResult => ValidationResult](sc) {
              try {
                val n = r.param("examples").get.toInt
                if (n <= 0) identity[ValidationResult] _
                else {
                  val face = violations(df, r)
                  val rows = face
                    .orderBy(face.columns.map(col): _*)
                    .limit(math.min(n, 20)).collect()
                  val rendered = rows.map(row =>
                    row.schema.fieldNames.zip(row.toSeq)
                      .map { case (f, v) => s"$f=${String.valueOf(v).take(256)}" }
                      .mkString(", ")).mkString(" | ")
                  // table-level verdicts (drift/custom_agg) have no row face —
                  // their empty row set attaches nothing rather than a "" note
                  if (rows.isEmpty) identity[ValidationResult] _
                  else (x: ValidationResult) =>
                    x.copy(metadata = x.metadata + ("examples" -> rendered))
                }
              } catch {
                case e: Throwable => (x: ValidationResult) =>
                  x.copy(metadata = x.metadata +
                    ("examples_error" -> String.valueOf(e.getMessage)))
              }
            }
        }.toMap
      val withExamples = results.map { res =>
        exampleFs.get(res.rule_name)
          .map(f => Await.result(f, Duration.Inf)(res)).getOrElse(res)
      }

      (withExamples, partitionExpr.flatMap(_ => fusedOutcome.toOption).map(_._3).getOrElse(Nil) ++
        specialVerdicts ++ (if (keepGrouped) driftVerdicts else Nil) ++ outlierVerdicts)
    }
  }

  /** Per-partition verdicts from one (partition, rule) failure-count map +
    * the shared per-partition totals. */
  private def verdictsFrom(
      rule: ValidationRule, failedByPart: Map[String, Long],
      partTotals: Map[String, Long]): Seq[PartitionVerdict] =
    partTotals.toSeq.map { case (part, ptotal) =>
      val failed = failedByPart.getOrElse(part, 0L)
      val rate = if (ptotal == 0) 1.0 else (ptotal - failed).toDouble / ptotal
      PartitionVerdict(part, rule.name,
        ValidationResult.passedOf(rule.threshold, failed, rate), failed, ptotal, rate)
    }

  /** The rows of a frame holding one row per partition, collected under
    * the bucket guard: limit(max+1) BEFORE the collect, so a raw
    * high-cardinality partition expression raises
    * [[Validator.BucketOverflow]] instead of flooding the driver. A frame
    * over one `constant` partition holds at most one row and skips the
    * limit: a limit's incremental take runs a chain of jobs until it has
    * scanned every partition. */
  private def collectBuckets(frame: DataFrame,
      constant: Boolean = false): Array[org.apache.spark.sql.Row] = {
    val rows = (if (constant) frame else frame.limit(maxPartitionBuckets + 1)).collect()
    if (rows.length > maxPartitionBuckets) throw new Validator.BucketOverflow(maxPartitionBuckets)
    rows
  }

  /** The roll-up rows of one walk's members from ONE job
    * ([[GroupWalk.frame]]): per partition of `p` (one constant partition
    * when None), each member's (groups, failed) pair. */
  private def walkRows(df: DataFrame, key: GroupWalk.Key, members: Seq[GroupWalk.Member],
      p: Option[org.apache.spark.sql.Column]): Array[org.apache.spark.sql.Row] =
    collectBuckets(GroupWalk.frame(df, key, members, p.getOrElse(lit(0))), constant = p.isEmpty)

  /** Per-partition verdicts of the `j`-th member of a walk from its
    * [[walkRows]]. Uniqueness: duplicates WITHIN each partition ((rows −
    * distinct keys) per partition) over the fused pass's row totals;
    * referential: orphan rows per partition over the same totals. The
    * group-unit families: groups and violating groups per partition. A
    * walk-family global verdict comes from the one-partition walk unless
    * `partition_covers_key` promotes the roll-up (cross-partition
    * duplicates are invisible inside partitions); when the partition
    * expression derives from the key — the recommended layout — the two
    * levels agree exactly. */
  private def walkMemberVerdicts(m: GroupWalk.Member, j: Int,
      rows: Array[org.apache.spark.sql.Row],
      partTotals: => Map[String, Long]): Seq[PartitionVerdict] = {
    val perPart = rows.toSeq.map(r =>
      (Checks.partKeyString(r.get(0)), r.getLong(1 + 2 * j), r.getLong(2 + 2 * j)))
    m match {
      case _: GroupWalk.Unique | _: GroupWalk.Orphan =>
        verdictsFrom(m.rule, perPart.map { case (part, _, failed) => part -> failed }.toMap, partTotals)
      case _ => unitVerdicts(m.rule, perPart.filter(_._2 > 0L), partTotals)
    }
  }

  /** The two columns of a correlation rule (columns: [a, b], or column +
    * `column2`). */
  private def correlationCols(rule: ValidationRule): (String, String) =
    if (rule.columns.size >= 2) (rule.columns.head, rule.columns(1))
    else (rule.column, rule.param("column2").getOrElse(
      throw new IllegalArgumentException(
        s"correlation rule '${rule.name}' needs two columns (columns: [a, b] or column2)")))

  /** (min_corr, max_corr) of a correlation rule; rejects
    * partition_covers_key in the shared parse (binary verdicts don't roll
    * up — same contract as cardinality). */
  private def correlationBounds(rule: ValidationRule): (Double, Double) = {
    if (rule.paramBool("partition_covers_key"))
      throw new IllegalArgumentException(
        s"correlation rule '${rule.name}': partition_covers_key is not supported " +
          "(binary per-partition verdicts do not roll up to the global correlation)")
    (rule.paramDouble("min_corr").getOrElse(-1.0),
      rule.paramDouble("max_corr").getOrElse(1.0))
  }

  /** Per-partition correlation verdicts: one grouped corr job, binary
    * verdict per partition. A partition whose corr is UNDEFINED (constant
    * column within the bucket — e.g. a stuck sensor) FAILS that partition:
    * it cannot certify the relationship, and "stuck" is exactly the signal
    * per-partition monitoring exists to catch. */
  private def correlationPartitionVerdicts(
      df: DataFrame, rule: ValidationRule,
      p: org.apache.spark.sql.Column): Either[Throwable, Seq[PartitionVerdict]] = {
    try {
      val (a, b) = correlationCols(rule)
      val (minC, maxC) = correlationBounds(rule)
      binaryPartitionVerdicts(df, rule, p,
        Seq(Checks.safeCorr(col(a), col(b)).as("__c")),
        r =>
          if (r.isNullAt(1) || r.getDouble(1).isNaN) 1L
          else { val c = r.getDouble(1); if (c < minC || c > maxC) 1L else 0L })
    } catch { case e: Throwable => Left(e) }
  }

  /** ALL bounds of a row_count rule — (min_rows, max_rows,
    * min_partition_rows, max_partition_rows). The global verdict path
    * parses the partition params too, so a malformed partition bound
    * surfaces as the rule's error result instead of silently disabling
    * the per-partition size check. */
  private def rowCountBounds(rule: ValidationRule): (Long, Long, Option[Long], Option[Long]) = (
    rule.param("min_rows").map(_.toLong).getOrElse(1L),
    rule.param("max_rows").map(_.toLong).getOrElse(Long.MaxValue),
    rule.param("min_partition_rows").map(_.toLong),
    rule.param("max_partition_rows").map(_.toLong))

  /** (min_distinct, max_distinct) of a cardinality rule. Also rejects
    * `partition_covers_key` here — in the shared parse, not only the
    * partitioned job — so the misconfiguration surfaces on EVERY path
    * (binary verdicts don't roll up; an empty table must not flip the
    * error into a silent pass). */
  private def cardinalityBounds(rule: ValidationRule): (Long, Long) = {
    if (rule.paramBool("partition_covers_key"))
      throw new IllegalArgumentException(
        s"cardinality rule '${rule.name}': partition_covers_key is not supported " +
          "(binary per-partition verdicts do not roll up to the global distinct)")
    (rule.param("min_distinct").map(_.toLong).getOrElse(0L),
      rule.param("max_distinct").map(_.toLong).getOrElse(Long.MaxValue))
  }

  /** The (distinct, has-null) aggregate pair of a cardinality rule — ONE
    * definition for the global and per-partition jobs so the approx/rsd
    * selection and the NULL-counts-as-one adjustment cannot diverge. */
  private def cardinalityAggs(rule: ValidationRule): (Column, Column) = {
    val c = col(rule.column)
    // approx is a strict boolean: "True"/"tru" must not silently fall back
    // to the full exact distinct the user opted out of at 100 TB
    val distinctAgg =
      if (rule.paramBool("approx"))
        approx_count_distinct(c, rule.paramDouble("rsd").getOrElse(0.05))
      else countDistinct(c)
    (distinctAgg, max(when(c.isNull, 1L).otherwise(0L)))
  }

  /** Distinct count of a cardinality rule's column (NULL = one distinct
    * value, pyspark parity; approx=true → HLL with the rsd param) — one
    * aggregate job. */
  private def cardinalityOf(df: DataFrame, rule: ValidationRule): Long = {
    val (distinctAgg, hasNull) = cardinalityAggs(rule)
    val row = df.agg(distinctAgg.as("__d"), hasNull.as("__has_null")).head()
    row.getLong(0) + (if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Shared tail of the binary metric families (cardinality, correlation):
    * ONE grouped job over the given aggregate columns, then one 0/1
    * verdict per partition from the caller's failed-flag function. */
  private def binaryPartitionVerdicts(
      df: DataFrame, rule: ValidationRule, p: org.apache.spark.sql.Column,
      aggCols: Seq[Column],
      failedOf: org.apache.spark.sql.Row => Long): Either[Throwable, Seq[PartitionVerdict]] =
    try {
      val rows = collectBuckets(df.groupBy(Checks.partGroupCol(df, p).as("__part"))
        .agg(aggCols.head, aggCols.tail: _*))
      Right(rows.toSeq.map { r =>
        val part = Checks.partKeyString(r.get(0))
        val failed = failedOf(r)
        val rate = 1.0 - failed
        PartitionVerdict(part, rule.name,
          ValidationResult.passedOf(rule.threshold, failed, rate), failed, 1L, rate)
      })
    } catch { case e: Throwable => Left(e) }

  /** (q, min_value, max_value) of a quantile rule; rejects
    * partition_covers_key in the shared parse (binary family — a
    * per-partition percentile does not roll up to the global one; same
    * contract as cardinality/correlation/entropy). */
  private def quantileBounds(rule: ValidationRule): (Double, Double, Double) = {
    if (rule.paramBool("partition_covers_key"))
      throw new IllegalArgumentException(
        s"quantile rule '${rule.name}': partition_covers_key is not supported " +
          "(binary per-partition verdicts do not roll up to the global percentile)")
    val q = rule.paramDouble("q").getOrElse(throw new IllegalArgumentException(
      s"quantile rule '${rule.name}' needs a q parameter in [0, 1]"))
    require(q >= 0.0 && q <= 1.0, s"quantile rule '${rule.name}': q=$q outside [0, 1]")
    (q,
      rule.paramDouble("min_value").getOrElse(Double.NegativeInfinity),
      rule.paramDouble("max_value").getOrElse(Double.PositiveInfinity))
  }

  /** The percentile aggregate of a quantile rule — ONE definition for the
    * global and per-partition jobs so the exact/approx selection cannot
    * diverge. Default is the exact interpolated `percentile` (a sort-based
    * aggregate — right for interactive tables); `approx: true` swaps in
    * the mergeable one-pass `approx_percentile` sketch (`accuracy` param,
    * default 10000) — the 100 TB tier, where an exact percentile is
    * inherently a global sort. `approx` is a strict boolean
    * (ValidationRule.paramBool): a typo must not silently buy the full
    * sort the user opted out of. */
  private def quantileAgg(rule: ValidationRule, q: Double): Column = {
    val c = col(rule.column).cast("double")
    if (rule.paramBool("approx"))
      percentile_approx(c, lit(q), lit(rule.param("accuracy").map(_.toInt).getOrElse(10000)))
    else percentile(c, lit(q))
  }

  /** Per-partition quantile verdicts: one grouped percentile job, binary
    * verdict per partition. A partition whose percentile is UNDEFINED
    * (all-NULL column within the bucket) FAILS — it cannot certify the
    * distribution position (the correlation/entropy contract). */
  private def quantilePartitionVerdicts(
      df: DataFrame, rule: ValidationRule,
      p: org.apache.spark.sql.Column): Either[Throwable, Seq[PartitionVerdict]] =
    try {
      val (q, minV, maxV) = quantileBounds(rule)
      binaryPartitionVerdicts(df, rule, p,
        Seq(quantileAgg(rule, q).cast("double").as("__q")),
        r =>
          if (r.isNullAt(1)) 1L
          else { val v = r.getDouble(1); if (v < minV || v > maxV) 1L else 0L })
    } catch { case e: Throwable => Left(e) }

  /** (min_entropy, max_entropy) of an entropy rule; rejects
    * partition_covers_key in the shared parse (same contract as
    * cardinality/correlation — a per-partition entropy does not roll up to
    * the global one). */
  private def entropyBounds(rule: ValidationRule): (Double, Double) = {
    if (rule.paramBool("partition_covers_key"))
      throw new IllegalArgumentException(
        s"entropy rule '${rule.name}': partition_covers_key is not supported " +
          "(binary per-partition verdicts do not roll up to the global entropy)")
    (rule.paramDouble("min_entropy").getOrElse(0.0),
      rule.paramDouble("max_entropy").getOrElse(Double.MaxValue))
  }

  /** Per-partition entropy verdicts: the SAME two-aggregation shape as the
    * global job ([[Checks.entropyParts]]) keyed by the partition expression
    * — one scan. A partition whose entropy is UNDEFINED (all values NULL)
    * FAILS: it cannot certify the distribution, and a dead column in one
    * ingest bucket is exactly what per-partition monitoring exists to
    * catch (the correlation family's contract). */
  private def entropyPartitionVerdicts(
      df: DataFrame, rule: ValidationRule,
      p: org.apache.spark.sql.Column): Either[Throwable, Seq[PartitionVerdict]] =
    try {
      val (minE, maxE) = entropyBounds(rule)
      val rows = collectBuckets(
        Checks.entropyParts(df, rule.column, part = Some(Checks.partGroupCol(df, p))))
      Right(rows.toSeq.map { r =>
        val part = Checks.partKeyString(r.get(0))
        val h = if (r.isNullAt(1)) None
          else Checks.entropyFromParts(r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2))
        val failed = h match {
          case Some(e) => if (e < minE || e > maxE) 1L else 0L
          case None    => 1L
        }
        val rate = 1.0 - failed
        PartitionVerdict(part, rule.name,
          ValidationResult.passedOf(rule.threshold, failed, rate), failed, 1L, rate)
      })
    } catch { case e: Throwable => Left(e) }

  /** Parsed spec of a reconciliation rule — (ref DataFrame, aggregate name,
    * fact-side agg column, ref-side agg column, absolute tolerance,
    * relative tolerance). ONE definition for the global and per-partition
    * jobs so the aggregate/tolerance semantics cannot diverge. Rejects
    * partition_covers_key in the shared parse (binary verdicts don't roll
    * up — the cardinality/correlation contract). The agg columns are
    * by-need: `count` never touches `rule.column`, so a count
    * reconciliation needs no columns at all. */
  private def reconciliationSpec(rule: ValidationRule)
      : (DataFrame, String, Column, Column, Double, Option[Double]) = {
    if (rule.paramBool("partition_covers_key"))
      throw new IllegalArgumentException(
        s"reconciliation rule '${rule.name}': partition_covers_key is not supported " +
          "(binary per-partition verdicts do not roll up to the global comparison)")
    val refTable = rule.param("ref_table").getOrElse(throw new IllegalArgumentException(
      s"reconciliation rule '${rule.name}' needs ref_table"))
    val refDf = tableResolver(refTable).getOrElse(
      throw new IllegalArgumentException(s"unknown ref_table '$refTable'"))
    val aggName = rule.param("agg").getOrElse("count")
    def aggOf(c: => String): Column = (aggName match {
      case "count" => count(lit(1))
      case "sum"   => sum(col(c))
      case "avg"   => avg(col(c))
      case "min"   => min(col(c))
      case "max"   => max(col(c))
      case other => throw new IllegalArgumentException(
        s"reconciliation rule '${rule.name}': agg must be one of " +
          s"count/sum/avg/min/max, got '$other'")
    }).cast("double")
    val tol = rule.paramDouble("tolerance").getOrElse(0.0)
    require(tol >= 0.0, s"reconciliation rule '${rule.name}': tolerance must be >= 0")
    val tolPct = rule.paramDouble("tolerance_pct")
    tolPct.foreach(p => require(p >= 0.0,
      s"reconciliation rule '${rule.name}': tolerance_pct must be >= 0"))
    (refDf, aggName, aggOf(rule.column),
      aggOf(rule.param("ref_column").getOrElse(rule.column)), tol, tolPct)
  }

  /** Effective tolerance for one comparison: the LARGER of the absolute
    * tolerance and tolerance_pct·|ref value| — "within 100 rows or 0.1%,
    * whichever is looser", the audit idiom. */
  private def reconciliationTol(tol: Double, tolPct: Option[Double], refV: Double): Double =
    math.max(tol, tolPct.map(_ * math.abs(refV)).getOrElse(0.0))

  /** Cross-table aggregate reconciliation (the audit pattern: a fact table
    * vs its upstream source — dbt-utils equal_rowcount / Great Expectations
    * expect_table_row_count_to_equal_other_table, generalized to any
    * aggregate): BINARY verdict on |agg(table) − agg(ref_table)| within
    * tolerance. agg: count (default — no column needed) / sum / avg / min /
    * max over `column` (param ref_column when the reference names it
    * differently). Two aggregate jobs with O(1) results, one scan per side.
    * An undefined aggregate on either side (non-count agg over an empty
    * table or all-NULL column) is an ERROR result, never a silent pass —
    * the correlation family's contract. */
  private def executeReconciliation(
      df: DataFrame, rule: ValidationRule, ms: () => Double): ValidationResult = {
    val (refDf, aggName, aggCol, refAggCol, tol, tolPct) = reconciliationSpec(rule)
    def scalarOf(d: DataFrame, c: Column, side: String): Double = {
      val r = d.agg(c.as("__v")).head()
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        s"reconciliation rule '${rule.name}': $aggName undefined on the $side table " +
          "(empty table or all-NULL column)")
      r.getDouble(0)
    }
    val v = scalarOf(df, aggCol, "validated")
    val rv = scalarOf(refDf, refAggCol, "reference")
    val failed = if (math.abs(v - rv) > reconciliationTol(tol, tolPct, rv)) 1L else 0L
    ValidationResult.verdict(rule, failed, 1L, ms(),
      Map("agg" -> aggName, "value" -> v.toString, "ref_value" -> rv.toString,
        "ref_table" -> rule.param("ref_table").getOrElse(""),
        "tolerance" -> tol.toString) ++ tolPct.map("tolerance_pct" -> _.toString))
  }

  /** Per-partition reconciliation: BOTH tables grouped by the SAME
    * partition expression (the reference table must therefore carry the
    * partition column — the shared ingest-date / bucketed-key layout),
    * compared partition-by-partition driver-side over the two O(buckets)
    * collected maps. A partition present on only ONE side, or whose
    * aggregate is undefined, FAILS — a bucket that vanished (or appeared)
    * between source and fact is exactly what per-partition reconciliation
    * exists to catch, and a totals-only comparison can silently net it out
    * against an opposite error elsewhere. One grouped job per side. */
  private def reconciliationPartitionVerdicts(
      df: DataFrame, rule: ValidationRule,
      p: org.apache.spark.sql.Column): Either[Throwable, Seq[PartitionVerdict]] =
    try {
      val (refDf, _, aggCol, refAggCol, tol, tolPct) = reconciliationSpec(rule)
      def sideMap(d: DataFrame, c: Column): Map[String, Option[Double]] = {
        collectBuckets(d.groupBy(Checks.partGroupCol(d, p).as("__part")).agg(c.as("__v"))).map(r => Checks.partKeyString(r.get(0)) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      }
      val facts = sideMap(df, aggCol)
      val refs = sideMap(refDf, refAggCol)
      // sortBy(Option) — a NULL partition key (partKeyString of an all-NULL
      // bucket) must order, not NPE
      Right((facts.keySet ++ refs.keySet).toSeq.sortBy(Option(_)).map { part =>
        val failed = (facts.get(part).flatten, refs.get(part).flatten) match {
          case (Some(v), Some(rv)) =>
            if (math.abs(v - rv) > reconciliationTol(tol, tolPct, rv)) 1L else 0L
          case _ => 1L
        }
        val rate = 1.0 - failed
        PartitionVerdict(part, rule.name,
          ValidationResult.passedOf(rule.threshold, failed, rate), failed, 1L, rate)
      })
    } catch { case e: Throwable => Left(e) }

  /** (reference table, key columns, compare columns) of a diff rule. Keys
    * come from `columns`; compare columns from the `compare_columns`
    * parameter (comma list), defaulting to every non-key column present in
    * BOTH schemas, in the validated table's column order — a reference
    * snapshot carrying extra bookkeeping columns still diffs on the shared
    * payload. An explicitly listed column missing from either side is an
    * error, never a silently shrunken comparison. ONE parse for the
    * global, per-partition, and violations faces. */
  private def diffSpec(df: DataFrame, rule: ValidationRule)
      : (DataFrame, Seq[String], Seq[String]) = {
    val keys = if (rule.columns.nonEmpty) rule.columns else Seq(rule.column)
    // the diff output schema owns these names — a key called "status"
    // would be overwritten by the verdict label, corrupting the
    // violations face and the partition grouping; fail loud instead
    val reserved = keys.map(_.toLowerCase).toSet
      .intersect(Set("status", "cnt_left", "cnt_right"))
    if (reserved.nonEmpty) throw new IllegalArgumentException(
      s"diff rule '${rule.name}': key column(s) ${reserved.mkString(",")} collide " +
        "with the diff output schema (status, cnt_left, cnt_right) — alias them first")
    val refTable = rule.param("ref_table").getOrElse(throw new IllegalArgumentException(
      s"diff rule '${rule.name}' needs ref_table"))
    val refDf = tableResolver(refTable).getOrElse(
      throw new IllegalArgumentException(s"unknown ref_table '$refTable'"))
    val keySet = keys.map(_.toLowerCase).toSet
    def has(d: DataFrame, c: String) = d.schema.fieldNames.exists(_.equalsIgnoreCase(c))
    val compare = rule.param("compare_columns") match {
      case Some(list) =>
        val cols = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val missing = cols.filterNot(c => has(df, c) && has(refDf, c))
        if (missing.nonEmpty) throw new IllegalArgumentException(
          s"diff rule '${rule.name}': compare column(s) ${missing.mkString(",")} " +
            "missing from one side")
        cols
      case None =>
        df.schema.fieldNames.toSeq
          .filterNot(c => keySet.contains(c.toLowerCase))
          .filter(c => has(refDf, c))
    }
    (refDf, keys, compare)
  }

  /** Keyed row-level diff verdict (the datafold-style data-diff, as a rule):
    * failed = keys whose multiset of compared rows differs from the
    * reference table's (added / removed / changed), total = distinct keys
    * in either table — so success_rate is the surviving fraction of the
    * key universe and the verdict unit is KEYS (like the group-unit
    * families). The row-granular complement of the reconciliation family's
    * aggregate audit: reconciliation certifies the totals, diff names the
    * keys. One job: two map-side-combined per-key aggregations (the
    * shuffle carries key + count + 16-byte digest, never rows) full-outer
    * joined on the keys. */
  private def executeDiff(
      df: DataFrame, rule: ValidationRule, ms: () => Double): ValidationResult = {
    val (refDf, keys, compare) = diffSpec(df, rule)
    // opt-in column attribution (`attribute_columns: true`): the
    // per-column digests ride the SAME per-key aggregations and the
    // changed-per-column counters the SAME final aggregate — attribution
    // costs zero extra passes over the data
    val attribute = rule.paramBool("attribute_columns") && compare.nonEmpty
    val joined = Checks.tableDiff(df, refDf, keys, compare, perColumn = attribute)
    val aggs = Seq(count(lit(1)),
      sum(when(Checks.diffViolationCond, 1L).otherwise(0L))) ++
      (if (attribute) compare.map(c =>
        sum(when(Checks.colChangedCond(c), 1L).otherwise(0L))) else Nil)
    val row = joined.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getLong(0)
    val failed = if (row.isNullAt(1)) 0L else row.getLong(1)
    val attribution: Map[String, String] =
      if (attribute && failed > 0) {
        val stats = compare.zipWithIndex.map { case (c, i) =>
          c -> (if (row.isNullAt(2 + i)) 0L else row.getLong(2 + i)) }
        Map("changed_columns" -> stats.sortBy(_._1)
          .map { case (c, n) => s"$c=$n" }.mkString(";"))
      } else Map.empty
    ValidationResult.verdict(rule, failed, total, ms(),
      Map("keys" -> keys.mkString(","), "compare" -> compare.mkString(","),
        "ref_table" -> rule.param("ref_table").getOrElse(""), "unit" -> "keys") ++
        attribution)
  }

  /** Per-partition diff verdicts from the SAME joined per-key frame, grouped
    * by the partition expression evaluated over the (coalesced) key
    * columns. Every key appears exactly once in the joined frame, so the
    * roll-up equals the global verdict by construction whenever the
    * partition expression analyzes here at all (it can only reference key
    * columns — anything else fails loudly into the rule's error result);
    * `partition_covers_key=true` then takes the global verdict from the
    * roll-up and the table pays ONE diff instead of two. Keys present only
    * in the reference (removed) land in the partition their key value
    * hashes to — a vanished bucket shows up as that bucket failing, the
    * per-partition reconciliation contract. */
  private def diffPartitionVerdicts(
      df: DataFrame, rule: ValidationRule,
      p: org.apache.spark.sql.Column): Either[Throwable, Seq[PartitionVerdict]] =
    try {
      val (refDf, keys, compare) = diffSpec(df, rule)
      val joined = Checks.tableDiff(df, refDf, keys, compare)
      val stats = joined.withColumn("__part", Checks.partGroupCol(joined, p))
      // NO partTotals fill for diff: the joined key frame covers every
      // partition with data by construction (no row filtering precedes
      // it), and the fill's labels come from the NATIVE-typed source df
      // while the joined frame's keys carry the cross-side canonical type
      // — a float/decimal key whose string form changes under the cast
      // would yield a duplicated, spuriously-passing partition entry.
      // The key frame includes reference-side keys the fused pass never
      // saw, so the bucket guard applies here too
      val rows = collectBuckets(stats.groupBy(col("__part"))
        .agg(count(lit(1)).as("__groups"),
          sum(when(Checks.diffViolationCond, 1L).otherwise(0L)).as("__violating")))
      Right(unitVerdicts(rule, rows.toSeq.map(r => (Checks.partKeyString(r.get(0)), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))), Map.empty))
    } catch { case e: Throwable => Left(e) }

  /** Per-partition cardinality verdicts: one grouped distinct job (exact or
    * HLL), binary verdict per partition. */
  private def cardinalityPartitionVerdicts(
      df: DataFrame, rule: ValidationRule,
      p: org.apache.spark.sql.Column): Either[Throwable, Seq[PartitionVerdict]] = {
    try {
      val (minD, maxD) = cardinalityBounds(rule)
      val (distinctAgg, hasNull) = cardinalityAggs(rule)
      binaryPartitionVerdicts(df, rule, p,
        Seq(distinctAgg.as("__d"), hasNull.as("__has_null")),
        r => {
          val n = r.getLong(1) + (if (r.isNullAt(2)) 0L else r.getLong(2))
          if (n < minD || n > maxD) 1L else 0L
        })
    } catch { case e: Throwable => Left(e) }
  }

  /** Group-unit verdicts from (partition, groups, violating groups) of the
    * partitions holding at least one group. Partitions present in
    * `partTotals` but ABSENT here (every row excluded by the family's NULL
    * filter — e.g. a bucket whose turn_idx is entirely NULL) get an
    * explicit empty verdict (0 groups, rate 1.0) so every (partition, rule)
    * pair is assessed — a missing row would be indistinguishable from
    * "never evaluated" downstream. */
  private def unitVerdicts(rule: ValidationRule, present: Seq[(String, Long, Long)],
      partTotals: => Map[String, Long]): Seq[PartitionVerdict] = {
    val assessed = present.map { case (part, total, failed) =>
      val rate = if (total == 0) 1.0 else (total - failed).toDouble / total
      PartitionVerdict(part, rule.name,
        ValidationResult.passedOf(rule.threshold, failed, rate), failed, total, rate)
    }
    val seen = assessed.map(_.partition).toSet
    // null-safe ordering: a NULL partition key is a legal partition (the
    // grouped passes keep it), so the fill must not NPE sorting it
    assessed ++ partTotals.keys.filterNot(seen).toSeq.sortBy(Option(_)).map { part =>
      PartitionVerdict(part, rule.name,
        ValidationResult.passedOf(rule.threshold, 0L, 1.0), 0L, 0L, 1.0)
    }
  }

  /** Histogram bucket expression for one drift rule. Timestamp columns
    * bucket by canonical epoch micros instead of their raw string cast:
    * the SQL cast's rendering ("2024-01-15 10:30:00") and the profile
    * sketch's JVM form ("2024-01-15 10:30:00.0") are two spellings of the
    * same instant — epoch micros is the one spelling every face (ref_table
    * scan, ref_state sketch via [[Profiler.columnHistogram]], current scan)
    * agrees on. NTZ casts to TIMESTAMP first (wall clock read in the
    * session zone — the same interpretation columnHistogram's NTZ parse
    * uses). */
  private def driftBucket(schema: org.apache.spark.sql.types.StructType,
      rule: ValidationRule): org.apache.spark.sql.Column = {
    val isTs = schema.find(_.name.equalsIgnoreCase(rule.column)).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) => true
      case _ => false
    }
    rule.param("method").getOrElse("chi_square") match {
      case "ks" | "emd" =>
        if (rule.param("values").isDefined) throw new IllegalArgumentException(
          s"drift rule '${rule.name}': values is a categorical projection; " +
            "ks/emd bin numeric ranges — drop values or use a categorical method")
        Checks.numericBucket(col(rule.column).cast("double"),
          rule.paramDouble("lo").getOrElse(0.0),
          rule.paramDouble("hi").getOrElse(1000.0),
          rule.param("bins").map(_.toInt).getOrElse(64))
      case _ =>
        driftValues(rule) match {
          // bounded-categorical tier: the analyst names the expected
          // category set and everything outside it folds into ONE
          // "__other__" bucket (NULLs keep their own bucket) — the
          // histogram space is values+2 at ANY cardinality, so a junk
          // tail of millions of distinct labels reads as other-mass
          // drift instead of tripping the bucket guard. Comparison on
          // cast-to-string, the allowed_values convention; a literal
          // "__other__" category folds into the other-mass (harmless
          // for drift — its frequency still lands in the same bucket
          // on both sides).
          case Some(vals) =>
            if (isTs) throw new IllegalArgumentException(
              s"drift rule '${rule.name}': values projection compares cast-to-string, " +
                "but timestamp columns canonicalize to epoch micros — drop values " +
                "or use a categorical column")
            Checks.boundedCategory(col(rule.column), vals)
          case None =>
            if (isTs) unix_micros(col(rule.column).cast("timestamp"))
            else col(rule.column)
        }
    }
  }

  /** Parsed `values` category set of a bounded-categorical drift rule
    * (comma-split, trimmed — the allowed_values spelling). Fail-loud: a
    * `values` that names no categories would project EVERYTHING into
    * `__other__` and read zero drift forever. */
  private def driftValues(rule: ValidationRule): Option[Seq[String]] =
    rule.param("values").map { csv =>
      val vs = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (vs.isEmpty) throw new IllegalArgumentException(
        s"drift rule '${rule.name}': values is set but names no categories")
      vs
    }

  /** All drift rules in one scan per table side, submitted NOW as flat
    * futures on the section pool: the current-side scan and one scan per
    * distinct `ref_table` baseline. Nothing waits for the fused job: every
    * row lands in exactly one bucket per rule (NULLs in "__NULL__"), so a
    * rule's histogram sums to the table's rows and a partition's histogram
    * to the partition's. Returns the assembly, which awaits the scans on
    * the caller's thread.
    *
    * With `partitionExpr`, the current-side scan groups by (partition,
    * bucket): the GLOBAL histogram is the exact roll-up and each
    * partition's histogram is tested against the (global) baseline —
    * drifted partitions surface individually even when the table-wide
    * mixture looks clean, PROVIDED the partition's drift clears the rule's
    * critical at the partition's own sample size: the chi-square statistic
    * scales with rows, so at the same absolute critical a partition holding
    * N/P rows needs ~P× the per-row drift intensity (significance tests
    * have less evidence from fewer rows). For size-invariant partition
    * sensitivity use `method: tvd`, whose critical is an effect-size
    * threshold in [0,1]. KS is a CDF distance — already size-invariant.
    * Contingency math is total-agnostic, so partition-vs-baseline sizes
    * needn't match. */
  private def submitDriftBatch(
      df: DataFrame, driftRules: Seq[ValidationRule],
      partitionExpr: Option[org.apache.spark.sql.Column], tableName: String)(
      implicit ec: scala.concurrent.ExecutionContext)
      : () => (Map[String, ValidationResult], Seq[PartitionVerdict]) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    if (driftRules.isEmpty) return () => (Map.empty, Nil)
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    val sc = spark.sparkContext
    type Hist = Map[String, Map[String, Long]]
    // per-rule param validation BEFORE the shared scan: a malformed bucket
    // spec (bad values list, values on ks/emd or a timestamp column) fails
    // only ITS rule instead of taking the whole batch down
    val (malformed, wellFormed) = driftRules.map(r => r -> scala.util.Try(driftBucket(df.schema, r)))
      .partition(_._2.isFailure)
    val specified = wellFormed.map(_._1)
    // Per-rule blast-radius isolation: a rule whose histogram overflows the
    // bucket cap (typed, NAMED by Checks.HistogramBucketOverflow) is dropped
    // and the healthy rest re-run without it — the retry costs one extra
    // scan per offender, on the error path only (the outlier batch's
    // excluded-column pattern). None when every rule overflowed.
    def withoutOverflows[A](rs: Seq[ValidationRule], schema: org.apache.spark.sql.types.StructType)(
        histograms: Seq[(String, Column)] => A): (Option[A], Seq[(ValidationRule, Throwable)]) =
      if (rs.isEmpty) (None, Nil)
      else try (Some(histograms(rs.map(r => r.name -> driftBucket(schema, r)))), Nil)
      catch {
        case e: Checks.HistogramBucketOverflow if rs.exists(_.name == e.kind) =>
          val (res, over) = withoutOverflows(rs.filterNot(_.name == e.kind), schema)(histograms)
          (res, (rs.find(_.name == e.kind).get -> e) +: over)
      }
    def scan[A](body: => A): Future[Either[Throwable, A]] = SparkFuture(sc) {
      sc.setJobDescription(s"$tableName drift-batch")
      try Right(body) catch { case e: Throwable => Left(e) }
    }
    val current = scan(withoutOverflows(specified, df.schema) { specs =>
      partitionExpr match {
        case Some(p) =>
          val byPart = Checks.multiHistogramByPartition(df, specs, p)
          val global: Hist = byPart.map { case (kind, parts) =>
            kind -> parts.values.foldLeft(Map.empty[String, Long]) { (acc, h) =>
              h.foldLeft(acc) { case (a, (b, c)) => a + (b -> (a.getOrElse(b, 0L) + c)) }
            }
          }
          (global, byPart)
        case None => (Checks.multiHistogram(df, specs), Map.empty[String, Hist])
      }
    })
    // a ref_table is scanned ONCE for all its rules, bucketed by the
    // BASELINE's own schema: each side canonicalizes its own timestamp
    // columns; a cross-type pairing (ts vs string) surfaces as loud drift,
    // never a silent match — type changes are the schema rule's jurisdiction
    val baselines = specified.filter(_.param("ref_state").isEmpty)
      .flatMap(r => r.param("ref_table").map(_ -> r)).groupBy(_._1).map { case (refTable, rs) =>
        refTable -> scan {
          val baseline = tableResolver(refTable).getOrElse(
            throw new IllegalArgumentException(s"unknown ref_table '$refTable'"))
          withoutOverflows(rs.map(_._2), baseline.schema)(Checks.multiHistogram(baseline, _))
        }
      }

    () => {
      val cur = Await.result(current, Duration.Inf)
      val bases = baselines.map { case (t, f) => t -> Await.result(f, Duration.Inf) }
      val failures = malformed.collect { case (r, scala.util.Failure(e)) =>
        r.name -> ValidationResult.failure(r, e, ms)
      }
      cur match {
        case Left(e) => (driftRules.map(r => r.name -> ValidationResult.failure(r, e, ms)).toMap, Nil)
        case Right((scanned, overflows)) =>
          val overflowFailures = failures ++
            overflows.map { case (r, e) => r.name -> ValidationResult.failure(r, e, ms) }
          // no histograms only when every rule overflowed: none is active
          val (curHists, partHists) = scanned.getOrElse((Map.empty: Hist, Map.empty[String, Hist]))
          val driftRulesActive = specified.filterNot(r => overflows.exists(_._1.name == r.name))
          val (results, verdicts) = driftOutcomes(df, driftRulesActive, curHists, partHists, bases, ms)
          (overflowFailures.toMap ++ results, verdicts)
      }
    }
  }

  /** Verdicts of the active drift rules from their current-side
    * histograms (`curHists`, per partition `partHists`) against their
    * baselines: a `ref_table` baseline from its scan in `bases`, a
    * `ref_state` one read driver-side. */
  private def driftOutcomes(df: DataFrame, driftRulesActive: Seq[ValidationRule],
      curHists: Map[String, Map[String, Long]],
      partHists: Map[String, Map[String, Map[String, Long]]],
      bases: Map[String, Either[Throwable,
        (Option[Map[String, Map[String, Long]]], Seq[(ValidationRule, Throwable)])]],
      ms: => Double): (Map[String, ValidationResult], Seq[PartitionVerdict]) = {
    // baseline per group: a ref_table is scanned ONCE for all its rules;
    // a ref_state (persisted Profiler state) is read driver-side — ZERO
    // baseline scan, the incremental-profiling face of drift: compare
    // today's table against yesterday's persisted sketch state without
    // re-reading yesterday's rows. ref_state baselines are exact value
    // histograms (Profiler.columnHistogram raises on a purged sketch),
    // so the binned-numeric ks method is rejected — its current side
    // buckets by bin index, which a value histogram can never match.
    val outcomes = driftRulesActive.groupBy(r => (r.param("ref_table"), r.param("ref_state")))
        .toSeq.map { case ((refOpt, stateOpt), group) =>
      try {
        val baseHists: Map[String, Map[String, Long]] = (refOpt, stateOpt) match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            "drift rule takes ref_table OR ref_state, not both")
          case (None, None) => throw new IllegalArgumentException(
            "drift rule needs ref_table or ref_state")
          case (None, Some(path)) =>
            val st = Profiler.readState(path)
            group.map { r =>
              if (Set("ks", "emd")(r.param("method").getOrElse("chi_square"))) {
                // numeric incremental drift: the baseline CDF comes from
                // the state's mergeable KLL quantile sketch, binned to
                // the SAME bucket grid the current scan uses — drift vs
                // yesterday's numbers at zero baseline scan. The sketch
                // is approximate (normalized rank error, ~1.65% at
                // default k), so the gate must be coarser than the
                // baseline's own error: critical ≤ 2×error is rejected —
                // an approximate baseline must never decide a verdict
                // finer than it can see.
                val err = Profiler.kllRankError(st, r.column)
                val crit = r.paramDouble("critical").getOrElse(
                  throw new IllegalArgumentException(
                    s"drift rule '${r.name}' needs critical"))
                require(crit > 2 * err, f"drift rule '${r.name}': cdf-drift critical " +
                  f"$crit%s is within the persisted sketch's rank error " +
                  f"(±$err%.4f) — raise critical above ${2 * err}%.4f or use ref_table")
                r.name -> Profiler.columnCdfHistogram(st, r.column,
                  r.paramDouble("lo").getOrElse(0.0),
                  r.paramDouble("hi").getOrElse(1000.0),
                  r.param("bins").map(_.toInt).getOrElse(64))
              } else {
                // the state's sketch keys values by their JVM string form,
                // the current side by SQL cast-to-string — identical for
                // string/integral/boolean; timestamps canonicalize BOTH
                // faces to epoch micros (driftBucket live-side,
                // columnHistogram sketch-side); floats stay rejected
                // (NaN/"-0.0" spellings diverge between the faces)
                df.schema(r.column).dataType match {
                  case org.apache.spark.sql.types.StringType
                     | org.apache.spark.sql.types.BooleanType
                     | org.apache.spark.sql.types.ByteType
                     | org.apache.spark.sql.types.ShortType
                     | org.apache.spark.sql.types.IntegerType
                     | org.apache.spark.sql.types.LongType
                     | org.apache.spark.sql.types.TimestampType
                     | org.apache.spark.sql.types.TimestampNTZType => ()
                  case other => throw new IllegalArgumentException(
                    s"drift rule '${r.name}': ref_state baselines compare values " +
                      s"by string form and support string/integral/boolean/timestamp " +
                      s"columns; '${r.column}' is ${other.simpleString} — use ref_table")
                }
                // bounded-categorical projection applied to the sketch's
                // value keys too (driver-side fold) — both faces must
                // bucket identically or member/other mass would misread
                // as drift
                r.name -> Checks.projectHistogram(
                  Profiler.columnHistogram(st, r.column,
                    java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))),
                  driftValues(r))
              }
            }.toMap
          case (Some(refTable), None) =>
            // the baseline scan ran over every well-formed rule of the
            // table: its overflow of a rule still active fails the group
            val (hists, over) = bases(refTable).fold(e => throw e, identity)
            over.find(o => group.exists(_.name == o._1.name)).foreach(o => throw o._2)
            hists.getOrElse(Map.empty)
        }
        val perRule = group.map { rule =>
          val critical = rule.paramDouble("critical").getOrElse(
            throw new IllegalArgumentException(s"drift rule '${rule.name}' needs critical"))
          val method = rule.param("method").getOrElse("chi_square")
          val hb = baseHists.getOrElse(rule.name, Map.empty)
          def statOf(ha: Map[String, Long]): (Double, Map[String, String]) = method match {
            case "chi_square" =>
              val (s, dof) = Checks.chiSquareStat(ha, hb); (s, Map("dof" -> dof.toString))
            // effect size, not significance: total variation distance
            // between the two NORMALIZED distributions — size-INVARIANT,
            // so per-partition verdicts at N/P rows fire at the same drift
            // intensity as the global one. Plain chi_square scales with
            // rows (a partition needs ~P× the intensity to clear the same
            // absolute critical), and even Cramér's V dilutes when one
            // sample dwarfs the other (χ² saturates at the smaller total
            // while grand is the larger). TVD is pure frequency distance:
            // critical is a fraction-of-mass-moved threshold in [0,1]
            // (e.g. 0.2), identical at any sample size.
            case "tvd" =>
              (Checks.totalVariationDistance(ha, hb), Map.empty[String, String])
            // alias-grade: the familiar effect size, for configs that ask
            // for it by name — but V dilutes under unbalanced totals, so
            // tvd stays the recommended partition-sensitive method
            case "cramers_v" =>
              (Checks.cramersV(ha, hb), Map.empty[String, String])
            // size-invariant like tvd but log-weighted: catches tail
            // categories collapsing (2% → 0.02%) that barely move TVD;
            // the epsilon zero-share floor is part of the contract and
            // configurable per rule (industry gates: 0.1 / 0.25)
            case "psi" =>
              val eps = rule.paramDouble("epsilon").getOrElse(1e-6)
              (Checks.psi(ha, hb, eps), Map("epsilon" -> eps.toString))
            // symmetric, size-invariant AND bounded ([0, ln 2]) — no
            // epsilon in the contract (zero-share buckets are finite
            // through the mixture), so the gate is a fraction of a known
            // maximum; the choice when psi's epsilon sensitivity is
            // unwanted
            case "js" =>
              (Checks.jensenShannon(ha, hb), Map.empty[String, String])
            case "ks"  => (Checks.ksStat(ha, hb), Map.empty[String, String])
            // earth mover's: the INTEGRAL of the CDF gap where ks is its
            // MAXIMUM — transport-distance-weighted, so the same mass
            // moved across the range outweighs the same mass wobbling
            // one bucket over (identical in ks); normalized by the
            // observed span → critical in [0,1]. Same numeric-bucket
            // face and ref_state KLL path as ks.
            case "emd" => (Checks.emdStat(ha, hb), Map.empty[String, String])
            case other => throw new IllegalArgumentException(s"unknown drift method: $other")
          }
          val ha = curHists.getOrElse(rule.name, Map.empty)
          val (stat, detail) = statOf(ha)
          val total = ha.values.sum
          val failed = if (stat > critical) total else 0L
          val result = rule.name -> ValidationResult.verdict(rule, failed, total, ms,
            detail ++ Map("method" -> method, "statistic" -> stat.toString,
              "critical" -> critical.toString))
          val verdicts = partHists.getOrElse(rule.name, Map.empty).toSeq.map { case (part, ha) =>
            val (pstat, _) = statOf(ha)
            val ptotal = ha.values.sum
            val pfailed = if (pstat > critical) ptotal else 0L
            val rate = if (ptotal == 0) 1.0 else (ptotal - pfailed).toDouble / ptotal
            PartitionVerdict(part, rule.name,
              ValidationResult.passedOf(rule.threshold, pfailed, rate), pfailed, ptotal, rate)
          }
          (result, verdicts)
        }
        (perRule.map(_._1), perRule.flatMap(_._2))
      } catch {
        case e: Throwable =>
          (group.map(r => r.name -> ValidationResult.failure(r, e, ms)), Nil)
      }
    }
    (outcomes.flatMap(_._1).toMap, outcomes.flatMap(_._2))
  }

  /** All outlier rules in two jobs: one fused exact-moments aggregate over
    * every referenced column ([[Checks.momentsExact]] — the global
    * distribution is always the reference, also for per-partition verdicts:
    * a partition's verdict asks "does this partition hold values anomalous
    * for the TABLE", which is the question a partition-level quality gate
    * needs), then one counting aggregate with a conditional-sum per rule —
    * grouped by the partition expression when given, so per-partition
    * verdicts ride the same scan and the global count is their roll-up.
    * A row fails when |x − mean| > k·std (k = `max_zscore`, default 3);
    * NULLs are not failures (range-rule convention). Columns with n < 2
    * have no spread estimate — those rules pass with 0 failures and a
    * `degenerate` marker rather than dividing by zero. A rule whose column
    * does not resolve fails alone, from driver-side analysis: the healthy
    * rules' jobs never see it. */
  private def executeOutlierBatch(
      df: DataFrame, rules: Seq[ValidationRule],
      cachedTotal: Option[Long],
      partitionExpr: Option[org.apache.spark.sql.Column],
      partTotals: Map[String, Long]): (Map[String, ValidationResult], Seq[PartitionVerdict]) = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    val (unresolved, resolved) = rules.map(r => r -> scala.util.Try(df.select(col(r.column))))
      .partition(_._2.isFailure)
    val unresolvedResults = unresolved.collect { case (r, scala.util.Failure(e)) =>
      r.name -> ValidationResult.failure(r, e, ms)
    }.toMap
    val measured = resolved.map(_._1)
    if (measured.isEmpty) return (unresolvedResults, Nil)
    try {
      val total = totalOf(df, cachedTotal)
      val cols = measured.map(_.column).distinct
      // one fused moments job normally. momentsExact RAISES (naming one
      // column) when a column holds values outside the exact decimal range
      // or a sum overflows — but the raise aborts the whole fused job, so
      // on failure the moments are re-derived per column in isolation:
      // only the offending rule(s) route to the error path, sibling rules
      // keep their verdicts (extra jobs only on the rare failure path).
      val momentsByCol: Map[String, Either[Throwable, (Long, Double, Double)]] =
        try Checks.momentsExact(df, cols).view.mapValues(
          Right(_): Either[Throwable, (Long, Double, Double)]).toMap
        catch {
          case _: Throwable =>
            cols.map(c => c -> (
              try Right(Checks.momentsExact(df, Seq(c))(c))
              catch { case e: Throwable => Left(e) })).toMap
        }
      val errResults = unresolvedResults ++ measured.flatMap(r =>
        momentsByCol(r.column).left.toOption.map(e => r.name -> ValidationResult.failure(r, e, ms)))
      val moments = momentsByCol.collect { case (c, Right(m)) => c -> m }
      val measurable = measured.filter(r => moments.contains(r.column))
      val (live, degenerate) = measurable.partition(r => moments(r.column)._1 >= 2)
      val degenerateResults = errResults ++ degenerate.map { r =>
        r.name -> ValidationResult.verdict(r, 0L, total, ms,
          Map("degenerate" -> "true", "non_null_count" -> moments(r.column)._1.toString))
      }.toMap
      if (live.isEmpty) return (degenerateResults, Nil)

      val specs = live.map { r =>
        val (n, s, s2) = moments(r.column)
        val (mean, std) = Checks.meanStd(n, s, s2)
        val k = r.paramDouble("max_zscore").getOrElse(3.0)
        val c = col(r.column)
        (r, mean, std, k, c.isNotNull && abs(c - lit(mean)) > lit(k * std))
      }
      val counters = specs.zipWithIndex.map { case ((_, _, _, _, cond), i) =>
        sum(when(cond, 1L).otherwise(0L)).cast("long").as(s"o_$i")
      }
      def metaOf(mean: Double, std: Double, k: Double) = Map(
        "mean" -> mean.toString, "stddev" -> std.toString, "max_zscore" -> k.toString)

      partitionExpr match {
        case Some(p) if partTotals.nonEmpty =>
          val rows = collectBuckets(df.groupBy(Checks.partGroupCol(df, p).as("__part"))
            .agg(counters.head, counters.tail: _*))
          val outcomes = specs.zipWithIndex.map { case ((r, mean, std, k, _), i) =>
            val failedByPart = rows.map(row =>
              Checks.partKeyString(row.get(0)) ->
                (if (row.isNullAt(1 + i)) 0L else row.getLong(1 + i))).toMap
            val result = r.name -> ValidationResult.verdict(
              r, failedByPart.values.sum, total, ms, metaOf(mean, std, k))
            (result, verdictsFrom(r, failedByPart, partTotals))
          }
          (degenerateResults ++ outcomes.map(_._1).toMap, outcomes.flatMap(_._2))
        case _ =>
          val row = df.agg(counters.head, counters.tail: _*).head()
          val results = specs.zipWithIndex.map { case ((r, mean, std, k, _), i) =>
            val failed = if (row.isNullAt(i)) 0L else row.getLong(i)
            r.name -> ValidationResult.verdict(r, failed, total, ms, metaOf(mean, std, k))
          }.toMap
          (degenerateResults ++ results, Nil)
      }
    } catch {
      case e: Throwable =>
        (unresolvedResults ++ measured.map(r => r.name -> ValidationResult.failure(r, e, ms)), Nil)
    }
  }

  private def totalOf(df: DataFrame, cached: Option[Long]): Long =
    cached.getOrElse(df.count())

  private def executeSingle(
      df: DataFrame, rule: ValidationRule, tableName: String,
      cachedTotal: => Option[Long]): ValidationResult = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    try {
      rule.ruleType match {
        // a fusible rule reaching here failed admission (a missing or
        // ambiguous column, a non-Boolean predicate) or its shared fused job
        // failed — run it as its own single-rule aggregate so its real error
        // surfaces in this rule's failure result
        case rt if RulePlanner.fusible(rule) =>
          val (total, failed) = RulePlanner.runFused(df, Seq(rule))
          ValidationResult.verdict(rule, failed(rule.name), total, ms, Map("fused" -> "true"))

        case RuleType.Quantile =>
          // distribution-position contract (Deequ hasApproxQuantile):
          // BINARY verdict on the q-th percentile of the column ∈
          // [min_value, max_value]. NULLs are excluded by the percentile
          // aggregate itself; undefined (no non-null rows) → error result,
          // never a silent pass (the correlation/entropy contract).
          val (q, minV, maxV) = quantileBounds(rule)
          val row = df.agg(quantileAgg(rule, q).cast("double").as("__q")).head()
          if (row.isNullAt(0))
            throw new IllegalArgumentException(
              s"quantile rule '${rule.name}': percentile(${rule.column}, $q) undefined (no non-null rows)")
          val v = row.getDouble(0)
          val failed = if (v < minV || v > maxV) 1L else 0L
          ValidationResult.verdict(rule, failed, 1L, ms,
            Map("quantile" -> v.toString, "q" -> q.toString,
              "column" -> rule.column))

        case RuleType.Custom =>
          // pyspark convention: expression is full SQL with {table} placeholder;
          // failed_count = number of ROWS returned (`pyspark_engine.py:109-123`)
          val sqlText = rule.expression.getOrElse(
            throw new IllegalArgumentException(s"custom rule '${rule.name}' needs expression"))
          val view = s"temp_view_${tableName}_${viewCounter.incrementAndGet()}"
          df.createOrReplaceTempView(view)
          try {
            val failed = spark.sql(sqlText.replace("{table}", view)).count()
            val total = totalOf(df, cachedTotal)
            ValidationResult.verdict(rule, failed, total, ms)
          } finally spark.catalog.dropTempView(view)

        case RuleType.CustomAgg =>
          // duckdb convention: first scalar of the result IS the failed count
          // (`duckdb_engine.py:122-128`)
          val sqlText = rule.expression.getOrElse(
            throw new IllegalArgumentException(s"custom_agg rule '${rule.name}' needs expression"))
          val view = s"temp_view_${tableName}_${viewCounter.incrementAndGet()}"
          df.createOrReplaceTempView(view)
          try {
            val first = spark.sql(sqlText.replace("{table}", view)).head()
            val failed = if (first.isNullAt(0)) 0L else first.get(0) match {
              case l: Long => l; case i: Int => i.toLong
              case d: Double => d.toLong; case other => other.toString.toDouble.toLong
            }
            val total = totalOf(df, cachedTotal)
            ValidationResult.verdict(rule, failed, total, ms)
          } finally spark.catalog.dropTempView(view)

        case RuleType.Predicate =>
          // reached only when the expression is missing (with one present —
          // even unanalyzable — the rule is fusible and the single-rule
          // fused job above surfaces the real analysis error)
          throw new IllegalArgumentException(
            s"predicate rule '${rule.name}' needs expression")

        case RuleType.RowCount =>
          // table-size contract (the dbt/Deequ "size" check): BINARY verdict
          // — failed = 1 when the row count falls outside
          // [min_rows, max_rows]. Rides the fused pass's cached count, so a
          // row_count rule costs ZERO extra jobs. Note: a partition with no
          // rows does not exist in the data — min_rows flags suspiciously
          // SMALL buckets; detecting wholly-missing partitions needs an
          // expected-partition list (checkpoint lineage's job).
          val (minR, maxR, _, _) = rowCountBounds(rule)
          val n = totalOf(df, cachedTotal)
          val failed = if (n < minR || n > maxR) 1L else 0L
          ValidationResult.verdict(rule, failed, 1L, ms,
            Map("row_count" -> n.toString, "min_rows" -> minR.toString) ++
              rule.param("max_rows").map("max_rows" -> _))

        case RuleType.Cardinality =>
          // distinct-count contract (Deequ hasNumberOfDistinctValues):
          // BINARY verdict on countDistinct(column) ∈ [min_distinct,
          // max_distinct]. NULL counts as one distinct value (the
          // uniqueness family's pyspark parity); approx=true swaps the
          // exact distinct for HLL (rsd param, default 5%) — the one-pass
          // tier for 100 TB columns where ±rsd is acceptable.
          val (minD, maxD) = cardinalityBounds(rule)
          val n = cardinalityOf(df, rule)
          val failed = if (n < minD || n > maxD) 1L else 0L
          ValidationResult.verdict(rule, failed, 1L, ms,
            Map("distinct" -> n.toString) ++
              rule.param("min_distinct").map("min_distinct" -> _) ++
              rule.param("max_distinct").map("max_distinct" -> _))

        case RuleType.Correlation =>
          // relationship contract (Deequ hasCorrelation): BINARY verdict on
          // Pearson corr(colA, colB) ∈ [min_corr, max_corr]; NULL pairs are
          // excluded by corr itself. An undefined global corr (constant or
          // empty column) is a configuration-level problem → error result,
          // never a silent pass.
          val (a, b) = correlationCols(rule)
          val (minC, maxC) = correlationBounds(rule)
          val row = df.agg(Checks.safeCorr(col(a), col(b)).as("__c")).head()
          if (row.isNullAt(0) || row.getDouble(0).isNaN)
            throw new IllegalArgumentException(
              s"correlation rule '${rule.name}': corr($a, $b) undefined (constant or empty column)")
          val c = row.getDouble(0)
          val failed = if (c < minC || c > maxC) 1L else 0L
          ValidationResult.verdict(rule, failed, 1L, ms,
            Map("correlation" -> c.toString, "columns" -> s"$a,$b"))

        case RuleType.Entropy =>
          // distribution-shape contract (Deequ hasEntropy): BINARY verdict
          // on the Shannon entropy (nats) of the column's non-null value
          // distribution ∈ [min_entropy, max_entropy]. min_entropy catches
          // a collapsed distribution (one value swamping a categorical
          // column after an upstream break); max_entropy catches an
          // exploded one (e.g. free text leaking into an enum column).
          // Undefined (all-NULL column) → error result, never a silent
          // pass — the correlation family's contract.
          val (minE, maxE) = entropyBounds(rule)
          val row = Checks.entropyParts(df, rule.column).head()
          val h = (if (row.isNullAt(0)) None
            else Checks.entropyFromParts(row.getLong(0),
              if (row.isNullAt(1)) 0.0 else row.getDouble(1)))
            .getOrElse(throw new IllegalArgumentException(
              s"entropy rule '${rule.name}': entropy(${rule.column}) undefined (no non-null rows)"))
          val failed = if (h < minE || h > maxE) 1L else 0L
          ValidationResult.verdict(rule, failed, 1L, ms,
            Map("entropy" -> h.toString, "column" -> rule.column))

        case RuleType.Reconciliation =>
          executeReconciliation(df, rule, ms _)

        case RuleType.Diff =>
          executeDiff(df, rule, ms _)

        case RuleType.SchemaDrift =>
          // schema CONTRACT vs a reference table: failed = number of
          // differing columns (nullability differences only when
          // check_nullability=true — parquet nullability is noisy), total =
          // the union of both column sets, so success_rate is the fraction
          // of the contract that still holds. Pure metadata — zero Spark
          // jobs — and the per-column diffs land in the result metadata so
          // the report names exactly what changed.
          val refTable = rule.param("ref_table").getOrElse(
            throw new IllegalArgumentException(s"schema rule '${rule.name}' needs ref_table"))
          val refDf = tableResolver(refTable).getOrElse(
            throw new IllegalArgumentException(s"unknown ref_table '$refTable'"))
          val checkNullability = rule.paramBool("check_nullability")
          val diffs = Checks.schemaDiff(df.schema, refDf.schema)
            .filter(d => checkNullability || d._2 != "nullability_changed")
          val unionCols = Checks.schemaUnionColumnCount(df.schema, refDf.schema).toLong
          ValidationResult.verdict(rule, diffs.size.toLong, unionCols, ms,
            if (diffs.isEmpty) Map("ref_table" -> refTable)
            else Map("ref_table" -> refTable,
              "diffs" -> diffs.map(d => s"${d._1}:${d._2}").mkString(";")))

        case other =>
          throw new IllegalArgumentException(s"Unsupported rule type: $other")
      }
    } catch {
      case e: Throwable => ValidationResult.failure(rule, e, ms)
    }
  }

  /** Violating ROWS for one rule — the real quarantine feed (the reference
    * declares a quarantine sink but leaves it a no-op placeholder,
    * `validator.py:264-274`). Fusible rules filter by their failure
    * condition (predicate pushes to the scan); uniqueness uses the window
    * count; referential the anti-join. Custom rows-returned rules return
    * their own result set. */
  def violations(df: DataFrame, rule: ValidationRule): DataFrame = rule.ruleType match {
    case _ if RulePlanner.fusible(rule) =>
      df.filter(RulePlanner.failCondition(df.schema, rule))
    case RuleType.Uniqueness =>
      Checks.duplicateRows(df, if (rule.columns.nonEmpty) rule.columns else Seq(rule.column))
    case RuleType.Sequence =>
      // group-level violation rows: each gapped (or wrong-start) key group
      // with its distinct-count and index span
      Checks.sequenceViolations(df,
        if (rule.columns.nonEmpty) rule.columns else Seq(rule.column),
        rule.param("index").getOrElse(throw new IllegalArgumentException(
          s"sequence rule '${rule.name}' needs an index parameter")),
        rule.param("start").map(_.toLong))
    case RuleType.Monotonic =>
      // transition-level violation rows: each row whose value regresses vs
      // its predecessor in the ordered walk, predecessor alongside
      val (orderCol, valueCol, strict, desc) = RulePlanner.monotonicParams(rule)
      Checks.monotonicViolations(df,
        if (rule.columns.nonEmpty) rule.columns else Seq(rule.column),
        orderCol, valueCol, strict, desc)
    case RuleType.Transition =>
      // row-level violation rows: each row breaking the grammar, with its
      // predecessor value and walk position ("first"/"interior"/"last")
      val (orderCol, valueCol, pairs, first, last) = RulePlanner.transitionParams(rule)
      Checks.transitionViolations(df,
        if (rule.columns.nonEmpty) rule.columns else Seq(rule.column),
        orderCol, valueCol, pairs, first, last)
    case RuleType.FunctionalDependency =>
      // group-level violation rows: each determinant value mapping to more
      // than one dependent tuple, with its distinct-tuple count
      val (keys, dep) = RulePlanner.fdParams(rule)
      Checks.fdViolations(df, keys, dep)
    case RuleType.Referential =>
      val refTable = rule.param("ref_table").getOrElse(
        throw new IllegalArgumentException(s"referential rule '${rule.name}' needs ref_table"))
      val dim = tableResolver(refTable).getOrElse(
        throw new IllegalArgumentException(s"unknown ref_table '$refTable'"))
      // same strict boolean AND same default as the verdict path: an unset
      // broadcast means "dim may be huge" — the row face must not then
      // broadcast it (driver OOM at scale) while the count path hash-joins
      Checks.orphans(df, rule.column, dim, rule.param("ref_column").getOrElse(rule.column),
        broadcastDim = rule.paramBool("broadcast"))
    case RuleType.Custom =>
      val view = s"violations_view_${viewCounter.incrementAndGet()}"
      df.createOrReplaceTempView(view)
      spark.sql(rule.expression.getOrElse(
        throw new IllegalArgumentException(s"custom rule '${rule.name}' needs expression"))
        .replace("{table}", view))
    case RuleType.Outlier =>
      // NOTE: building this plan runs the moments job (one agg) eagerly —
      // the outlier predicate needs the global mean/std as literals
      Checks.outlierRows(df, rule.column,
        rule.paramDouble("max_zscore").getOrElse(3.0))
    case RuleType.Diff =>
      // key-level violation rows: each added / removed / changed key with
      // both sides' row counts
      val (refDf, keys, compare) = diffSpec(df, rule)
      Checks.diffViolations(df, refDf, keys, compare)
    case _ => df.limit(0) // drift & custom_agg are table-level verdicts: no row set
  }

  /** Quarantine: violating rows for every enabled rule, tagged with the rule
    * name, appended to `path` as parquet — one union plan, one write job.
    * The row count rides the write itself via `observe` (no second scan, and
    * it counts THIS run's rows — not the cumulative sink like a re-read
    * would). Rules whose violation plan fails to build are reported in
    * `ruleErrors` instead of being silently dropped. */
  def quarantine(df: DataFrame, rules: Seq[ValidationRule], path: String): QuarantineOutcome = {
    val attempts = rules.filter(_.enabled).map { r =>
      r.name -> scala.util.Try(violations(df, r).withColumn("__rule_name", lit(r.name)))
    }
    val errors = attempts.collect {
      case (name, scala.util.Failure(e)) => name -> String.valueOf(e.getMessage)
    }.toMap
    val tagged = attempts.collect { case (_, scala.util.Success(d)) => d }
    if (tagged.isEmpty) return QuarantineOutcome(0L, errors)
    val all = tagged.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    QuarantineOutcome(graft.io.Sinks.observedAppend(all, path), errors)
  }

  /** Per-table partition verdicts from the most recent [[validateTable]]
    * run of a `partition_by`-configured table — the CLI's handle for the
    * metrics sink (the reference-parity summary type has no verdict slot). */
  @volatile private var lastVerdicts: Map[String, Seq[PartitionVerdict]] = Map.empty
  def partitionVerdictsOf(tableName: String): Seq[PartitionVerdict] =
    lastVerdicts.getOrElse(tableName, Nil)

  /** Validate one table end-to-end; marks checkpoint state on success
    * (reference `validator.py:71-99`). A table configured with
    * `partition_by` runs the PARTITIONED path — global verdicts ride the
    * same grouped pass, and the per-partition verdicts are retrievable via
    * [[partitionVerdictsOf]].
    *
    * Sampled tier (`sample_by` + `sample_permille < 1000`): every
    * sample-compatible rule runs on a DETERMINISTIC key sample (md5-rank
    * keep predicate — a pure scan filter, whole key groups kept or dropped
    * together so group-unit families see intact groups; rows with a NULL
    * sample key are never sampled in). Sampled results carry
    * `sampled_by` / `sample_permille` plus the Wilson 95% interval of the
    * observed success rate — the consumer sees not just the estimate but
    * how tight it is at the sampled n. Families whose semantics are
    * ABSOLUTE — reconciliation, diff, row_count, cardinality, schema —
    * still see the full table: a 30% slice reconciles against nothing,
    * diffs as mass deletion, and under-counts distincts, so sampling them
    * would manufacture failures. Group-unit families (uniqueness,
    * sequence, monotonic, transition, functional_dependency) are sampled only when
    * the sample key is one of their own key columns (intact groups —
    * see [[Validator.sampleExemptRule]]); otherwise they too run full.
    * Partition verdicts from sampled rules carry no marker of their own
    * (PartitionVerdict has no metadata slot) — consumers identify them by
    * rule_name via the rule's global result, which does. At 10^12 turns
    * this is the hourly tier: rate-quality rules on the slice for
    * 1/permille the cost, the full pass nightly. */
  /** Fingerprint of `tableName`'s effective suite under THIS config —
    * what completion entries are stamped with and skips are gated on
    * ([[Validator.suiteFingerprint]]). Public so external orchestrators
    * driving [[graft.state.Checkpoint]] directly can stamp consistently. */
  def suiteHash(tableName: String): String =
    Validator.suiteFingerprint(config.enabledRules(tableName),
      config.tableConfig(tableName))

  def validateTable(df: DataFrame, tableName: String): ValidationSummary = {
    val rules = config.enabledRules(tableName)
    val tcfg = config.tables.find(_.name == tableName)
    val partExpr = tcfg.flatMap { t =>
      t.partitionBy.map { c =>
        if (t.partitionBuckets > 0) pmod(xxhash64(col(c)), lit(t.partitionBuckets))
        else col(c)
      }
    }
    val sampleSpec: Option[(String, Int)] = tcfg
      .filter(_.samplePermille < 1000)
      .flatMap(t => t.sampleBy.map(_ -> t.samplePermille))
    val (summary, verdicts) = sampleSpec match {
      case None => executeRulesPartitioned(df, rules, tableName, partExpr)
      case Some((key, permille)) =>
        val t0 = System.nanoTime()
        def ms = (System.nanoTime() - t0) / 1e6
        val (absolute, sampled) = rules.partition(r => Validator.sampleExemptRule(r, key))
        // both groups are submitted before either is collected, so their
        // jobs overlap (the absolute group often carries the expensive
        // full-table diff/reconciliation jobs). A misconfigured sample key
        // (typo'd column) must degrade to the SAMPLED rules' failure
        // results — the engine's per-rule error isolation — not abort the
        // table (the filter analyzes eagerly).
        val absoluteC = submitFrame(df, absolute, tableName, partExpr)
        val sampledC = scala.util.Try(graft.operators.Curation.hashSamplePermille(df, key, permille)) match {
          case scala.util.Success(sdf) => submitFrame(sdf, sampled, tableName, partExpr)
          case scala.util.Failure(e) =>
            val failed = sampled.map(r => ValidationResult.failure(r, e, ms))
            () => (failed, Nil)
        }
        val (aRes, aVer) = absoluteC()
        val (sRes, sVer) = sampledC()
        // failure results carry no sampled_by marker: nothing was sampled,
        // and the marker is the metrics consumer's sampled-tier key
        val annotated = sRes.map { r =>
          if (r.failed_count < 0) r
          else {
            val ci =
              if (r.total_count > 0) {
                val (lo, hi) = Validator.wilson95(r.failed_count, r.total_count)
                Map("ci95_lo" -> f"$lo%.6f", "ci95_hi" -> f"$hi%.6f")
              } else Map.empty[String, String]
            r.copy(metadata = r.metadata +
              ("sampled_by" -> key) + ("sample_permille" -> permille.toString) ++ ci)
          }
        }
        val byName = (annotated ++ aRes).map(r => r.rule_name -> r).toMap
        (ValidationSummary.from(tableName, rules.map(r => byName(r.name)),
          (System.nanoTime() - t0) / 1e6), sVer ++ aVer)
    }
    // synchronized: the += on the map is read-modify-write — concurrent
    // validateTable calls for different tables must not lose each other
    this.synchronized { lastVerdicts = lastVerdicts + (tableName -> verdicts) }
    checkpoint.foreach(_.markCompleted(tableName,
      Map("passed_rules" -> summary.passed_rules.toString,
          "failed_rules" -> summary.failed_rules.toString),
      suiteHash(tableName)))
    summary
  }

  /** Incremental validation of a table whose rows appended since the last
    * cursor are `delta` (the snap-table changes feed): each rule family
    * sees the SMALLEST frame that makes its verdict correct —
    *
    *   - row-level fusible rules (completeness / range / pattern / type /
    *     allowed_values / freshness / predicate) see ONLY the delta: their
    *     semantics are per-row, so "validate the new rows" is exact;
    *   - group-unit rules (uniqueness, sequence, monotonic, transition,
    *     functional_dependency) see the AFFECTED GROUPS IN FULL — the
    *     delta's key values semi-joined back against the whole table. A
    *     turn appended to an existing conversation revalidates its WHOLE
    *     conversation: a dense-index walk never reads a false gap at the
    *     batch boundary, and a new row duplicating a HISTORICAL key is
    *     caught (both are wrong under naive slice validation). On the
    *     key-bucketed layout the semi-join is co-partitioned; verdict
    *     totals count affected groups, the incremental unit of work;
    *   - everything else (drift, diff, reconciliation, row_count,
    *     cardinality, quantile, correlation, entropy, outlier, schema,
    *     referential, custom SQL — slicing custom semantics is not the
    *     engine's call) still sees the FULL table: a size contract or
    *     distinct count over a slice manufactures failures, the sampled
    *     tier's lesson.
    *
    * Every frame's sections are submitted from the caller's thread — the
    * delta and full frames first, then one affected-groups frame per key
    * set — and collected once, so all frames' jobs overlap. An
    * affected-groups frame holds only walk members and submits only its
    * walk: no fused job, and nothing cached (each frame has one reader per
    * walk). Results keep rule order and carry an `incremental` marker
    * naming the frame each rule saw (`delta` / `affected_groups` /
    * `full`). Global verdicts only — per-partition verdicts belong to the
    * full-validation tier.
    *
    * `tableFrameForKeys` (optional) supplies the TABLE side of a group
    * family's semi-join given its key columns — the storage layer's chance
    * to prune: a snap-table caller passes
    * [[graft.io.SnapTable.readTouchedBy]] so only files whose key range
    * intersects the delta's are scanned. The hook MUST return a superset
    * of the rows whose key appears in the delta (plus the NULL-key rows
    * whenever the delta has NULL keys); any hook failure falls back to
    * `full` via the frame's per-rule error path. */
  def validateTableIncremental(full: DataFrame, delta: DataFrame,
      tableName: String,
      tableFrameForKeys: Option[Seq[String] => DataFrame] = None): ValidationSummary = {
    val t0 = System.nanoTime()
    val rules = config.enabledRules(tableName)
    val (grp, rest) = rules.partition(r =>
      Validator.groupUnitFamilies.contains(r.ruleType))
    val (sliceSafe, absolute) = rest.partition(r => RulePlanner.fusible(r))
    // every frame is submitted here, on the caller's thread, before any is
    // collected. Frame construction (the semi-join's column resolution, the
    // hook) sits outside the per-rule isolation — a misconfigured rule must
    // still fail as ITS OWN error result, not abort the table, so a frame
    // that does not build falls back to the full table and the rule raises
    // its real analysis error there
    def submit(rs: Seq[ValidationRule], frame: => DataFrame, tag: String): () => Seq[ValidationResult] = {
      val (df, frameTag) = scala.util.Try(frame).toOption.fold((full, "full"))((_, tag))
      val collect = submitFrame(df, rs, tableName, None)
      () => collect()._1.map(r => if (r.failed_count < 0) r
        else r.copy(metadata = r.metadata + ("incremental" -> frameTag)))
    }
    // the delta and full frames are submitted first, so their jobs run
    // while the hook below reads the table side
    val deltaC = submit(sliceSafe, delta, "delta")
    val fullC = submit(absolute, full, "full")
    // one semi-join per distinct key set (rules on the same keys share it);
    // a rule whose key can't even be named (no columns) rides the full frame
    val byKeys = grp.groupBy(r =>
        scala.util.Try(Validator.ruleKeys(r).map(_.toLowerCase)).toOption).toSeq
    // the hook's table side for key set A serves every key set B ⊇ A (a row
    // whose B-key is in the delta has its A-key there too), so the hook runs
    // once per MINIMAL key set; lazy, so a throwing hook fails inside each
    // frame's fallback
    val keySets = byKeys.collect { case (Some(ks), rs) => ks.toSet -> Validator.ruleKeys(rs.head) }.toMap
    val hooked = tableFrameForKeys.map(hook => keySets.collect {
      case (a, keys) if !keySets.keys.exists(b => b.size < a.size && b.subsetOf(a)) =>
        lazy val table = hook(keys); a -> (() => table)
    })
    def tableFor(keys: Seq[String]): DataFrame = hooked.fold(full) { hs =>
      val ks = keys.map(_.toLowerCase).toSet
      hs.collectFirst { case (a, table) if a.subsetOf(ks) => table() }.get
    }
    val grpCs = byKeys.map {
        case (None, rs) => submit(rs, full, "full")
        case (Some(_), rs) =>
          val keys = Validator.ruleKeys(rs.head)
          def frame = { // by-name into submit: resolution/hook errors must
            // hit its fallback, not this map
            // storage-level file pruning first (when the caller provided
            // the hook), then prune the table side to the columns this
            // rule set actually reads (keys + the families' column-bearing
            // params) BEFORE the semi-join: the group families never touch
            // the wide text columns, so the scan feeding the join reads a
            // few narrow columns of a few files instead of every byte. Any
            // unresolvable name → no pruning, and the rule raises its real
            // error inside its section
            val table = tableFor(keys)
            val referenced = (keys ++ rs.flatMap(r =>
              Seq("index", "order_by", "value").flatMap(r.param) ++
                r.param("dependent").toSeq.flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))))
              .map(_.trim).distinct
            val resolved = referenced.flatMap(c => table.columns.find(_.equalsIgnoreCase(c)))
            val base = if (resolved.size == referenced.size)
              table.select(resolved.map(col): _*) else table
            // NULL-safe equality: NULL keys form their own group on the
            // full path (the group walk), so an equi-join
            // — where NULL never matches — would silently drop NULL-key
            // delta rows from the frame. Aliased sides because the delta is
            // often derived from the same plan as the table (tests,
            // backfills) and bare df(col) references would be ambiguous
            // under self-join.
            val lhs = base.alias("__incr_tbl")
            val rhs = delta.select(keys.map(col): _*).distinct().alias("__incr_keys")
            val joinCond = keys.map(k =>
              col(s"__incr_tbl.`$k`") <=> col(s"__incr_keys.`$k`")).reduce(_ && _)
            lhs.join(rhs, joinCond, "left_semi")
          }
          submit(rs, frame, "affected_groups")
      }
    val results = (deltaC() ++ fullC() ++ grpCs.flatMap(_()))
      .map(r => r.rule_name -> r).toMap
    val summary = ValidationSummary.from(tableName,
      rules.map(r => results(r.name)), (System.nanoTime() - t0) / 1e6)
    // incremental runs emit no partition verdicts: clear the table's slot
    // so a sink never re-reads a PREVIOUS full run's verdicts as current
    this.synchronized { lastVerdicts = lastVerdicts + (tableName -> Nil) }
    checkpoint.foreach(_.markCompleted(tableName,
      Map("passed_rules" -> summary.passed_rules.toString,
          "failed_rules" -> summary.failed_rules.toString),
      suiteHash(tableName)))
    summary
  }

  /** Stats-tier validation of a snap table: every rule whose verdict the
    * manifest's per-file footer statistics can PROVE is answered with the
    * EXACT counts and zero (or near-zero) data scanned —
    *
    *   - completeness on non-floating columns: failed = Σ per-file
    *     nullCount (exact; floating columns fall back to the engine —
    *     footer stats cannot see the NaNs the rule counts as missing);
    *   - row_count: the manifest's total row count IS the verdict input;
    *   - range on integral columns: files whose footer range lies inside
    *     the bounds contribute zero failures, files entirely outside
    *     contribute all their non-null rows, and ONLY the files straddling
    *     a bound are scanned — at 10^12 turns "turn_idx ∈ [0, 2^20]" reads
    *     a handful of boundary files, usually none;
    *   - freshness on timestamp columns: the same decomposition against
    *     the cutoff instant in epoch micros, the footer stats' own domain.
    *
    * Every other rule (and every malformed-parameter case — error results
    * keep their single source of truth) runs through [[executeRules]] over
    * the table read, unchanged. Decided results carry metadata
    * `tier=stats` + `files_scanned`/`files_total`; their failed/total/
    * message are byte-identical to the scanning path's (StatsTierSpec pins
    * the equivalence on data with NULLs, NaNs, boundary values and evolved
    * schemas). Exactness of the zero-scan counts relies on the table being
    * written by this format's own writer — Spark's parquet writer always
    * records footer null counts ([[graft.io.SnapTable]]'s commit contract).
    *
    * Per-PARTITION verdicts come for free at this tier with the DATA FILE
    * as the partition unit — the manifest's own lineage granularity (the
    * north rule's "per-partition lineage + metrics", decided from metadata):
    * completeness splits its nullCount sum per file, range/freshness fold
    * each file's [[StatsTier.FileClass]], and the boundary scan groups its
    * failure count by `input_file_name` — same bytes read as the global
    * verdict, one extra O(boundary-files) collect. Available via
    * [[partitionVerdictsOf]] keyed by the manifest-relative file path;
    * rules that fall back to the engine scan contribute none (their
    * partition unit is a ROW expression, not a file — use the full tier). */
  def validateSnapStatsFirst(dir: String, tableName: String,
      asOf: Option[Long] = None): ValidationSummary = {
    val t0 = System.nanoTime()
    // version-aware throughout: the manifest, the boundary-file subsets
    // (decideBounded reads via THIS snapshot's file list) and the
    // rest-rules read all see the same asOf version — time travel costs
    // the tier nothing because it never looks past the manifest anyway
    val snap = graft.io.SnapTable.snapshot(spark, dir, asOf)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl)
    val rules = config.enabledRules(tableName)
    val decided = rules.flatMap(r =>
      statsVerdict(dir, snap, schema, r).map(r.name -> _)).toMap
    val rest = rules.filterNot(r => decided.contains(r.name))
    val restByName =
      if (rest.isEmpty) Map.empty[String, ValidationResult]
      else executeRules(graft.io.SnapTable.read(spark, dir, asOf), rest, tableName)
        .results.map(r => r.rule_name -> r).toMap
    val summary = ValidationSummary.from(tableName,
      rules.map(r => decided.get(r.name).map(_._1).getOrElse(restByName(r.name))),
      (System.nanoTime() - t0) / 1e6)
    // per-file verdicts from the decided rules replace any previous full
    // run's partition slot (scan-fallback rules contribute none); checkpoint
    // completion recorded for the resume contract
    val fileVerdicts = rules.flatMap(r => decided.get(r.name).toSeq.flatMap(_._2))
    this.synchronized { lastVerdicts = lastVerdicts + (tableName -> fileVerdicts) }
    // checkpoint completion only for the LIVE table: a time-traveled @vN run
    // validated historical content, and recording it under the current suite
    // hash would let a later --skip-completed run skip the live table
    if (asOf.isEmpty)
      checkpoint.foreach(_.markCompleted(tableName,
        Map("passed_rules" -> summary.passed_rules.toString,
            "failed_rules" -> summary.failed_rules.toString),
        suiteHash(tableName)))
    summary
  }

  /** One data file's verdict row — the stats tier's partition unit, keyed
    * by the manifest-relative file path; threshold semantics identical to
    * the fused section's per-partition verdicts
    * ([[executeRulesPartitioned]]). */
  private def fileVerdict(rule: ValidationRule, path: String,
      failed: Long, total: Long): PartitionVerdict = {
    val rate = if (total == 0) 1.0 else (total - failed).toDouble / total
    PartitionVerdict(path, rule.name,
      ValidationResult.passedOf(rule.threshold, failed, rate), failed, total, rate)
  }

  /** The stats tier's attempt at one rule — Some((result, per-file
    * verdicts)) when the manifest (plus, for range/freshness, a scan of
    * only the boundary files) decides it; None routes the rule to the
    * engine path untouched. Any raise here (malformed params, missing
    * column) also returns None: the engine path owns every error result,
    * so both tiers fail identically. */
  private def statsVerdict(dir: String, snap: graft.io.Snapshot,
      schema: org.apache.spark.sql.types.StructType,
      rule: ValidationRule): Option[(ValidationResult, Seq[PartitionVerdict])] = {
    import org.apache.spark.sql.types._
    val t0 = System.nanoTime()
    def meta(scanned: Int) = Map(
      "tier" -> "stats",
      "files_scanned" -> scanned.toString,
      "files_total" -> snap.files.size.toString)
    def field = schema.fields.find(_.name.equalsIgnoreCase(rule.column))
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    try {
      rule.ruleType match {
        case RuleType.Completeness =>
          field.filterNot(f =>
              f.dataType == DoubleType || f.dataType == FloatType).map { f =>
            // a file with no stat entry for the column predates it (schema
            // evolution): every row reads as NULL there
            val perFile = snap.files.map(df => fileVerdict(rule, df.path,
              df.stats.get(f.name).map(_.nullCount).getOrElse(df.rowCount),
              df.rowCount))
            (ValidationResult.verdict(rule, perFile.map(_.failed_count).sum,
              snap.totalRows, (System.nanoTime() - t0) / 1e6, meta(0)), perFile)
          }
        case RuleType.RowCount =>
          val (minR, maxR, _, _) = rowCountBounds(rule)
          val n = snap.totalRows
          val failed = if (n < minR || n > maxR) 1L else 0L
          // a TABLE-level rule: no per-file unit (a file's row count is not
          // the rule's contract), so it contributes no partition verdicts
          Some((ValidationResult.verdict(rule, failed, 1L,
            (System.nanoTime() - t0) / 1e6,
            Map("row_count" -> n.toString, "min_rows" -> minR.toString) ++
              rule.param("max_rows").map("max_rows" -> _) ++ meta(0)), Nil))
        case RuleType.Range =>
          val lo = rule.paramDouble("min").orElse(rule.paramDouble("min_value"))
          val hi = rule.paramDouble("max").orElse(rule.paramDouble("max_value"))
          field.filter(f => integral(f.dataType) && (lo.nonEmpty || hi.nonEmpty))
            .map { f =>
              decideBounded(dir, snap, rule,
                StatsTier.classifyRange(_, f.name, lo, hi),
                RulePlanner.rangeFailCond(rule), t0, meta)
            }
        case RuleType.Freshness =>
          // TZ timestamps store UTC-adjusted micros — the footer stat IS the
          // engine's comparison value. NTZ stores wall-clock micros, which
          // the engine's cast reinterprets in the SESSION zone: only under
          // UTC is that reinterpretation the identity, so NTZ is decidable
          // exactly there and scans everywhere else.
          val utcSession = java.time.ZoneId
            .of(spark.sessionState.conf.sessionLocalTimeZone)
            .normalized() == java.time.ZoneOffset.UTC
          field.filter(f => (f.dataType == TimestampType ||
              (f.dataType == TimestampNTZType && utcSession)) &&
              rule.paramDouble("max_age_seconds").nonEmpty).map { f =>
            val cutoff = RulePlanner.freshnessCutoffMicros(rule)
            decideBounded(dir, snap, rule,
              StatsTier.classifyFreshness(_, f.name, cutoff),
              col(f.name).isNotNull &&
                unix_micros(col(f.name).cast(TimestampType)) < lit(cutoff),
              t0, meta)
          }
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fold [[StatsTier.FileClass]]es over the snapshot's files and scan only
    * the undecidable remainder with the rule's own failure condition. The
    * boundary scan groups its failure count by source file (same bytes
    * read, O(boundary-files) collect), so the per-file verdicts cost
    * nothing beyond the global count they sum to. */
  private def decideBounded(dir: String, snap: graft.io.Snapshot,
      rule: ValidationRule, classify: graft.io.DataFile => StatsTier.FileClass,
      scanCond: Column, t0: Long,
      meta: Int => Map[String, String]): (ValidationResult, Seq[PartitionVerdict]) = {
    val classes = snap.files.map(f => f -> classify(f))
    val boundary = classes.collect { case (f, StatsTier.NeedsScan) => f }
    // file NAMES are unique by construction (nonce-tagged at write), so the
    // absolute scan paths join back to manifest-relative paths by last segment
    val scanByName: Map[String, Long] =
      if (boundary.isEmpty) Map.empty
      else graft.io.SnapTable.readSubset(spark, dir, snap, boundary)
        .where(scanCond)
        .groupBy(input_file_name().as("__file")).count()
        .collect()
        .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
          -> r.getLong(1)).toMap
    val perFile = classes.map { case (f, cls) =>
      val failed = cls match {
        case StatsTier.AllPass => 0L
        case StatsTier.AllFail(n) => n
        case StatsTier.NeedsScan =>
          scanByName.getOrElse(f.path.substring(f.path.lastIndexOf('/') + 1), 0L)
      }
      fileVerdict(rule, f.path, failed, f.rowCount)
    }
    (ValidationResult.verdict(rule, perFile.map(_.failed_count).sum,
      snap.totalRows, (System.nanoTime() - t0) / 1e6, meta(boundary.size)),
      perFile)
  }

  /** Validate all configured tables, skipping those already completed in the
    * checkpoint (reference `validator.py:101-131`; skip contract asserted in
    * `tests/test_state.py:60-65` — a fully-completed rerun returns empty). */
  def validateAllTables(load: String => DataFrame): Map[String, ValidationSummary] =
    config.tables.flatMap { t =>
      // suite-aware skip: a completion recorded under a DIFFERENT rule
      // suite (edited threshold, added rule, tag selection) is stale and
      // re-validates; hash-less legacy entries keep the reference's
      // unconditional skip
      if (checkpoint.exists(_.isCompleted(t.name, suiteHash(t.name)))) None
      else Some(t.name -> validateTable(load(t.name), t.name))
    }.toMap

  /** Data-cleaning mode (`filter_mode` in a table config — reference
    * `validator.py:133-162`): apply every enabled rule as a row FILTER and
    * return the cleaned DataFrame. */
  def cleanTable(df: DataFrame, tableName: String): DataFrame =
    RulePlanner.applyFilters(df, config.enabledRules(tableName))

  /** The table's rules rendered as DLT-style expectations (rule name →
    * Spark-SQL keep-predicate; see [[RulePlanner.dltExpectations]]) — the
    * migration surface for Databricks DLT pipelines: paste each entry into
    * `@dlt.expect_or_drop(name, predicate)` and the pipeline enforces the
    * same row-level contract this engine validates. `df` supplies the
    * schema (completeness's NaN handling and pattern's cast depend on
    * column types). */
  def dltExpectations(df: DataFrame, tableName: String): Seq[(String, String)] =
    RulePlanner.dltExpectations(df.schema, config.enabledRules(tableName))

  /** Full nested report, key-for-key the reference's shape
    * (`validator.py:197-228` and `_calculate_overall_stats` at 279-295):
    * top level `validation_timestamp/engine_type/total_tables/overall_stats/
    * table_results`; per table `total_rules/passed_rules/failed_rules/
    * success_rate/execution_time_ms/rules`; per rule `name/type/passed/
    * success_rate/message/severity`. A dict input keeps its table keys
    * (the reference CLI test asserts `"customers" in table_results`,
    * `tests/test_cli.py:52-55`); only a BARE summary is keyed
    * "single_table" — use [[report(summary:graft\.ValidationSummary)*]]. */
  def report(summaries: Map[String, ValidationSummary]): Report = {
    val totalRules = summaries.values.map(_.total_rules).sum
    val totalPassed = summaries.values.map(_.passed_rules).sum
    Report(
      validation_timestamp = java.time.Instant.now().toString,
      engine_type = config.engine.engineType,
      total_tables = summaries.size,
      overall_stats = OverallStats(
        total_rules = totalRules,
        total_passed = totalPassed,
        total_failed = summaries.values.map(_.failed_rules).sum,
        overall_success_rate = if (totalRules == 0) 1.0 else totalPassed.toDouble / totalRules,
        total_execution_time_ms = summaries.values.map(_.total_execution_time_ms).sum),
      table_results = summaries.map { case (name, s) =>
        name -> TableReport(
          total_rules = s.total_rules,
          passed_rules = s.passed_rules,
          failed_rules = s.failed_rules,
          success_rate = s.overall_success_rate,
          execution_time_ms = s.total_execution_time_ms,
          rules = s.results.map(r => RuleReport(r.rule_name, r.rule_type, r.passed,
            r.success_rate, r.message, r.severity)))
      })
  }

  /** Bare-summary overload: keyed "single_table" (reference
    * `validator.py:204-206`). */
  def report(summary: ValidationSummary): Report =
    report(Map("single_table" -> summary))
}

object Validator {
  /** Deterministic fingerprint of a table's EFFECTIVE validation suite:
    * every enabled rule's identity-bearing fields (in execution order —
    * the order is observable in results) plus the table-level knobs that
    * change verdicts (partitioning of the verdict surface, the sampled
    * tier, filter mode). Stored in the checkpoint at completion and
    * compared before a skip ([[graft.state.Checkpoint.isCompleted]]):
    * "this table was validated" is only a reason not to validate it again
    * while THIS is still what validating it would mean. Tag selection is
    * covered for free — [[graft.ValidationConfig.selectTags]] rewrites the
    * rule lists, so the selected suite hashes differently from the full
    * one. MD5 over a control-character-delimited canonical string (field
    * separator \u0001, record separator \u0002 — values can't contain
    * them, so no quoting is needed). */
  def suiteFingerprint(rules: Seq[graft.ValidationRule],
                       tcfg: Option[graft.TableConfig]): String = {
    val sb = new StringBuilder
    rules.foreach { r =>
      sb.append(r.name).append('\u0001')
        .append(r.ruleType).append('\u0001')
        .append(r.columns.mkString(",")).append('\u0001')
        .append(r.expression.getOrElse("")).append('\u0001')
        .append(r.threshold.map(_.toString).getOrElse("")).append('\u0001')
        .append(r.severity).append('\u0001')
        .append(r.parameters.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(";"))
        .append('\u0002')
    }
    tcfg.foreach { t =>
      sb.append(t.partitionBy.getOrElse("")).append('\u0001')
        .append(t.partitionBuckets).append('\u0001')
        .append(t.sampleBy.getOrElse("")).append('\u0001')
        .append(t.samplePermille).append('\u0001')
        .append(t.filterMode)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sb.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Families whose verdicts measure ABSOLUTE quantities of the whole
    * table — cross-table comparisons (reconciliation, diff), size bounds
    * (row_count), distinct-count bounds (cardinality; sampling
    * under-counts distincts — the species problem), and the schema
    * contract. The sampled-validation tier runs these on the FULL table;
    * everything else (rates, shapes, per-group integrity) estimates
    * honestly from a key sample. */
  private[engine] val sampleExempt: Set[String] = Set(
    graft.RuleType.Reconciliation, graft.RuleType.Diff, graft.RuleType.RowCount,
    graft.RuleType.Cardinality, graft.RuleType.SchemaDrift)

  /** Group-unit families stay SAMPLED only when the sample key is one of
    * the rule's own key columns — then whole groups are kept or dropped
    * together and the per-group verdict is an honest cluster sample. A
    * sample keyed OUTSIDE the group key truncates groups: a duplicate
    * pair spanning two sample keys survives with probability p² instead
    * of p (uniqueness under-counts by ~1/p — the species problem), a
    * partially-kept conversation fabricates sequence gaps, and an FD
    * violation needs both conflicting rows to survive. Such rules run on
    * the FULL table instead. */
  private[engine] def sampleExemptRule(r: graft.ValidationRule, sampleKey: String): Boolean =
    sampleExempt(r.ruleType) ||
      (groupUnitFamilies.contains(r.ruleType) &&
        !r.columns.exists(_.equalsIgnoreCase(sampleKey)))

  /** Families whose verdict unit is a KEY GROUP, not a row: sampling must
    * keep/drop whole groups (see [[sampleExemptRule]]) and the incremental
    * tier must revalidate affected groups in full
    * ([[Validator.validateTableIncremental]]). ONE definition — the
    * dispatch sites read it, so the next group-unit family can't be added
    * to one face and silently missed by the other. */
  private[engine] val groupUnitFamilies: Set[String] = Set(
    graft.RuleType.Uniqueness, graft.RuleType.Sequence,
    graft.RuleType.Monotonic, graft.RuleType.Transition,
    graft.RuleType.FunctionalDependency)

  /** A rule's key column set: `columns`, or the single `column` — which
    * RAISES when no column is named, so wrap in Try where a keyless rule
    * must fall back instead of aborting. */
  private[engine] def ruleKeys(r: graft.ValidationRule): Seq[String] =
    if (r.columns.nonEmpty) r.columns else Seq(r.column)

  /** A partition expression produced more distinct values than the pass
    * may collect to the driver. */
  final class BucketOverflow(max: Int) extends IllegalArgumentException(
    s"partition expression produced more than $max buckets — " +
      "use a bucketing expression like pmod(xxhash64(col), lit(32))")

  /** A job failure no single rule can cause: the caller cancelled the job
    * or its job group, interrupted the thread, or stopped the context; or
    * the partition expression overflowed the bucket guard. Re-running a
    * shared job's rules one at a time would start a fresh scan per rule
    * for a caller who has already given up on all of them, or for a guard
    * every rule trips again. */
  private[engine] def sharedFailure(sc: org.apache.spark.SparkContext, e: Throwable): Boolean =
    sc.isStopped || Thread.currentThread.isInterrupted ||
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
        case _: InterruptedException | _: BucketOverflow => true
        case t: org.apache.spark.SparkThrowable => t.getCondition == "SPARK_JOB_CANCELLED"
        case _ => false
      }

  /** Wilson 95% score interval of the SUCCESS rate given (failed, total) —
    * the sampled tier's "how tight is this estimate" annotation. Preferred
    * over the normal approximation because sampled rates sit near 1.0,
    * exactly where the Wald interval collapses. */
  private[engine] def wilson95(failed: Long, total: Long): (Double, Double) = {
    val z = 1.959963984540054
    val n = total.toDouble
    val p = (n - failed) / n
    val z2 = z * z
    val denom = 1.0 + z2 / n
    val center = (p + z2 / (2.0 * n)) / denom
    val half = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    (math.max(0.0, center - half), math.min(1.0, center + half))
  }

  /** Shared daemon pool for submitting independent rule-section Spark jobs
    * concurrently (drift scans ∥ group walks ∥ per-rule jobs). Sized
    * for SECTION fan-out, not task parallelism — Spark's scheduler owns the
    * cores; these threads only build plans and block on job results. Flat
    * future graph only (no future awaits another on this pool). */
  private[engine] lazy val sectionPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, "graft-rule-section")
          t.setDaemon(true)
          t
        }))

  /** Dedicated pool for the fused-stats job. Sections on [[sectionPool]]
    * BLOCK awaiting the fused future (after their own Spark jobs), and a
    * frame without fusible rules submits its fused job from such a section
    * on first demand, so the fused job must never compete for those
    * threads — a shared bounded pool could deadlock with every thread
    * parked on the await. Cached (not fixed): every frame a pass submits
    * (the incremental tier's delta and full frames, the sampled tier's two
    * rule groups) and every concurrent caller gets a thread immediately. */
  private[engine] lazy val fusedPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        (r: Runnable) => {
          val t = new Thread(r, "graft-fused-stats")
          t.setDaemon(true)
          t
        }))
}

/** This-run quarantine outcome: rows written plus per-rule plan failures. */
final case class QuarantineOutcome(written: Long, ruleErrors: Map[String, String])

/** Per-rule entry in the report (reference `validator.py:213-222`). */
final case class RuleReport(
    name: String,
    `type`: String,
    passed: Boolean,
    success_rate: Double,
    message: String,
    severity: String
)

/** Per-table entry in the report (reference `validator.py:207-224`). */
final case class TableReport(
    total_rules: Int,
    passed_rules: Int,
    failed_rules: Int,
    success_rate: Double,
    execution_time_ms: Double,
    rules: Seq[RuleReport]
)

/** Cross-table rollup (reference `_calculate_overall_stats`). */
final case class OverallStats(
    total_rules: Int,
    total_passed: Int,
    total_failed: Int,
    overall_success_rate: Double,
    total_execution_time_ms: Double
)

final case class Report(
    validation_timestamp: String,
    engine_type: String,
    total_tables: Int,
    overall_stats: OverallStats,
    table_results: Map[String, TableReport]
)
