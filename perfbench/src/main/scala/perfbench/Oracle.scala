package perfbench

import graft.{ValidationResult, ValidationRule}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Expected (failed, total) of one rule. */
final case class Expect(failed: Long, total: Long)

/** Independent expected results, computed with plain DataFrame code that
  * shares nothing with the program's RulePlanner, Checks or Validator. */
object Oracle {

  /** Row count plus the number of rows meeting each named condition, in
    * one aggregate. */
  def rowCounts(t: DataFrame, conds: Seq[(String, Column)]): (Long, Map[String, Long]) = {
    val aggs = count(lit(1)) +: conds.map { case (_, c) => sum(when(c, 1L).otherwise(0L)) }
    val row = t.agg(aggs.head, aggs.tail: _*).head()
    (row.getLong(0), conds.zipWithIndex.map { case ((n, _), i) =>
      n -> (if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1))
    }.toMap)
  }

  /** Rows beyond the first of each (conv_id, turn_idx) key. */
  def duplicateRows(t: DataFrame): Long =
    t.count() - t.dropDuplicates("conv_id", "turn_idx").count()

  /** (conversations, conversations whose turn indices are not exactly
    * 0, 1, …, n−1 once repeats are ignored). */
  def sequenceGroups(t: DataFrame): (Long, Long) = {
    val g = t.filter(col("turn_idx").isNotNull)
      .groupBy("conv_id").agg(collect_set("turn_idx").as("ix"))
      .select(
        (size(col("ix")) =!= array_max(col("ix")) - array_min(col("ix")) + 1 ||
          array_min(col("ix")) =!= 0).as("bad"))
    val row = g.agg(count(lit(1)), sum(when(col("bad"), 1L).otherwise(0L))).head()
    (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  /** Rows whose conv_id is not one the conversation index holds
    * (`conv-%08x` for 0 ≤ id < numConvs), decided by parsing the id. */
  def notInIndex(numConvs: Long): Column = {
    val wellFormed = col("conv_id").rlike("^conv-[0-9a-f]{8}$")
    val id = conv(substring(col("conv_id"), 6, 8), 16, 10).cast("long")
    col("conv_id").isNull || !wellFormed || id >= lit(numConvs)
  }

  def passes(rule: ValidationRule, e: Expect): Boolean = {
    val rate = if (e.total == 0) 1.0 else (e.total - e.failed).toDouble / e.total
    rule.threshold.map(rate >= _).getOrElse(e.failed == 0)
  }

  /** Mismatches between the program's results and the expectations; rules
    * without an expectation must still have run (no error result). */
  def compare(rules: Seq[ValidationRule], results: Seq[ValidationResult],
      expect: Map[String, Expect]): Seq[String] = {
    val byName = results.map(r => r.rule_name -> r).toMap
    rules.flatMap { rule =>
      byName.get(rule.name) match {
        case None => Seq(s"${rule.name}: no result")
        case Some(r) if r.failed_count < 0 => Seq(s"${rule.name}: rule errored: ${r.message}")
        case Some(r) => expect.get(rule.name).toSeq.flatMap { e =>
          val want = (e.failed, e.total, passes(rule, e))
          val got = (r.failed_count, r.total_count, r.passed)
          if (want == got) Nil else Seq(s"${rule.name}: expected $want, got $got")
        }
      }
    }
  }

  def report(what: String, mismatches: Seq[String]): Boolean = {
    mismatches.foreach(m => System.err.println(s"[perfbench] oracle mismatch ($what): $m"))
    mismatches.isEmpty
  }
}
