package graft.engine

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles a rule list into the minimum number of Spark jobs.
  *
  * The reference executes every rule as TWO actions — a full `count()` plus a
  * rule-specific `filter().count()` (`/root/reference/src/data_validator/engines/
  * pyspark_engine.py:72` and 75-123) — i.e. 2R scans for R rules. Here all
  * "fusible" rules (completeness / range / pattern / type_conformance) compile
  * to conditional-sum columns inside ONE `df.agg(...)` job, sharing a single
  * scan and a single driver→executor boundary crossing. Only uniqueness
  * (needs a shuffle on the key), referential (needs a join) and custom SQL
  * remain separate jobs. All counters are Catalyst builtin expressions, so the
  * whole fused aggregate runs inside whole-stage codegen with map-side partial
  * aggregation — it scales linearly with input and shuffles O(1) rows.
  */
object RulePlanner {

  private def isFloating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case _                      => false
  }

  private def fieldType(schema: StructType, name: String): Option[DataType] =
    schema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)

  /** NULL-or-NaN failure condition for completeness; NaN only checked on
    * floating columns (a blind `isnan` on strings breaks under Spark 4 ANSI
    * mode). Mirrors the pyspark engine's NULL ∪ NaN semantics
    * (`pyspark_engine.py:75-80`). */
  def completenessFailCond(schema: StructType, column: String): Column = {
    val c = col(column)
    if (fieldType(schema, column).exists(isFloating)) c.isNull || isnan(c) else c.isNull
  }

  /** Inclusive range [min,max]; NULLs are NOT failures (3-valued logic:
    * `when(null-cond)` falls to otherwise(0)). `pyspark_engine.py:90-99`. */
  def rangeFailCond(rule: ValidationRule): Column = {
    val c = col(rule.column)
    // the reference engine reads min_value/max_value (pyspark_engine.py:92-94);
    // accept both spellings so upstream-framework configs run unchanged
    val lo = rule.paramDouble("min").orElse(rule.paramDouble("min_value"))
    val hi = rule.paramDouble("max").orElse(rule.paramDouble("max_value"))
    (lo, hi) match {
      case (Some(a), Some(b)) => !(c >= lit(a) && c <= lit(b))
      case (Some(a), None)    => c < lit(a)
      case (None, Some(b))    => c > lit(b)
      case _ => throw new IllegalArgumentException(
        s"range rule '${rule.name}' needs min and/or max parameters")
    }
  }

  /** Unanchored regex match (Spark `rlike` ≡ python `re.search` semantics used
    * by the reference, `pyspark_engine.py:101-107`); NULLs not failed. */
  def patternFailCond(schema: StructType, rule: ValidationRule): Column = {
    val pattern = rule.expression.orElse(rule.param("pattern")).getOrElse(
      throw new IllegalArgumentException(s"pattern rule '${rule.name}' needs a regex"))
    val c0 = col(rule.column)
    val c = if (fieldType(schema, rule.column).contains(StringType)) c0 else c0.cast(StringType)
    c.isNotNull && !c.rlike(pattern)
  }

  /** Type conformance (north-rule extension): non-null values that fail
    * `try_cast` to the expected type. NULLs conform (completeness owns them).
    * With parameter reject=true the polarity flips: values that DO cast are
    * the violations (e.g. a categorical `role` column must not contain
    * numeric-looking strings). */
  def typeConformanceFailCond(rule: ValidationRule): Column = {
    val t = rule.param("expected_type").getOrElse("bigint")
    val c = col(rule.column)
    // integer targets use the native digit-check (TryCast throws a caught
    // JVM exception per non-conforming row — catastrophic on mostly-bad
    // columns); other types keep try_cast
    val conforms: Column = t.toLowerCase match {
      case "bigint" | "long" | "int" | "integer" | "smallint" | "tinyint" =>
        graft.functions.long_castable(c.cast(StringType))
      case _ => expr(s"try_cast(`${rule.column}` AS $t)").isNotNull
    }
    if (rule.paramBool("reject")) c.isNotNull && conforms
    else c.isNotNull && !conforms
  }

  /** Parsed member set for an allowed_values rule: the `values` parameter
    * split on `delimiter` (default ","), entries trimmed. Comparison is on
    * the column cast to string, so one spelling works for string AND numeric
    * categoricals and the semantics are engine-reproducible (DuckDB:
    * `CAST(col AS VARCHAR) IN (...)`). */
  def allowedValueSet(rule: ValidationRule): Seq[String] = {
    val raw = rule.param("values").getOrElse(throw new IllegalArgumentException(
      s"allowed_values rule '${rule.name}' needs a values parameter"))
    val delim = rule.param("delimiter").getOrElse(",")
    val vs = raw.split(java.util.regex.Pattern.quote(delim), -1).map(_.trim).toSeq
    require(vs.exists(_.nonEmpty),
      s"allowed_values rule '${rule.name}': values parameter is empty")
    vs
  }

  /** Set-membership failure (dbt `accepted_values` / Deequ `isContainedIn` /
    * GX `expect_column_values_to_be_in_set`): non-null values outside the
    * configured set. NULLs conform (completeness owns them), matching the
    * range/pattern convention. Fuses into the single-pass aggregate as an
    * `In` predicate — codegen'd, no shuffle, no join. */
  def allowedValuesFailCond(rule: ValidationRule): Column = {
    val c = col(rule.column)
    c.isNotNull && !c.cast(StringType).isin(allowedValueSet(rule): _*)
  }

  /** Staleness cutoff instant in epoch microseconds for a freshness rule:
    * `reference_time` (ISO-8601, required for deterministic / oracle-checked
    * runs) minus `max_age_seconds`. Without `reference_time` the cutoff is
    * taken from the session clock at PLAN time (wall-clock monitoring mode —
    * one instant for the whole job, so partition verdicts and the global
    * verdict share the same cutoff). */
  def freshnessCutoffMicros(rule: ValidationRule): Long = {
    val ageSec = rule.paramDouble("max_age_seconds").getOrElse(
      throw new IllegalArgumentException(
        s"freshness rule '${rule.name}' needs max_age_seconds"))
    val refMicros = rule.param("reference_time") match {
      case Some(iso) =>
        val t = java.time.OffsetDateTime
          .parse(if (iso.contains("+") || iso.endsWith("Z")) iso else iso + "Z")
          .toInstant
        t.getEpochSecond * 1000000L + t.getNano / 1000L
      case None => java.time.Instant.now().toEpochMilli * 1000L
    }
    refMicros - math.round(ageSec * 1e6)
  }

  /** Event-time freshness failure: non-null timestamps strictly older than
    * `reference_time − max_age_seconds`. Compares epoch microseconds — a
    * pure codegen'd long comparison that fuses into the single-pass
    * aggregate; NULL timestamps are completeness's concern. */
  def freshnessFailCond(rule: ValidationRule): Column = {
    val c = col(rule.column)
    c.isNotNull && unix_micros(c.cast(TimestampType)) < lit(freshnessCutoffMicros(rule))
  }

  /** True for rule types that fuse into the shared single-pass aggregate. */
  def fusible(rule: ValidationRule): Boolean = rule.ruleType match {
    case RuleType.Completeness | RuleType.Range | RuleType.Pattern |
        RuleType.TypeConformance | RuleType.AllowedValues | RuleType.Freshness => true
    // declarative compliance (Deequ satisfies / dbt SQL tests): the
    // predicate is one more counter in the SAME single pass — N predicate
    // rules cost zero extra scans
    case RuleType.Predicate => rule.expression.isDefined
    case _ => false
  }

  /** Admission guard for every job SHARED across fusible rules (the fused
    * verdict pass, row annotation): the rule must be [[fusible]], reference
    * only resolvable columns, and a predicate rule's expression must
    * analyze to a Boolean — one misconfigured rule must fail (or be
    * omitted) ALONE, never poison the shared job for the healthy rules. */
  private[engine] def admissible(df: DataFrame, rule: ValidationRule): Boolean =
    fusible(rule) &&
      rule.columns.forall(c => df.schema.fieldNames.exists(_.equalsIgnoreCase(c))) &&
      (rule.ruleType != RuleType.Predicate || analyzableBooleanPredicate(df, rule))

  /** True when the predicate rule's expression analyzes against `df` to a
    * row-level Boolean — driver-side analysis only, no job. Must be a plain
    * Project: an aggregate or window expression ("count(*) >= 1") analyzes
    * fine in a SELECT but is illegal nested inside the fused
    * `sum(when(...))`, so admitting it would kill the shared job. Rules
    * failing this are excluded from the fused pass and routed to
    * executeSingle, whose single-rule job isolates the real error to the
    * rule. (Runtime ANSI raises remain undetectable here — the fused
    * failure-recovery path covers those.) */
  private[engine] def analyzableBooleanPredicate(df: DataFrame, rule: ValidationRule): Boolean =
    try {
      rule.expression.exists { e =>
        val ds = df.select(expr(e))
        ds.schema.head.dataType == BooleanType &&
          ds.queryExecution.analyzed.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.Project]
      }
    } catch { case _: Throwable => false }

  def failCondition(schema: StructType, rule: ValidationRule): Column = rule.ruleType match {
    case RuleType.Completeness    => completenessFailCond(schema, rule.column)
    case RuleType.Range           => rangeFailCond(rule)
    case RuleType.Pattern         => patternFailCond(schema, rule)
    case RuleType.TypeConformance => typeConformanceFailCond(rule)
    case RuleType.AllowedValues   => allowedValuesFailCond(rule)
    case RuleType.Freshness       => freshnessFailCond(rule)
    // compliance semantics: a row fails unless the predicate is TRUE — a
    // NULL predicate (3-valued logic) fails, matching Deequ's satisfies
    case RuleType.Predicate =>
      !coalesce(expr(rule.expression.getOrElse(throw new IllegalArgumentException(
        s"predicate rule '${rule.name}' needs expression"))), lit(false))
    case other => throw new IllegalArgumentException(s"not a fusible rule type: $other")
  }

  private def failCounter(schema: StructType, rule: ValidationRule): Column =
    sum(when(failCondition(schema, rule), 1L).otherwise(0L))

  /** One fused job: total row count + one failure counter per fusible rule.
    * Returns (total, ruleName -> failedCount). Missing columns surface as a
    * per-rule error result upstream, not a job failure: rules referencing
    * unknown columns are rejected before planning. */
  def runFused(df: DataFrame, rules: Seq[ValidationRule]): (Long, Map[String, Long]) = {
    val schema = df.schema
    val counters = rules.zipWithIndex.map { case (r, i) =>
      failCounter(schema, r).cast(LongType).as(s"f_$i")
    }
    val aggCols = count(lit(1)).as("total") +: counters
    val row = df.agg(aggCols.head, aggCols.tail: _*).head()
    val total = row.getLong(0)
    val failed = rules.zipWithIndex.map { case (r, i) =>
      r.name -> (if (row.isNullAt(i + 1)) 0L else row.getLong(i + 1))
    }.toMap
    (total, failed)
  }

  /** The row-filter interpretation of rules ("data cleaning" mode,
    * `validator.py:133-162` + `pyspark_engine.py:175-198`): each supported
    * rule KEEPS conforming rows; unsupported types pass data through.
    * Extension beyond the reference: uniqueness keeps the first row per key
    * under a stable ordering (the reference cannot filter uniqueness). */
  def filterColumn(schema: StructType, rule: ValidationRule): Option[Column] =
    rule.ruleType match {
      case RuleType.Completeness | RuleType.Range | RuleType.Pattern |
          RuleType.TypeConformance | RuleType.AllowedValues | RuleType.Freshness =>
        // keep = NOT failed; for range/pattern NULL rows were not failures,
        // but the reference's FILTER semantics drop NULLs for range (between
        // is null-rejecting) and pattern (rlike null → null → dropped).
        // allowed_values/freshness follow the same convention: the keep
        // predicate is null-rejecting.
        rule.ruleType match {
          case RuleType.Completeness => Some(!completenessFailCond(schema, rule.column))
          case RuleType.Range        => Some(!rangeFailCond(rule)) // null → dropped
          case RuleType.Pattern =>
            val p = rule.expression.orElse(rule.param("pattern")).get
            Some(col(rule.column).rlike(p)) // null → dropped, matches reference
          case RuleType.AllowedValues =>
            Some(col(rule.column).cast(StringType).isin(allowedValueSet(rule): _*))
          case RuleType.Freshness =>
            Some(unix_micros(col(rule.column).cast(TimestampType)) >=
              lit(freshnessCutoffMicros(rule)))
          case _ => Some(!typeConformanceFailCond(rule))
        }
      case RuleType.Custom => rule.expression.map(expr)
      case RuleType.Predicate =>
        // keep = predicate TRUE (null-rejecting, matching the verdict face);
        // a predicate rule WITHOUT an expression is misconfigured — raise
        // like the verdict path does, never silently pass dirty data through
        Some(coalesce(expr(rule.expression.getOrElse(
          throw new IllegalArgumentException(
            s"predicate rule '${rule.name}' needs expression"))), lit(false)))
      case _ => None // uniqueness etc. handled separately / passed through
    }

  /** (order_by, value, strict, descending) of a monotonic rule; order_by
    * and value are required, direction must be asc/desc and strict
    * true/false when present (an ignored typo would silently validate — or
    * in filter mode CLEAN AGAINST — the wrong invariant; reject like the
    * drift rules reject unknown methods). Shared by the verdict and filter
    * paths so both enforce the same contract. */
  private[engine] def monotonicParams(rule: ValidationRule): (String, String, Boolean, Boolean) = (
    rule.param("order_by").getOrElse(throw new IllegalArgumentException(
      s"monotonic rule '${rule.name}' needs an order_by parameter")),
    rule.param("value").getOrElse(throw new IllegalArgumentException(
      s"monotonic rule '${rule.name}' needs a value parameter")),
    rule.paramBool("strict"),
    rule.param("direction") match {
      case None | Some("asc") => false
      case Some("desc")       => true
      case Some(other) => throw new IllegalArgumentException(
        s"monotonic rule '${rule.name}': direction must be asc or desc, got '$other'")
    })

  /** (order_by, value, edge pairs, start set, accept set) of a transition
    * rule. `pairs` is required and spelled `from->to` comma-separated
    * (`"user->assistant,assistant->user"`); `first` / `last` are optional
    * comma-separated state sets. Values are trimmed, so the YAML can be
    * spaced for readability; states containing `,` or `->` are out of
    * scope (role/status grammars are short enum tokens — a grammar that
    * needs escaping belongs in a custom rule). Every malformed edge
    * raises with the offending token named: a half-parsed grammar would
    * validate the wrong automaton. */
  private[engine] def transitionParams(rule: ValidationRule)
      : (String, String, Seq[(String, String)], Option[Seq[String]], Option[Seq[String]]) = {
    def need(k: String) = rule.param(k).getOrElse(throw new IllegalArgumentException(
      s"transition rule '${rule.name}' needs a $k parameter"))
    def states(k: String): Option[Seq[String]] = rule.param(k).map { csv =>
      val s = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      if (s.isEmpty) throw new IllegalArgumentException(
        s"transition rule '${rule.name}': $k is set but names no states")
      s
    }
    val pairs = need("pairs").split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map { edge =>
        edge.split("->", -1).map(_.trim) match {
          case Array(f, t) if f.nonEmpty && t.nonEmpty => (f, t)
          case _ => throw new IllegalArgumentException(
            s"transition rule '${rule.name}': edge '$edge' is not of the form from->to")
        }
      }
    if (pairs.isEmpty) throw new IllegalArgumentException(
      s"transition rule '${rule.name}': pairs names no edges")
    (need("order_by"), need("value"), pairs, states("first"), states("last"))
  }

  /** (determinant keys, dependent columns) of a functional_dependency rule.
    * The determinant comes from columns/column, the dependent from the
    * `dependent` parameter (comma-separated for a compound dependent).
    * A column on BOTH sides makes the FD vacuously true — that is a
    * configuration error, never a silent pass. Shared by the walk member
    * and the violations face so the semantics cannot diverge. */
  private[engine] def fdParams(rule: ValidationRule): (Seq[String], Seq[String]) = {
    val keys = Validator.ruleKeys(rule)
    val dep = rule.param("dependent")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"functional_dependency rule '${rule.name}' needs a dependent parameter"))
    val overlap = keys.map(_.toLowerCase).toSet intersect dep.map(_.toLowerCase).toSet
    if (overlap.nonEmpty)
      throw new IllegalArgumentException(
        s"functional_dependency rule '${rule.name}': ${overlap.mkString(",")} on both " +
          "sides — a dependent inside the determinant is vacuously consistent")
    (keys, dep)
  }

  /** DLT-style expectation rendering: rule name → SQL KEEP-predicate
    * string — the surface a Databricks DLT migrator consumes
    * (`@dlt.expect(name, predicate)`; reference `validator.py:252-262` and
    * `databricks_utils.py:149-190` render the same mapping as placeholder
    * prints). Predicates are rendered as PLAIN portable SQL by hand (the
    * Column DSL's `.sql` round-trip produces function-call spellings like
    * `` `!`(isNull(c)) `` that only Spark parses back); each rendering is
    * spec-pinned to reproduce the corresponding filter-mode keep-condition
    * ([[filterColumn]]) bit-for-bit: `df.filter(expr(predicate))` equals
    * the rule's filter pass set. Only row-level rules render — DLT
    * expectations evaluate per row; uniqueness/drift/group families have
    * no row predicate and are omitted (their real counterparts here are
    * the quarantine and metrics sinks); outlier's filter embeds
    * data-derived moments — not a static expectation. Disabled rules are
    * omitted like every other execution path. */
  def dltExpectations(schema: StructType, rules: Seq[ValidationRule]): Seq[(String, String)] = {
    def q(name: String): String = s"`${name.replace("`", "``")}`"
    def strLit(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
    rules.filter(_.enabled).flatMap { r =>
      r.ruleType match {
        case RuleType.Completeness =>
          val c = q(r.column)
          Some(r.name -> (if (fieldType(schema, r.column).exists(isFloating))
            s"($c IS NOT NULL AND NOT isnan($c))" else s"($c IS NOT NULL)"))
        case RuleType.Range =>
          val c = q(r.column)
          val lo = r.paramDouble("min").orElse(r.paramDouble("min_value"))
          val hi = r.paramDouble("max").orElse(r.paramDouble("max_value"))
          (lo, hi) match {
            case (Some(a), Some(b)) => Some(r.name -> s"($c >= $a AND $c <= $b)")
            case (Some(a), None)    => Some(r.name -> s"($c >= $a)")
            case (None, Some(b))    => Some(r.name -> s"($c <= $b)")
            case _ => throw new IllegalArgumentException(
              s"range rule '${r.name}' needs min and/or max parameters")
          }
        case RuleType.Pattern =>
          val p = r.expression.orElse(r.param("pattern")).getOrElse(
            throw new IllegalArgumentException(s"pattern rule '${r.name}' needs a regex"))
          Some(r.name -> s"(${q(r.column)} RLIKE ${strLit(p)})")
        case RuleType.AllowedValues =>
          val vs = allowedValueSet(r).map(strLit).mkString(", ")
          Some(r.name -> s"(CAST(${q(r.column)} AS STRING) IN ($vs))")
        // only a PINNED reference_time renders: the wall-clock mode's
        // cutoff is resolved per run, and baking render-time "now" into a
        // static predicate would silently stop enforcing recency as time
        // passes — a wall-clock freshness rule has no static expectation
        // (keep it on the engine's scheduled runs, like outlier's
        // data-derived moments)
        case RuleType.Freshness if r.param("reference_time").isDefined =>
          Some(r.name -> (s"(unix_micros(CAST(${q(r.column)} AS TIMESTAMP)) " +
            s">= ${freshnessCutoffMicros(r)})"))
        case RuleType.Freshness => None
        // the verdict/filter faces use the native LongCastableExpr
        // digit-check (no SQL name outside this library); the serialized
        // surface renders the equivalent portable spelling —
        // try_cast(CAST(c AS STRING) AS BIGINT): same accept set (both
        // trim, sign+digits, exact 64-bit overflow; all integer targets
        // check the 64-bit range, matching typeConformanceFailCond) — the
        // per-row exception cost try_cast pays only matters in graft's own
        // fused pass. NULLs are kept (completeness owns them).
        case RuleType.TypeConformance =>
          val c = q(r.column)
          val t = r.param("expected_type").getOrElse("bigint")
          val cast = t.toLowerCase match {
            case "bigint" | "long" | "int" | "integer" | "smallint" | "tinyint" =>
              s"try_cast(CAST($c AS STRING) AS BIGINT)"
            case _ => s"try_cast($c AS $t)"
          }
          Some(r.name -> (if (r.paramBool("reject"))
            s"($c IS NULL OR $cast IS NULL)"
          else s"($c IS NULL OR $cast IS NOT NULL)"))
        // compliance keep = predicate TRUE, null-rejecting (Deequ satisfies)
        case RuleType.Predicate =>
          Some(r.name -> s"(COALESCE((${r.expression.getOrElse(
            throw new IllegalArgumentException(
              s"predicate rule '${r.name}' needs expression"))}), false))")
        case RuleType.Custom => r.expression.map(e => r.name -> s"($e)")
        case _ => None // uniqueness/monotonic/outlier/group families
      }
    }
  }

  /** Row-annotation mode (the DQX `apply_checks` convention, the third
    * interpretation of a rule set beside the verdict and filter faces):
    * return the input WITH two appended columns naming the row-level rules
    * each row fails — `_dq_errors` for severity=error rules, `_dq_warnings`
    * for warning/info — so downstream consumers can route rows by issue
    * instead of losing them to a filter. Clean rows carry NULL (not an
    * empty array): NULL compresses to nothing at rest and `IS NULL` is the
    * natural "clean" predicate. Array order = rule order, deterministic.
    *
    * Exactly the fused verdict pass's rule set participates
    * ([[admissible]] — the same predicates it counts), so annotate/verdict/
    * filter can never disagree about what a row violation is. Group/table
    * families (uniqueness, drift, row_count, …) have no per-row predicate
    * and are omitted, like [[dltExpectations]]; disabled rules are omitted
    * like every other execution path; a rule the fused pass would bounce
    * (missing column, non-Boolean predicate) is omitted too — annotation
    * has no per-row way to represent a rule error, and the verdict face
    * surfaces it as that rule's own error result. One fused projection —
    * no shuffle, no extra scan, whole-stage-codegen'd — so annotation at
    * 100 TB costs one pass regardless of rule count. */
  def annotate(df: DataFrame, rules: Seq[ValidationRule],
               errorsCol: String = "_dq_errors",
               warningsCol: String = "_dq_warnings"): DataFrame = {
    val schema = df.schema
    require(errorsCol != warningsCol,
      s"annotate: errors and warnings columns must differ, both are '$errorsCol'")
    Seq(errorsCol, warningsCol).foreach { c =>
      require(!df.columns.contains(c),
        s"annotate: input already has a column named '$c'")
    }
    // same admission guard as the fused verdict pass: a rule referencing a
    // missing column (or a predicate that doesn't analyze to a Boolean)
    // must not poison this SHARED projection for every other rule — it is
    // OMITTED here (annotation has no per-row way to represent a rule
    // error; the verdict face surfaces it as the rule's own error result)
    val rowRules = rules.filter(_.enabled).filter(r => admissible(df, r))
    def tagArray(rs: Seq[ValidationRule]): Column =
      if (rs.isEmpty) lit(null).cast("array<string>")
      else {
        val arr = array_compact(array(
          rs.map(r => when(failCondition(schema, r), lit(r.name))): _*))
        when(size(arr) > 0, arr)
      }
    df.withColumn(errorsCol, tagArray(rowRules.filter(_.severity == Severity.Error)))
      .withColumn(warningsCol, tagArray(rowRules.filter(_.severity != Severity.Error)))
  }

  def applyFilters(df: DataFrame, rules: Seq[ValidationRule]): DataFrame = {
    val schema = df.schema
    rules.filter(_.enabled).foldLeft(df) { (acc, rule) =>
      rule.ruleType match {
        case RuleType.Uniqueness if rule.parameters.get("dedup_order").isDefined =>
          // opt-in extension: keep first row per key by dedup_order column
          Checks.keepFirstPerKey(acc, rule.columns, rule.parameters("dedup_order"))
        case RuleType.Monotonic if rule.parameters.contains("order_by") ||
            rule.parameters.contains("value") =>
          // keep the monotone walk: drop rows whose value regresses vs the
          // running extreme; NULL order/value rows drop (range-filter
          // convention). Params validated like the verdict path — a
          // direction typo must not clean against the wrong invariant, and
          // a HALF-specified rule (one of order_by/value typo'd away) must
          // raise through monotonicParams, not silently pass data through;
          // only a rule with NEITHER param set is the documented
          // filter-opt-out pass-through.
          val (orderCol, valueCol, strict, desc) = monotonicParams(rule)
          Checks.keepMonotone(acc,
            if (rule.columns.nonEmpty) rule.columns else Seq(rule.column),
            orderCol, valueCol, strict = strict, descending = desc)
        case RuleType.Outlier =>
          // keep non-outliers; NULLs drop (range-filter convention). The
          // moments job runs eagerly at chain-build time — the predicate
          // needs the global mean/std as literals. Moments come from the
          // CHAIN SO FAR, so stacked filters see the already-cleaned data.
          acc.filter(Checks.outlierKeepCond(acc, rule.column,
            rule.paramDouble("max_zscore").getOrElse(3.0)))
        case _ =>
          filterColumn(schema, rule).map(acc.filter).getOrElse(acc)
      }
    }
  }
}
