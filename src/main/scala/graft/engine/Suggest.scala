package graft.engine

import graft.{RuleType, ValidationRule}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Constraint suggestion: derive candidate validation rules FROM the data
  * (the Deequ ConstraintSuggestion / dbt-codegen workflow — the reference
  * engine validates rules it is given but offers no way to author them,
  * which at 10^12 turns is the difference between a validated table and an
  * unvalidated one, because nobody hand-writes bounds for 400 columns).
  *
  * Two scans, total, for any number of columns:
  *
  *   1. ONE fused builtin aggregate (codegen'd, map-side combined, one row
  *      out): per column — total, NULL∪NaN count (the completeness
  *      family's null definition), NaN count, NaN-safe numeric min/max,
  *      HLL approx-distinct, and for strings the bigint-castable count.
  *   2. ONE aggregate over the few columns the HLL estimates qualify as
  *      candidates: exact `count_distinct` for uniqueness candidates
  *      (estimate ≥ 80% of non-null — at the default 5% rsd a
  *      truly-unique column's estimate sits within ±15% even at 3σ, so
  *      the gate cannot miss it; measured: tightening rsd to 1.6%
  *      instead cost 4× the whole facts scan in big-sketch merges) and
  *      exact distinct + bounded `collect_set` for low-cardinality
  *      allowed-values candidates (estimate ≤ 2× the cap; the set is
  *      sliced to cap+1 inside the aggregate, so a lying estimate cannot
  *      blow up a buffer). Skipped entirely when nothing qualifies.
  *      Cost note: Catalyst plans N distinct aggregates in one job as an
  *      Expand with factor N — still one SCAN, but N× the rows into the
  *      partial aggregation. The HLL gate is what bounds N: only
  *      plausibly-unique or plausibly-small-vocabulary columns reach this
  *      pass, not the table's whole width.
  *
  * Every emitted rule is SELF-CONSISTENT by construction: it passes on the
  * data it was suggested from (thresholds are floored to the observed
  * rate, bounds are the observed extrema, value sets are the observed
  * sets, and range is suppressed when NaN was observed — NaN compares
  * greater than any bound in Spark and would fail a rule the data
  * "satisfies"). SuggestSpec asserts the property by executing the
  * suggestions through the Validator.
  */
object Suggest {

  /** One suggested rule with both faces: the typed [[ValidationRule]] and
    * the oracle-friendly flat row (typed bounds, no floats in strings). */
  final case class Suggestion(
      column: String,
      ruleType: String,
      threshold: Option[Double],
      minValue: Option[Double],
      maxValue: Option[Double],
      allowed: Option[String],
      reason: String,
      /** fully-formed parameters for families whose knobs don't fit the
        * flat bound fields (drift: method/ref_state/critical/bins) */
      extraParams: Map[String, String] = Map.empty) {

    def rule(prefix: String): ValidationRule = {
      val params: Map[String, String] = ruleType match {
        case RuleType.Range =>
          Map("min" -> minValue.get.toString, "max" -> maxValue.get.toString)
        case RuleType.AllowedValues => Map("values" -> allowed.get)
        case RuleType.TypeConformance => Map("expected_type" -> "bigint")
        case _ => extraParams
      }
      ValidationRule(s"${prefix}_${column}_$ruleType", ruleType, Seq(column),
        threshold = threshold, parameters = params)
    }
  }

  private def isFloating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true; case _ => false
  }

  /** A value can survive the allowed_values comma-list round trip: the
    * validator's parser SPLITS on commas and TRIMS each entry, so a value
    * containing a comma, carrying outer whitespace, or empty would come
    * back different and fail (or error) on the very data it was suggested
    * from — breaking the self-consistency contract. */
  private def listSafe(v: String): Boolean =
    !v.contains(",") && v.trim == v && v.nonEmpty

  /** Suggest rules for `columns` (default: every column) of `df`.
    *
    * Emitted per column, in this order, when the data supports them:
    *   - completeness — no NULLs, or NULL rate ≤ `maxNullRate` with the
    *     threshold floored to the observed rate (2 decimals)
    *   - uniqueness — every row distinct, no NULLs
    *   - range — numeric column with ≥1 non-null value and no NaN,
    *     bounds = observed [min, max]
    *   - allowed_values — string column with 1..`maxAllowedValues` exact
    *     distinct values, set = the observed values (comma-joined, so
    *     values containing commas disqualify the column)
    *   - type_conformance(bigint) — string column whose every non-null
    *     value casts to bigint
    */
  def suggest(df: DataFrame, columns: Seq[String] = Nil,
      maxNullRate: Double = 0.05, maxAllowedValues: Int = 10): Seq[Suggestion] = {
    require(maxAllowedValues >= 1, "maxAllowedValues must be >= 1")
    val schema = df.schema
    // the default sweep admits only types the fused facts pass provably
    // processes: the hashable atomic families, plus arrays/structs OF
    // them (completeness is a valid contract for a nested column).
    // Everything else — maps (xxhash64/HLL reject them), VARIANT,
    // geo types, UDTs — is skipped rather than allowed to kill the whole
    // authoring run. An EXPLICIT column list stays fail-loud.
    def sweepable(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
          TimestampType | TimestampNTZType | BinaryType => true
      case ArrayType(et, _)   => sweepable(et)
      case StructType(fields) => fields.forall(f => sweepable(f.dataType))
      case _ => false
    }
    val cols =
      if (columns.nonEmpty) columns
      else schema.fields.toSeq.filter(f => sweepable(f.dataType)).map(_.name)

    // Parallelism, bisected per scan on a single-split 100k-row
    // input: scan 1 is a pure fold (HLL register-max, min/max, counters) —
    // ~0.2 µs/row once the castable check is the native digit walk — so a
    // sub-broadcast-threshold input (≤10 MB) runs FASTER as its natural
    // split than spread across an exchange: every added agg task pays a
    // fixed execution-memory page-allocation cost that dwarfs its share of
    // rows (measured 0.12 vs 3.4 executor-CPU-sec, and the exchange's wall
    // on top). Scan 2's Expand (×distinct-aggregates) multiplies the rows,
    // so it does profit from a BOUNDED fan-out: ≤10 MB of input needs at
    // most a few ~MB-sized tasks — min(8, defaultParallelism) — where the
    // full session width only multiplied the per-task fixed costs
    // (measured 0.64 s wall / 1.2 CPU at 8-way vs 1.1 s / 10.2 CPU at
    // 32-way, 1.8 s unspread). At scale both scans see many natural splits
    // and neither branch adds an exchange.

    // ---- scan 1: the fused facts pass -------------------------------------
    val aggs: Seq[Column] = count(lit(1)).as("__total") +: cols.flatMap { name =>
      val dt = schema(name).dataType
      val c = col(name)
      val nullCond = if (isFloating(dt)) c.isNull || isnan(c) else c.isNull
      val nans =
        if (isFloating(dt)) sum(when(isnan(c), 1L).otherwise(0L))
        else lit(0L)
      val (minE, maxE) = dt match {
        case _: NumericType =>
          (min(when(!nullCond, c.cast("double"))), max(when(!nullCond, c.cast("double"))))
        case _ => (lit(null).cast(DoubleType), lit(null).cast(DoubleType))
      }
      val castable = dt match {
        case StringType =>
          // native digit walk, not try_cast: ANSI TryCast throws (and
          // catches) a JVM exception per NON-numeric row — on a mostly
          // non-numeric column that is the sweep's dominant CPU (measured
          // ~20 µs/row vs ~0.1; same acceptance set, see LongCastableExpr)
          sum(when(c.isNotNull && graft.functions.long_castable(c), 1L)
            .otherwise(0L))
        case _ => lit(0L)
      }
      Seq(
        sum(when(nullCond, 1L).otherwise(0L)).as(s"__null_$name"),
        nans.as(s"__nan_$name"),
        minE.as(s"__min_$name"),
        maxE.as(s"__max_$name"),
        approx_count_distinct(c, 0.05).as(s"__ad_$name"),
        castable.as(s"__cast_$name"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getLong(0)
    if (total == 0) return Nil

    case class Facts(name: String, dt: DataType, nulls: Long, nans: Long,
        minV: Option[Double], maxV: Option[Double], approxDistinct: Long, castable: Long) {
      def nonNull: Long = total - nulls
    }
    val facts = cols.zipWithIndex.map { case (name, i) =>
      val b = 1 + i * 6
      Facts(name, schema(name).dataType,
        nulls = if (row.isNullAt(b)) 0L else row.getLong(b),
        nans = if (row.isNullAt(b + 1)) 0L else row.getLong(b + 1),
        minV = if (row.isNullAt(b + 2)) None else Some(row.getDouble(b + 2)),
        maxV = if (row.isNullAt(b + 3)) None else Some(row.getDouble(b + 3)),
        approxDistinct = if (row.isNullAt(b + 4)) 0L else row.getLong(b + 4),
        castable = if (row.isNullAt(b + 5)) 0L else row.getLong(b + 5))
    }

    // ---- scan 2: exact verification, candidates only ----------------------
    val uniqCands = facts.filter(f =>
      f.nulls == 0L && f.approxDistinct >= math.ceil(0.8 * f.nonNull).toLong && f.nonNull > 0)
      .map(_.name)
    val avCands = facts.filter(f => f.dt == StringType && f.nonNull > 0 &&
      f.approxDistinct <= 2L * maxAllowedValues).map(_.name)
    val exactCols = (uniqCands ++ avCands).distinct
    val (exactDistinct, allowedSets): (Map[String, Long], Map[String, Seq[String]]) =
      if (exactCols.isEmpty) (Map.empty, Map.empty)
      else {
        val exactAggs: Seq[Column] =
          exactCols.map(n => count_distinct(col(n)).as(s"__d_$n")) ++
            avCands.map(n => slice(sort_array(collect_set(col(n))),
              1, maxAllowedValues + 1).as(s"__vals_$n"))
        val r2 = Checks.spreadSmall(df, maxPartitions = 8)
          .agg(exactAggs.head, exactAggs.tail: _*).head()
        val d = exactCols.zipWithIndex.map { case (n, i) =>
          n -> (if (r2.isNullAt(i)) 0L else r2.getLong(i))
        }.toMap
        val v = avCands.zipWithIndex.map { case (n, i) =>
          n -> r2.getSeq[String](exactCols.length + i)
        }.toMap
        (d, v)
      }

    // ---- assemble (driver-side, O(columns)) --------------------------------
    facts.flatMap { f =>
      val completeness: Option[Suggestion] =
        if (f.nulls == 0L)
          Some(Suggestion(f.name, RuleType.Completeness, None, None, None, None,
            s"no NULLs observed in $total rows"))
        else if (f.nulls.toDouble / total <= maxNullRate) {
          val thr = math.floor(100.0 * f.nonNull / total) / 100.0
          Some(Suggestion(f.name, RuleType.Completeness, Some(thr), None, None, None,
            s"NULLs in ${f.nulls} of $total rows; threshold floored to the observed rate"))
        } else None
      val uniqueness: Option[Suggestion] =
        if (f.nulls == 0L && exactDistinct.get(f.name).contains(total))
          Some(Suggestion(f.name, RuleType.Uniqueness, None, None, None, None,
            s"all $total rows distinct"))
        else None
      val range: Option[Suggestion] = (f.minV, f.maxV) match {
        case (Some(lo), Some(hi)) if f.nans == 0L =>
          Some(Suggestion(f.name, RuleType.Range, None, Some(lo), Some(hi), None,
            "observed numeric bounds"))
        case _ => None
      }
      val allowedValues: Option[Suggestion] = allowedSets.get(f.name).flatMap { vals =>
        val n = exactDistinct(f.name)
        if (n >= 1 && n <= maxAllowedValues && vals.forall(listSafe))
          Some(Suggestion(f.name, RuleType.AllowedValues, None, None, None,
            Some(vals.mkString(",")), s"$n distinct values observed"))
        else None
      }
      val typeConformance: Option[Suggestion] =
        if (f.dt == StringType && f.nonNull > 0 && f.castable == f.nonNull)
          Some(Suggestion(f.name, RuleType.TypeConformance, None, None, None, None,
            "all non-null values parse as bigint"))
        else None
      Seq(completeness, uniqueness, range, allowedValues, typeConformance).flatten
    }
  }

  /** ZERO-SCAN suggestion from a persisted [[Profiler.ProfileState]] — author
    * a validation config from the lifetime profile without touching the
    * data (at 10^12 turns, the only suggestion pass that costs nothing:
    * the states were already paid for by `--profile-dir`). Exactness
    * contract unchanged — only suggestions the STATE can certify exactly
    * are emitted:
    *   - completeness / range from the state's exact counters and extrema
    *     (range only for non-floating numerics: the state folds NaN into
    *     its null counter, so a floating column cannot prove itself
    *     NaN-free the way the scan path can)
    *   - allowed_values / type_conformance from the frequent-items sketch
    *     ONLY while it never purged (maximum error 0 — the exact-only
    *     guard [[Profiler.columnHistogram]] established for drift
    *     baselines); a purged sketch yields no suggestion, never an
    *     approximate one
    *   - uniqueness is never emitted (the state carries HLL distinct only,
    *     and a ±1.6% estimate cannot certify "every row distinct")
    *   - with `refStatePath` (the persisted path of THIS state), DRIFT
    *     monitoring rules — the profile is not just the rule author but
    *     the baseline: categorical columns with an exact value sketch get
    *     `method: tvd, ref_state: <path>, critical: 0.2`; numeric columns
    *     with a quantile sketch get `method: ks` over the observed
    *     [min, max] in 64 bins with `critical: 0.1` (comfortably above the
    *     2× rank-error floor the Validator enforces). Integral columns
    *     prefer the exact categorical face and fall back to ks when the
    *     value sketch purged. Self-consistency holds by construction:
    *     the state compared against its own data reads ~zero drift.
    */
  /** Author rules from a snap table's MANIFEST alone — zero file reads
    * beyond the one manifest JSON (the footer stats were paid at commit
    * time): completeness per column from the summed nullCounts, range for
    * integral columns from the merged min/max. A file without a usable
    * bound only blocks the range suggestion when it might actually hold
    * values (its nullCount < rowCount) — an all-null file bounds nothing.
    * The cheapest of the three suggestion tiers (2-scan [[suggest]],
    * zero-scan-from-profile [[fromState]], zero-ANYTHING here), and the
    * only one that works on a table you have never read. */
  def fromSnapManifest(snap: graft.io.Snapshot, maxNullRate: Double = 0.05): Seq[Suggestion] = {
    val total = snap.totalRows
    if (total == 0) return Nil
    val schema = org.apache.spark.sql.types.StructType.fromDDL(snap.schemaDdl)
    schema.fields.toSeq.flatMap { f =>
      val perFile = snap.files.map(df => df.stats.get(f.name) -> df.rowCount)
      // a column absent from EVERY file's stats (pre-evolution history)
      // reads as all-NULL there; count those rows as nulls
      val nulls = perFile.map {
        case (Some(st), _) => st.nullCount
        case (None, rows)  => rows
      }.sum
      val completeness: Option[Suggestion] =
        if (nulls == 0L)
          Some(Suggestion(f.name, RuleType.Completeness, None, None, None, None,
            s"no NULLs in $total rows (manifest footer stats)"))
        else if (nulls.toDouble / total <= maxNullRate) {
          val thr = math.floor(100.0 * (total - nulls) / total) / 100.0
          Some(Suggestion(f.name, RuleType.Completeness, Some(thr), None, None, None,
            s"NULLs in $nulls of $total rows; threshold floored (manifest footer stats)"))
        } else None
      val integral = f.dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      }
      val boundable = integral && perFile.forall {
        case (Some(st), rows) => st.hasMinMax || st.nullCount == rows
        case (None, _)        => true // all-NULL by absence: bounds nothing
      } && perFile.exists(_._1.exists(_.hasMinMax))
      val range: Option[Suggestion] =
        if (!boundable) None
        else {
          val bounded = perFile.flatMap(_._1).filter(_.hasMinMax)
          Some(Suggestion(f.name, RuleType.Range, None,
            Some(bounded.map(_.min.toLong).min.toDouble),
            Some(bounded.map(_.max.toLong).max.toDouble), None,
            "observed numeric bounds (manifest footer stats)"))
        }
      completeness.toSeq ++ range
    }
  }

  def fromState(s: Profiler.ProfileState, maxNullRate: Double = 0.05,
      maxAllowedValues: Int = 10, refStatePath: Option[String] = None): Seq[Suggestion] = {
    import org.apache.datasketches.frequencies.ErrorType
    require(maxAllowedValues >= 1, "maxAllowedValues must be >= 1")
    val types = s.typeNames.map(DataType.fromDDL)
    val b = s.buf
    val total = b.total
    if (total == 0) return Nil
    s.columns.indices.flatMap { i =>
      val name = s.columns(i)
      val dt = types(i)
      val nulls = b.nulls(i)
      val nonNull = total - nulls
      val completeness: Option[Suggestion] =
        if (nulls == 0L)
          Some(Suggestion(name, RuleType.Completeness, None, None, None, None,
            s"no NULLs observed in $total rows"))
        else if (nulls.toDouble / total <= maxNullRate) {
          val thr = math.floor(100.0 * nonNull / total) / 100.0
          Some(Suggestion(name, RuleType.Completeness, Some(thr), None, None, None,
            s"NULLs in $nulls of $total rows; threshold floored to the observed rate"))
        } else None
      val range: Option[Suggestion] = dt match {
        case _: NumericType if !isFloating(dt) && b.minV(i) != null =>
          Some(Suggestion(name, RuleType.Range, None,
            Some(b.minV(i).toDouble), Some(b.maxV(i).toDouble), None,
            "observed numeric bounds"))
        case _ => None
      }
      // exact value universe, available only while the sketch never purged
      val exactVals: Option[Seq[String]] =
        if (dt == StringType && nonNull > 0 && b.freq(i).getMaximumError == 0)
          Some(b.freq(i).getFrequentItems(ErrorType.NO_FALSE_POSITIVES)
            .map(_.getItem).toSeq.sorted)
        else None
      val allowedValues: Option[Suggestion] = exactVals.collect {
        case vals if vals.nonEmpty && vals.size <= maxAllowedValues &&
            vals.forall(listSafe) =>
          Suggestion(name, RuleType.AllowedValues, None, None, None,
            Some(vals.mkString(",")), s"${vals.size} distinct values observed")
      }
      val typeConformance: Option[Suggestion] = exactVals.collect {
        case vals if vals.nonEmpty &&
            vals.forall(v => scala.util.Try(v.toLong).isSuccess) =>
          Suggestion(name, RuleType.TypeConformance, None, None, None, None,
            "all non-null values parse as bigint")
      }
      val drift: Option[Suggestion] = refStatePath.flatMap { path =>
        // NTZ stays out of the authoring whitelist: its baseline decode
        // requires a fixed-offset session zone at VALIDATION time, which
        // the author cannot know — an authored rule must never be a trap
        // that errors on its own source under a stock DST-zone JVM.
        // (TimestampType is zone-free: epoch-keyed at sketch time.)
        val categoricalExact = (dt match {
          case StringType | BooleanType | ByteType | ShortType |
              IntegerType | LongType | TimestampType => true
          case _ => false
        }) && nonNull > 0 && b.freq(i).getMaximumError == 0
        lazy val numericSketch = dt.isInstanceOf[NumericType] &&
          b.kll(i) != null && !b.kll(i).isEmpty &&
          b.minV(i) != null && b.maxV(i).toDouble > b.minV(i).toDouble
        if (categoricalExact)
          Some(Suggestion(name, RuleType.drift, None, None, None, None,
            "categorical distribution baseline from the lifetime profile",
            extraParams = Map("method" -> "tvd", "ref_state" -> path,
              "critical" -> "0.2")))
        else if (numericSketch)
          Some(Suggestion(name, RuleType.drift, None,
            Some(b.minV(i).toDouble), Some(b.maxV(i).toDouble), None,
            "numeric distribution baseline from the lifetime profile (KLL CDF)",
            extraParams = Map("method" -> "ks", "ref_state" -> path,
              "critical" -> "0.1", "lo" -> b.minV(i), "hi" -> b.maxV(i),
              "bins" -> "64")))
        else None
      }
      Seq(completeness, range, allowedValues, typeConformance, drift).flatten
    }
  }

  /** Learn a transition rule's grammar FROM the data (the DFA-inference
    * counterpart of [[suggest]] — nobody hand-writes a role grammar for a
    * table they have never read): mine the observed (prev → next) value
    * adjacencies plus walk start/end states ([[Checks.transitionFacts]],
    * one window pass), keep the facts with `support ≥ minSupport`, and
    * author a [[RuleType.Transition]] rule whose edges are the kept
    * adjacencies and whose `first`/`last` sets are the kept start/end
    * states.
    *
    * Self-consistency holds by construction:
    *   - `minSupport = 1` (default): every observed fact is allowed, so
    *     the authored rule passes with zero violating groups;
    *   - `minSupport > 1` (treat rare adjacencies as anomalies): the rule
    *     gains a threshold FLOORED to the observed group-pass rate under
    *     the pruned grammar (2 decimals, completeness's convention) — one
    *     extra window pass, paid only when pruning actually dropped a fact.
    *
    * Returns None — never an unusable rule — when the column is not
    * grammar-shaped: more than `maxStates` distinct states (or more than
    * the `maxStates²+2·maxStates` fact rows they imply — the collect is
    * LIMIT-bounded, so a text column cannot flood the driver), a state
    * that would not survive the CSV round trip ([[listSafe]]) or contains
    * the `->` edge separator, or no edge meeting `minSupport` (an empty
    * grammar is a misconfiguration, not "everything fails"). */
  def transitionGrammar(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, maxStates: Int = 20, minSupport: Long = 1L,
      prefix: String = "suggested"): Option[ValidationRule] = {
    require(maxStates >= 1, "maxStates must be >= 1")
    require(minSupport >= 1L, "minSupport must be >= 1")
    val cap = maxStates * maxStates + 2 * maxStates
    val rows = Checks.transitionFacts(df, keys, orderCol, valueCol)
      .limit(cap + 1).collect()
    if (rows.isEmpty || rows.length > cap) return None
    final case class Fact(kind: String, from: String, to: String, support: Long)
    val facts = rows.toSeq.map(r =>
      Fact(r.getString(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getString(2), r.getLong(3)))
    val states = facts.flatMap(f => Option(f.from).toSeq :+ f.to).distinct
    val edgeSafe = states.forall(s => listSafe(s) && !s.contains("->"))
    if (states.size > maxStates || !edgeSafe) return None
    val kept = facts.filter(_.support >= minSupport)
    val pairs = kept.filter(_.kind == "edge").map(f => (f.from, f.to)).sorted
    if (pairs.isEmpty) return None
    val firsts = kept.filter(_.kind == "first").map(_.to).sorted
    val lasts = kept.filter(_.kind == "last").map(_.to).sorted
    val pruned = kept.size < facts.size
    val threshold: Option[Double] =
      if (!pruned) None
      else {
        val row = Checks.transitionGroups(df, keys, orderCol, valueCol, pairs,
            first = Option(firsts).filter(_.nonEmpty),
            last = Option(lasts).filter(_.nonEmpty))
          .agg(count(lit(1)), sum(when(col("bad_rows") > 0L, 1L).otherwise(0L)))
          .head()
        val total = row.getLong(0)
        val bad = if (row.isNullAt(1)) 0L else row.getLong(1)
        Some((100L * (total - bad) / total) / 100.0)
      }
    val params = Map(
      "order_by" -> orderCol, "value" -> valueCol,
      "pairs" -> pairs.map { case (f, t) => s"$f->$t" }.mkString(",")) ++
      (if (firsts.nonEmpty) Map("first" -> firsts.mkString(",")) else Map.empty) ++
      (if (lasts.nonEmpty) Map("last" -> lasts.mkString(",")) else Map.empty)
    Some(ValidationRule(s"${prefix}_${valueCol}_transition", RuleType.Transition,
      keys, threshold = threshold, parameters = params))
  }

  /** [[suggest]] as typed rules, named `<prefix>_<column>_<rule_type>`. */
  def suggestRules(df: DataFrame, columns: Seq[String] = Nil,
      maxNullRate: Double = 0.05, maxAllowedValues: Int = 10,
      prefix: String = "suggested"): Seq[ValidationRule] =
    suggest(df, columns, maxNullRate, maxAllowedValues).map(_.rule(prefix))

  /** The oracle-facing flat frame: one row per suggestion, typed numeric
    * bounds (no float formatting enters any string), ordered by
    * (column, rule_type). */
  def suggestionsDF(spark: SparkSession, df: DataFrame, columns: Seq[String] = Nil,
      maxNullRate: Double = 0.05, maxAllowedValues: Int = 10): DataFrame = {
    val out = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("rule_type", StringType, nullable = false),
      StructField("threshold", DoubleType, nullable = true),
      StructField("min_value", DoubleType, nullable = true),
      StructField("max_value", DoubleType, nullable = true),
      StructField("allowed", StringType, nullable = true),
      StructField("reason", StringType, nullable = false)))
    val rows = suggest(df, columns, maxNullRate, maxAllowedValues)
      .sortBy(s => (s.column, s.ruleType))
      .map(s => Row(s.column, s.ruleType, s.threshold.map(Double.box).orNull,
        s.minValue.map(Double.box).orNull, s.maxValue.map(Double.box).orNull,
        s.allowed.orNull, s.reason))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, out)
  }
}
