package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shuffle-bearing checks: uniqueness (exact + salted), referential
  * integrity, distribution drift (chi-square / KS over histograms).
  *
  * All are pure DataFrame plans — Catalyst picks physical strategies, AQE
  * handles runtime skew. Every check is designed so the shuffled payload is
  * the *key columns only* (never whole rows) and partial aggregation runs
  * map-side, which is what keeps these linear at the 100 TB design point.
  */
object Checks {

  /** Single-split small-input parallelism fix: when the Catalyst size
    * estimate fits the session broadcast threshold, the input is typically
    * ONE file split, so a heavy per-row pipeline over it runs as one task
    * while the rest of the cluster idles. Repartition to the session
    * parallelism — one exchange of a broadcast-sized input, noise next to
    * the per-row work it parallelizes. Identity at scale, where inputs
    * carry many splits and the exchange would be a regression. */
  def spreadSmall(df: DataFrame, maxPartitions: Int = Int.MaxValue): DataFrame =
    if (graft.operators.Dedup.fitsBroadcast(df))
      df.repartition(
        math.min(df.sparkSession.sparkContext.defaultParallelism, maxPartitions))
    else df


  /** True when collected values of `dt` stringify driver-side EXACTLY as
    * Spark's cast-to-string would (numbers, strings, booleans, dates;
    * timestamps differ — `java.sql.Timestamp.toString` appends ".0").
    * For these types the per-partition grouped passes group on the RAW
    * partition expression and stringify only the O(buckets) collected rows:
    * grouping on `p.cast("string")` instead pays a per-row long→UTF8String
    * allocation plus string hashing across the WHOLE table × every grouped
    * scan — measured as the dominant CPU inflation of the 32-thread bench
    * (memory-bound hash aggregation is exactly where SMT sharing hurts). */
  private[graft] def rawKeyStringable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        StringType | BooleanType | DateType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Driver-side stringification matching cast-to-string for
    * [[rawKeyStringable]] types; null stays null (as the cast would). */
  private[graft] def partKeyString(v: Any): String =
    if (v == null) null else String.valueOf(v)

  /** The grouping column for a per-partition pass over `df`: the raw
    * expression when driver-side stringification is exact, else the
    * per-row cast (exotic key types keep the old behavior). */
  private[graft] def partGroupCol(df: DataFrame, p: Column): Column =
    if (rawKeyStringable(df.select(p).schema.head.dataType)) p else p.cast("string")

  /** Duplicate keys and their multiplicities: groupBy(key).count().filter(>1).
    * Map-side combine already collapses hot keys to one row per task, so a
    * skewed key costs one reducer O(tasks) rows, not O(occurrences). */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Per-group sequence-integrity stats: for each key group, the count of
    * DISTINCT index values plus the index span. A group is sequence-clean
    * when the indices are dense (`n_distinct == max − min + 1`; duplicates
    * are uniqueness's concern, so they don't fail this check) and, when a
    * start is required, `min == start`. The transcripts shape: every
    * conversation's turn_idx must run 0,1,2,… with no gap.
    *
    * Two-phase aggregation — groupBy (keys, idx) then keys — instead of
    * `count(distinct)` beside min/max (which plans an Expand doubling the
    * input): both phases are map-side combined, the idx dedup collapses
    * each group to its distinct indices per task, and under a key-bucketed
    * at-rest layout the whole pipeline plans ZERO exchange. NULL indices
    * are excluded (completeness owns nulls); NULL keys form their own
    * group, matching uniqueness's NULL-is-a-value semantics. */
  def sequenceGroups(df: DataFrame, keys: Seq[String], idx: String): DataFrame =
    df.filter(col(idx).isNotNull)
      .groupBy((keys :+ idx).map(col): _*).agg(count(lit(1)).as("__n"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_distinct"),
        min(col(idx)).as("min_idx"), max(col(idx)).as("max_idx"))

  /** Violation predicate over [[sequenceGroups]] rows. */
  def sequenceViolationCond(start: Option[Long]): Column = {
    val dense = col("n_distinct") === col("max_idx") - col("min_idx") + lit(1L)
    val starts = start.map(s => col("min_idx") === lit(s)).getOrElse(lit(true))
    !(dense && starts)
  }

  /** The violating groups (quarantine face of the sequence rule): one row
    * per key group with a gap (or wrong start), with its stats. */
  def sequenceViolations(df: DataFrame, keys: Seq[String], idx: String,
      start: Option[Long]): DataFrame =
    sequenceGroups(df, keys, idx).filter(sequenceViolationCond(start))

  /** Per-group monotonicity stats: for each key group, whether `valueCol`
    * is monotone (default non-decreasing) when the group's rows are walked
    * in `orderCol` order. The transcripts shape: event time `ts` must never
    * run backwards as turn_idx advances within a conversation — the
    * ordering invariant sequence (density) and uniqueness (duplicates)
    * don't see.
    *
    * One window pass + one grouped aggregate. The window partitions by the
    * keys, so under a key-bucketed at-rest layout it needs NO exchange —
    * only a per-partition sort that a `sortBy` bucketed layout would also
    * remove. The window orders by (orderCol, valueCol): the value tiebreak
    * makes the walk DETERMINISTIC when orderCol has ties (duplicate
    * turn_idx injections), checking "is there an ordering of tied rows
    * under which the group is monotone" — partitioning- and run-invariant,
    * so verdicts are oracle-comparable. NULL order or value rows are
    * excluded (completeness owns nulls); NULL keys form their own group. */
  def monotonicGroups(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, strict: Boolean = false,
      descending: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(walkOrder(orderCol, valueCol, descending): _*)
    val viol = regresses(col(valueCol), lag(col(valueCol), 1).over(w), strict, descending)
    df.filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(keys.map(col) :+ when(viol, 1L).otherwise(0L).as("__viol"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col("__viol")).as("inversions"))
  }

  /** THE monotonic step test, shared by every face of the family: `v`
    * regresses vs its walk predecessor `prev` — asc: `v < prev` (or `==`
    * under strict); desc mirrored. NULL when `prev` is (the walk's first
    * row), which every caller counts as no violation. */
  private[engine] def regresses(v: Column, prev: Column, strict: Boolean,
      descending: Boolean): Column = {
    val worse = if (descending) v > prev else v < prev
    if (strict) worse || v === prev else worse
  }

  /** THE monotonic walk order — the load-bearing determinism invariant
    * shared by the verdict ([[monotonicGroups]]), quarantine
    * ([[monotonicViolations]]) and filter ([[keepMonotone]]) faces and the
    * partitioned walk ([[GroupWalk]]): the walk always ascends in
    * orderCol; `descending` flips only the value tiebreak (tied rows walk
    * toward the permitted direction) and, in the callers, the comparison.
    * One definition so the faces can never disagree about what "the walk"
    * is. */
  private[engine] def walkOrder(orderCol: String, valueCol: String,
      descending: Boolean): Seq[Column] =
    if (descending) Seq(col(orderCol), col(valueCol).desc)
    else Seq(col(orderCol), col(valueCol))

  /** The violating TRANSITIONS (quarantine face of the monotonic rule):
    * each row whose value regresses vs its predecessor in the walk, with
    * the predecessor value alongside. */
  def monotonicViolations(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, strict: Boolean = false,
      descending: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(walkOrder(orderCol, valueCol, descending): _*)
    // materialize the predecessor, THEN filter on the plain column (window
    // expressions are not allowed directly in a WHERE)
    df.filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__prev_value", lag(col(valueCol), 1).over(w))
      .filter(regresses(col(valueCol), col("__prev_value"), strict, descending))
  }

  /** Filter face of the monotonic rule: KEEP the monotone walk — a row
    * survives when its value does not regress vs the running extreme
    * (max for ascending, min for descending) of the rows before it in
    * (orderCol, valueCol) order. The result is monotone by construction;
    * NULL order/value rows drop (the range-filter null-rejecting
    * convention — completeness owns them). Dropped rows never exceed the
    * running extreme, so including them in the window changes nothing —
    * the one-pass window is exactly the sequential greedy filter. Same
    * window shape as [[monotonicGroups]]: no exchange on a key-bucketed
    * layout. */
  def keepMonotone(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, strict: Boolean = false,
      descending: Boolean = false): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(walkOrder(orderCol, valueCol, descending): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val runExtreme =
      if (descending) min(col(valueCol)).over(w) else max(col(valueCol)).over(w)
    val ok =
      if (descending) { if (strict) col(valueCol) < col("__run") else col(valueCol) <= col("__run") }
      else            { if (strict) col(valueCol) > col("__run") else col(valueCol) >= col("__run") }
    df.filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__run", runExtreme)
      .filter(col("__run").isNull || ok) // first row of each walk always survives
      .drop("__run")
  }

  /** Row-level violation condition shared by the two faces of the
    * transition family ([[transitionGroups]] / [[transitionViolations]]) —
    * one definition so verdicts and quarantine rows can never disagree.
    * The rule is a DFA over each key group's value walk: `first` is the
    * start-state set (checked where the walk has no predecessor), `pairs`
    * the allowed prev→next edges (checked on every interior step), `last`
    * the accept-state set (checked where the walk has no successor — a
    * single-row walk is both first and last and must satisfy both).
    * Values compare as strings (the allowed_values convention: one
    * spelling covers string and numeric categoricals, and the semantics
    * are engine-reproducible). An unset `first`/`last` constrains nothing;
    * the edge set is required — an empty grammar is a misconfiguration,
    * not "everything fails". */
  private[engine] def transitionViolCond(v: Column, prev: Column, isLast: Column,
      pairs: Seq[(String, String)], first: Option[Seq[String]],
      last: Option[Seq[String]]): Column = {
    val edgeOk = pairs.map { case (f, t) => prev === lit(f) && v === lit(t) }
      .reduce(_ || _)
    val firstBad = first.map(fs => prev.isNull && !v.isin(fs: _*)).getOrElse(lit(false))
    val lastBad = last.map(ls => isLast && !v.isin(ls: _*)).getOrElse(lit(false))
    (prev.isNotNull && !edgeOk) || firstBad || lastBad
  }

  /** Per-key-group transition-grammar stats: for each key group, walk the
    * value column in (orderCol, value) order and count rows that break the
    * grammar. Returns (keys..., n_rows, bad_rows) — the verdict unit
    * is GROUPS (a conversation either satisfies its role grammar or not),
    * rolled up by the caller. One window pass (lag + lead share the frame)
    * partitioned by the keys — NO exchange on a key-bucketed layout, only
    * the per-bucket sort, exactly the monotonic family's shape. NULL order
    * or value rows are excluded (completeness owns nulls); NULL keys form
    * their own group. The (orderCol, value) tiebreak keeps the walk
    * deterministic under order ties, the [[walkOrder]] convention. */
  def transitionGroups(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, pairs: Seq[(String, String)],
      first: Option[Seq[String]] = None,
      last: Option[Seq[String]] = None): DataFrame = {
    val v = col(valueCol).cast(StringType)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol), v)
    val prev = lag(v, 1).over(w)
    val isLast = lead(v, 1).over(w).isNull
    val viol = transitionViolCond(v, prev, isLast, pairs, first, last)
    df.filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(keys.map(col) :+ when(viol, 1L).otherwise(0L).as("__viol"): _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), sum(col("__viol")).as("bad_rows"))
  }

  /** The grammar-breaking ROWS (quarantine face of the transition rule):
    * each row that violates the DFA, with the predecessor value and its
    * position in the walk ("first" / "interior" / "last" — a single-row
    * walk reports "first") so the report names WHICH constraint broke. */
  def transitionViolations(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String, pairs: Seq[(String, String)],
      first: Option[Seq[String]] = None,
      last: Option[Seq[String]] = None): DataFrame = {
    val v = col(valueCol).cast(StringType)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol), v)
    df.filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .withColumn("__prev_value", lag(v, 1).over(w))
      .withColumn("__is_last", lead(v, 1).over(w).isNull)
      .filter(transitionViolCond(v, col("__prev_value"), col("__is_last"),
        pairs, first, last))
      .withColumn("__position",
        when(col("__prev_value").isNull, "first")
          .when(col("__is_last"), "last").otherwise("interior"))
      .drop("__is_last")
  }

  /** The observed transition-grammar FACTS of a table: every (prev → next)
    * value adjacency with its support count, plus the observed walk start
    * ("first") and end ("last") states — the mining face the transition
    * family's rule author ([[graft.engine.Suggest.transitionGrammar]])
    * consumes. ONE window pass (same keys-partitioned shape as
    * [[transitionGroups]], no exchange on a key-bucketed layout); each row
    * then emits one-or-two tiny fact structs (its edge-or-first fact, plus
    * a last fact when the walk ends there) which aggregate by fact key —
    * the shuffle carries O(distinct states²) groups, never rows. NULL
    * order/value rows are excluded exactly like the rule itself, so mined
    * grammars describe the rows the rule will actually walk. */
  def transitionFacts(df: DataFrame, keys: Seq[String], orderCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast(StringType)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol), v)
    def fact(kind: Column, from: Column, to: Column): Column =
      struct(kind.as("kind"), from.as("from_value"), to.as("to_value"))
    val nullFrom = lit(null).cast(StringType)
    df.filter(col(orderCol).isNotNull && col(valueCol).isNotNull)
      .select(v.as("__v"), lag(v, 1).over(w).as("__prev"),
        lead(v, 1).over(w).isNull.as("__is_last"))
      .select(explode(array_compact(array(
        when(col("__prev").isNotNull, fact(lit("edge"), col("__prev"), col("__v")))
          .otherwise(fact(lit("first"), nullFrom, col("__v"))),
        when(col("__is_last"), fact(lit("last"), nullFrom, col("__v")))))).as("f"))
      .groupBy(col("f.kind").as("kind"), col("f.from_value").as("from_value"),
        col("f.to_value").as("to_value"))
      .agg(count(lit(1)).as("support"))
  }

  /** Per-determinant-group dependent-value counts — the shared core of the
    * functional-dependency family (Deequ's hasUniqueValueRatio cousin; the
    * GE "expect column A to determine column B" contract): for each
    * distinct value of the determinant `keys`, how many distinct dependent
    * tuples appear. The FD A→B holds for a group iff `n_values` = 1.
    *
    * Same two-phase shape as [[sequenceGroups]] — both group-bys
    * partial-aggregate map-side, so the shuffle carries (keys, dependent)
    * DISTINCT pairs, not rows; under a key-bucketed at-rest layout phase 2
    * needs no exchange at all. NULL handling follows the engine's
    * uniqueness conventions: a NULL dependent is ONE distinct value (the
    * pyspark-parity rule), NULL determinant keys form their own group
    * (monotonic's convention). The validator's verdicts come from the
    * group walk ([[GroupWalk.Dependency]]); this is the row face and the
    * reference the walk is tested against. */
  def fdGroups(df: DataFrame, keys: Seq[String], dependent: Seq[String]): DataFrame =
    df.groupBy((keys ++ dependent).map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_values"))

  /** Violation predicate over [[fdGroups]] rows: the determinant value maps
    * to more than one dependent tuple. */
  def fdViolationCond: Column = col("n_values") > 1L

  /** The violating groups (quarantine face of the functional_dependency
    * rule): one row per determinant value whose dependent is inconsistent,
    * with how many distinct dependent tuples it maps to. */
  def fdViolations(df: DataFrame, keys: Seq[String],
      dependent: Seq[String]): DataFrame =
    fdGroups(df, keys, dependent).filter(fdViolationCond)

  /** The LOSSLESS common type of two column types, for the diff's
    * cross-side canonicalization. Deliberately NOT Spark's
    * `findTightestCommonType`: that lattice admits integral→floating
    * coercions (LONG+FLOAT → FLOAT) under which genuinely different
    * values (16777217L vs 16777216.0f) cast equal and a changed key would
    * SILENTLY classify 'equal' — a false negative, the worst failure mode
    * a validation diff has. Admitted here: the integral widening chain,
    * FLOAT → DOUBLE, and decimal/integral → a DECIMAL wide enough for
    * both (None when that exceeds DECIMAL(38)), plus the provably-exact
    * integral→floating embeddings (BYTE/SHORT fit FLOAT's 24-bit
    * mantissa; BYTE/SHORT/INT fit DOUBLE's 53) and NullType→anything
    * (null casts to null). INT/LONG vs FLOAT and LONG vs DOUBLE are NOT
    * comparable-by-widening. */
  private[graft] def losslessCommon(a: DataType, b: DataType): Option[DataType] = {
    def intRank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(1); case ShortType => Some(2)
      case IntegerType => Some(3); case LongType => Some(4); case _ => None
    }
    // an integral type as the exact decimal that holds it (Long needs 19)
    def asDecimal(dt: DataType): Option[DecimalType] = dt match {
      case ByteType => Some(DecimalType(3, 0)); case ShortType => Some(DecimalType(5, 0))
      case IntegerType => Some(DecimalType(10, 0)); case LongType => Some(DecimalType(19, 0))
      case d: DecimalType => Some(d); case _ => None
    }
    // does every value of the integral type embed exactly in the float type?
    def fitsFloating(rank: Int, fl: DataType): Boolean = fl match {
      case FloatType  => rank <= 2 // 2^15 < 2^24
      case DoubleType => rank <= 3 // 2^31 < 2^53
      case _          => false
    }
    if (a == b) Some(a)
    else (a, b) match {
      case (NullType, t) => Some(t)
      case (t, NullType) => Some(t)
      case _ => (intRank(a), intRank(b)) match {
        case (Some(ra), Some(rb)) => Some(if (ra >= rb) a else b)
        case (Some(ra), None) if fitsFloating(ra, b) => Some(b)
        case (None, Some(rb)) if fitsFloating(rb, a) => Some(a)
        case _ => (a, b) match {
          case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
          case _ => (asDecimal(a), asDecimal(b)) match {
            case (Some(da), Some(db)) =>
              val scale = math.max(da.scale, db.scale)
              val p = math.max(da.precision - da.scale, db.precision - db.scale) + scale
              if (p <= DecimalType.MAX_PRECISION) Some(DecimalType(p, scale)) else None
            case _ => None
          }
        }
      }
    }
  }

  /** The canonical (column, type) list for a diff's key/compare columns:
    * each column's [[losslessCommon]] type across the two sides, so a
    * snapshot written before a lossless widening (INT → BIGINT,
    * FLOAT → DOUBLE, decimal growth) still digests equal values equally —
    * without this, xxhash64 hashes each side's native representation and
    * every shared key classifies 'changed'. A column pair with no
    * LOSSLESS common type is a configuration error, never a
    * silently-wrong comparison in either direction. */
  private def canonicalTypes(left: DataFrame, right: DataFrame,
      cols: Seq[String], what: String): Seq[(String, DataType)] = cols.map { c =>
    def typeOf(d: DataFrame) = d.schema.fields
      .find(_.name.equalsIgnoreCase(c))
      .getOrElse(throw new IllegalArgumentException(s"no $what column '$c'"))
      .dataType
    val (lt, rt) = (typeOf(left), typeOf(right))
    c -> losslessCommon(lt, rt).getOrElse(throw new IllegalArgumentException(
      s"diff $what column '$c': no lossless common type for " +
        s"${lt.simpleString} vs ${rt.simpleString}"))
  }

  /** Per-key content summary for the keyed table diff: one row per key
    * with the key's row count and an order-independent content digest —
    * the SUM of per-row `xxhash64` over the compare columns (each cast to
    * its cross-side canonical type). Sum (not XOR) so duplicate content
    * rows cannot cancel across the two sides ({a,a,b} vs {b,c,c} XOR to
    * the same value; their sums differ), and the sum runs in
    * DECIMAL(38,0) so ANSI mode cannot overflow-raise on full-range
    * 64-bit hash values. (count, digest) equality is multiset equality of
    * the key's compare-column tuples up to 64-bit hash collision (~2⁻⁶⁴
    * per compared key — the standard content-digest trade every keyed
    * diff tool makes).
    *
    * This is THE 100 TB shape: one map-side-combined groupBy per side, and
    * the shuffle carries (key, count, 16-byte digest) per DISTINCT key —
    * never rows, never the compared payload columns. Under a key-bucketed
    * at-rest layout the aggregation plans no exchange at all. */
  def keyContentSummary(df: DataFrame, keys: Seq[(String, DataType)],
      compare: Seq[(String, DataType)],
      cntName: String, digestName: String,
      perColumnPrefix: Option[String] = None): DataFrame = {
    def canon(c: (String, DataType)): Column = col(c._1).cast(c._2)
    // xxhash64 SKIPS null children, so hashing the bare columns would give
    // (NULL,'x') and ('x',NULL) the same digest — a systematic false
    // 'equal' on rows whose non-null values form the same sequence in
    // different columns. Interleaving each column's (always non-null)
    // null indicator pins every value to its position: two rows digest
    // equal iff they share the null mask AND the per-position values.
    val rowHash =
      if (compare.isEmpty) lit(0L) // keys-only diff: presence + multiplicity
      else xxhash64(compare.flatMap(c =>
        Seq(canon(c).isNull.cast("int"), canon(c))): _*)
    // optional PER-COLUMN digests ride the SAME aggregation (the shuffle
    // payload grows to 16 bytes × compare columns — still never rows), so
    // column attribution costs zero extra passes over the data
    val colDigests = perColumnPrefix.toSeq.flatMap(p => compare.map(c =>
      sum(xxhash64(canon(c).isNull.cast("int"), canon(c)).cast(DecimalType(38, 0)))
        .as(s"$p${c._1}")))
    // keys cast to their cross-side canonical type too — joining mismatched
    // key types would otherwise coerce per Spark's own comparison rules
    // (possibly collapsing or nulling keys) with no error
    df.groupBy(keys.map(k => canon(k).as(k._1)): _*)
      .agg(count(lit(1)).as(cntName),
        (sum(rowHash.cast(DecimalType(38, 0))).as(digestName) +: colDigests): _*)
  }

  /** Keyed row-level diff of `left` (the table under validation) against
    * `right` (the reference snapshot) — the row-granular counterpart of the
    * reconciliation family's aggregate audit. One output row per key in
    * EITHER table, with
    *   status ∈ {added, removed, changed, equal}:
    *     added   — key present only in `left` (new vs the reference)
    *     removed — key present only in `right` (vanished from `left`)
    *     changed — key in both, but row count or content digest differs
    *     equal   — identical multiset of compare-column tuples
    * plus both sides' row counts (`cnt_left` / `cnt_right`, NULL on the
    * absent side). Duplicate keys are handled as multisets via
    * [[keyContentSummary]]. NULL keys never join (SQL equality), so an
    * all-NULL key group surfaces honestly as one `added` AND one `removed`
    * row rather than silently comparing.
    *
    * The full-outer join runs on two frames hash-partitioned by the same
    * keys from their own aggregations — co-partitioned, so the join itself
    * adds no third shuffle; AQE picks the physical join at runtime. */
  def tableDiff(left: DataFrame, right: DataFrame, keys: Seq[String],
      compare: Seq[String], perColumn: Boolean = false): DataFrame = {
    val keyTyped = canonicalTypes(left, right, keys, "key")
    val typed = canonicalTypes(left, right, compare, "compare")
    val pfx = if (perColumn) Some("__hcol_") else None
    val l = keyContentSummary(left, keyTyped, typed, "cnt_left", "__digest_l",
      pfx.map(_ + "l_"))
    val r = keyContentSummary(right, keyTyped, typed, "cnt_right", "__digest_r",
      pfx.map(_ + "r_"))
    l.join(r, keys, "full_outer")
      .withColumn("status",
        when(col("cnt_right").isNull, lit("added"))
          .when(col("cnt_left").isNull, lit("removed"))
          .when(col("cnt_left") === col("cnt_right") &&
            col("__digest_l") <=> col("__digest_r"), lit("equal"))
          .otherwise(lit("changed")))
  }

  /** Per-column changed condition over a `perColumn = true` [[tableDiff]]
    * frame: the key is present on both sides AND (row counts differ — a
    * multiplicity change attributes to every column, structurally — or
    * the column's digest sum differs). */
  private[graft] def colChangedCond(c: String): Column =
    col("cnt_left").isNotNull && col("cnt_right").isNotNull &&
      (!(col("cnt_left") <=> col("cnt_right")) ||
        !(col(s"__hcol_l_$c") <=> col(s"__hcol_r_$c")))

  /** Violation predicate over [[tableDiff]] rows: any key whose multiset of
    * compared rows differs between the two tables. */
  def diffViolationCond: Column = col("status") =!= "equal"

  /** Column-level change attribution: for keys present in BOTH tables, how
    * many keys each compare column changed on — the "what drifted" report
    * a keyed diff owes its consumer ("the re-ingest touched only `tool`,
    * on 12k keys"). One row per compare column, `changed_keys` counted via
    * per-column content digests (same null-indicator-interleaved
    * xxhash64 sums as [[keyContentSummary]], one per column instead of one
    * per row). Semantics are PER-COLUMN MULTISET: a column changed iff its
    * multiset of values over the key's rows differs (row-count inequality
    * counts as change for every column — no single column owns a
    * duplicated row). Consequently a pure cross-column (or cross-row)
    * value SWAP that preserves every per-column multiset is attributable
    * to no column — it still counts as changed in [[tableDiff]]'s
    * row-level verdict, just not here. Keys on only one side are
    * added/removed, not column-attributable (also tableDiff's face).
    *
    * Scale shape unchanged from the diff itself: one map-side-combined
    * per-key aggregation per side — the shuffle payload grows to
    * (key, count, 16 bytes × compare columns), still never rows — plus a
    * co-partitioned join and an O(1)-row final aggregate. */
  def diffColumnStats(left: DataFrame, right: DataFrame, keys: Seq[String],
      compare: Seq[String]): DataFrame = {
    require(compare.nonEmpty, "diffColumnStats needs at least one compare column")
    val joined = tableDiff(left, right, keys, compare, perColumn = true)
      .filter(col("cnt_left").isNotNull && col("cnt_right").isNotNull)
    val agged = joined.agg(
      count(lit(1)).as("__both"),
      compare.map(c =>
        sum(when(colChangedCond(c), 1L).otherwise(0L)).as(s"__chg_$c")): _*)
    agged.select(explode(array(compare.map(c =>
        struct(lit(c).as("column"),
          coalesce(col(s"__chg_$c"), lit(0L)).as("changed_keys"),
          coalesce(col("__both"), lit(0L)).as("keys_in_both"))): _*)).as("s"))
      .select("s.*")
  }

  /** The differing keys (quarantine face of the diff rule): one row per
    * added / removed / changed key with both sides' counts. */
  def diffViolations(left: DataFrame, right: DataFrame, keys: Seq[String],
      compare: Seq[String]): DataFrame =
    tableDiff(left, right, keys, compare)
      .filter(diffViolationCond)
      .select((keys.map(col) :+ col("status") :+ col("cnt_left") :+ col("cnt_right")): _*)

  /** ANSI-safe Pearson correlation aggregate: the builtin `corr` DIVIDES BY
    * ZERO under ANSI mode (Spark 4 default) when either column is constant,
    * failing the whole job. This formulation keeps the builtins' STABLE
    * central-moment computation (covar_pop / stddev_pop are Welford-style —
    * a raw-moment Σx²−(Σx)² variant cancels catastrophically on
    * large-magnitude columns like epoch timestamps) and only guards the
    * final division, yielding NULL for the degenerate case so the caller
    * can treat "undefined" as a verdict, not a crash. Pairwise NULL
    * deletion matches the builtin: both inputs are masked to the rows
    * where BOTH are present. */
  def safeCorr(x: Column, y: Column): Column = {
    val both = x.isNotNull && y.isNotNull
    val xb = when(both, x.cast("double"))
    val yb = when(both, y.cast("double"))
    val cov = covar_pop(xb, yb)
    val sdx = stddev_pop(xb)
    val sdy = stddev_pop(yb)
    when(sdx > 0.0d && sdy > 0.0d, cov / (sdx * sdy))
  }

  /** Shannon-entropy aggregate pair (non-null count N, Σ c·ln c) of a
    * column's value distribution — entropy = ln(N) − Σc·ln(c)/N in NATS,
    * assembled driver-side from these O(1) numbers (Deequ's hasEntropy
    * semantics: the distribution is over NON-NULL values; nulls are
    * completeness's concern). Two map-side-combined aggregations, never a
    * collect of the value space — the value cardinality only sizes the
    * intermediate grouped frame, which shuffles (value, count) pairs only.
    * NULL values are kept through the FIRST grouping and masked in the
    * second so that, on the partitioned shape, an all-NULL partition still
    * surfaces (N=0 → entropy undefined) instead of vanishing from the
    * output. `part` threads a partition expression through both levels:
    * per-partition entropies ride the same two-aggregation shape, one scan.
    * Output: (__n long, __clnc double) — plus leading `__part` when
    * partitioned; __n is NULL (not 0) when no non-null rows exist. */
  def entropyParts(df: DataFrame, column: String, part: Option[Column] = None): DataFrame = {
    val counts = part match {
      case Some(p) =>
        df.groupBy(p.as("__part"), col(column).as("__v")).agg(count(lit(1)).as("__c"))
      case None =>
        df.groupBy(col(column).as("__v")).agg(count(lit(1)).as("__c"))
    }
    val nonNull = col("__v").isNotNull
    val nAgg = sum(when(nonNull, col("__c"))).as("__n")
    val clncAgg = sum(when(nonNull,
      col("__c").cast("double") * log(col("__c").cast("double")))).as("__clnc")
    part match {
      case Some(_) => counts.groupBy(col("__part")).agg(nAgg, clncAgg)
      case None    => counts.agg(nAgg, clncAgg)
    }
  }

  /** Entropy in nats from the [[entropyParts]] pair; None when undefined
    * (no non-null rows). A constant column yields Some(0.0) — defined. */
  def entropyFromParts(n: Long, clnc: Double): Option[Double] =
    if (n <= 0) None else Some(math.log(n.toDouble) - clnc / n)

  /** Two-phase salted variant for when the aggregate payload is heavy (e.g.
    * collecting examples per key) and a hot key would overload one reducer:
    * stage 1 groups by (key, salt) — the hot key fans out over `saltBuckets`
    * reducers — stage 2 re-aggregates the S partial rows per key. Verdicts
    * are identical to [[duplicateKeys]] (asserted by SaltingSpec). */
  def duplicateKeysSalted(df: DataFrame, keys: Seq[String], saltBuckets: Int = 64): DataFrame = {
    val salt = pmod(hash(spark_partition_id(), monotonically_increasing_id()), lit(saltBuckets))
    df.withColumn("__salt", salt)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("partial_count"))
      .groupBy(keys.map(col): _*)
      .agg(sum("partial_count").as("dup_count"))
      .filter(col("dup_count") > 1)
  }

  /** Full violating rows for a uniqueness rule: rows whose key occurs more
    * than once. Implemented as a window count over the key partition —
    * one shuffle, no self-join. */
  def duplicateRows(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__key_count", count(lit(1)).over(w))
      .filter(col("__key_count") > 1)
      .drop("__key_count")
  }

  /** Keep the first row per key under `orderCol` (dedup filter extension —
    * the reference cannot filter uniqueness, `pyspark_engine.py:197-198`). */
  def keepFirstPerKey(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Referential integrity: rows of `fact` whose non-NULL `factKey` has no
    * match in `dim(dimKey)` (left-anti join). NULL fact keys are NOT orphans
    * (they are completeness's job) — same contract as [[orphanCount]], so
    * the broadcast and union/hash-agg paths always agree. `broadcastDim=true`
    * forces a broadcast hash join (right for small dimension tables);
    * otherwise the dim side is hinted SHUFFLE_HASH: an anti join never needs
    * sorted inputs, and a shuffled hash join skips the two 28M-row sorts a
    * sort-merge join would pay — the dim (build) side is the smaller one by
    * construction, and AQE can still downgrade to broadcast at runtime. */
  def orphans(
      fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String,
      broadcastDim: Boolean = true): DataFrame = {
    val d = dim.select(col(dimKey).as(factKey)).distinct()
    val right = if (broadcastDim) broadcast(d) else d.hint("shuffle_hash")
    fact.filter(col(factKey).isNotNull).join(right, Seq(factKey), "left_anti")
  }

  /** Orphan COUNT without a join: tag fact keys t=1 and dim keys d=1, union,
    * hash-aggregate by key, sum fact-counts of keys never seen in the dim.
    * One hash shuffle with map-side combine (fact keys collapse to one row
    * per distinct key per task) and NO sort — beats the sort-merge anti-join
    * when only the count is needed; [[orphans]] remains the violation-ROWS
    * extractor. NULL fact keys are not orphans (match [[orphans]] semantics
    * where a NULL never joins — callers filter NULLs per their rule). */
  def orphanCount(fact: DataFrame, factKey: String, dim: DataFrame, dimKey: String): Long = {
    val f = fact.select(col(factKey).as("__k"), lit(1L).as("__t"), lit(0L).as("__d"))
      .filter(col("__k").isNotNull)
    val d = dim.select(col(dimKey).as("__k"), lit(0L).as("__t"), lit(1L).as("__d"))
      .filter(col("__k").isNotNull)
    val row = f.unionByName(d)
      .groupBy("__k")
      .agg(sum("__t").as("__nt"), max("__d").as("__nd"))
      .filter(col("__nd") === 0)
      .agg(coalesce(sum("__nt"), lit(0L)))
      .head()
    row.getLong(0)
  }

  /** Categorical histogram of a column (NULL bucketed as the literal string
    * "__NULL__" so drift on nullability is visible). */
  def categoricalHistogram(df: DataFrame, column: String): DataFrame =
    df.groupBy(coalesce(col(column).cast("string"), lit("__NULL__")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Fixed-width numeric histogram over [lo, hi) with `bins` buckets; values
    * outside clamp to the edge bins. Bucketing is a pure expression → one
    * groupBy job, map-side combined. */
  def numericHistogram(df: DataFrame, valueCol: Column, lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val b = least(greatest(floor((valueCol - lit(lo)) / lit(width)), lit(0)), lit(bins - 1))
    df.groupBy(b.cast("int").as("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Several histograms in ONE scan: each spec (name, bucketExpr) becomes a
    * (kind, bucket) pair per row via a 2-element explode; one groupBy job
    * returns every histogram. Used to batch all drift rules over a table —
    * N drift rules cost one column-pruned scan instead of N. */
  /** Driver-safety caps on collected histogram rows. Two distinct limits,
    * because two distinct things can go wrong:
    *  - [[maxHistogramBuckets]] bounds ONE rule's DISTINCT bucket count —
    *    histograms are O(buckets) BY CONTRACT (categorical values /
    *    fixed-width numeric bins); a drift rule mistakenly pointed at a
    *    high-cardinality raw column (ids, text) violates it and must fail
    *    through ITS OWN error path, named in the message. Checked per
    *    kind, so a batch of healthy rules sharing the scan is never
    *    failed by volume it didn't cause.
    *  - [[maxHistogramRows]] bounds the TOTAL collected volume (rules ×
    *    partitions × buckets — all of which can be individually legal):
    *    the absolute process-safety net via limit-before-collect, far
    *    above any sane configuration (4M rows ≈ a few hundred MB
    *    transiently, never an OOM). */
  val maxHistogramBuckets: Int = 65536
  val maxHistogramRows: Int = 1 * 1000 * 1000

  /** Thrown when ONE rule's histogram exceeds [[maxHistogramBuckets]] —
    * typed (with the offending rule's name) so the drift batch can fail
    * THAT rule and re-run the healthy rest, instead of failing the whole
    * co-batched scan. */
  final case class HistogramBucketOverflow(kind: String) extends
    IllegalArgumentException(
      s"drift histogram for rule '$kind' produced more than " +
        s"$maxHistogramBuckets buckets — the rule is pointed at a " +
        "high-cardinality column; drift compares DISTRIBUTIONS " +
        "(categorical values or binned numerics, e.g. method: ks)")

  /** Collect a (…, kind, bucket, cnt) grouped histogram frame under both
    * guards; `kindOrdinal`/`bucketOrdinal` locate the columns. The 1M-row
    * limit-before-collect is the absolute process-safety net (rules ×
    * partitions × buckets, each individually legal — ~150-250 MB of Rows
    * transiently at worst, bounded whatever the misconfiguration); the
    * per-kind distinct-bucket cap then names the offending rule. */
  private def guardedCollect(grouped: DataFrame, kindOrdinal: Int,
      bucketOrdinal: Int): Array[org.apache.spark.sql.Row] = {
    val rows = grouped.limit(maxHistogramRows + 1).collect()
    require(rows.length <= maxHistogramRows,
      s"drift histograms collected more than $maxHistogramRows rows in one " +
        "batch (rules × partitions × buckets) — reduce the partition bucket " +
        "count or split the drift rules across tables")
    rows.groupBy(_.getString(kindOrdinal)).foreach { case (kind, rs) =>
      val buckets = rs.iterator.map(_.getString(bucketOrdinal)).toSet.size
      if (buckets > maxHistogramBuckets) throw HistogramBucketOverflow(kind)
    }
    rows
  }

  /** The fold-bucket of the bounded-categorical drift projection: when a
    * drift rule names its expected `values`, every other non-null value
    * lands here — the histogram space stays O(values) at any column
    * cardinality (the 100 TB answer to drift over an unbounded label
    * space: junk labels read as other-mass drift, never a bucket-guard
    * trip). */
  val OtherBucket = "__other__"

  /** Scan-side face of the bounded-categorical projection: member values
    * pass through (cast-to-string, the allowed_values convention), NULL
    * stays NULL (the histogram's own "__NULL__" bucket downstream), every
    * other value folds into [[OtherBucket]]. */
  def boundedCategory(c: Column, values: Seq[String]): Column = {
    val s = c.cast(StringType)
    when(s.isNotNull && !s.isin(values: _*), lit(OtherBucket)).otherwise(s)
  }

  /** Driver-side face of the bounded-categorical projection, for
    * histograms that arrive as maps (sketch-derived `ref_state`
    * baselines): fold keys outside `values` into [[OtherBucket]], keeping
    * the engine's "__NULL__" bucket its own. Must bucket exactly like the
    * live scan's projected expression or member/other mass would misread
    * as drift. */
  def projectHistogram(hist: Map[String, Long],
      values: Option[Seq[String]]): Map[String, Long] = values match {
    case None => hist
    case Some(vs) =>
      val keep = vs.toSet + "__NULL__"
      hist.foldLeft(Map.empty[String, Long]) { case (acc, (k, c)) =>
        val key = if (keep(k)) k else OtherBucket
        acc + (key -> (acc.getOrElse(key, 0L) + c))
      }
  }

  def multiHistogram(df: DataFrame, specs: Seq[(String, Column)]): Map[String, Map[String, Long]] = {
    require(specs.nonEmpty)
    val kb = explode(array(specs.map { case (name, c) =>
      struct(lit(name).as("kind"), coalesce(c.cast("string"), lit("__NULL__")).as("bucket"))
    }: _*)).as("kb")
    guardedCollect(df.select(kb)
      .groupBy(col("kb.kind"), col("kb.bucket"))
      .agg(count(lit(1)).as("cnt")), kindOrdinal = 0, bucketOrdinal = 1)
      .groupBy(_.getString(0))
      .map { case (kind, rows) =>
        kind -> rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      }
  }

  /** [[multiHistogram]] additionally grouped by a partition expression:
    * kind → partition → (bucket → count), still ONE scan. The global
    * histogram of a kind is the exact roll-up across partitions, so callers
    * computing both global and per-partition drift pay a single pass. */
  def multiHistogramByPartition(
      df: DataFrame, specs: Seq[(String, Column)],
      part: Column): Map[String, Map[String, Map[String, Long]]] = {
    require(specs.nonEmpty)
    val kb = explode(array(specs.map { case (name, c) =>
      struct(lit(name).as("kind"), coalesce(c.cast("string"), lit("__NULL__")).as("bucket"))
    }: _*)).as("kb")
    // raw partition key (no per-row string cast) — stringified driver-side
    // over the O(partitions × buckets) collected rows (see rawKeyStringable)
    guardedCollect(df.select(partGroupCol(df, part).as("__part"), kb)
      .groupBy(col("__part"), col("kb.kind"), col("kb.bucket"))
      .agg(count(lit(1)).as("cnt")), kindOrdinal = 1, bucketOrdinal = 2)
      .groupBy(_.getString(1))
      .map { case (kind, rows) =>
        kind -> rows.groupBy(r => partKeyString(r.get(0))).map { case (p, rs) =>
          p -> rs.map(r => r.getString(2) -> r.getLong(3)).toMap
        }
      }
  }

  /** Fixed-width histogram bucket expression (see [[numericHistogram]]). */
  def numericBucket(valueCol: Column, lo: Double, hi: Double, bins: Int): Column = {
    val width = (hi - lo) / bins
    least(greatest(floor((valueCol - lit(lo)) / lit(width)), lit(0)), lit(bins - 1)).cast("int")
  }

  /** Driver-side two-sample chi-square over collected histograms; same
    * contingency formula as [[chiSquareContributions]]. */
  def chiSquareStat(a: Map[String, Long], b: Map[String, Long]): (Double, Int) = {
    val buckets = (a.keySet ++ b.keySet).toSeq.sorted
    val totA = a.values.sum.toDouble
    val totB = b.values.sum.toDouble
    val grand = totA + totB
    if (grand == 0) return (0.0, 1)
    var stat = 0.0
    buckets.foreach { k =>
      val oa = a.getOrElse(k, 0L).toDouble
      val ob = b.getOrElse(k, 0L).toDouble
      val ea = (oa + ob) * totA / grand
      val eb = (oa + ob) * totB / grand
      if (ea > 0) stat += (oa - ea) * (oa - ea) / ea
      if (eb > 0) stat += (ob - eb) * (ob - eb) / eb
    }
    (stat, math.max(buckets.size - 1, 1))
  }

  /** Driver-side KS over collected integer-bucketed histograms. Non-numeric
    * buckets (the "__NULL__" bucket multiHistogram emits for NULL values)
    * are excluded from BOTH distributions — KS compares the numeric CDFs
    * only; nullability drift belongs to completeness / chi-square rules.
    *
    * Genuinely empty inputs (no rows at all) yield 0.0 — no data, no drift.
    * A NON-empty histogram whose every bucket is non-numeric means the rule
    * is pointed at a non-numeric column (every value bucketed to __NULL__ /
    * a string) — that's a misconfiguration, not a pass, and raises so the
    * rule surfaces through the error path instead of silently passing. */
  /** Shared numeric-CDF preamble of [[ksStat]] and [[emdStat]]: integer
    * bucket keys, per-side totals, and the misconfiguration guards (a
    * non-empty histogram with NO numeric buckets raises — the rule was
    * pointed at a non-numeric column and must error, never silently pass). */
  private def numericCdfInputs(a: Map[String, Long], b: Map[String, Long],
      stat: String): (Map[Int, Long], Map[Int, Long], Double, Double) = {
    def numeric(m: Map[String, Long]): Map[Int, Long] =
      m.flatMap { case (k, v) => k.toIntOption.map(_ -> v) }
    val na = numeric(a)
    val nb = numeric(b)
    val totA = na.values.sum.toDouble
    val totB = nb.values.sum.toDouble
    if (totA == 0 && a.values.sum > 0)
      throw new IllegalArgumentException(
        s"$stat drift: baseline histogram has rows but no numeric buckets — is the column numeric?")
    if (totB == 0 && b.values.sum > 0)
      throw new IllegalArgumentException(
        s"$stat drift: current histogram has rows but no numeric buckets — is the column numeric?")
    (na, nb, totA, totB)
  }

  def ksStat(a: Map[String, Long], b: Map[String, Long]): Double = {
    val (na, nb, totA, totB) = numericCdfInputs(a, b, "ks")
    if (totA == 0 || totB == 0) return 0.0
    val buckets = (na.keySet ++ nb.keySet).toSeq.sorted
    var cumA = 0L; var cumB = 0L; var d = 0.0
    buckets.foreach { k =>
      cumA += na.getOrElse(k, 0L)
      cumB += nb.getOrElse(k, 0L)
      d = math.max(d, math.abs(cumA / totA - cumB / totB))
    }
    d
  }

  /** Earth mover's (1-Wasserstein) distance over the SAME integer-bucket
    * face as [[ksStat]], normalized by the observed bucket span → [0, 1]:
    * the AVERAGE CDF gap across the span, where ks is the WORST single
    * gap. The difference is DISTANCE WEIGHTING — emd is the work to
    * transport mass: the same 10% of rows moved one bucket over vs. across
    * the whole range reads identically in ks (both gap 0.1 somewhere) but
    * 49× apart in emd. So emd discounts local wobble (a pinched quantile
    * barely registers) and fires on genuine long-range displacement (mean
    * shift, tail migration). Size-invariant like ks; empty interior
    * buckets count in the span (a gap persisting across them keeps
    * paying — the mass still has to travel). */
  def emdStat(a: Map[String, Long], b: Map[String, Long]): Double = {
    val (na, nb, totA, totB) = numericCdfInputs(a, b, "emd")
    if (totA == 0 || totB == 0) return 0.0
    val buckets = na.keySet ++ nb.keySet
    val lo = buckets.min
    val hi = buckets.max
    if (lo == hi) return 0.0
    var cumA = 0L; var cumB = 0L; var s = 0.0
    (lo until hi).foreach { k =>
      cumA += na.getOrElse(k, 0L)
      cumB += nb.getOrElse(k, 0L)
      s += math.abs(cumA / totA - cumB / totB)
    }
    s / (hi - lo)
  }

  /** Cramér's V from the two-histogram contingency: √(χ²/grand) for a
    * 2×k table (min(r−1, c−1) = 1). An effect size in [0,1] like TVD, but
    * it DILUTES when one sample dwarfs the other (χ² saturates at the
    * smaller total while grand is the larger) — provided as the familiar
    * statistic for users who ask for it by name; `method: tvd` remains the
    * recommended size-invariant choice (see [[totalVariationDistance]]). */
  def cramersV(a: Map[String, Long], b: Map[String, Long]): Double = {
    val totA = a.values.sum
    val totB = b.values.sum
    // empty-input convention matches [[totalVariationDistance]]: no data on
    // either side → no drift; ONE empty side → total divergence (1.0).
    // Without this, χ² against an empty side degenerates to 0 and an
    // empty-baseline misconfiguration would silently PASS a cramers_v gate
    // that tvd fails and ks raises on — switching methods must never
    // disable the empty-baseline protection.
    if (totA == 0 && totB == 0) 0.0
    else if (totA == 0 || totB == 0) 1.0
    else math.sqrt(chiSquareStat(a, b)._1 / (totA + totB).toDouble)
  }

  /** Total variation distance between the normalized distributions of two
    * collected histograms: ½·Σ_b |p_a(b) − p_b(b)| ∈ [0,1]. A pure effect
    * size — invariant to BOTH sample sizes (unlike chi-square, which scales
    * with rows, and Cramér's V, which dilutes when one sample dwarfs the
    * other), so per-partition drift verdicts using it are exactly as
    * sensitive as the global one. Empty-vs-empty is 0.0 (no data, no
    * drift); empty-vs-non-empty is 1.0 (all mass moved). */
  def totalVariationDistance(a: Map[String, Long], b: Map[String, Long]): Double = {
    val totA = a.values.sum.toDouble
    val totB = b.values.sum.toDouble
    if (totA == 0 && totB == 0) return 0.0
    if (totA == 0 || totB == 0) return 1.0
    // sorted bucket order: double addition is not associative, so summing in
    // set-iteration order would make the statistic run-order-dependent
    val buckets = (a.keySet ++ b.keySet).toSeq.sorted
    buckets.iterator.map { k =>
      math.abs(a.getOrElse(k, 0L) / totA - b.getOrElse(k, 0L) / totB)
    }.sum / 2.0
  }

  /** Per-bucket TVD contributions as a DataFrame — the oracle-checkable face
    * of [[totalVariationDistance]] (each row is independent integer-count
    * arithmetic, bit-reproducible across engines; the statistic is
    * Σ abs_diff / 2). */
  def tvdContributions(histA: DataFrame, histB: DataFrame): DataFrame = {
    val a = histA.select(col("bucket"), col("cnt").cast("double").as("cnt_a"))
    val b = histB.select(col("bucket"), col("cnt").cast("double").as("cnt_b"))
    val j = a.join(b, Seq("bucket"), "full_outer").na.fill(0.0, Seq("cnt_a", "cnt_b"))
    val totals = j.agg(sum("cnt_a"), sum("cnt_b")).head()
    // Empty inputs produce well-formed rows instead of NaN / an NPE on the
    // null sums. Every row keeps the invariant abs_diff = |p_a − p_b| (an
    // empty side is the zero measure: its p column is 0.0 everywhere).
    // Both empty → empty table, matching the scalar's 0.0. ONE empty side:
    // the per-bucket formula sums to Σ abs_diff / 2 = 0.5, while
    // [[totalVariationDistance]] reports the CONVENTIONAL 1.0 for
    // empty-vs-non-empty — the scalar layers the "no baseline = total
    // divergence" protection on top of the formula; this table stays the
    // formula's per-bucket face (rows must never contradict their own
    // columns, and abs_diff > 1 is impossible for a probability
    // difference).
    val totA = if (totals.isNullAt(0)) 0.0 else totals.getDouble(0)
    val totB = if (totals.isNullAt(1)) 0.0 else totals.getDouble(1)
    if (totA == 0.0 && totB == 0.0)
      j.select(col("bucket"), lit(0.0).as("p_a"), lit(0.0).as("p_b"),
        lit(0.0).as("abs_diff")) // j is empty: schema-only
    else {
      val pA = if (totA > 0) col("cnt_a") / lit(totA) else lit(0.0)
      val pB = if (totB > 0) col("cnt_b") / lit(totB) else lit(0.0)
      j.select(col("bucket"), pA.as("p_a"), pB.as("p_b"),
        abs(pA - pB).as("abs_diff"))
    }
  }

  /** Population stability index between the normalized distributions of two
    * collected histograms: Σ_b (p_a(b) − p_b(b)) · ln(p_a(b) / p_b(b)), the
    * industry-standard model-monitoring drift score (conventional gates:
    * 0.1 = investigate, 0.25 = act). Like [[totalVariationDistance]] it is a
    * pure function of the two PROPORTION vectors — invariant to both sample
    * sizes, so per-partition verdicts fire at the same drift intensity as
    * the global one — but it weights tail buckets logarithmically, catching
    * a category collapsing from 2% to 0.02% that barely moves TVD. Buckets
    * with zero share on one side use floor `epsilon` (PSI is undefined at 0;
    * the standard practice), making the statistic finite and the epsilon an
    * explicit part of the contract. Empty-input conventions match the
    * sibling statistics: both empty → 0.0, one empty → every bucket is a
    * zero-vs-p comparison at the epsilon floor (large positive — an empty
    * baseline cannot silently pass a psi gate). Buckets are summed in
    * sorted order: double addition is not associative. */
  def psi(a: Map[String, Long], b: Map[String, Long], epsilon: Double = 1e-6): Double = {
    require(epsilon > 0.0, s"psi epsilon must be positive, got $epsilon")
    val totA = a.values.sum.toDouble
    val totB = b.values.sum.toDouble
    if (totA == 0 && totB == 0) return 0.0
    val buckets = (a.keySet ++ b.keySet).toSeq.sorted
    buckets.iterator.map { k =>
      val pa = if (totA > 0) math.max(a.getOrElse(k, 0L) / totA, epsilon) else epsilon
      val pb = if (totB > 0) math.max(b.getOrElse(k, 0L) / totB, epsilon) else epsilon
      (pa - pb) * math.log(pa / pb)
    }.sum
  }

  /** Jensen–Shannon divergence between the normalized distributions of two
    * collected histograms: ½·KL(p_a ‖ m) + ½·KL(p_b ‖ m) with m = (p_a +
    * p_b)/2, in NATS — symmetric, size-invariant like tvd/psi, and BOUNDED
    * in [0, ln 2 ≈ 0.693], so a critical gate is a fraction of a known
    * maximum (conventional gates: 0.05 investigate / 0.1 act on √JS², here
    * the raw divergence). Unlike PSI it needs NO epsilon floor: a bucket
    * with zero share on one side contributes p·ln 2/2 through the mixture —
    * finite by construction — so disjoint supports read exactly ln 2
    * instead of an epsilon-dependent magnitude. Empty-input conventions
    * match the siblings: both empty → 0.0; ONE empty → ln 2 (an empty
    * baseline must read as total divergence, never a silent pass). Buckets
    * are summed in sorted order (double addition is not associative). */
  def jensenShannon(a: Map[String, Long], b: Map[String, Long]): Double = {
    val totA = a.values.sum.toDouble
    val totB = b.values.sum.toDouble
    if (totA == 0 && totB == 0) return 0.0
    if (totA == 0 || totB == 0) return math.log(2.0)
    val buckets = (a.keySet ++ b.keySet).toSeq.sorted
    buckets.iterator.map { k =>
      val pa = a.getOrElse(k, 0L) / totA
      val pb = b.getOrElse(k, 0L) / totB
      val m = (pa + pb) / 2.0
      (if (pa > 0) pa * math.log(pa / m) else 0.0) / 2.0 +
        (if (pb > 0) pb * math.log(pb / m) else 0.0) / 2.0
    }.sum
  }

  /** Per-bucket Jensen–Shannon contributions as a DataFrame — the
    * oracle-checkable face of [[jensenShannon]] (the statistic is Σ contrib
    * over rows). Both-empty inputs yield the schema-only empty table
    * matching the scalar's 0.0; with ONE empty side this table stays the
    * formula's per-bucket face (rows sum to ½·ln 2) while the scalar layers
    * the conventional ln 2 on top — same contract split as
    * [[tvdContributions]] vs [[totalVariationDistance]]. */
  def jsContributions(histA: DataFrame, histB: DataFrame): DataFrame = {
    val a = histA.select(col("bucket"), col("cnt").cast("double").as("cnt_a"))
    val b = histB.select(col("bucket"), col("cnt").cast("double").as("cnt_b"))
    val j = a.join(b, Seq("bucket"), "full_outer").na.fill(0.0, Seq("cnt_a", "cnt_b"))
    val totals = j.agg(sum("cnt_a"), sum("cnt_b")).head()
    val totA = if (totals.isNullAt(0)) 0.0 else totals.getDouble(0)
    val totB = if (totals.isNullAt(1)) 0.0 else totals.getDouble(1)
    if (totA == 0.0 && totB == 0.0)
      j.select(col("bucket"), lit(0.0).as("p_a"), lit(0.0).as("p_b"),
        lit(0.0).as("contrib")) // j is empty: schema-only
    else {
      val pA = if (totA > 0) col("cnt_a") / lit(totA) else lit(0.0)
      val pB = if (totB > 0) col("cnt_b") / lit(totB) else lit(0.0)
      val m = (pA + pB) / lit(2.0)
      val contrib =
        (when(pA > 0.0, pA * log(pA / m)).otherwise(lit(0.0)) / lit(2.0)) +
          (when(pB > 0.0, pB * log(pB / m)).otherwise(lit(0.0)) / lit(2.0))
      j.select(col("bucket"), pA.as("p_a"), pB.as("p_b"), contrib.as("contrib"))
    }
  }

  /** Per-bucket PSI contributions as a DataFrame — the oracle-checkable face
    * of [[psi]] (the statistic is Σ contrib over rows). Same epsilon-floor
    * contract; both-empty inputs yield the schema-only empty table,
    * matching the scalar's 0.0. */
  def psiContributions(histA: DataFrame, histB: DataFrame,
      epsilon: Double = 1e-6): DataFrame = {
    require(epsilon > 0.0, s"psi epsilon must be positive, got $epsilon")
    val a = histA.select(col("bucket"), col("cnt").cast("double").as("cnt_a"))
    val b = histB.select(col("bucket"), col("cnt").cast("double").as("cnt_b"))
    val j = a.join(b, Seq("bucket"), "full_outer").na.fill(0.0, Seq("cnt_a", "cnt_b"))
    val totals = j.agg(sum("cnt_a"), sum("cnt_b")).head()
    val totA = if (totals.isNullAt(0)) 0.0 else totals.getDouble(0)
    val totB = if (totals.isNullAt(1)) 0.0 else totals.getDouble(1)
    if (totA == 0.0 && totB == 0.0)
      j.select(col("bucket"), lit(0.0).as("p_a"), lit(0.0).as("p_b"),
        lit(0.0).as("contrib")) // j is empty: schema-only
    else {
      val pA = greatest(if (totA > 0) col("cnt_a") / lit(totA) else lit(0.0), lit(epsilon))
      val pB = greatest(if (totB > 0) col("cnt_b") / lit(totB) else lit(0.0), lit(epsilon))
      j.select(col("bucket"), pA.as("p_a"), pB.as("p_b"),
        ((pA - pB) * log(pA / pB)).as("contrib"))
    }
  }

  /** Per-bucket Cramér's-V contributions as a DataFrame — the
    * oracle-checkable face of [[cramersV]]: the statistic is
    * √(Σ contrib) over rows (χ² normalized by the grand total; 2×k table so
    * min(r−1, c−1) = 1). Each row is independent double arithmetic over
    * exact integer counts, bit-reproducible across engines — the summation
    * (non-associative) stays OUT of the table, matching the tvd/psi/js
    * contract split between per-bucket face and driver-side scalar.
    * Both-empty inputs yield the schema-only empty table, matching the
    * scalar's 0.0 (the scalar ALSO layers the one-empty-side → 1.0
    * empty-baseline protection, which has no per-bucket face). */
  def cramersVContributions(histA: DataFrame, histB: DataFrame): DataFrame = {
    val j = chiSquareContributions(histA, histB)
    val totals = j.agg(sum("obs_a") + sum("obs_b")).head()
    if (totals.isNullAt(0) || totals.getDouble(0) == 0.0)
      j.select(col("bucket"), col("obs_a"), col("obs_b"),
        lit(0.0).as("contrib")) // j is empty: schema-only
    else
      j.select(col("bucket"), col("obs_a"), col("obs_b"),
        ((col("contrib_a") + col("contrib_b")) / lit(totals.getDouble(0)))
          .as("contrib"))
  }

  /** Two-sample chi-square statistic from two histograms keyed by `bucket`.
    * Expected counts use the standard contingency formula
    * e_ij = rowTotal_i * colTotal_j / grand. Buckets absent from one side
    * count 0 there. Returns (statistic, degreesOfFreedom). The per-bucket
    * sums run as one tiny job over the joined histograms — inputs to this
    * are already reduced to O(distinct buckets) rows. */
  def chiSquare(histA: DataFrame, histB: DataFrame): (Double, Int) = {
    val joined = chiSquareContributions(histA, histB)
    val row = joined.agg(sum("contrib_a") + sum("contrib_b"), count(lit(1))).head()
    (row.getDouble(0), math.max(row.getLong(1).toInt - 1, 1))
  }

  /** Per-bucket chi-square contributions — exact-arithmetic building block
    * (observed counts are Longs; each contribution is a deterministic double
    * expression, reproducible bit-for-bit by any engine). */
  def chiSquareContributions(histA: DataFrame, histB: DataFrame): DataFrame = {
    val a = histA.select(col("bucket"), col("cnt").cast("double").as("obs_a"))
    val b = histB.select(col("bucket"), col("cnt").cast("double").as("obs_b"))
    val j = a.join(b, Seq("bucket"), "full_outer")
      .na.fill(0.0, Seq("obs_a", "obs_b"))
    val totals = j.agg(sum("obs_a"), sum("obs_b")).head()
    val (totA, totB) = (totals.getDouble(0), totals.getDouble(1))
    val grand = totA + totB
    val expA = (col("obs_a") + col("obs_b")) * lit(totA) / lit(grand)
    val expB = (col("obs_a") + col("obs_b")) * lit(totB) / lit(grand)
    // (o-e)*(o-e) not pow(o-e,2): explicit multiply is codegen-cheaper and
    // bit-reproducible across engines (libm pow implementations vary)
    j.select(
      col("bucket"), col("obs_a"), col("obs_b"),
      ((col("obs_a") - expA) * (col("obs_a") - expA) / expA).as("contrib_a"),
      ((col("obs_b") - expB) * (col("obs_b") - expB) / expB).as("contrib_b"))
  }

  /** Kolmogorov–Smirnov statistic over two histograms sharing a bucket axis:
    * D = max_b |cdfA(b) - cdfB(b)|. CDFs are cumulative sums over the
    * (small) bucket axis — the window runs on histogram rows, never raw
    * data, so the single-partition window is O(buckets) and safe. */
  def ksFromHistograms(histA: DataFrame, histB: DataFrame): Double = {
    val d = ksCdfTable(histA, histB)
      .agg(max(abs(col("cdf_a") - col("cdf_b")))).head()
    d.getDouble(0)
  }

  /** The per-bucket CDF table behind [[ksFromHistograms]] (exposed for the
    * oracle queries: integer cumulative sums divided by integer totals are
    * bit-reproducible across engines).
    *
    * Cumulative sums run DRIVER-side over the collected joined histogram:
    * inputs are O(buckets) rows by construction, the old formulation was
    * already eager (its totals `.head()`), and the global-order window it
    * used would occupy exactly one task anyway — while spamming WindowExec's
    * "No Partition Defined" warning (Spark 4's EliminateWindowPartitions
    * folds away any constant partition key, so the warning can't be keyed
    * off). One job instead of two, and that warning now only ever means a
    * REAL unpartitioned window over raw data. Bucket order matches Spark's
    * `ORDER BY bucket` (NULLs first, then ascending). */
  def ksCdfTable(histA: DataFrame, histB: DataFrame): DataFrame = {
    val spark = histA.sparkSession
    val a = histA.select(col("bucket"), col("cnt").as("cnt_a"))
    val b = histB.select(col("bucket"), col("cnt").as("cnt_b"))
    val j = a.join(b, Seq("bucket"), "full_outer").na.fill(0L, Seq("cnt_a", "cnt_b"))
    val bucketType = j.schema("bucket").dataType
    val rows = j.collect()
    val nonNullOrd: Ordering[Any] = bucketType match {
      case IntegerType => Ordering.by((x: Any) => x.asInstanceOf[Int])
      case LongType    => Ordering.by((x: Any) => x.asInstanceOf[Long])
      case DoubleType  => Ordering.by((x: Any) => x.asInstanceOf[Double])
      case FloatType   => Ordering.by((x: Any) => x.asInstanceOf[Float])
      case _           => Ordering.by((x: Any) => String.valueOf(x))
    }
    val sorted = rows.sortBy(_.get(0))(Ordering.fromLessThan[Any] {
      case (null, null) => false
      case (null, _)    => true
      case (_, null)    => false
      case (x, y)       => nonNullOrd.lt(x, y)
    })
    val totA = sorted.map(_.getLong(1)).sum.toDouble
    val totB = sorted.map(_.getLong(2)).sum.toDouble
    var cumA = 0L
    var cumB = 0L
    val out = sorted.map { r =>
      cumA += r.getLong(1)
      cumB += r.getLong(2)
      org.apache.spark.sql.Row(r.get(0), r.getLong(1), r.getLong(2),
        cumA.toDouble / totA, cumB.toDouble / totB)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(
        StructField("bucket", bucketType),
        StructField("cnt_a", LongType, nullable = false),
        StructField("cnt_b", LongType, nullable = false),
        StructField("cdf_a", DoubleType, nullable = false),
        StructField("cdf_b", DoubleType, nullable = false))))
  }

  /** Oracle-checkable face of [[emdStat]]: per observed bucket, the CDF
    * gap after that bucket and the number of unit steps it persists
    * (distance to the next observed bucket; 0 for the last, where both
    * CDFs are 1). `emdStat ≡ Σ gap·span / (max−min)` — tied together in
    * ChecksSpec; the table itself is what a SQL oracle re-derives
    * bit-for-bit (integer cumsums divided by totals, LEAD for the span).
    * Buckets must be integral — emd needs a metric on the bucket axis. */
  def emdGapTable(histA: DataFrame, histB: DataFrame): DataFrame = {
    val spark = histA.sparkSession
    val cdf = ksCdfTable(histA, histB).collect()
    def long(v: Any): Long = v match {
      case i: java.lang.Integer => i.longValue
      case l: java.lang.Long    => l
      case other => throw new IllegalArgumentException(
        s"emd buckets must be integral, got ${String.valueOf(other)}")
    }
    val out = cdf.zipWithIndex.map { case (r, i) =>
      val span = if (i == cdf.length - 1) 0L else long(cdf(i + 1).get(0)) - long(r.get(0))
      org.apache.spark.sql.Row(long(r.get(0)), r.getLong(1), r.getLong(2),
        math.abs(r.getDouble(3) - r.getDouble(4)), span)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(
        StructField("bucket", LongType, nullable = false),
        StructField("cnt_a", LongType, nullable = false),
        StructField("cnt_b", LongType, nullable = false),
        StructField("gap", DoubleType, nullable = false),
        StructField("span", LongType, nullable = false))))
  }

  // --------------------------------------------------------- schema drift

  /** Schema drift vs a reference schema: one row per difference —
    * (column, change, current type, reference type) with change ∈
    * {added, removed, type_changed, nullability_changed}; "added" means
    * present HERE but not in the reference; nullability rows carry the
    * TYPE annotated with its nullability (`bigint not null` vs `bigint`),
    * keeping the type slots typed. Name matching is case-insensitive
    * (Spark's resolution default) UNLESS either schema holds columns that
    * differ only by case — then matching is case-sensitive throughout, so
    * a case-duplicate can never be compared against its namesake's type.
    * Output order is deterministic (by column, then change). Pure
    * metadata — no Spark job. */
  def schemaDiff(current: StructType, reference: StructType): Seq[(String, String, String, String)] = {
    val key = schemaKeyFn(current, reference)
    val cur = current.fields.map(f => key(f.name) -> f).toMap
    val ref = reference.fields.map(f => key(f.name) -> f).toMap
    def typed(f: StructField): String =
      f.dataType.simpleString + (if (f.nullable) "" else " not null")
    val added = current.fields.filterNot(f => ref.contains(key(f.name)))
      .map(f => (f.name, "added", f.dataType.simpleString, ""))
    val removed = reference.fields.filterNot(f => cur.contains(key(f.name)))
      .map(f => (f.name, "removed", "", f.dataType.simpleString))
    val changed = current.fields.flatMap { f =>
      ref.get(key(f.name)).flatMap { r =>
        if (r.dataType != f.dataType)
          Some((f.name, "type_changed", f.dataType.simpleString, r.dataType.simpleString))
        else if (r.nullable != f.nullable)
          Some((f.name, "nullability_changed", typed(f), typed(r)))
        else None
      }
    }
    (added ++ removed ++ changed).sortBy(x => (x._1, x._2)).toSeq
  }

  /** Column count of the union of both schemas, under the SAME name keying
    * [[schemaDiff]] uses — so a caller's failed/total ratio stays
    * consistent (diffs can never exceed this count). */
  def schemaUnionColumnCount(a: StructType, b: StructType): Int = {
    val key = schemaKeyFn(a, b)
    (a.fieldNames.map(key) ++ b.fieldNames.map(key)).distinct.length
  }

  private def schemaKeyFn(a: StructType, b: StructType): String => String = {
    def ambiguous(s: StructType) =
      s.fieldNames.groupBy(_.toLowerCase).exists(_._2.length > 1)
    if (ambiguous(a) || ambiguous(b)) identity else _.toLowerCase
  }

  // ------------------------------------------------------------- outliers

  /** Exact first/second moments of numeric columns, one fused agg job for
    * all of them. Values route through DECIMAL(18,4) (exact for ≤4
    * fractional digits — the engine's standard oracle recipe; the square
    * lands in DECIMAL(37,8), still inside Spark's exact range), so the
    * returned (n, Σx, Σx²) are associative-order-independent and
    * reproducible bit-for-bit by any decimal engine — unlike a double sum,
    * whose value depends on partition boundaries. Returns per column
    * (non-null count, sum, sum of squares) as doubles converted from the
    * exact decimals. */
  def momentsExact(df: DataFrame, columns: Seq[String]): Map[String, (Long, Double, Double)] = {
    val aggs = columns.zipWithIndex.flatMap { case (c0, i) =>
      // try_cast, not cast: under ANSI a single out-of-range value would
      // abort the whole fused job with a bare CAST_OVERFLOW; with try_cast
      // the overflow surfaces as a count mismatch below and raises a
      // message that names the COLUMN — routed by the caller to that
      // rule's error result rather than failing sibling rules too
      val d = col(c0).try_cast(DecimalType(18, 4))
      Seq(count(col(c0)).as(s"n_$i"),
        count(d).as(s"nc_$i"),
        sum(d).cast("double").as(s"s_$i"),
        sum(d * d).cast("double").as(s"s2_$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    columns.zipWithIndex.map { case (c0, i) =>
      val b = i * 4
      val n = row.getLong(b)
      val nCast = row.getLong(b + 1)
      // DECIMAL(18,4) holds |x| < 1e14: an epoch-micros column (or any
      // value beyond the range) would cast to NULL while count(col) still
      // counts it — the sums would silently describe a DIFFERENT sample
      // (in the worst case mean=0/std=0, flagging ~100% of rows as a quiet
      // "verdict"). Raise instead so the misconfiguration routes to the
      // rule's error path; same for a Σx² overflowing the exact range.
      if (nCast != n)
        throw new IllegalArgumentException(
          s"outlier moments: column '$c0' has ${n - nCast} value(s) outside the exact " +
            "DECIMAL(18,4) range (|x| >= 1e14, or NaN) — rescale the column (e.g. epoch " +
            "seconds, not micros) or pre-filter before the outlier rule")
      if (n > 0 && (row.isNullAt(b + 2) || row.isNullAt(b + 3)))
        throw new ArithmeticException(
          s"outlier moments: sum of squares overflowed the exact decimal range for column '$c0'")
      c0 -> ((n,
        if (row.isNullAt(b + 2)) 0.0 else row.getDouble(b + 2),
        if (row.isNullAt(b + 3)) 0.0 else row.getDouble(b + 3)))
    }.toMap
  }

  /** (mean, sample std) from exact moments in a FIXED double evaluation
    * order — `mean = s/n`, `var = (s2 − s·s/n)/(n−1)` clamped at 0 — which
    * the DuckDB oracle mirrors literally, so the derived threshold is the
    * same double in both engines. Requires n ≥ 2. */
  def meanStd(n: Long, s: Double, s2: Double): (Double, Double) = {
    val mean = s / n
    val varr = (s2 - s * s / n) / (n - 1)
    (mean, math.sqrt(math.max(varr, 0.0)))
  }

  /** The outlier predicate for one column: |x − mean| > k·std with
    * mean/std baked in as plan literals. Building it runs the moments job
    * (one agg action); the returned predicate is a pure per-row filter that
    * pushes to the scan. Columns with n < 2 yield `lit(false)`. */
  def outlierCond(df: DataFrame, column: String, maxZscore: Double): Column = {
    val (n, s, s2) = momentsExact(df, Seq(column))(column)
    if (n < 2) lit(false)
    else {
      val (mean, std) = meanStd(n, s, s2)
      col(column).isNotNull && abs(col(column) - lit(mean)) > lit(maxZscore * std)
    }
  }

  /** Rows failing the outlier predicate (the quarantine feed). */
  def outlierRows(df: DataFrame, column: String, maxZscore: Double): DataFrame =
    df.filter(outlierCond(df, column, maxZscore))

  /** Filter-mode KEEP condition: |x − mean| ≤ k·std. Null-REJECTING (a NULL
    * comparison is NULL → dropped), matching the range filter's semantics
    * rather than the verdict's NULLs-not-failed convention. Degenerate
    * columns (n < 2) keep everything. */
  def outlierKeepCond(df: DataFrame, column: String, maxZscore: Double): Column = {
    val (n, s, s2) = momentsExact(df, Seq(column))(column)
    if (n < 2) lit(true)
    else {
      val (mean, std) = meanStd(n, s, s2)
      abs(col(column) - lit(mean)) <= lit(maxZscore * std)
    }
  }
}
