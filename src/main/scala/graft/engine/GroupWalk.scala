package graft.engine

import graft.{RuleType, ValidationRule}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** One grouped walk per key: the uniqueness, sequence, monotonic,
  * transition, referential and functional_dependency rules that share a
  * walk key (group columns K, walk index I) are evaluated by ONE Spark job
  * instead of one job each. This is the only place those families'
  * verdicts are computed: a partitioned pass walks over its partition
  * expression, and a global verdict that no `partition_covers_key` roll-up
  * gives walks over one constant partition.
  *
  * The job scans once and derives every member's per-row flags from window
  * functions partitioned by (partition, K) — one Sort per distinct walk
  * order, none at all (a two-phase hash aggregate) when no member needs an
  * order — then aggregates by (partition, K) into per-member group stats
  * and rolls those up by partition. On a K-bucketed layout the only
  * exchange is the roll-up's. Uniqueness rides the walk as the count of
  * distinct I values per (partition, K) group, the sequence family's
  * density as the same count over non-NULL I; a monotonic or transition
  * member's predecessor is its last INCLUDED row before this one (NULL
  * order or value rows stay in the walk but are skipped, as the
  * single-rule pipelines filter them out). Referential and
  * functional_dependency rules ride any walk grouped by their columns
  * alone (see [[walks]]), with no window of their own: a referential
  * member left-joins the per-(partition, K) group rows, which carry their
  * row count, against the dim's distinct keys; a functional_dependency
  * member compares each group's smallest and largest dependent tuple on a
  * hash walk, and on an ordered walk flags the rows whose tuple differs
  * from the group's first — so the table is scanned once for every key
  * rule. */
private[graft] object GroupWalk {

  /** Group columns and walk index. The index is None for a single-column
    * uniqueness rule, which groups by its key alone, and for a [[Rider]]
    * (referential, functional_dependency). */
  final case class Key(groups: Seq[String], index: Option[String])

  /** One rule of a walk, parameters parsed. */
  sealed trait Member {
    def rule: ValidationRule
    def key: Key
    /** Columns the member reads beyond the key. */
    def values: Seq[String] = Nil
    /** The walk order the member's predecessor needs, if any. */
    def order: Option[Seq[Column]] = None
    /** Metadata of the member's global verdict when no partition roll-up
      * promotes it. */
    def metadata: Map[String, String] = {
      def keys = Map("keys" -> Validator.ruleKeys(rule).mkString(","))
      this match {
        case _: Unique => keys
        case _: Dense => keys ++ Map("index" -> key.index.get, "unit" -> "groups")
        case m: Monotone =>
          keys ++ Map("order_by" -> key.index.get, "value" -> m.value, "unit" -> "groups")
        case g: Grammar => keys ++ Map("order_by" -> key.index.get, "value" -> g.value,
          "edges" -> g.pairs.map { case (f, t) => s"$f->$t" }.mkString(","), "unit" -> "groups")
        case o: Orphan => Map("ref_table" -> o.refTable, "ref_column" -> o.refColumn)
        case d: Dependency => keys ++ Map("dependent" -> d.values.mkString(","), "unit" -> "groups")
      }
    }
    /** Metadata of the member's global verdict promoted from the partition
      * roll-up. */
    def promotedMetadata: Map[String, String] =
      metadata.filter(kv => Set("keys", "unit", "ref_table", "ref_column")(kv._1)) +
        ("partitioned" -> "true")
  }
  final case class Unique(rule: ValidationRule, key: Key) extends Member
  final case class Dense(rule: ValidationRule, key: Key, start: Option[Long]) extends Member
  final case class Monotone(rule: ValidationRule, key: Key, value: String,
      strict: Boolean, descending: Boolean) extends Member {
    override def values: Seq[String] = Seq(value)
    override def order: Option[Seq[Column]] =
      Some(Checks.walkOrder(key.index.get, value, descending))
  }
  final case class Grammar(rule: ValidationRule, key: Key, value: String,
      pairs: Seq[(String, String)], first: Option[Seq[String]],
      last: Option[Seq[String]]) extends Member {
    override def values: Seq[String] = Seq(value)
    override def order: Option[Seq[Column]] =
      Some(Seq(col(key.index.get), col(value).cast(StringType)))
  }

  /** A member whose key is its group columns with no index: its verdict
    * depends on nothing else, so it rides any walk grouped by exactly
    * those columns, whatever that walk's index. */
  sealed trait Rider extends Member

  /** A referential rule: the rows whose non-NULL key has no match among
    * the dim's non-NULL `refColumn` values. Its key is its column alone.
    * `g` counts every row, `f` the orphan rows. */
  final case class Orphan(rule: ValidationRule, key: Key, dim: DataFrame, refTable: String,
      refColumn: String, broadcastDim: Boolean) extends Rider {
    /** The dim's distinct non-NULL keys as column `name`: broadcast when
      * the rule asks for it, else hinted to a shuffled hash join (the dim
      * may be large). */
    def dimKeys(name: String): DataFrame = {
      val d = dim.select(col(refColumn).as(name)).where(col(name).isNotNull).distinct()
      if (broadcastDim) broadcast(d) else d.hint("shuffle_hash")
    }
  }

  /** A functional_dependency rule: a determinant group violates when it
    * holds more than one distinct dependent tuple (`values`). Its key is
    * its determinant. `g` counts groups, `f` those holding two distinct
    * dependent tuples — on a hash walk, whose smallest and largest tuple
    * differ (a min/max over a struct is a sort-based aggregate); on an
    * ordered walk, with a row whose tuple differs from the group's first
    * row's. A NULL dependent is one value and a NULL determinant its own
    * group, as in [[Checks.fdGroups]]. */
  final case class Dependency(rule: ValidationRule, key: Key,
      override val values: Seq[String]) extends Rider

  val families: Set[String] = Set(RuleType.Uniqueness, RuleType.Sequence,
    RuleType.Monotonic, RuleType.Transition, RuleType.Referential,
    RuleType.FunctionalDependency)

  /** Parse `rule`'s parameters and resolve its columns against `df` (and a
    * referential rule's dim, named through `resolve`). Left: the error the
    * rule reports as its own result. */
  def member(df: DataFrame, rule: ValidationRule,
      resolve: String => Option[DataFrame]): Either[Throwable, Member] =
    try {
      val keys = Validator.ruleKeys(rule)
      val m = rule.ruleType match {
        case RuleType.Uniqueness =>
          Unique(rule, if (keys.size == 1) Key(keys, None) else Key(keys.init, Some(keys.last)))
        case RuleType.Sequence =>
          val idx = rule.param("index").getOrElse(throw new IllegalArgumentException(
            s"sequence rule '${rule.name}' needs an index parameter"))
          Dense(rule, Key(keys, Some(idx)), rule.param("start").map(_.toLong))
        case RuleType.Monotonic =>
          val (orderCol, valueCol, strict, desc) = RulePlanner.monotonicParams(rule)
          Monotone(rule, Key(keys, Some(orderCol)), valueCol, strict, desc)
        case RuleType.Referential =>
          val refTable = rule.param("ref_table").getOrElse(throw new IllegalArgumentException(
            s"referential rule '${rule.name}' needs ref_table"))
          val dim = resolve(refTable).getOrElse(
            throw new IllegalArgumentException(s"unknown ref_table '$refTable'"))
          Orphan(rule, Key(Seq(rule.column), None), dim, refTable,
            rule.param("ref_column").getOrElse(rule.column), rule.paramBool("broadcast"))
        case RuleType.FunctionalDependency =>
          val (determinant, dependent) = RulePlanner.fdParams(rule)
          Dependency(rule, Key(determinant, None), dependent)
        case _ =>
          val (orderCol, valueCol, pairs, first, last) = RulePlanner.transitionParams(rule)
          Grammar(rule, Key(keys, Some(orderCol)), valueCol, pairs, first, last)
      }
      // analysis is eager: a missing column (or, for a referential rule, a
      // missing dim column or incomparable key types; for a
      // functional_dependency rule, an unorderable dependent) raises here
      val cols = df.select((m.key.groups ++ m.key.index ++ m.values).map(col): _*)
      m match {
        case o: Orphan =>
          cols.join(o.dimKeys("__d"), col(o.key.groups.head) === col("__d"), "left_semi")
        case d: Dependency => cols.agg(min(tuple(d)))
        case _ => ()
      }
      Right(m)
    } catch { case e: Throwable => Left(e) }

  /** A functional_dependency member's dependent tuple. */
  private def tuple(d: Dependency): Column = struct(d.values.map(col): _*)

  /** The walks of `members`: one per distinct key, each with the members
    * sharing it. A [[Rider]] joins the first walk grouped by exactly its
    * columns, whatever that walk's index; with none, it walks on its own
    * key (no order, so no Sort), which later riders grouped alike share. */
  def walks(members: Seq[Member]): Seq[(Key, Seq[Member])] = {
    val (riders, walkers) = members.partition(_.isInstanceOf[Rider])
    def groups(k: Key) = k.groups.map(_.toLowerCase)
    val keys = riders.foldLeft(walkers.map(_.key).distinct) { (ks, r) =>
      if (ks.exists(groups(_) == groups(r.key))) ks else ks :+ r.key
    }
    def host(r: Member) = keys.find(groups(_) == groups(r.key)).get
    keys.map(k => k -> (walkers.filter(_.key == k) ++ riders.filter(host(_) == k)))
  }

  /** The walk's roll-up: one row per partition — `__part`, then `g<j>`
    * and `f<j>` (longs) for member j. For a uniqueness member `g` is the
    * partition's rows and `f` its duplicate rows (rows − distinct keys);
    * for a referential member `g` is the partition's rows and `f` its
    * orphan rows; for the group-unit families `g` counts the member's key
    * groups and `f` the violating ones. Every member's key is `key`, or
    * for a [[Rider]] `key`'s group columns. An empty `df` has no row. */
  def frame(df: DataFrame, key: Key, members: Seq[Member], part: Column): DataFrame = {
    val partKey = Checks.partGroupCol(df, part)
    val ks = key.groups.map(col)
    val keyOut = partKey.as("__part") +: ks.zipWithIndex.map { case (c, i) => c.as(s"__k$i") }
    val byKey = col("__part") +: key.groups.indices.map(i => col(s"__k$i"))
    val dense = members.exists(_.isInstanceOf[Dense])
    val uniques = members.exists(_.isInstanceOf[Unique])
    val orphans = members.exists(_.isInstanceOf[Orphan])
    val dependencies = members.zipWithIndex.collect { case (d: Dependency, j) => d -> j }
    // functional_dependency member j of a hash walk: the smallest (`__lo<j>`)
    // and largest (`__hi<j>`) dependent tuple, mergeable across its levels
    def spans(lo: (Dependency, Int) => Column, hi: (Dependency, Int) => Column) =
      dependencies.flatMap { case (d, j) => Seq(min(lo(d, j)).as(s"__lo$j"), max(hi(d, j)).as(s"__hi$j")) }
    // `__rows` per group: uniqueness and referential members count rows
    val counted = uniques || orphans
    val orders = members.flatMap(_.order).distinctBy(_.map(_.toString))
    def aggregate(d: DataFrame, aggs: Seq[Column]) = d.groupBy(byKey: _*).agg(aggs.head, aggs.tail: _*)

    // per-(partition, K) stats: `__rows`, `__dups` for uniqueness, the sequence
    // family's (n_distinct, min_idx, max_idx), the dependent spans (hash
    // walk) or `__x<j>` (ordered walk), `__n<j>`/`__b<j>` (included rows,
    // violating rows) and the accept flag `__e<j>` of the rest
    val stats = if (orders.isEmpty) {
      // no member needs an order: hash aggregate by (partition, K, I), then
      // by (partition, K) when a member needs whole groups; no Sort
      val g1 = df.groupBy(keyOut ++ key.index.map(i => col(i).as("__i")): _*)
        .agg(count(lit(1)).as("__rows"), spans((d, _) => tuple(d), (d, _) => tuple(d)): _*)
      if (key.index.isEmpty || !(dense || dependencies.nonEmpty))
        g1.withColumn("__dups", col("__rows") - 1L)
      else aggregate(g1,
        (if (counted) Seq(sum("__rows").as("__rows")) else Nil) ++
          (if (uniques) Seq((sum("__rows") - count(lit(1))).as("__dups")) else Nil) ++
          (if (dense) Seq(count(col("__i")).as("n_distinct"),
            min(col("__i")).as("min_idx"), max(col("__i")).as("max_idx")) else Nil) ++
          spans((_, j) => col(s"__lo$j"), (_, j) => col(s"__hi$j")))
    } else {
      def walk(order: Seq[Column]) = Window.partitionBy(partKey +: ks: _*).orderBy(order: _*)
      def preceding(order: Seq[Column]) = walk(order).rowsBetween(Window.unboundedPreceding, -1)
      val i = col(key.index.get)
      // an index change vs the previous row of the first walk (every walk
      // orders by I first, so equal indices are adjacent); struct(I) tells
      // the first row (NULL lag) from a repeated NULL index
      val newIndex = if (uniques || dense) Seq(i.as("__i"),
        (!(lag(struct(i), 1).over(walk(orders.head)) <=> struct(i))).as("__new"))
      else Nil
      val flags = members.zipWithIndex.flatMap {
        case (m: Monotone, j) =>
          val incl = i.isNotNull && col(m.value).isNotNull
          val prev = last(when(incl, col(m.value)), ignoreNulls = true).over(preceding(m.order.get))
          Seq(when(incl, 1L).otherwise(0L).as(s"__n$j"),
            when(incl && Checks.regresses(col(m.value), prev, m.strict, m.descending), 1L)
              .otherwise(0L).as(s"__b$j"))
        case (m: Grammar, j) =>
          val incl = i.isNotNull && col(m.value).isNotNull
          val v = col(m.value).cast(StringType)
          val prev = last(when(incl, v), ignoreNulls = true).over(preceding(m.order.get))
          // the accept check belongs to the walk's last included row: the
          // aggregate picks it as the included row of highest position
          // (no look-ahead frame)
          val accept = m.last.toSeq.flatMap(ls => Seq(
            when(incl, row_number().over(walk(m.order.get))).as(s"__r$j"),
            when(!v.isin(ls: _*), 1L).otherwise(0L).as(s"__e$j")))
          Seq(when(incl, 1L).otherwise(0L).as(s"__n$j"),
            when(incl && Checks.transitionViolCond(v, prev, lit(false), m.pairs, m.first, None), 1L)
              .otherwise(0L).as(s"__b$j")) ++ accept
        // 1 on a row whose dependent tuple differs from its group's first
        // in the walk: a flag whose max the hash aggregate takes, where a
        // min/max over the tuple would make the walk's aggregate sort its rows
        case (d: Dependency, j) =>
          Seq(when(tuple(d) <=> first(tuple(d)).over(walk(orders.head)), 0L).otherwise(1L).as(s"__x$j"))
        case _ => Nil
      }
      def counts(j: Int) = Seq(sum(s"__n$j").as(s"__n$j"), sum(s"__b$j").as(s"__b$j"))
      val memberAggs = members.zipWithIndex.flatMap {
        case (g: Grammar, j) if g.last.isDefined =>
          counts(j) :+ max_by(col(s"__e$j"), col(s"__r$j")).as(s"__e$j")
        case (_: Monotone | _: Grammar, j) => counts(j)
        case (_: Dependency, j) => Seq(max(s"__x$j").as(s"__x$j"))
        case _ => Nil
      }
      aggregate(df.select(keyOut ++ newIndex ++ flags: _*),
        (if (counted) Seq(count(lit(1)).as("__rows")) else Nil) ++
          (if (uniques) Seq((count(lit(1)) - count(when(col("__new"), 1))).as("__dups")) else Nil) ++
          (if (dense) Seq(count(when(col("__i").isNotNull && col("__new"), 1)).as("n_distinct"),
            min(col("__i")).as("min_idx"), max(col("__i")).as("max_idx")) else Nil) ++
          memberAggs)
    }

    // referential member j: `__d<j>` is the matching dim key, NULL for an
    // orphan group (the dim keys are distinct, so no group row repeats).
    // The group rows cross an exchange on K first: adaptive execution runs
    // a stage only once its input stages are done, so a join inside the
    // walk's scan stage would hold the scan until the dim's stages end
    val joined = members.zipWithIndex.foldLeft(
        if (orphans) stats.repartition(col("__k0")) else stats) {
      case (s, (o: Orphan, j)) => s.join(o.dimKeys(s"__d$j"), col("__k0") === col(s"__d$j"), "left")
      case (s, _) => s
    }
    val perGroup = members.zipWithIndex.flatMap { case (m, j) =>
      def unit(exists: Column, violating: Column) = Seq(
        when(exists, 1L).otherwise(0L).as(s"g$j"),
        when(exists && violating, 1L).otherwise(0L).as(s"f$j"))
      m match {
        case _: Unique => Seq(col("__rows").as(s"g$j"), col("__dups").as(s"f$j"))
        case _: Orphan => Seq(col("__rows").as(s"g$j"),
          when(col("__k0").isNotNull && col(s"__d$j").isNull, col("__rows")).otherwise(0L).as(s"f$j"))
        case d: Dense => unit(col("n_distinct") > 0L, Checks.sequenceViolationCond(d.start))
        case _: Monotone => unit(col(s"__n$j") > 0L, col(s"__b$j") > 0L)
        case g: Grammar => unit(col(s"__n$j") > 0L, col(s"__b$j") > 0L ||
          g.last.fold(lit(false))(_ => coalesce(col(s"__e$j") === 1L, lit(false))))
        case _: Dependency => unit(lit(true),
          if (orders.isEmpty) !(col(s"__lo$j") <=> col(s"__hi$j")) else col(s"__x$j") === 1L)
      }
    }
    val sums = members.indices.flatMap(j => Seq(sum(s"g$j").as(s"g$j"), sum(s"f$j").as(s"f$j")))
    joined.select(col("__part") +: perGroup: _*)
      .groupBy(col("__part")).agg(sums.head, sums.tail: _*)
  }
}
