package graft.engine

import graft.ColumnProfile
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import java.io.{ObjectInputStream, ObjectOutputStream}
import scala.jdk.CollectionConverters._

/** Single-pass per-column statistics: null rate, min/max, approx-distinct
  * (HLL), type conformance. Two interchangeable engines:
  *
  *  - [[profile]] — composes Catalyst builtins (`count/sum(when)/min/max/
  *    approx_count_distinct`) into ONE `df.agg` job. Whole-stage codegen'd,
  *    map-side partial aggregation, shuffles exactly one row per task. This
  *    is the default/fast path.
  *  - [[profileTyped]] — a typed `Aggregator[Row, ProfileBuf, ...]` carrying
  *    mergeable datasketches HLL sketches in its buffer (the north rule
  *    names a single-pass typed Aggregator explicitly). Runs as
  *    ObjectHashAggregate (no codegen) but its buffers are bounded (~2 KB
  *    HLL per column) and merge associatively across partitions — the
  *    serialized sketch bytes can be persisted into a checkpoint and
  *    unioned across incremental runs, which the builtin path cannot do —
  *    that surface is [[profileState]]/[[mergeStates]]/[[finishState]]
  *    (+ [[writeState]]/[[readState]] for cross-run persistence).
  *    Buffers hold LIVE sketch objects; (de)serialization happens only at
  *    partition-exchange boundaries via the writeObject/readObject hooks.
  *
  * Both return identical exact counts; approx-distinct differs only by
  * sketch error (~1.6% rsd). ProfilerSpec asserts agreement on exact fields.
  */
object Profiler {

  val DefaultLgK = 12 // 2^12 HLL buckets → ~1.6% relative standard error
  val DefaultKllK = 200 // ~1.65% rank error (the sketch's default)
  val FreqMapSize = 256 // frequent-items counters → count error ≤ n·3.5/256
  val TopItems = 8 // heavy hitters reported per column
  val QuantileRanks: Seq[(String, Double)] =
    Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99)

  private def isFloating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true; case _ => false
  }

  /** Builtin-agg single-pass profile. For string columns callers may pass
    * `expectedTypes` (e.g. "bigint") to check type conformance of the text. */
  def profile(df: DataFrame, columns: Seq[String] = Nil,
              expectedTypes: Map[String, String] = Map.empty,
              rsd: Double = 0.016): Seq[ColumnProfile] = {
    val cols = if (columns.nonEmpty) columns else df.schema.fieldNames.toSeq
    val schema = df.schema
    val aggs: Seq[Column] = count(lit(1)).as("__total") +: cols.flatMap { name =>
      val dt = schema(name).dataType
      val c = col(name)
      val nullCond = if (isFloating(dt)) c.isNull || isnan(c) else c.isNull
      val conform = expectedTypes.get(name) match {
        // bigint: the native digit walk (same accept set as try_cast —
        // see LongCastableExpr) instead of ANSI TryCast's per-non-numeric-
        // row exception throw/catch, the dominant CPU on text columns
        case Some(t) if t.trim.equalsIgnoreCase("bigint") && dt == StringType =>
          sum(when(c.isNotNull && graft.functions.long_castable(c), 1L).otherwise(0L))
        case Some(t) => sum(when(c.isNotNull && expr(s"try_cast(`$name` AS $t)").isNotNull, 1L).otherwise(0L))
        // no expected type: conforming = present (non-null, non-NaN) — keeps
        // builtin and typed paths consistent on floating columns
        case None => sum(when(!nullCond, 1L).otherwise(0L))
      }
      val quants =
        if (dt.isInstanceOf[NumericType])
          percentile_approx(c.cast("double"),
            array(QuantileRanks.map(r => lit(r._2)): _*), lit(10000))
        else lit(null).cast(ArrayType(DoubleType))
      Seq(
        sum(when(nullCond, 1L).otherwise(0L)).as(s"__null_$name"),
        min(c).cast(StringType).as(s"__min_$name"),
        max(c).cast(StringType).as(s"__max_$name"),
        approx_count_distinct(c, rsd).as(s"__ad_$name"),
        conform.as(s"__conf_$name"),
        quants.as(s"__q_$name"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getLong(0)
    cols.zipWithIndex.map { case (name, i) =>
      val base = 1 + i * 6
      val nulls = if (row.isNullAt(base)) 0L else row.getLong(base)
      val quantiles =
        if (row.isNullAt(base + 5)) Map.empty[String, Double]
        else QuantileRanks.map(_._1).zip(row.getSeq[Double](base + 5)).toMap
      ColumnProfile(
        column = name,
        dataType = schema(name).dataType.simpleString,
        total_count = total,
        null_count = nulls,
        null_rate = if (total == 0) 0.0 else nulls.toDouble / total,
        min_value = Option(row.getString(base + 1)),
        max_value = Option(row.getString(base + 2)),
        approx_distinct = if (row.isNullAt(base + 3)) 0L else row.getLong(base + 3),
        type_conforming = if (row.isNullAt(base + 4)) 0L else row.getLong(base + 4),
        quantiles = quantiles)
    }
  }

  // ---------------------------------------------------------------- typed path

  /** Mutable aggregation buffer. Sketches are live heap objects during
    * accumulation; Java serialization (only at exchange) writes the compact
    * sketch byte images.
    *
    * The explicit UID marks the VALUE-KEYING GENERATION, not the field
    * layout: bumping it makes states persisted by older keying (e.g.
    * wall-clock timestamp spellings instead of epoch micros) unreadable —
    * they fall into the skipped-and-counted unreadable path rather than
    * silently merging two spellings of the same value. Bump it whenever
    * [[canonicalValueString]] or [[orderedNumeric]] changes. */
  @SerialVersionUID(5L)
  final class ProfileBuf(val n: Int, val lgK: Int, val numeric: Array[Boolean])
      extends Serializable {
    var total: Long = 0L
    val nulls: Array[Long] = new Array[Long](n)
    val conforming: Array[Long] = new Array[Long](n)
    val minV: Array[String] = new Array[String](n)
    val maxV: Array[String] = new Array[String](n)
    @transient var sketches: Array[HllSketch] =
      Array.fill(n)(new HllSketch(lgK, TgtHllType.HLL_8))
    // KLL quantile sketch per NUMERIC column (null elsewhere) — mergeable
    // and bounded (~few KB) like the HLL, so the same checkpoint/incremental
    // story applies to quantiles.
    @transient var kll: Array[KllDoublesSketch] =
      numeric.map(if (_) KllDoublesSketch.newHeapInstance(DefaultKllK) else null)
    // frequent-items sketch per column (heavy hitters): bounded map of
    // Profiler.FreqMapSize counters, mergeable; count error ≤ n·3.5/mapSize
    // (the sketch's a-priori epsilon — see Profiler.FreqMapSize)
    @transient var freq: Array[ItemsSketch[String]] =
      Array.fill(n)(new ItemsSketch[String](Profiler.FreqMapSize))

    private def writeObject(out: ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      val serde = new ArrayOfStringsSerDe
      var i = 0
      while (i < n) {
        val b = sketches(i).toCompactByteArray
        out.writeInt(b.length); out.write(b)
        if (numeric(i)) {
          val q = kll(i).toByteArray
          out.writeInt(q.length); out.write(q)
        }
        val f = freq(i).toByteArray(serde)
        out.writeInt(f.length); out.write(f)
        i += 1
      }
    }
    private def readObject(in: ObjectInputStream): Unit = {
      in.defaultReadObject()
      sketches = new Array[HllSketch](n)
      kll = new Array[KllDoublesSketch](n)
      freq = new Array[ItemsSketch[String]](n)
      val serde = new ArrayOfStringsSerDe
      var i = 0
      while (i < n) {
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        sketches(i) = HllSketch.heapify(Memory.wrap(b))
        if (numeric(i)) {
          val q = new Array[Byte](in.readInt()); in.readFully(q)
          kll(i) = KllDoublesSketch.heapify(Memory.wrap(q))
        }
        val f = new Array[Byte](in.readInt()); in.readFully(f)
        freq(i) = ItemsSketch.getInstance(Memory.wrap(f), serde)
        i += 1
      }
    }
  }

  // ONE definition of the typed path's accumulate/merge/finish semantics,
  // shared by the state-returning aggregator ([[ProfileStateAggregator]]),
  // the driver-side incremental union ([[mergeStates]]) and
  // [[finishState]] — so the one-shot and incremental answers cannot
  // diverge.
  private def ltVal(a: String, b: String, numeric: Boolean): Boolean =
    if (numeric) a.toDouble < b.toDouble else a < b

  /** Columns whose string forms order NUMERICALLY in min/max tracking:
    * numerics, plus TIMESTAMP (keyed as epoch micros — see
    * [[canonicalValueString]]; epoch strings don't order lexicographically).
    * NTZ keys stay LocalDateTime ISO strings, which DO order
    * lexicographically. ONE definition for every aggregator and the
    * driver-side merge, so the generations cannot disagree. */
  private[engine] def orderedNumeric(dt: DataType): Boolean =
    dt.isInstanceOf[NumericType] || dt == TimestampType

  /** The typed path's canonical string form of one non-null value —
    * the identity the sketches key on and min/max track. TIMESTAMP values
    * canonicalize to epoch MICROS: `java.sql.Timestamp.toString` renders
    * the executor's wall clock, so two executors (or a later reader) in
    * different zones would spell ONE instant two ways — the epoch form is
    * zone-free by construction and matches the live drift scan's
    * `unix_micros` bucket exactly. (NTZ values arrive as LocalDateTime,
    * whose ISO string is already zone-free.) Older states carrying the
    * wall-clock spellings are unreadable by this generation
    * (@SerialVersionUID bump) and fall into the skipped-and-counted path
    * instead of silently blending two spellings of the same instant. */
  private def epochMicros(inst: java.time.Instant): Long =
    inst.getEpochSecond * 1000000L + inst.getNano / 1000L

  private def canonicalValueString(v: Any): String = v match {
    case ts: java.sql.Timestamp => epochMicros(ts.toInstant).toString
    case inst: java.time.Instant => // spark.sql.datetime.java8API.enabled
      epochMicros(inst).toString
    case other => String.valueOf(other)
  }

  private[engine] def reduceInto(b: ProfileBuf, row: Row, types: Seq[DataType],
      numeric: Array[Boolean], floating: Array[Boolean]): ProfileBuf = {
    val n = numeric.length
    b.total += 1
    var i = 0
    while (i < n) {
      val isNull = row.isNullAt(i) || (floating(i) && (types(i) match {
        case DoubleType => java.lang.Double.isNaN(row.getDouble(i))
        case _          => java.lang.Float.isNaN(row.getFloat(i))
      }))
      if (isNull) b.nulls(i) += 1
      else {
        b.conforming(i) += 1
        val s = canonicalValueString(row.get(i))
        if (b.minV(i) == null || ltVal(s, b.minV(i), numeric(i))) b.minV(i) = s
        if (b.maxV(i) == null || ltVal(b.maxV(i), s, numeric(i))) b.maxV(i) = s
        b.sketches(i).update(s)
        b.freq(i).update(s)
        if (numeric(i)) row.get(i) match {
          case v: Number => b.kll(i).update(v.doubleValue())
          // timestamps feed the quantile sketch as epoch SECONDS computed
          // exactly like Spark's cast(ts AS double) (micros / 1e6), so a
          // ks drift rule's numericBucket grid on the live scan and the
          // sketch-derived baseline CDF measure the same axis
          case ts: java.sql.Timestamp =>
            b.kll(i).update(epochMicros(ts.toInstant).toDouble / 1e6)
          case inst: java.time.Instant =>
            b.kll(i).update(epochMicros(inst).toDouble / 1e6)
          case _ => ()
        }
      }
      i += 1
    }
    b
  }

  private[engine] def mergeInto(a: ProfileBuf, c: ProfileBuf, lgK: Int,
      numeric: Array[Boolean]): ProfileBuf = {
    val n = numeric.length
    a.total += c.total
    var i = 0
    while (i < n) {
      a.nulls(i) += c.nulls(i)
      a.conforming(i) += c.conforming(i)
      if (c.minV(i) != null && (a.minV(i) == null || ltVal(c.minV(i), a.minV(i), numeric(i)))) a.minV(i) = c.minV(i)
      if (c.maxV(i) != null && (a.maxV(i) == null || ltVal(a.maxV(i), c.maxV(i), numeric(i)))) a.maxV(i) = c.maxV(i)
      val u = new Union(lgK)
      u.update(a.sketches(i)); u.update(c.sketches(i))
      a.sketches(i) = u.getResult(TgtHllType.HLL_8)
      if (numeric(i)) a.kll(i).merge(c.kll(i))
      a.freq(i).merge(c.freq(i))
      i += 1
    }
    a
  }

  /** Epoch-micros → the UTC wall-clock string Spark's own
    * cast-to-string produces under a UTC session ("yyyy-MM-dd HH:mm:ss"
    * with trailing-zero-trimmed fraction) — the human face of the typed
    * path's internal epoch keying, used only when FINISHING a profile
    * (the drift faces keep the raw epoch keys). */
  private def epochMicrosToUtcString(s: String): String = {
    val micros = s.toLong
    val inst = java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
    val ldt = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneOffset.UTC)
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d " +
      f"${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    val micro = ldt.getNano / 1000
    if (micro == 0) base
    else base + "." + f"$micro%06d".reverse.dropWhile(_ == '0').reverse
  }

  private[engine] def finishBuf(b: ProfileBuf, columns: Seq[String],
      types: Seq[DataType], numeric: Array[Boolean]): Seq[ColumnProfile] =
    columns.indices.map { i =>
      val quantiles =
        if (numeric(i) && !b.kll(i).isEmpty)
          QuantileRanks.map { case (nm, r) => nm -> b.kll(i).getQuantile(r) }.toMap
        else Map.empty[String, Double]
      // the finished profile is the HUMAN face: timestamp extrema and
      // heavy hitters render as UTC wall-clock strings (matching the
      // builtin path's cast under a UTC session), while the buffer/state
      // keeps the zone-free epoch keys the drift faces compare on
      val render: String => String =
        if (types(i) == TimestampType) epochMicrosToUtcString else identity
      // NO_FALSE_POSITIVES: every reported item is a genuine frequent
      // value (its lower-bound count exceeds the sketch's error band)
      val top = b.freq(i).getFrequentItems(ErrorType.NO_FALSE_POSITIVES)
        .take(TopItems).map(r => render(r.getItem) -> r.getEstimate).toSeq
      ColumnProfile(columns(i), types(i).simpleString, b.total, b.nulls(i),
        if (b.total == 0) 0.0 else b.nulls(i).toDouble / b.total,
        Option(b.minV(i)).map(render), Option(b.maxV(i)).map(render),
        math.round(b.sketches(i).getEstimate),
        b.conforming(i),
        quantiles,
        top)
    }

  /** Typed single-pass profiler: one [[profileState]] pass, finished. */
  def profileTyped(df: DataFrame, columns: Seq[String] = Nil): Seq[ColumnProfile] =
    finishState(profileState(df, columns))

  // ------------------------------------------------------ incremental profiling

  /** A profile's full mergeable STATE — the typed path's aggregation buffer
    * plus the column/type identity it was computed over. This is the
    * incremental-profiling currency: profile each ingest slice ONCE, persist
    * the state (a few KB of sketch bytes per column — never rows), then
    * [[mergeStates]] across slices/runs and [[finishState]] when a profile
    * is needed. Exact fields (counts, min/max, conformance) union exactly;
    * sketch fields (HLL distinct, KLL quantiles, frequent items) union by
    * sketch merge — the SAME answer the one-shot aggregator would give over
    * the concatenated data, because all three sketch families merge
    * losslessly relative to their own error bounds. At 10^12 turns this is
    * the only profile that never re-reads history. */
  final case class ProfileState(
      columns: Seq[String], typeNames: Seq[String], buf: ProfileBuf) {
    private[engine] def types: Seq[DataType] =
      typeNames.map(org.apache.spark.sql.types.DataType.fromDDL)
  }

  /** The typed path's one pass over `df`, returning the mergeable state;
    * [[finishState]] turns it into profiles ([[profileTyped]] does both). */
  def profileState(df: DataFrame, columns: Seq[String] = Nil): ProfileState = {
    val cols = if (columns.nonEmpty) columns else df.schema.fieldNames.toSeq
    val types = cols.map(c => df.schema(c).dataType)
    val projected = df.select(cols.map(col): _*)
    val agg = new ProfileStateAggregator(cols, types)
    ProfileState(cols, types.map(_.sql),
      projected.as(Encoders.row(projected.schema)).select(agg.toColumn).head())
  }

  /** Union two profile states. Column names AND types must match — merging
    * across a schema change would silently blend incompatible value spaces,
    * so it is an error (the schema rule's job is to catch the change).
    * Neither input is mutated (the left buffer is deep-copied through its
    * own serialization hooks — KB-scale). */
  def mergeStates(a: ProfileState, b: ProfileState): ProfileState = {
    require(a.columns == b.columns && a.typeNames == b.typeNames,
      s"profile states disagree: ${a.columns.zip(a.typeNames)} vs ${b.columns.zip(b.typeNames)}")
    val numeric = a.types.map(orderedNumeric).toArray
    ProfileState(a.columns, a.typeNames, mergeInto(copyBuf(a.buf), b.buf, a.buf.lgK, numeric))
  }

  private def copyBuf(b: ProfileBuf): ProfileBuf = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    try out.writeObject(b) finally out.close()
    val in = new ObjectInputStream(new java.io.ByteArrayInputStream(bos.toByteArray))
    try in.readObject().asInstanceOf[ProfileBuf] finally in.close()
  }

  /** Finish a (possibly merged) state into per-column profiles. */
  def finishState(s: ProfileState): Seq[ColumnProfile] = {
    val types = s.types
    finishBuf(s.buf, s.columns, types, types.map(orderedNumeric).toArray)
  }

  /** Persist a profile state (driver-side, KB-scale: counts + compact
    * sketch images via the buffer's own serialization hooks). */
  def writeState(s: ProfileState, path: String): Unit = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    try { out.writeObject(s) } finally out.close()
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bos.toByteArray)
  }

  /** Reopen a persisted profile state. */
  def readState(path: String): ProfileState = {
    val in = new ObjectInputStream(new java.io.ByteArrayInputStream(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))))
    try in.readObject().asInstanceOf[ProfileState] finally in.close()
  }

  /** EXACT value histogram of one profiled column, derived from a profile
    * state's frequent-items sketch — the drift-baseline face of incremental
    * profiling (`ref_state` on a drift rule): drift vs yesterday without
    * re-scanning yesterday. Only legal while the sketch never purged
    * (maximum error 0 — the column's value space fit the sketch counters,
    * the categorical case drift monitoring targets); a purged sketch could
    * under-count, so this RAISES instead of returning a silently-wrong
    * baseline. NULLs, which the sketch never sees, are restored from the
    * state's exact null counter under the engine's "__NULL__" bucket
    * ([[Checks.multiHistogram]] parity). */
  def columnHistogram(s: ProfileState, column: String,
      sessionZone: java.time.ZoneId = java.time.ZoneOffset.UTC): Map[String, Long] = {
    val i = s.columns.indexOf(column)
    require(i >= 0, s"profile state has no column '$column' (has: ${s.columns.mkString(", ")})")
    val sk = s.buf.freq(i)
    require(sk.getMaximumError == 0,
      s"profile state's value sketch for '$column' is approximate (max error " +
        s"${sk.getMaximumError}): too many distinct values for a sketch-derived " +
        "drift baseline — use ref_table")
    val items = sk.getFrequentItems(ErrorType.NO_FALSE_POSITIVES)
      .map(r => r.getItem -> r.getEstimate).toMap
    // Timestamp keys are already canonical epoch micros — keyed at SKETCH
    // time ([[canonicalValueString]]), zone-free by construction, matching
    // the live scan's `unix_micros` drift bucket (Validator.driftBucket)
    // exactly. Validate the form rather than trusting it: a wall-clock
    // spelling here means a state written by an older keying generation
    // slipped past the UID gate — raise, never mis-bin.
    // NTZ sketch keys are LocalDateTime ISO strings (zone-free wall clock);
    // the live cast to TIMESTAMP interprets that wall clock in the SESSION
    // zone — parse at the same zone so both faces agree. Fixed-offset
    // required: in a DST fold two instants share one wall-clock string and
    // no reader can split them back apart.
    val keyed = s.types(i) match {
      case TimestampType =>
        items.foreach { case (k, _) =>
          require(k.nonEmpty && k.drop(if (k.startsWith("-")) 1 else 0).forall(_.isDigit),
            s"drift baseline for timestamp column '$column' holds non-epoch " +
              s"key '$k' — the state predates epoch keying; rebuild the baseline")
        }
        items
      case TimestampNTZType =>
        require(sessionZone.getRules.isFixedOffset,
          s"drift baseline for timestamp_ntz column '$column' needs a " +
            s"fixed-offset session time zone (got $sessionZone) — " +
            "set spark.sql.session.timeZone=UTC or use ref_table")
        items.map { case (k, v) =>
          epochMicros(java.time.LocalDateTime.parse(k)
            .atZone(sessionZone).toInstant).toString -> v
        }
      case _ => items
    }
    if (s.buf.nulls(i) > 0) keyed + ("__NULL__" -> s.buf.nulls(i)) else keyed
  }

  /** Binned-numeric baseline histogram of one profiled NUMERIC column,
    * derived from the state's KLL quantile sketch — the `ks`-drift face of
    * incremental profiling: numeric drift vs yesterday at ZERO baseline
    * scan (the categorical face is [[columnHistogram]]). Buckets mirror
    * [[Checks.numericBucket]] exactly — fixed width over [lo, hi), both
    * tails clamped into the edge buckets — keyed by bucket index. Counts
    * are recovered from CUMULATIVE sketch ranks at bucket upper boundaries
    * (rank EXCLUSIVE = P(X < boundary), matching the bucket's half-open
    * interval; per-bucket rounding cannot accumulate because only the
    * cumulative is rounded), so the CDF a consumer rebuilds by cumsum IS
    * the sketch's CDF to ±1 count. APPROXIMATE by construction: ranks
    * carry the sketch's normalized error ([[kllRankError]], ~1.65% at the
    * default k=200) — callers must gate on statistics coarser than that
    * bound (the Validator enforces critical > 2× the error). Raises on
    * non-numeric / empty-sketch columns. */
  def columnCdfHistogram(s: ProfileState, column: String,
      lo: Double, hi: Double, bins: Int): Map[String, Long] = {
    require(bins > 0 && hi > lo, s"bad bucket spec: [$lo, $hi) in $bins bins")
    val kll = kllOf(s, column)
    val n = kll.getN
    val width = (hi - lo) / bins
    var prev = 0L
    (0 until bins).flatMap { b =>
      val cum =
        if (b == bins - 1) n // tail clamp: everything ≥ hi is the last bucket
        else math.min(n, math.round(kll.getRank(lo + (b + 1) * width,
          org.apache.datasketches.quantilescommon.QuantileSearchCriteria.EXCLUSIVE) * n))
      val c = math.max(cum - prev, 0L)
      prev = math.max(cum, prev)
      if (c > 0) Some(b.toString -> c) else None
    }.toMap
  }

  /** Two-sided normalized rank error of the state's quantile sketch for
    * `column` — the accuracy bound of [[columnCdfHistogram]] baselines. */
  def kllRankError(s: ProfileState, column: String): Double =
    kllOf(s, column).getNormalizedRankError(false)

  private def kllOf(s: ProfileState, column: String): KllDoublesSketch = {
    val i = s.columns.indexOf(column)
    require(i >= 0, s"profile state has no column '$column' (has: ${s.columns.mkString(", ")})")
    val kll = s.buf.kll(i)
    require(kll != null && !kll.isEmpty,
      s"profile state has no numeric quantile sketch for '$column' — " +
        "ks ref_state baselines need a numeric column that held data")
    kll
  }

  /** One run of CLI-surface incremental profiling: profile `df` in ONE
    * pass, persist the state under `dir/state_<runId>.bin`, then merge
    * every compatible persisted state (this run's included) into the
    * lifetime profile. States whose columns/types disagree with this run's
    * are SKIPPED and counted, not merged — a schema change starts a new
    * lineage rather than blending incompatible value spaces (the schema
    * rule's job is to alert on the change itself). Merge order is the
    * sorted file list, so the result is deterministic across runs.
    *
    * This is the append-only-ingest shape: each run validates and profiles
    * only its own slice; the lifetime profile covers every slice ever
    * processed without re-reading any of them. */
  def profileRun(df: DataFrame, dir: String, runId: String,
      columns: Seq[String] = Nil): ProfileRunResult = {
    val st = profileState(df, columns)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    writeState(st, s"$dir/state_$runId.bin")
    // unreadable files (corrupt write, a state from an incompatible binary
    // generation) are SKIPPED AND COUNTED, never silently absorbed and
    // never fatal: this run just persisted its own valid state, so the
    // lifetime profile must keep advancing — the count in profile.json is
    // the alert that history needs attention
    val (states, unreadable) = stateFiles(dir)
      .foldLeft((Vector.empty[ProfileState], 0)) { case ((acc, bad), f) =>
        scala.util.Try(readState(f)) match {
          case scala.util.Success(s) => (acc :+ s, bad)
          case scala.util.Failure(_) => (acc, bad + 1)
        }
      }
    val (compat, skipped) = states.partition(o =>
      o.columns == st.columns && o.typeNames == st.typeNames)
    ProfileRunResult(finishState(compat.reduce(mergeStates)), compat.size,
      skipped.size, unreadable)
  }

  final case class ProfileRunResult(
      profiles: Seq[ColumnProfile], runsMerged: Int, incompatibleSkipped: Int,
      unreadableSkipped: Int = 0)

  /** The persisted state files of a profile directory, in sorted filename
    * order — ONE definition of the walk for the writer ([[profileRun]])
    * and every reader, so their notions of the directory cannot diverge. */
  private def stateFiles(dir: String): Seq[String] = {
    val dirPath = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(dirPath)) return Nil
    val s = java.nio.file.Files.list(dirPath)
    try s.iterator().asScala.map(_.toString)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).matches("state_.*\\.bin"))
      .toSeq.sorted
    finally s.close()
  }

  /** READ-ONLY lifetime state of a `--profile-dir` table directory: every
    * persisted run state sharing the CURRENT lineage's schema, merged —
    * no data scan, no new state written. The lineage is anchored on the
    * newest state by (mtime, filename): both engine writers name states
    * so filenames sort by recency (the CLI time-prefixes run ids, the
    * streaming writer zero-pads batch ids), so the tie-break agrees with
    * mtime even on copies that flattened timestamps — matching
    * profileRun's anchor-on-the-current-run semantics; states from older
    * schemas are skipped exactly as profileRun skips them. None when the
    * directory holds no states. */
  /** A filename made order-robust for the recency tie-break: every digit
    * run left-padded to 19 (a Long's width), so `state_batch-2.bin` and
    * `state_batch-000000000010.bin` compare NUMERICALLY regardless of
    * which writer generation named them — the reader-side guard for
    * directories written before the writers padded/time-prefixed their
    * run ids, which no rename migration may ever have touched. */
  private def recencyKey(name: String): String =
    "\\d+".r.replaceAllIn(name, m => ("0" * (19 - m.matched.length)) + m.matched)

  def lifetimeState(dir: String): Option[ProfileState] = {
    // unreadable files skipped like profileRun (reader-side resilience —
    // zero-scan authoring must not die on one corrupt historical file)
    val states = stateFiles(dir).flatMap(f =>
      scala.util.Try(f -> readState(f)).toOption)
    if (states.isEmpty) return None
    // mtime primary; digit-normalized filename tie-break (covers copies
    // that flattened mtimes AND legacy unpadded names in one move)
    val (_, ref) = states.maxBy { case (f, _) =>
      (java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(f)).toMillis,
        recencyKey(f))
    }
    Some(states.map(_._2)
      .filter(s => s.columns == ref.columns && s.typeNames == ref.typeNames)
      .reduce(mergeStates))
  }

  /** The typed path's aggregator, with the buffer itself as the result —
    * the distributed half of one-shot and incremental profiling. Input rows
    * must be pre-projected to exactly `columns` (ordinal access — no
    * per-row name lookups). */
  class ProfileStateAggregator(
      columns: Seq[String],
      types: Seq[DataType],
      lgK: Int = DefaultLgK
  ) extends Aggregator[Row, ProfileBuf, ProfileBuf] {
    private val numeric: Array[Boolean] = types.map(orderedNumeric).toArray
    private val floating: Array[Boolean] = types.map(isFloating).toArray
    override def zero: ProfileBuf = new ProfileBuf(columns.length, lgK, numeric)
    override def reduce(b: ProfileBuf, row: Row): ProfileBuf =
      reduceInto(b, row, types, numeric, floating)
    override def merge(a: ProfileBuf, c: ProfileBuf): ProfileBuf =
      mergeInto(a, c, lgK, numeric)
    override def finish(b: ProfileBuf): ProfileBuf = b
    override def bufferEncoder: Encoder[ProfileBuf] = Encoders.javaSerialization[ProfileBuf]
    override def outputEncoder: Encoder[ProfileBuf] = Encoders.javaSerialization[ProfileBuf]
  }
}
