package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.column.statistics.{BinaryStatistics, BooleanStatistics, DoubleStatistics, FloatStatistics, IntStatistics, LongStatistics, Statistics}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

import scala.jdk.CollectionConverters._

/** Per-file, per-column footer statistics carried in the snapshot manifest.
  * `kind` fixes the comparison domain for pruning: "long" (all parquet
  * int32/int64, including date/timestamp logical types — bounds compare as
  * epoch days/micros), "double" (float/double), "string" (UTF-8 binary,
  * compared unsigned-byte-lexicographic — the same order parquet used to
  * compute the stat and the same order Spark's string comparison uses, so
  * pruning can never disagree with the engine filter), "bool", or "other"
  * (no pruning). `hasMinMax=false` (e.g. an all-null chunk or a type the
  * footer does not bound) makes the file unprunable — conservative, never
  * incorrect. */
final case class ColumnStat(
    kind: String, min: String, max: String, nullCount: Long, hasMinMax: Boolean)

/** One immutable data file of a snapshot: relative path under the table
  * root plus footer-derived metadata (never re-scanned after commit). */
final case class DataFile(
    path: String, sizeBytes: Long, rowCount: Long, stats: Map[String, ColumnStat])

/** One committed table version. `files` is the FULL file list at this
  * version (Delta-checkpoint style — every snapshot self-describes, no
  * manifest-list chase); `addedFiles` records this commit's delta so
  * incremental readers ([[SnapTable.changes]]) never diff file lists. */
final case class Snapshot(
    version: Long,
    parentVersion: Long,
    operation: String, // create | append | overwrite | restore | compact | delete | merge
    schemaDdl: String,
    files: Seq[DataFile],
    addedFiles: Seq[String],
    // high-water mark of committed batch sequence numbers (Delta's
    // txnVersion contract): carried forward by EVERY commit, so replay
    // detection reads ONE manifest regardless of history depth or expiry
    batchSeq: Option[Long] = None,
    // lineage identity minted at create and carried forward by every
    // commit: a checkpoint cursor recorded against one incarnation must
    // not be mistaken for progress on a wiped-and-recreated table whose
    // version counter restarted (None on legacy manifests)
    tableId: Option[String] = None) {
  def totalRows: Long = files.map(_.rowCount).sum
}

/** A from-scratch transaction-log table format over parquet — the working
  * stand-in for the Iceberg table the north rule targets (the sandbox has
  * no Iceberg jar; `Tables.TableProvider` remains the swap seam). It
  * reproduces the *mechanics* that matter at 100 TB, not just the name:
  *
  *   - **Atomic snapshot commits**: a version is a single JSON manifest in
  *     `_log/` created by write-tmp + rename; readers either see a complete
  *     version or the previous one, never a torn file list. Version-number
  *     collision (two writers racing) loses the rename and retries at the
  *     next number — optimistic concurrency, same protocol as Delta on
  *     HDFS. Data files are written to the table BEFORE the commit, so an
  *     abandoned writer leaves only unreferenced orphans that
  *     [[SnapTable.expire]] garbage-collects; it can never corrupt a
  *     committed version.
  *   - **Metadata-only statistics**: per-file min/max/nullCount come from
  *     the parquet FOOTERS at commit time (no data re-scan), exactly where
  *     Iceberg manifests get them.
  *   - **Manifest-level file pruning**: [[SnapTable.readWhere]] drops whole
  *     files whose footer range cannot satisfy a bound before Spark ever
  *     lists them — the scan-planning half of partition pruning, and the
  *     reason a 100 TB validation of "yesterday's events" reads GBs, not TBs.
  *   - **Time travel + incremental reads**: any retained version is
  *     readable ([[SnapTable.read]] `asOf`), and [[SnapTable.changes]]
  *     returns exactly the rows added between two versions — the input an
  *     incremental validation run wants (validate only data newer than the
  *     checkpointed snapshot, see `state.Checkpoint`).
  *   - **Schema evolution**: appends may add columns (same-name type
  *     conflicts refuse the commit); every read applies the manifest schema,
  *     so pre-evolution files surface NULL for later columns.
  *
  * Reference anchor: the reference validates static tables per engine
  * (`/root/reference/src/data_validator/engines/pyspark_engine.py:52-63`)
  * and records only a flat completed-tables state (`state.py:9-40`); the
  * snapshot/lineage machinery here is the north-rule extension that makes
  * those semantics hold on a table that keeps growing.
  */
object SnapTable {
  private implicit val formats: Formats = DefaultFormats

  private val LogDir = "_log"
  private val DataDir = "data"
  // %08d pads to 8 digits but GROWS past 99,999,999 — the match must too,
  // or the table bricks at commit 100M (versions() would go blind to new
  // manifests and every commit would retry the same taken number)
  private val ManifestRe = """v(\d{8,})\.json""".r

  private def fs(spark: SparkSession, dir: String): (FileSystem, HPath) = {
    val root = new HPath(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def manifestPath(root: HPath, version: Long): HPath =
    new HPath(new HPath(root, LogDir), f"v$version%08d.json")

  /** All committed versions, ascending. Unparseable names are ignored (the
    * log dir holds only manifests and in-flight tmp files). */
  def versions(spark: SparkSession, dir: String): Seq[Long] = {
    val (filesystem, root) = fs(spark, dir)
    val log = new HPath(root, LogDir)
    if (!filesystem.exists(log)) Seq.empty
    else filesystem.listStatus(log).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(v) => Some(v.toLong)
        case _ => None
      }
    }.sorted
  }

  def currentVersion(spark: SparkSession, dir: String): Long = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"not a snap table (no $LogDir manifests): $dir")
    vs.last
  }

  def snapshot(spark: SparkSession, dir: String, asOf: Option[Long] = None): Snapshot = {
    val (filesystem, root) = fs(spark, dir)
    val v = asOf.getOrElse(currentVersion(spark, dir))
    val p = manifestPath(root, v)
    require(filesystem.exists(p),
      s"version $v of $dir does not exist (expired or never committed); " +
        s"available: ${versions(spark, dir).mkString(",")}")
    val in = filesystem.open(p)
    try JsonMethods.parse(in).extract[Snapshot] finally in.close()
  }

  // ------------------------------------------------------------- footer stats

  /** Merge two stat values in `kind`'s comparison domain. */
  private def cmp(kind: String, a: String, b: String): Int = kind match {
    case "long"   => java.lang.Long.compare(a.toLong, b.toLong)
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "bool"   => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    // unsigned byte-lexicographic on UTF-8 — parquet's stat order AND
    // Spark's UTF8String order, so pruning and filtering agree everywhere
    case _ =>
      val (ab, bb) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(ab.length, bb.length)
      var i = 0
      while (i < n) {
        val d = (ab(i) & 0xFF) - (bb(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      ab.length - bb.length
  }

  private def statOf(s: Statistics[_]): ColumnStat = {
    val nulls = if (s.isNumNullsSet) s.getNumNulls else 0L
    if (!s.hasNonNullValue) return ColumnStat("other", "", "", nulls, hasMinMax = false)
    s match {
      case i: IntStatistics     => ColumnStat("long", i.getMin.toString, i.getMax.toString, nulls, hasMinMax = true)
      case l: LongStatistics    => ColumnStat("long", l.getMin.toString, l.getMax.toString, nulls, hasMinMax = true)
      case f: FloatStatistics   => ColumnStat("double", f.getMin.toString, f.getMax.toString, nulls, hasMinMax = true)
      case d: DoubleStatistics  => ColumnStat("double", d.getMin.toString, d.getMax.toString, nulls, hasMinMax = true)
      case b: BooleanStatistics => ColumnStat("bool", b.getMin.toString, b.getMax.toString, nulls, hasMinMax = true)
      case b: BinaryStatistics =>
        // only UTF-8 string logical type gets an ordered stat; raw binary
        // stays unprunable (no total order a query filter would use)
        ColumnStat("string", b.genericGetMin.toStringUsingUTF8, b.genericGetMax.toStringUsingUTF8, nulls, hasMinMax = true)
      case _ => ColumnStat("other", "", "", nulls, hasMinMax = false)
    }
  }

  private def mergeStat(a: ColumnStat, b: ColumnStat): ColumnStat = {
    // any row group without a usable bound poisons the file's bound —
    // conservative: the file stays unprunable, null counts still accumulate
    if (!a.hasMinMax || !b.hasMinMax || a.kind != b.kind)
      ColumnStat(a.kind, "", "", a.nullCount + b.nullCount, hasMinMax = false)
    else ColumnStat(a.kind,
      if (cmp(a.kind, a.min, b.min) <= 0) a.min else b.min,
      if (cmp(a.kind, a.max, b.max) >= 0) a.max else b.max,
      a.nullCount + b.nullCount, hasMinMax = true)
  }

  /** Footer scan of one parquet file: row count + per-top-level-column
    * merged min/max/nullCount across row groups. Metadata-only — reads the
    * footer bytes, never a data page. */
  private[io] def footerStats(conf: Configuration, file: HPath): (Long, Map[String, ColumnStat]) = {
    val reader = ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getRowGroups.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val merged = scala.collection.mutable.Map.empty[String, ColumnStat]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val parts = c.getPath.toArray
        if (parts.length == 1) { // top-level leaf columns only
          val ann = c.getPrimitiveType.getLogicalTypeAnnotation
          val isString = ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          // a physical-int stat whose VALUES are not in the caller's bound
          // domain must not prune: decimals store UNSCALED ints, non-micros
          // timestamps a different epoch unit, unsigned ints a different
          // order — any of them silently mis-pruning is a correctness bug,
          // so they all degrade to unprunable, never to a wrong bound
          val unorderable = ann match {
            case null => false
            case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => true
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => !i.isSigned
            case _ => false
          }
          val raw = statOf(c.getStatistics)
          // a BINARY column without string annotation must not carry a
          // string-ordered bound either
          val st =
            if (unorderable || (raw.kind == "string" && !isString))
              raw.copy(kind = "other", min = "", max = "", hasMinMax = false)
            else raw
          merged(parts(0)) = merged.get(parts(0)).map(mergeStat(_, st)).getOrElse(st)
        }
      }
      (rows, merged.toMap)
    } finally reader.close()
  }

  // ------------------------------------------------------------------ commits

  // dash-free so it embeds unambiguously in file names and the
  // checkpoint's "snap-<id>-v<N>" cursor format
  private def nonce(): String =
    java.util.UUID.randomUUID.toString.replace("-", "").take(12)

  /** Write `df`'s rows as immutable files under `data/` and return their
    * manifest entries. Files land before any commit references them. */
  private def writeDataFiles(spark: SparkSession, dir: String, df: DataFrame): Seq[DataFile] = {
    val (filesystem, root) = fs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val tag = nonce()
    val staging = new HPath(root, s"_staging/$tag")
    // the table format owns its file layout: timestamps go down as
    // MICROS-unit int64 (not the session default, often legacy INT96 whose
    // footer stats are unordered) so timestamp columns are prunable and
    // their bound domain matches the engine's epoch-micros convention
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try df.write.parquet(staging.toString)
    finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None    => spark.conf.unset(tsKey)
    }
    val data = new HPath(root, DataDir)
    filesystem.mkdirs(data)
    val parts = filesystem.listStatus(staging).toSeq
      .filter(st => st.getPath.getName.startsWith("part-") && !st.getPath.getName.endsWith(".crc"))
      .sortBy(_.getPath.getName)
    // place + footer-read files CONCURRENTLY: each is an independent
    // metadata round-trip (rename + footer bytes), and a wide create can
    // commit thousands of files — serializing them on the driver would
    // make commit latency O(files) × store-RTT. Order preserved by
    // traverse; FileSystem handles are thread-safe.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val out = Await.result(Future.traverse(parts.toList) { st => Future {
      val dest = new HPath(data, s"$tag-${st.getPath.getName}")
      require(filesystem.rename(st.getPath, dest), s"cannot place data file $dest")
      val (rows, stats) = footerStats(conf, dest)
      DataFile(s"$DataDir/${dest.getName}", filesystem.getFileStatus(dest).getLen, rows, stats)
    }}, Duration.Inf)
    filesystem.delete(staging, true)
    val stagingRoot = new HPath(root, "_staging")
    if (filesystem.exists(stagingRoot) && filesystem.listStatus(stagingRoot).isEmpty)
      filesystem.delete(stagingRoot, false)
    out
  }

  /** Atomically commit the next version. `build(v)` is (re)invoked per
    * attempt so a lost race REBASES on the winner's state — every builder
    * reads its parent via `snapshot(dir, Some(v−1))` fresh inside the
    * closure, never from a pre-commit capture (a stale base would silently
    * drop the winning writer's files). Data files are already in place, so
    * losing a race costs one manifest rebuild, never a data rewrite. */
  private def commit(spark: SparkSession, dir: String,
      build: Long => Snapshot, maxAttempts: Int = 20): Snapshot = {
    val (filesystem, root) = fs(spark, dir)
    filesystem.mkdirs(new HPath(root, LogDir))
    var attempt = 0
    while (attempt < maxAttempts) {
      val next = versions(spark, dir).lastOption.getOrElse(0L) + 1
      val snap = build(next)
      val tmp = new HPath(new HPath(root, LogDir), s".v$next.${nonce()}.tmp")
      val o = filesystem.create(tmp, false)
      try o.write(Serialization.writePretty(snap).getBytes("UTF-8")) finally o.close()
      val dest = manifestPath(root, next)
      if (!filesystem.exists(dest) && filesystem.rename(tmp, dest)) return snap
      filesystem.delete(tmp, false)
      attempt += 1
    }
    throw new IllegalStateException(s"could not commit to $dir after $maxAttempts attempts")
  }

  /** Parent snapshot of a would-be version `v`, fresh from disk (None only
    * for the very first commit) — the rebase read every builder uses. */
  private def parentOf(spark: SparkSession, dir: String, v: Long): Option[Snapshot] =
    if (v == 1) None else Some(snapshot(spark, dir, Some(v - 1)))

  /** Range-cluster `df` on `column` so each written file covers a TIGHT,
    * near-disjoint slice of the column's domain — the layout that makes
    * [[readWhere]]'s footer pruning actually fire (an unclustered write
    * gives every file min≈global-min / max≈global-max, and pruning can
    * never drop anything). The 1-D analogue of Delta's OPTIMIZE ZORDER:
    * `repartitionByRange` samples split points, `sortWithinPartitions`
    * tightens row-group stats inside each file. */
  def clustered(df: DataFrame, column: String, files: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(files > 0, s"bad file count $files")
    df.repartitionByRange(files, col(column)).sortWithinPartitions(column)
  }

  /** Create version 1 (or overwrite semantics if the table exists). */
  def create(spark: SparkSession, dir: String, df: DataFrame): Snapshot =
    overwrite(spark, dir, df)

  def overwrite(spark: SparkSession, dir: String, df: DataFrame): Snapshot = {
    val added = writeDataFiles(spark, dir, df)
    commit(spark, dir, v => {
      val prev = parentOf(spark, dir, v)
      Snapshot(v, v - 1,
        if (v == 1) "create" else "overwrite",
        df.schema.toDDL, added, added.map(_.path),
        // the batch watermark survives an overwrite — replacing CONTENT
        // must not resurrect a replayed micro-batch's right to append;
        // identity is minted once at create and then only carried
        batchSeq = prev.flatMap(_.batchSeq),
        tableId = prev.flatMap(_.tableId)
          .orElse(if (v == 1) Some(nonce()) else None))
    })
  }

  /** Append `df`, evolving the schema by union-of-columns. A column that
    * exists in both with different types refuses the commit — silent
    * coercion is how a validation engine lies to itself. */
  def append(spark: SparkSession, dir: String, df: DataFrame): Snapshot =
    appendWith(spark, dir, df, seq = None)

  private def appendWith(spark: SparkSession, dir: String, df: DataFrame,
      seq: Option[Long]): Snapshot = {
    snapshot(spark, dir) // fail fast (and loud) on a non-table before writing data
    val added = writeDataFiles(spark, dir, df)
    appendCommit(spark, dir, df.schema, added, seq)
  }

  /** Commit PRE-WRITTEN data files as an append version (the commit half of
    * [[appendWith]], shared with [[appendMany]]). */
  private def appendCommit(spark: SparkSession, dir: String,
      dfSchema: StructType, added: Seq[DataFile], seq: Option[Long]): Snapshot =
    commit(spark, dir, v => {
      // rebase per attempt: the parent (files, schema, watermark, id) is
      // re-read fresh so a lost commit race can never drop the winner's
      // files or regress the exactly-once watermark
      val prev = parentOf(spark, dir, v).getOrElse(
        throw new IllegalStateException(s"append raced a table wipe at $dir"))
      val prevSchema = StructType.fromDDL(prev.schemaDdl)
      val byName = prevSchema.fields.map(f => f.name -> f).toMap
      dfSchema.fields.foreach { f =>
        byName.get(f.name).foreach { old =>
          require(old.dataType == f.dataType,
            s"append schema conflict on '${f.name}': table has ${old.dataType.sql}, append has ${f.dataType.sql}")
        }
      }
      val evolved = StructType(prevSchema.fields ++ dfSchema.fields.filterNot(f => byName.contains(f.name)))
      Snapshot(v, v - 1, "append",
        evolved.toDDL, prev.files ++ added, added.map(_.path),
        batchSeq = (prev.batchSeq.toSeq ++ seq).maxOption,
        tableId = prev.tableId)
    })

  /** Append several independent frames as consecutive versions: the data
    * writes (the expensive Spark jobs) run CONCURRENTLY, the manifest
    * commits apply SEQUENTIALLY in the given order. Result is identical to
    * calling [[append]] once per frame — this exists because data-file
    * staging is safely concurrent (distinct nonce staging dirs) while the
    * commit protocol must not race itself inside one process on
    * filesystems whose rename silently overwrites an existing destination
    * (raw local FS: the winner's manifest bytes can pair with the loser's
    * checksum sidecar). The writes carry the calling thread's job group,
    * tags and scheduler pool ([[graft.SparkFuture]]); every write finishes
    * before the first commit, so a failing write is rethrown only once no
    * other write of the call is still running. */
  def appendMany(spark: SparkSession, dir: String, dfs: Seq[DataFrame]): Seq[Snapshot] = {
    snapshot(spark, dir) // fail fast (and loud) on a non-table before writing data
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val staged = dfs.map(df => df.schema -> graft.SparkFuture(spark.sparkContext)(
      writeDataFiles(spark, dir, df)))
    staged.map { case (schema, f) => schema -> scala.util.Try(Await.result(f, Duration.Inf)) }
      .map { case (schema, added) => appendCommit(spark, dir, schema, added.get, seq = None) }
  }

  /** Idempotent sequenced append — the EXACTLY-ONCE sink contract for
    * at-least-once batch sources (Structured Streaming's foreachBatch,
    * whose batch ids are monotonic per query): an attempt with
    * `batchSeq <= ` the table's committed high-water mark is a no-op
    * returning None, so a replayed micro-batch can never double-append.
    * First batch of a new table creates it. The watermark rides every
    * manifest (Delta's txnVersion contract), so the replay check reads ONE
    * manifest — O(1) at any history depth, and [[expire]] cannot forget
    * it. One sequenced writer per table (a second streaming query's
    * interleaved batch ids would collide on the shared watermark — give
    * each query its own table); untagged [[append]]/[[overwrite]] commits
    * interleave freely, they carry the watermark forward. */
  def appendBatch(spark: SparkSession, dir: String, df: DataFrame, batchSeq: Long): Option[Snapshot] = {
    val vs = versions(spark, dir)
    if (vs.isEmpty) {
      val added = writeDataFiles(spark, dir, df)
      Some(commit(spark, dir, v => {
        val prev = parentOf(spark, dir, v) // rebase if a racing writer created the table
        Snapshot(v, v - 1,
          if (v == 1) "create" else "append", df.schema.toDDL,
          prev.map(_.files).getOrElse(Nil) ++ added, added.map(_.path),
          batchSeq = Some((prev.flatMap(_.batchSeq).toSeq :+ batchSeq).max),
          tableId = prev.flatMap(_.tableId)
            .orElse(if (v == 1) Some(nonce()) else None))
      }))
    } else if (snapshot(spark, dir).batchSeq.exists(batchSeq <= _)) None
    else Some(appendWith(spark, dir, df, seq = Some(batchSeq)))
  }

  /** Rewrite the CURRENT version's content into `targetFiles` files —
    * range-clustered on `clusterBy` when given — and commit it as a new
    * "compact" version (Delta's OPTIMIZE [ZORDER]): the maintenance half
    * of the [[appendBatch]] ingest loop, which at one file per micro-batch
    * degrades every read after thousands of batches. Content-identical by
    * construction (same rows, new layout), watermark and lineage carried,
    * prior versions still time-travelable until [[expire]] reclaims them.
    * Old data files are NOT deleted here — readers of older versions
    * still reference them; [[expire]] is the reclaim step. Like the
    * builders above, the commit rebases on retry, but a concurrent APPEND
    * between the read and the commit would be silently dropped from the
    * compacted file list — so this is a single-maintainer operation, same
    * discipline as `Dedup.compactSignatureIndex`. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int,
      clusterBy: Option[String] = None): Snapshot = {
    require(targetFiles > 0, s"bad target file count $targetFiles")
    val before = snapshot(spark, dir)
    val current = readFiles(spark, dir, before.schemaDdl, before.files)
    val reshaped = clusterBy match {
      case Some(c) => clustered(current, c, targetFiles)
      case None    => current.coalesce(targetFiles)
    }
    val added = writeDataFiles(spark, dir, reshaped)
    // verify from the rewritten FOOTERS before committing anything — a
    // mismatch must abandon orphan files (expire reclaims them), never
    // commit a version that lost rows
    val rewrittenRows = added.map(_.rowCount).sum
    require(rewrittenRows == before.totalRows,
      s"compaction row-count mismatch at $dir: ${before.totalRows} → $rewrittenRows — not committed")
    commit(spark, dir, v => {
      val prev = parentOf(spark, dir, v).getOrElse(
        throw new IllegalStateException(s"compact raced a table wipe at $dir"))
      Snapshot(v, v - 1, "compact",
        prev.schemaDdl, added, added.map(_.path),
        batchSeq = prev.batchSeq, tableId = prev.tableId)
    })
  }

  /** Copy-on-write row-level delete with FILE-GRANULAR rewrite — the
    * takedown/redaction primitive a training-data table owes its sources:
    * the manifest's footer stats split the current files into (may contain
    * matches, provably cannot), only the former are read and rewritten
    * without the matching rows, and the untouched files carry over BY
    * REFERENCE (no bytes moved — deleting one day from a time-clustered
    * table rewrites a handful of files, not the corpus). Rows with NULL in
    * `column` never match a bound and are always kept. Commits as a
    * "delete" version: watermark and lineage carried, prior versions still
    * time-travelable until [[expire]] (true physical removal of the old
    * bytes = delete + expire — document THAT as the takedown SLA), and
    * incremental [[changes]] readers refuse to cross it (a delete is not
    * expressible as added rows). Returns None when no file could contain a
    * match (zero work, no new version). Single-maintainer like [[compact]]. */
  def deleteWhere(spark: SparkSession, dir: String, column: String,
      lower: Option[String], upper: Option[String]): Option[Snapshot] = {
    require(lower.nonEmpty || upper.nonEmpty, "deleteWhere needs at least one bound")
    val before = snapshot(spark, dir)
    val (touched, untouched) = prunePartition(before, column, lower, upper)
    if (touched.isEmpty) return None
    // the DELETE predicate is the bound; the KEEP predicate is its
    // null-safe complement (NULL never matches a bound → kept)
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val pred = boundPredicate(before, column, lower, upper)
    val kept = readFiles(spark, dir, before.schemaDdl, touched)
      .filter(coalesce(not(pred), lit(true)))
    Some(commitRewrite(spark, dir, "delete", untouched, kept))
  }

  /** Shared tail of the copy-on-write family (delete/merge): rewrite the
    * kept rows, commit carried-over + rewritten files as an `op` version
    * with watermark and lineage carried. */
  private def commitRewrite(spark: SparkSession, dir: String, op: String,
      untouched: Seq[DataFile], kept: DataFrame): Snapshot = {
    val added = if (kept.isEmpty) Nil else writeDataFiles(spark, dir, kept)
    commit(spark, dir, v => {
      val prev = parentOf(spark, dir, v).getOrElse(
        throw new IllegalStateException(s"$op raced a table wipe at $dir"))
      Snapshot(v, v - 1, op,
        prev.schemaDdl, untouched ++ added, added.map(_.path),
        batchSeq = prev.batchSeq, tableId = prev.tableId)
    })
  }

  /** Files whose footer range could hold one of `keys` vs those that
    * provably cannot — the shared file-granularity test of the keyed
    * copy-on-write operations ([[deleteKeys]], [[merge]]). */
  private def keyTouched(snap: Snapshot, column: String,
      keys: Seq[String]): (Seq[DataFile], Seq[DataFile]) =
    snap.files.partition { f =>
      f.stats.get(column) match {
        case Some(st) if st.hasMinMax =>
          keys.exists(k => cmp(st.kind, k, st.min) >= 0 && cmp(st.kind, k, st.max) <= 0)
        case _ => true
      }
    }

  /** Key strings lifted into the raw value domain `col.isin` compares in. */
  private def rawKeyValues(field: org.apache.spark.sql.types.StructField,
      keys: Seq[String]): Seq[Any] = {
    import org.apache.spark.sql.types._
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType => keys.map(_.toLong)
      case FloatType | DoubleType => keys.map(_.toDouble)
      case StringType => keys
      case TimestampType => keys.map { k => // epoch micros, the stats' domain
        val us = k.toLong
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      }
      case other => throw new IllegalArgumentException(
        s"key operations support integral/floating/string/timestamp columns; '${field.name}' is ${other.simpleString}")
    }
  }

  /** Key-set takedown: delete every row whose `column` value is one of
    * `keys` (document ids named in a removal request). File granularity
    * like [[deleteWhere]]: a file is rewritten only if some key falls
    * inside its footer range — on an id-clustered table a thousand-id
    * takedown rewrites the few files that can hold them. NULL keys never
    * match; rows with NULL in `column` are kept. Driver does
    * O(files × keys) range tests — fine for takedown-sized sets, guarded
    * at 100k keys (larger sets: join-based rewrite, not a manifest op). */
  def deleteKeys(spark: SparkSession, dir: String, column: String,
      keys: Seq[String]): Option[Snapshot] = {
    require(keys.nonEmpty, "deleteKeys needs at least one key")
    require(keys.size <= 100000,
      s"deleteKeys holds ${keys.size} keys on the driver — beyond 100k use a join-based rewrite")
    val before = snapshot(spark, dir)
    val (touched, untouched) = keyTouched(before, column, keys)
    if (touched.isEmpty) return None
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val inSet = col(column).isin(rawKeyValues(schemaField(before, column), keys): _*)
    val kept = readFiles(spark, dir, before.schemaDdl, touched)
      .filter(coalesce(not(inSet), lit(true)))
    Some(commitRewrite(spark, dir, "delete", untouched, kept))
  }

  /** Copy-on-write keyed upsert (MERGE): every row of `updates` replaces
    * the table's rows with the same `keyColumn` value; keys the table has
    * never seen append. The correction/relabel primitive of a training-data
    * table (fix a batch of mislabeled documents in place). File-granular
    * like the deletes: only files whose footer range intersects the update
    * keys rewrite; everything else carries over by reference. The distinct
    * update keys ride the driver (≤100k — corrections-sized; a larger
    * reshape is an [[overwrite]]). Update rows with a NULL key are
    * rejected (they can never match and would silently append). Multiset
    * semantics: duplicate keys inside `updates` all land — dedup upstream
    * if last-writer-wins is wanted. Integral and string keys (the id
    * types). Single-maintainer like [[compact]]. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
      keyColumn: String): Snapshot = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    import org.apache.spark.sql.types._
    val before = snapshot(spark, dir)
    val tableSchema = StructType.fromDDL(before.schemaDdl)
    require(updates.schema.fields.map(f => (f.name, f.dataType.sql)).sorted.sameElements(
      tableSchema.fields.map(f => (f.name, f.dataType.sql)).sorted),
      s"merge updates schema must match the table's: " +
        s"table ${tableSchema.toDDL}, updates ${updates.schema.toDDL}")
    val keyField = schemaField(before, keyColumn)
    require(updates.filter(col(keyColumn).isNull).isEmpty,
      s"merge: updates carry NULL '$keyColumn' keys — they can never match a row")
    val keyRows = updates.select(keyColumn).distinct().limit(100001).collect()
    require(keyRows.length <= 100000,
      "merge holds the distinct update keys on the driver — beyond 100k use overwrite")
    // canonical string form in the footer-stat comparison domain
    val keyStrings: Seq[String] = keyField.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        keyRows.map(r => String.valueOf(r.get(0))).toSeq
      case StringType => keyRows.map(_.getString(0)).toSeq
      case other => throw new IllegalArgumentException(
        s"merge keys on integral/string columns; '$keyColumn' is ${other.simpleString}")
    }
    val (touched, untouched) = keyTouched(before, keyColumn, keyStrings)
    val survivors = readFiles(spark, dir, before.schemaDdl, touched)
      .filter(coalesce(not(col(keyColumn).isin(rawKeyValues(keyField, keyStrings): _*)), lit(true)))
    // one write, one commit: survivors + updates land together; column
    // order normalized to the table schema
    val incoming = updates.select(tableSchema.fieldNames.toIndexedSeq.map(col): _*)
    commitRewrite(spark, dir, "merge", untouched, survivors.unionByName(incoming))
  }

  /** Make `toVersion`'s file list current again as a NEW version — history
    * only ever grows; nothing is deleted until [[expire]]. */
  def restore(spark: SparkSession, dir: String, toVersion: Long): Snapshot =
    commit(spark, dir, v => {
      val target = snapshot(spark, dir, Some(toVersion))
      // watermark and identity from the LATEST snapshot, not the restore
      // target — time only moves forward for replay detection
      val latest = parentOf(spark, dir, v).getOrElse(
        throw new IllegalStateException(s"restore raced a table wipe at $dir"))
      Snapshot(v, v - 1, "restore",
        target.schemaDdl, target.files, Seq.empty,
        batchSeq = latest.batchSeq, tableId = latest.tableId)
    })

  // -------------------------------------------------------------------- reads

  private def readFiles(spark: SparkSession, dir: String, schemaDdl: String,
      files: Seq[DataFile]): DataFrame = {
    val schema = StructType.fromDDL(schemaDdl)
    if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(files.map(f => s"$dir/${f.path}"): _*)
  }

  /** Read an explicit file subset of a committed snapshot — the stats
    * tier's boundary-file scan ([[graft.engine.Validator]]
    * `validateSnapStatsFirst`): files the manifest already decided never
    * reach Spark's scan planner. */
  private[graft] def readSubset(spark: SparkSession, dir: String,
      snap: Snapshot, files: Seq[DataFile]): DataFrame =
    readFiles(spark, dir, snap.schemaDdl, files)

  /** Read a committed version (default: current). The manifest schema is
    * applied, so files written before a column existed read as NULL. */
  def read(spark: SparkSession, dir: String, asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    readFiles(spark, dir, snap.schemaDdl, snap.files)
  }

  /** Rows added by commits in (fromExclusive, toInclusive] — the incremental
    * validation input: a checkpoint that recorded version N revalidates
    * exactly `changes(N, current)`. Overwrite/restore/delete/merge commits
    * in the range refuse (their delta is not expressible as added rows);
    * content-identical compact commits are skipped as zero-delta. */
  def changes(spark: SparkSession, dir: String, fromExclusive: Long,
      toInclusive: Option[Long] = None): DataFrame = {
    val to = toInclusive.getOrElse(currentVersion(spark, dir))
    // an inverted range is a stale/foreign cursor (e.g. a checkpoint from a
    // wiped-and-recreated table) — refusing loudly beats returning an empty
    // delta that would vacuously validate and advance the cursor
    require(fromExclusive <= to,
      s"changes($fromExclusive, $to]: cursor is ahead of the table — " +
        "stale checkpoint or recreated table; do a full read instead")
    val snaps = ((fromExclusive + 1) to to).map(v => snapshot(spark, dir, Some(v)))
    // "compact" versions are content-IDENTICAL rewrites — their added
    // files duplicate rows the cursor already covered (or that later
    // append versions in this range cover), so they contribute no delta
    snaps.foreach(s => require(
      s.operation == "append" || s.operation == "create" || s.operation == "compact",
      s"changes($fromExclusive,$to] crosses a '${s.operation}' commit at v${s.version}; " +
        "its delta is not expressible as added rows — read that version directly instead"))
    val deltas = snaps.filterNot(_.operation == "compact")
    val latestSchema = snaps.lastOption.map(_.schemaDdl).getOrElse(snapshot(spark, dir).schemaDdl)
    val byPath = deltas.flatMap(s => s.files.map(f => f.path -> f)).toMap
    val addedPaths = deltas.flatMap(_.addedFiles)
    readFiles(spark, dir, latestSchema, addedPaths.flatMap(byPath.get))
  }

  // ------------------------------------------------------------------ pruning

  /** Split a version's files into (mustRead, provablyOutside) for the bound
    * `lower <= col <= upper` (either side optional). A file survives unless
    * its footer PROVES every row fails — missing stats, unknown columns,
    * all-null chunks all conservatively read. */
  def planPrune(spark: SparkSession, dir: String, column: String,
      lower: Option[String], upper: Option[String],
      asOf: Option[Long] = None): (Seq[DataFile], Seq[DataFile]) =
    prunePartition(snapshot(spark, dir, asOf), column, lower, upper)

  private def prunePartition(snap: Snapshot, column: String,
      lower: Option[String], upper: Option[String]): (Seq[DataFile], Seq[DataFile]) =
    snap.files.partition { f =>
      f.stats.get(column) match {
        case Some(st) if st.hasMinMax =>
          val belowOk = lower.forall(lo => cmp(st.kind, st.max, lo) >= 0)
          val aboveOk = upper.forall(hi => cmp(st.kind, st.min, hi) <= 0)
          // a file of only nulls for this column has hasMinMax=false and
          // stays readable; NULL rows inside a bounded file are handled by
          // the residual filter, which NULL never passes
          belowOk && aboveOk
        case _ => true
      }
    }

  /** The typed residual predicate for `lower <= col <= upper` — typed from
    * the TABLE SCHEMA, never from whichever file happened to carry a stat:
    * a string-typed literal against a long column would coerce the
    * comparison through double and disagree with the pruner's exact long
    * math near 2^53. Timestamp bounds are epoch micros (the footer stats'
    * own domain); lifting the LITERAL to a timestamp (not the column to a
    * long) keeps the predicate pushdown-eligible, so row groups inside
    * kept files prune too. */
  private def boundPredicate(snap: Snapshot, column: String,
      lower: Option[String], upper: Option[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions
    import org.apache.spark.sql.types._
    val field = schemaField(snap, column)
    val boundCol = functions.col(column)
    def lit(v: String) = typedLit(field, v)
    (lower, upper) match {
      case (Some(lo), Some(hi)) => boundCol >= lit(lo) && boundCol <= lit(hi)
      case (Some(lo), None)     => boundCol >= lit(lo)
      case (None, Some(hi))     => boundCol <= lit(hi)
      case (None, None)         => functions.lit(true)
    }
  }

  private def schemaField(snap: Snapshot, column: String): org.apache.spark.sql.types.StructField =
    StructType.fromDDL(snap.schemaDdl).fields
      .find(_.name.equalsIgnoreCase(column)).getOrElse(
        throw new IllegalArgumentException(s"unknown column '$column' in the table schema"))

  private def typedLit(field: org.apache.spark.sql.types.StructField,
      v: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions
    import org.apache.spark.sql.types._
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType => functions.lit(v.toLong)
      case FloatType | DoubleType => functions.lit(v.toDouble)
      case StringType => functions.lit(v)
      case TimestampType => functions.timestamp_micros(functions.lit(v.toLong))
      case other => throw new IllegalArgumentException(
        s"bounds support integral/floating/string/timestamp columns; '${field.name}' is ${other.simpleString}")
    }
  }

  /** Manifest-pruned range read: whole files outside [lower, upper] never
    * reach Spark's scan planner; the residual filter still applies, so the
    * result is EXACTLY `read(...).filter(bound)` — pruning is a cost
    * optimization with a correctness proof, not a semantics change. */
  def readWhere(spark: SparkSession, dir: String, column: String,
      lower: Option[String], upper: Option[String],
      asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, dir, asOf)
    val (keep, _) = prunePartition(snap, column, lower, upper)
    val base = readFiles(spark, dir, snap.schemaDdl, keep)
    if (lower.isEmpty && upper.isEmpty) base
    else base.filter(boundPredicate(snap, column, lower, upper))
  }

  /** Table read pruned to the files a small keyed `delta` could TOUCH — the
    * incremental tier's table-side frame: the delta's [min, max] over
    * `column` (one tiny aggregate — the delta is small by definition)
    * becomes a [[readWhere]] bound, so on a key-clustered layout
    * "revalidate the affected conversations" reads the few files holding
    * them instead of the whole table. SOUND BY CONSTRUCTION: the result is
    * a superset of every row whose `column` value equals some delta value —
    * any row outside the delta's range can match no delta key. Falls back
    * to the plain read (never wrong, just unpruned) when:
    *   - the delta carries NULL key values (NULL keys form their own group
    *     downstream and the residual bound would drop the table's NULL
    *     rows), or the delta is empty;
    *   - the column's type has no bound domain (readWhere's contract);
    *   - the bounds can't be computed for any reason. */
  def readTouchedBy(spark: SparkSession, dir: String, column: String,
      delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, max, min, sum, unix_micros, when}
    import org.apache.spark.sql.types._
    try {
      val kcol = delta.schema.fieldNames.find(_.equalsIgnoreCase(column))
        .getOrElse(return read(spark, dir))
      // stats are keyed by the TABLE's spelling of the column
      val tcol = StructType.fromDDL(snapshot(spark, dir).schemaDdl)
        .fieldNames.find(_.equalsIgnoreCase(column)).getOrElse(return read(spark, dir))
      val keyExpr = delta.schema(kcol).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => col(kcol)
        case TimestampType => unix_micros(col(kcol)) // the footer stats' domain
        case _ => return read(spark, dir)
      }
      val row = delta.agg(min(keyExpr), max(keyExpr),
        sum(when(col(kcol).isNull, 1L).otherwise(0L))).head()
      val nullKeys = if (row.isNullAt(2)) 0L else row.getLong(2)
      if (row.isNullAt(0) || nullKeys > 0) read(spark, dir)
      else readWhere(spark, dir, tcol,
        Some(row.get(0).toString), Some(row.get(1).toString))
    } catch { case scala.util.control.NonFatal(_) => read(spark, dir) }
  }

  // ---------------------------------------------------------------- lifecycle

  /** Garbage-collect history: keep the last `keepLast` versions, delete
    * older manifests and every data file no retained version references
    * (including orphans from abandoned writers). Single-maintainer
    * discipline, like `Dedup.compactSignatureIndex` — do not run
    * concurrently with a writer racing commits. */
  def expire(spark: SparkSession, dir: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current version")
    val (filesystem, root) = fs(spark, dir)
    val vs = versions(spark, dir)
    val (drop, keep) = vs.splitAt(math.max(vs.length - keepLast, 0))
    val referenced = keep.flatMap(v => snapshot(spark, dir, Some(v)).files.map(_.path)).toSet
    var manifestsDeleted = 0
    drop.foreach { v =>
      if (filesystem.delete(manifestPath(root, v), false)) manifestsDeleted += 1
    }
    val data = new HPath(root, DataDir)
    var filesDeleted = 0
    if (filesystem.exists(data)) filesystem.listStatus(data).foreach { st =>
      if (!referenced.contains(s"$DataDir/${st.getPath.getName}")) {
        if (filesystem.delete(st.getPath, false)) filesDeleted += 1
      }
    }
    (manifestsDeleted, filesDeleted)
  }
}
