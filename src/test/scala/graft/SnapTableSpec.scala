package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{SnapTable, Tables}

/** Transaction-log table format: atomic versioned commits, footer-stat
  * manifests, time travel, incremental changes, manifest-level pruning,
  * schema evolution, expiry. Every property is checked against the
  * equivalent full-scan answer — the manifest is an index, never a second
  * source of truth. */
class SnapTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"snaptbl-$tag").toString

  private def rows(lo: Int, hi: Int): DataFrame =
    spark.range(lo, hi).select(
      col("id"),
      (col("id") * 3 % 100).as("score"),
      concat(lit("user-"), format_string("%04d", col("id"))).as("name"))

  test("create + read round-trips rows and schema") {
    val dir = freshDir("create")
    val snap = SnapTable.create(spark, dir, rows(0, 1000))
    snap.version shouldBe 1L
    snap.operation shouldBe "create"
    val back = SnapTable.read(spark, dir)
    back.schema.fieldNames.toSeq shouldBe Seq("id", "score", "name")
    back.count() shouldBe 1000L
    back.agg(sum("id")).as[Long].head() shouldBe (0L until 1000L).sum
  }

  test("append grows the current version; time travel reads history unchanged") {
    val dir = freshDir("append")
    SnapTable.create(spark, dir, rows(0, 500))
    val v2 = SnapTable.append(spark, dir, rows(500, 800))
    v2.version shouldBe 2L
    v2.totalRows shouldBe 800L
    SnapTable.read(spark, dir).count() shouldBe 800L
    SnapTable.read(spark, dir, asOf = Some(1L)).count() shouldBe 500L
    // a third append must not disturb either older version
    SnapTable.append(spark, dir, rows(800, 1000))
    SnapTable.read(spark, dir, asOf = Some(1L)).count() shouldBe 500L
    SnapTable.read(spark, dir, asOf = Some(2L)).count() shouldBe 800L
    SnapTable.read(spark, dir).count() shouldBe 1000L
  }

  test("changes(from, to] returns exactly the appended rows") {
    val dir = freshDir("changes")
    SnapTable.create(spark, dir, rows(0, 500))
    SnapTable.append(spark, dir, rows(500, 800))
    SnapTable.append(spark, dir, rows(800, 1000))
    val delta = SnapTable.changes(spark, dir, fromExclusive = 1L)
    delta.count() shouldBe 500L
    delta.agg(min("id"), max("id")).as[(Long, Long)].head() shouldBe ((500L, 999L))
    val mid = SnapTable.changes(spark, dir, fromExclusive = 1L, toInclusive = Some(2L))
    mid.agg(min("id"), max("id")).as[(Long, Long)].head() shouldBe ((500L, 799L))
    // empty range is an empty frame with the table schema
    val none = SnapTable.changes(spark, dir, fromExclusive = 3L)
    none.count() shouldBe 0L
    none.schema.fieldNames should contain("score")
  }

  test("changes across an overwrite refuses — its delta is not added rows") {
    val dir = freshDir("chg-ovr")
    SnapTable.create(spark, dir, rows(0, 100))
    SnapTable.overwrite(spark, dir, rows(0, 50))
    val e = intercept[IllegalArgumentException] {
      SnapTable.changes(spark, dir, fromExclusive = 1L)
    }
    e.getMessage should include("overwrite")
  }

  test("overwrite replaces content; restore makes an old version current as NEW history") {
    val dir = freshDir("restore")
    SnapTable.create(spark, dir, rows(0, 300))
    SnapTable.overwrite(spark, dir, rows(1000, 1100))
    SnapTable.read(spark, dir).count() shouldBe 100L
    val r = SnapTable.restore(spark, dir, toVersion = 1L)
    r.version shouldBe 3L
    SnapTable.read(spark, dir).count() shouldBe 300L
    // restore copied references; the overwritten version is still readable
    SnapTable.read(spark, dir, asOf = Some(2L)).count() shouldBe 100L
  }

  test("commit survives a version-number collision by retrying at the next number") {
    val dir = freshDir("race")
    SnapTable.create(spark, dir, rows(0, 10))
    // simulate a racing writer that already claimed v2
    val log = new java.io.File(dir, "_log")
    val stolen = new java.io.File(log, "v00000002.json")
    val v1 = new java.io.File(log, "v00000001.json")
    Files.copy(v1.toPath, stolen.toPath)
    val snap = SnapTable.append(spark, dir, rows(10, 20))
    snap.version shouldBe 3L
    SnapTable.read(spark, dir).count() shouldBe 20L
  }

  test("schema evolution: new columns read as NULL for old files; type conflict refuses") {
    val dir = freshDir("evolve")
    SnapTable.create(spark, dir, rows(0, 100))
    val extra = rows(100, 200).withColumn("lang", lit("en"))
    SnapTable.append(spark, dir, extra)
    val cur = SnapTable.read(spark, dir)
    cur.schema.fieldNames should contain("lang")
    cur.filter(col("lang").isNull).count() shouldBe 100L
    cur.filter(col("lang") === "en").count() shouldBe 100L
    val bad = rows(200, 210).withColumn("score", lit("not-a-number"))
      .select("id", "score", "name")
    val e = intercept[IllegalArgumentException] { SnapTable.append(spark, dir, bad) }
    e.getMessage should include("schema conflict")
  }

  test("footer stats carry exact min/max/nullCount per file") {
    val dir = freshDir("stats")
    val df = spark.range(0, 1000).select(
      col("id"),
      when(col("id") % 10 === 0, lit(null)).otherwise(col("id").cast("double") / 7.0).as("ratio"),
      concat(lit("k"), format_string("%05d", col("id"))).as("key"))
      .coalesce(1)
    val snap = SnapTable.create(spark, dir, df)
    snap.files should have size 1
    val st = snap.files.head.stats
    st("id").kind shouldBe "long"
    st("id").min shouldBe "0"
    st("id").max shouldBe "999"
    st("ratio").kind shouldBe "double"
    st("ratio").nullCount shouldBe 100L
    st("ratio").max.toDouble shouldBe (999.0 / 7.0) +- 1e-9
    st("key").kind shouldBe "string"
    st("key").min shouldBe "k00000"
    st("key").max shouldBe "k00999"
  }

  test("footer stats: timestamps bound in epoch micros; decimals are unprunable, never wrongly bounded") {
    val dir = freshDir("stats-logical")
    val df = spark.range(0, 100).selectExpr(
      "id",
      "timestamp_micros(cast(id * 1000000 as bigint)) AS ts", // 1970-01-01 + id seconds
      "cast(id as decimal(10,2)) / 4 AS dec")
      .coalesce(1)
    val snap = SnapTable.create(spark, dir, df)
    val st = snap.files.head.stats
    // parquet stores decimal(10,2) as UNSCALED ints — a "long" bound here
    // would prune against the wrong domain, so it must be unprunable
    st("dec").hasMinMax shouldBe false
    // MICROS-unit timestamps bound soundly in epoch micros
    st("ts").kind shouldBe "long"
    st("ts").min shouldBe "0"
    st("ts").max shouldBe (99L * 1000000L).toString
    // readWhere on the timestamp column: bounds in micros, residual filter
    // agrees with the pruner's domain
    val got = SnapTable.readWhere(spark, dir, "ts", Some((10L * 1000000L).toString), Some((19L * 1000000L).toString))
    got.count() shouldBe 10L
    // decimals refuse a readWhere bound instead of guessing a domain
    val e = intercept[IllegalArgumentException] {
      SnapTable.readWhere(spark, dir, "dec", Some("1"), None).count()
    }
    e.getMessage should include("bounds support")
  }

  test("tableId: minted at create, carried by every commit, changes refuses an inverted cursor") {
    val dir = freshDir("identity")
    val id1 = SnapTable.create(spark, dir, rows(0, 10)).tableId.get
    SnapTable.append(spark, dir, rows(10, 20)).tableId shouldBe Some(id1)
    SnapTable.overwrite(spark, dir, rows(0, 5)).tableId shouldBe Some(id1)
    SnapTable.restore(spark, dir, 1L).tableId shouldBe Some(id1)
    // wipe + recreate = a NEW lineage
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete() }
    rm(new java.io.File(dir))
    val id2 = SnapTable.create(spark, dir, rows(0, 3)).tableId.get
    id2 should not be id1
    // a cursor ahead of the table refuses instead of yielding an empty delta
    val e = intercept[IllegalArgumentException] {
      SnapTable.changes(spark, dir, fromExclusive = 5L)
    }
    e.getMessage should include("recreated")
  }

  test("manifest pruning: readWhere ≡ read+filter, and files are actually skipped") {
    val dir = freshDir("prune")
    // each append is one tight id-range file → disjoint footer bounds
    SnapTable.create(spark, dir, rows(0, 250).coalesce(1))
    SnapTable.append(spark, dir, rows(250, 500).coalesce(1))
    SnapTable.append(spark, dir, rows(500, 750).coalesce(1))
    SnapTable.append(spark, dir, rows(750, 1000).coalesce(1))
    val (keep, pruned) = SnapTable.planPrune(spark, dir, "id", Some("300"), Some("520"))
    keep should have size 2
    pruned should have size 2
    val fast = SnapTable.readWhere(spark, dir, "id", Some("300"), Some("520"))
    val slow = SnapTable.read(spark, dir).filter(col("id") >= 300 && col("id") <= 520)
    fast.count() shouldBe slow.count()
    fast.agg(sum("id")).as[Long].head() shouldBe slow.agg(sum("id")).as[Long].head()
    // string-domain pruning agrees with Spark's UTF8 binary order too
    val (k2, p2) = SnapTable.planPrune(spark, dir, "name", Some("user-0600"), None)
    (k2.size + p2.size) shouldBe 4
    p2.size should be >= 2
    val fs = SnapTable.readWhere(spark, dir, "name", Some("user-0600"), None)
    fs.count() shouldBe SnapTable.read(spark, dir).filter(col("name") >= "user-0600").count()
  }

  test("clustered write makes pruning fire; unclustered write provably cannot prune") {
    val data = rows(0, 4000).orderBy(rand(7)) // arrival order ≠ key order
    // unclustered: every file spans ~the whole id domain → nothing prunable
    val flat = freshDir("flat")
    SnapTable.create(spark, flat, data.repartition(8))
    val (_, prunedFlat) = SnapTable.planPrune(spark, flat, "id", Some("100"), Some("200"))
    prunedFlat shouldBe empty
    // clustered: tight near-disjoint per-file ranges → most files pruned
    val clus = freshDir("clus")
    SnapTable.create(spark, clus, SnapTable.clustered(data, "id", files = 8))
    val snap = SnapTable.snapshot(spark, clus)
    snap.files.size should be >= 6 // range partitioner may merge tiny ends
    val (keep, pruned) = SnapTable.planPrune(spark, clus, "id", Some("100"), Some("200"))
    pruned.size should be >= snap.files.size - 2
    // and the pruned read is still exactly the filter
    SnapTable.readWhere(spark, clus, "id", Some("100"), Some("200")).count() shouldBe 101L
    keep.map(_.rowCount).sum should be < 4000L
  }

  test("readTouchedBy: delta key range prunes files; NULL/unbounded keys fall back whole") {
    val dir = freshDir("touched")
    SnapTable.create(spark, dir, rows(0, 250).coalesce(1))
    SnapTable.append(spark, dir, rows(250, 500).coalesce(1))
    SnapTable.append(spark, dir, rows(500, 750).coalesce(1))
    SnapTable.append(spark, dir, rows(750, 1000).coalesce(1))
    val all = SnapTable.read(spark, dir)

    // a delta touching ids 300..420: the frame is a SUPERSET of every row
    // sharing a delta key and reads only the one file that can hold them
    val delta = rows(300, 421).filter(col("id") % 2 === 0)
    val frame = SnapTable.readTouchedBy(spark, dir, "id", delta)
    frame.count() shouldBe 121L // [300, 420] — range superset, file-pruned
    frame.join(delta.select("id"), Seq("id"), "left_semi").count() shouldBe
      all.join(delta.select("id"), Seq("id"), "left_semi").count()
    // string keys prune too (UTF8 order = footer stat order)
    SnapTable.readTouchedBy(spark, dir, "name",
      delta.select(col("name"))).count() shouldBe 121L

    // NULL keys in the delta → plain read: the residual bound would drop
    // the table's NULL-key rows, which form their own group downstream
    val withNull = delta.select(when(col("id") === 300, lit(null).cast("long"))
      .otherwise(col("id")).as("id"))
    SnapTable.readTouchedBy(spark, dir, "id", withNull).count() shouldBe 1000L
    // empty delta, unknown column, unsupported type → plain read, no throw
    SnapTable.readTouchedBy(spark, dir, "id", delta.filter(lit(false))).count() shouldBe 1000L
    SnapTable.readTouchedBy(spark, dir, "no_such", delta).count() shouldBe 1000L
    SnapTable.readTouchedBy(spark, dir, "id",
      delta.select(col("id").cast("double").as("id"))).count() shouldBe 1000L
  }

  test("pruning never drops a file it cannot bound (missing column, all-null chunk)") {
    val dir = freshDir("prune-safe")
    SnapTable.create(spark, dir, rows(0, 100).coalesce(1))
    // second file has no 'extra' values at all → evolution: col missing in file
    SnapTable.append(spark, dir,
      rows(100, 200).withColumn("extra", col("id") * 2).coalesce(1))
    val (keep, pruned) = SnapTable.planPrune(spark, dir, "extra", Some("1000"), None)
    // file 2 bounds extra ∈ [200, 398] → provably out; file 1 has no stat → must read
    pruned should have size 1
    keep should have size 1
    val got = SnapTable.readWhere(spark, dir, "extra", Some("250"), None)
    got.count() shouldBe SnapTable.read(spark, dir).filter(col("extra") >= 250).count()
  }

  test("expire keeps the last K versions, deletes unreferenced data files, keeps current readable") {
    val dir = freshDir("expire")
    SnapTable.create(spark, dir, rows(0, 100).coalesce(1))
    SnapTable.overwrite(spark, dir, rows(100, 300).coalesce(1)) // v1's file now unreferenced by v2+
    SnapTable.append(spark, dir, rows(300, 400).coalesce(1))
    val (manifests, dataFiles) = SnapTable.expire(spark, dir, keepLast = 2)
    manifests shouldBe 1
    dataFiles shouldBe 1 // v1's orphaned file
    SnapTable.versions(spark, dir) shouldBe Seq(2L, 3L)
    SnapTable.read(spark, dir).count() shouldBe 300L
    SnapTable.read(spark, dir, asOf = Some(2L)).count() shouldBe 200L
    val e = intercept[IllegalArgumentException] { SnapTable.read(spark, dir, asOf = Some(1L)) }
    e.getMessage should include("expired or never committed")
  }

  test("concurrent appends: every racing writer's files survive via commit rebase") {
    val dir = freshDir("race-many")
    SnapTable.create(spark, dir, rows(0, 10))
    // 6 writers race distinct appends; version-number collisions force
    // rebase-retries — a stale-base commit would drop a winner's files
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val writers = (0 until 6).map { i => Future {
      SnapTable.append(spark, dir, rows(100 + i * 50, 100 + (i + 1) * 50))
    }}
    Await.result(Future.sequence(writers), Duration.Inf)
    SnapTable.versions(spark, dir) shouldBe (1L to 7L)
    val cur = SnapTable.read(spark, dir)
    cur.count() shouldBe (10 + 6 * 50).toLong
    // every writer's id range is present — nothing was silently dropped
    (0 until 6).foreach { i =>
      cur.filter(col("id") === (100 + i * 50)).count() shouldBe 1L
    }
  }

  test("drift against your own history: ref_table = snap:@v1 through the source map") {
    import graft.engine.Validator
    val dir = freshDir("histdrift")
    // v1: uniform categories; v2 appends a skewed batch
    val v1 = spark.range(0, 900).select(
      col("id"), (col("id") % 3).cast("string").as("cat"))
    SnapTable.create(spark, dir, v1)
    SnapTable.append(spark, dir, spark.range(900, 1800).select(
      col("id"), lit("0").as("cat"))) // all mass onto one category
    val rule = ValidationRule("cat_drift", RuleType.drift, Seq("cat"),
      parameters = Map("method" -> "tvd", "ref_table" -> "yesterday", "critical" -> "0.2"))
    def run(refSource: String) =
      new Validator(spark, ValidationConfig(),
        n => if (n == "yesterday") Some(Tables.load(spark, refSource)) else None)
        .executeRules(Tables.load(spark, s"snap:$dir"), Seq(rule), "t").results.head
    // current-vs-v1: the appended skew fires the gate
    val drifted = run(s"snap:$dir@v1")
    drifted.passed shouldBe false
    drifted.metadata("statistic").toDouble should be > 0.3
    // current-vs-current: quiet — the baseline is just another table source
    run(s"snap:$dir").metadata("statistic").toDouble shouldBe 0.0 +- 1e-12
  }

  test("Tables.load dispatches snap: and snap:@vN") {
    val dir = freshDir("dispatch")
    SnapTable.create(spark, dir, rows(0, 50))
    SnapTable.append(spark, dir, rows(50, 80))
    Tables.load(spark, s"snap:$dir").count() shouldBe 80L
    Tables.load(spark, s"snap:$dir@v1").count() shouldBe 50L
  }

  test("appendBatch: sequenced appends are exactly-once — a replayed batch is a no-op") {
    val dir = freshDir("batch")
    // first batch creates the table
    SnapTable.appendBatch(spark, dir, rows(0, 100), batchSeq = 0L).get.operation shouldBe "create"
    // replay of batch 0: no-op, no new version, no duplicate rows
    SnapTable.appendBatch(spark, dir, rows(0, 100), batchSeq = 0L) shouldBe None
    SnapTable.currentVersion(spark, dir) shouldBe 1L
    SnapTable.read(spark, dir).count() shouldBe 100L
    // next batch appends; its replay is also a no-op
    SnapTable.appendBatch(spark, dir, rows(100, 250), batchSeq = 1L).get.version shouldBe 2L
    SnapTable.appendBatch(spark, dir, rows(100, 250), batchSeq = 1L) shouldBe None
    SnapTable.read(spark, dir).count() shouldBe 250L
    // manual commits interleave freely AND carry the watermark forward:
    // batch 1 replayed after an untagged append + an overwrite still no-ops
    SnapTable.append(spark, dir, rows(250, 300))
    SnapTable.appendBatch(spark, dir, rows(100, 250), batchSeq = 1L) shouldBe None
    SnapTable.overwrite(spark, dir, rows(0, 50))
    SnapTable.appendBatch(spark, dir, rows(100, 250), batchSeq = 1L) shouldBe None
    SnapTable.read(spark, dir).count() shouldBe 50L
    // the next real batch proceeds past the watermark
    SnapTable.appendBatch(spark, dir, rows(300, 310), batchSeq = 2L).get.batchSeq shouldBe Some(2L)
    SnapTable.read(spark, dir).count() shouldBe 60L
  }

  test("compact: content-identical rewrite, watermark/lineage kept, changes skips it, expire reclaims") {
    val dir = freshDir("compact")
    // ingest shape: one file per micro-batch
    SnapTable.appendBatch(spark, dir, rows(0, 250).coalesce(1), batchSeq = 0L)
    (1 to 7).foreach(i => SnapTable.appendBatch(spark, dir,
      rows(i * 250, (i + 1) * 250).coalesce(1), batchSeq = i.toLong))
    val before = SnapTable.snapshot(spark, dir)
    before.files.size shouldBe 8
    val compacted = SnapTable.compact(spark, dir, targetFiles = 2, clusterBy = Some("id"))
    compacted.operation shouldBe "compact"
    compacted.files.size should be <= 2
    compacted.totalRows shouldBe 2000L
    compacted.batchSeq shouldBe Some(7L) // replay protection survives maintenance
    compacted.tableId shouldBe before.tableId
    // content identical, clustered layout prunes
    SnapTable.read(spark, dir).agg(sum("id")).as[Long].head() shouldBe (0L until 2000L).sum
    val (_, pruned) = SnapTable.planPrune(spark, dir, "id", Some("0"), Some("100"))
    pruned should not be empty
    // a replayed batch after compaction is still a no-op
    SnapTable.appendBatch(spark, dir, rows(0, 250), batchSeq = 3L) shouldBe None
    // incremental readers cross the compact version as a zero-delta
    SnapTable.appendBatch(spark, dir, rows(2000, 2100).coalesce(1), batchSeq = 8L)
    val delta = SnapTable.changes(spark, dir, fromExclusive = before.version)
    delta.count() shouldBe 100L
    delta.agg(min("id")).as[Long].head() shouldBe 2000L
    // expire reclaims the 8 pre-compaction files once their versions age out
    val (_, reclaimed) = SnapTable.expire(spark, dir, keepLast = 2)
    reclaimed shouldBe 8
    SnapTable.read(spark, dir).count() shouldBe 2100L
  }

  test("deleteWhere/deleteKeys: copy-on-write takedown, file-granular, NULLs kept, history intact") {
    val dir = freshDir("takedown")
    // id-clustered layout: 4 tight files over ids 0..999
    SnapTable.create(spark, dir, SnapTable.clustered(
      rows(0, 1000).withColumn("score",
        when(col("id") === 7, lit(null)).otherwise(col("score"))), "id", 4))
    val before = SnapTable.snapshot(spark, dir)
    // range delete: ids 100..199 live in one file — others carry by reference
    val afterRange = SnapTable.deleteWhere(spark, dir, "id", Some("100"), Some("199")).get
    afterRange.operation shouldBe "delete"
    afterRange.totalRows shouldBe 900L
    val carried = afterRange.files.map(_.path).toSet intersect before.files.map(_.path).toSet
    carried.size should be >= 2 // untouched files: same bytes, same paths
    SnapTable.read(spark, dir).filter(col("id").between(100, 199)).count() shouldBe 0L
    // NULL rows in the bound column never match and are kept
    SnapTable.deleteWhere(spark, dir, "score", Some("0"), Some("2")).get
    SnapTable.read(spark, dir).filter(col("id") === 7).count() shouldBe 1L
    // key-set takedown: only files whose range can hold a key are rewritten
    val beforeKeys = SnapTable.snapshot(spark, dir)
    val afterKeys = SnapTable.deleteKeys(spark, dir, "name",
      Seq("user-0900", "user-0901", "user-0444")).get
    SnapTable.read(spark, dir).filter(col("name").isin("user-0900", "user-0901", "user-0444"))
      .count() shouldBe 0L
    (afterKeys.files.map(_.path).toSet intersect beforeKeys.files.map(_.path).toSet) should not be empty
    // keys provably outside every file: no-op, no new version
    val v = SnapTable.currentVersion(spark, dir)
    SnapTable.deleteKeys(spark, dir, "name", Seq("zzzz-none")) shouldBe None
    SnapTable.currentVersion(spark, dir) shouldBe v
    // pre-delete versions stay time-travelable until expire (the takedown
    // SLA is delete + expire)
    SnapTable.read(spark, dir, asOf = Some(1L)).count() shouldBe 1000L
    // incremental readers refuse to cross a delete silently
    intercept[IllegalArgumentException] { SnapTable.changes(spark, dir, fromExclusive = 1L) }
  }

  test("merge: keyed copy-on-write upsert — replaces matches, appends new keys, file-granular") {
    val dir = freshDir("merge")
    SnapTable.create(spark, dir, SnapTable.clustered(rows(0, 1000), "id", 4))
    val before = SnapTable.snapshot(spark, dir)
    // corrections for two ids in one file's range + one brand-new id
    val updates = rows(0, 1).union(rows(150, 151)).union(rows(5000, 5001))
      .withColumn("name", concat(lit("fixed-"), col("id")))
    val merged = SnapTable.merge(spark, dir, updates, "id")
    merged.operation shouldBe "merge"
    merged.totalRows shouldBe 1001L // 1000 − 2 replaced + 3 incoming
    val cur = SnapTable.read(spark, dir)
    cur.filter(col("id").isin(0, 150, 5000)).select("name").as[String].collect().sorted shouldBe
      Array("fixed-0", "fixed-150", "fixed-5000")
    cur.filter(col("id") === 151).select("name").as[String].head() shouldBe "user-0151"
    // files outside every update key's range carried by reference
    (merged.files.map(_.path).toSet intersect before.files.map(_.path).toSet) should not be empty
    // schema mismatch and NULL keys refuse
    intercept[IllegalArgumentException] {
      SnapTable.merge(spark, dir, updates.drop("score"), "id")
    }.getMessage should include("schema")
    intercept[IllegalArgumentException] {
      SnapTable.merge(spark, dir,
        updates.withColumn("id", when(col("id") === 0, lit(null)).otherwise(col("id"))), "id")
    }.getMessage should include("NULL")
    // history intact; incremental readers refuse to cross a merge
    SnapTable.read(spark, dir, asOf = Some(1L)).count() shouldBe 1000L
    intercept[IllegalArgumentException] { SnapTable.changes(spark, dir, fromExclusive = 1L) }
  }

  test("checkpoint + changes = incremental validation: only new rows revalidated") {
    val dir = freshDir("incr")
    val ckptPath = Files.createTempDirectory("snap-ckpt").resolve("state.json").toString
    SnapTable.create(spark, dir, rows(0, 600))
    // first run validates everything and records the snapshot version
    val ckpt = new graft.state.Checkpoint(ckptPath)
    val v1 = SnapTable.currentVersion(spark, dir)
    ckpt.markPartition("t", "all", s"snap-v$v1", SnapTable.read(spark, dir).count())
    // table grows; a resumed run reads only the delta
    SnapTable.append(spark, dir, rows(600, 1000))
    val recorded = ckpt.tableState("t").get.snapshotId.stripPrefix("snap-v").toLong
    val delta = SnapTable.changes(spark, dir, fromExclusive = recorded)
    delta.count() shouldBe 400L
    delta.agg(min("id")).as[Long].head() shouldBe 600L
  }

  test("appendMany's writes carry the calling thread's job group") {
    // thread A warms the shared pool (its threads inherit A's local
    // properties); thread B's writes must still carry B's own group
    def onThread(group: String): Unit = {
      var failure: Option[Throwable] = None
      val t = new Thread(() => {
        try {
          spark.sparkContext.setJobGroup(group, s"append $group")
          val dir = freshDir(s"many-$group")
          SnapTable.create(spark, dir, rows(0, 10))
          SnapTable.appendMany(spark, dir, (1 to 6).map(i => rows(i * 10, i * 10 + 10)))
          ()
        } catch { case e: Throwable => failure = Some(e) }
      })
      t.start()
      t.join()
      failure.foreach(e => throw e)
    }
    def groups(jobs: Seq[(String, String, String)]) =
      jobs.filterNot(j => j._1 != null && j._1.startsWith("listener-marker")).map(_._2).distinct
    groups(jobsDuring(onThread("g1"))) shouldBe Seq("g1")
    groups(jobsDuring(onThread("g2"))) shouldBe Seq("g2")
  }

  test("appendMany rethrows a failing write only after every other write finished") {
    val dir = freshDir("many-fail")
    SnapTable.create(spark, dir, rows(0, 10))
    AppendGate.slowDone = false
    val failing = rows(10, 11).select(udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("write failed"); id
    }.apply(col("id")).as("id"))
    val slow = rows(20, 21).select(udf { (id: Long) =>
      Thread.sleep(1500); AppendGate.slowDone = true; id
    }.apply(col("id")).as("id"))
    val e = intercept[Throwable](SnapTable.appendMany(spark, dir, Seq(failing, slow)))
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("write failed")) shouldBe true
    AppendGate.slowDone shouldBe true
    // nothing was committed: the failing frame comes first
    SnapTable.read(spark, dir).count() shouldBe 10L
  }
}

/** Set by the slow write of the appendMany failure test when it ends. */
object AppendGate {
  @volatile var slowDone = false
}
