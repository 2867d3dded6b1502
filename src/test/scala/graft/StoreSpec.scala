package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcOps, ChangeModel}
import graft.sources.Tables
import graft.store.SnapshotStore

/** The table-format seam (SnapshotStore): merge-fold correctness
  * against the one-shot snapshot semantics (q_cdc_upsert's oracle),
  * snapshot isolation, manifest key-range pruning, vacuum retention.
  */
class StoreSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "store-spec")

  private def parsedLog: DataFrame =
    CdcOps.parse(ChangeModel.changeLines(Tables(spark, sf).events))

  private def newRoot(): String =
    tempDir("graft-store").toString

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(col).toSeq
    assert(a.select(cols: _*).exceptAll(b.select(cols: _*)).count() == 0 &&
      b.select(cols: _*).exceptAll(a.select(cols: _*)).count() == 0)
  }

  test("merge fold: read-after-N-merges equals the one-shot snapshot of the log") {
    val store = new SnapshotStore(spark, newRoot(), "user_id")
    val log = parsedLog
    // fold the log in three arbitrary chunks — compact(snapshot(A), B)
    // == snapshot(A ∪ B) must hold for ANY split
    (0L until 3L).foreach { i =>
      store.merge(log.filter(pmod(col("id"), lit(3)) === i))
    }
    val expected = CdcOps.softDeleteSnapshot(log, col("user_id"))
    assertSameRows(store.read().get, expected)
    assert(store.currentVersion.contains(2L))
  }

  test("snapshot isolation: a reader resolved before a merge keeps its version") {
    val store = new SnapshotStore(spark, newRoot(), "user_id")
    val log = parsedLog
    store.merge(log.filter(col("id") < 500))
    val before = store.read().get // file list resolved NOW, from v0
    val v0Rows = before.count()
    store.merge(log.filter(col("id") >= 500))
    // the in-flight reader still sees v0 (its files are retained by
    // the vacuum window); a fresh reader sees the merged table
    assert(before.count() == v0Rows)
    assert(store.currentVersion.contains(1L))
    assertSameRows(before, store.readVersion(0L))
    assertSameRows(store.read().get, CdcOps.softDeleteSnapshot(log, col("user_id")))
  }

  test("manifest key-range index prunes data files on range reads") {
    val store = new SnapshotStore(spark, newRoot(), "user_id", filesPerCommit = 8)
    val log = parsedLog
    store.merge(log)
    val all = store.manifest(store.currentVersion.get)
    assert(all.size > 1, "need multiple files for pruning to mean anything")
    // files are range-clustered at commit, so a narrow key range must
    // plan a strict subset of files
    val lo = all.map(_.minKey).min
    val planned = store.plannedFiles(lo, lo)
    assert(planned.nonEmpty && planned.size < all.size,
      s"planned ${planned.size} of ${all.size} files")
    // and the pruned read returns exactly the filtered full read
    val full = store.read().get.filter(col("user_id").between(lo, lo))
    assertSameRows(store.readRange(lo, lo), full)
    // an empty range reads zero rows without error
    val none = store.readRange(Long.MaxValue - 1, Long.MaxValue)
    assert(none.count() == 0)
  }

  test("z-order layout prunes files on BOTH dimensions; linear layout can't") {
    import graft.store.ZOrderLayout
    val events = graft.sources.Tables(spark, sf).events
    // normalize both dims to a COMMON bit width (1024 buckets): with
    // unequal widths the wider dim owns every high interleave bit and
    // the z-order degenerates to a single-dim sort
    val b = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      min(col("user_id")), max(col("user_id"))).head
    val (usLo, usHi, uidLo, uidHi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val dims = events.select(col("event_id"),
      ((col("user_id") - uidLo) * 1024L / (uidHi - uidLo + 1L)).cast("long").as("u"),
      ((unix_micros(col("ts")) - usLo) * 1024L / (usHi - usLo + 1L)).cast("long").as("t"))
    val nFiles = 16
    val zPath = newRoot() + "/zorder"
    ZOrderLayout.writeClustered(dims, "u", "t", nFiles, zPath)
    val zStats = ZOrderLayout.fileStats(spark, zPath, "u", "t")
    assert(zStats.size > 4, s"need several files, got ${zStats.size}")
    // the same data range-clustered on u only (SnapshotStore's layout)
    val linPath = newRoot() + "/linear"
    dims.repartitionByRange(nFiles, col("u")).write.parquet(linPath)
    val linStats = ZOrderLayout.fileStats(spark, linPath, "u", "t")
    val (uLo, uHi) = {
      val r = dims.agg(min(col("u")), max(col("u"))).head
      (r.getLong(0), r.getLong(1))
    }
    val (tLo, tHi) = {
      val r = dims.agg(min(col("t")), max(col("t"))).head
      (r.getLong(0), r.getLong(1))
    }
    // a time-only slice (middle ~1/8 of the time span): the z layout
    // skips files, the u-clustered layout cannot (every file spans
    // all of t)
    val tMid = tLo + (tHi - tLo) / 2
    val tW = math.max(1L, (tHi - tLo) / 16)
    val zHitT = ZOrderLayout.planFiles(zStats, Long.MinValue, Long.MaxValue,
      tMid - tW, tMid + tW)
    val linHitT = ZOrderLayout.planFiles(linStats, Long.MinValue, Long.MaxValue,
      tMid - tW, tMid + tW)
    assert(linHitT.size == linStats.size, "linear layout must scan everything")
    assert(zHitT.size < zStats.size,
      s"z layout must skip: hit ${zHitT.size} of ${zStats.size}")
    // and a user-only slice still prunes too (both dims carry signal)
    val uMid = uLo + (uHi - uLo) / 2
    val uW = math.max(1L, (uHi - uLo) / 16)
    val zHitU = ZOrderLayout.planFiles(zStats, uMid - uW, uMid + uW,
      Long.MinValue, Long.MaxValue)
    assert(zHitU.size < zStats.size,
      s"z layout must skip on u too: hit ${zHitU.size} of ${zStats.size}")
    // planned-file reads return exactly the filtered rows
    val rect = spark.read.parquet(zHitT.map(_.path): _*)
      .filter(col("t").between(tMid - tW, tMid + tW))
    val full = dims.filter(col("t").between(tMid - tW, tMid + tW))
    assert(rect.count() == full.count())
  }

  test("copy-on-write merge rewrites only delta-affected files") {
    val store = new SnapshotStore(spark, newRoot(), "user_id", filesPerCommit = 8)
    val log = parsedLog
    store.merge(log)
    val v0 = store.manifest(0L)
    assert(v0.size > 1)
    // a delta touching ONE existing key: exactly the files covering
    // that key get rewritten, everything else carries over by path
    val oneKey = log.orderBy(col("user_id")).limit(1)
      .select(col("user_id")).head.getLong(0)
    val delta = log.filter(col("user_id") === oneKey)
      .withColumn("current_ts", lit("2099-01-01 00:00:00.000000"))
      .limit(1)
    store.merge(delta)
    val v1 = store.manifest(1L)
    val carried = v1.map(_.path).toSet.intersect(v0.map(_.path).toSet)
    val coveringV0 = v0.count(f => f.minKey <= oneKey && oneKey <= f.maxKey)
    assert(carried.size == v0.size - coveringV0,
      s"carried ${carried.size} of ${v0.size} (covering=$coveringV0)")
    assert(carried.nonEmpty, "a localized delta must not rewrite the whole table")
    // and the merged table still equals the one-shot snapshot
    val expected = CdcOps.softDeleteSnapshot(log.unionByName(delta), col("user_id"))
    assertSameRows(store.read().get, expected)
    // an all-new-key delta carries over EVERY old file
    val newKeys = log.limit(5).withColumn("user_id", col("user_id") + 1000000L)
    store.merge(newKeys)
    val v2 = store.manifest(2L)
    assert(v1.map(_.path).toSet.subsetOf(v2.map(_.path).toSet),
      "new-key merge must not rewrite any existing file")
    assertSameRows(store.read().get,
      CdcOps.softDeleteSnapshot(log.unionByName(delta).unionByName(newKeys), col("user_id")))
  }

  test("purge: hard delete is file-level CoW, absent keys are no-ops, content is gone") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    val base = (0L until 400L).map(i => (i, s"payload-$i")).toDF("k", "payload")
    store.commit(base)
    val v0 = store.manifest(0L)
    assert(v0.size > 1)
    // purge a localized key range: only covering files rewrite
    val dels = Seq(3L, 7L, 11L).toDF("k")
    store.purge(dels)
    val v1 = store.manifest(1L)
    val carried = v1.map(_.path).toSet.intersect(v0.map(_.path).toSet)
    val covering = v0.count(f => Seq(3L, 7L, 11L).exists(k =>
      f.minKey <= k && k <= f.maxKey))
    assert(carried.size == v0.size - covering,
      s"carried ${carried.size} of ${v0.size} (covering=$covering)")
    // the rows are GONE (hard delete, not delete_state masking)
    val got = store.read().get
    assert(got.count() === 397)
    assert(got.filter(col("k").isin(3L, 7L, 11L)).isEmpty)
    assert(!got.columns.contains("delete_state"))
    // purging keys not in the table: no version churn at all
    val vBefore = store.currentVersion.get
    store.purge(Seq(9999999L).toDF("k"))
    assert(store.currentVersion.contains(vBefore),
      "an absent-key purge must not commit a version")
    // purge everything a file covers: carried-only commit still legal
    val lo = v1.map(_.minKey).min
    val hi = v1.sortBy(_.minKey).head.maxKey
    store.purge((lo to hi).toDF("k"))
    assert(store.read().get.filter(col("k").between(lo, hi)).isEmpty)
    // idempotent on CONTENT: re-purging an already-purged set changes
    // nothing (a version may commit when the keys' former ranges are
    // still covered by rewritten files — that commit is carried-only
    // in content)
    val before = store.read().get.count()
    store.purge(dels)
    assert(store.read().get.count() === before)
  }

  test("mergeByIndex: a dim update rewrites only bloom-hit files and folds exactly") {
    import spark.implicits._
    // denormalized fact table where the dim column CLUSTERS with the
    // key (tenant-within-time): k 0..799, tenant = k/100 — each of
    // the 8 files covers ~one tenant, the layout the IVM economics
    // need
    val store = new SnapshotStore(spark, newRoot(), "k",
      filesPerCommit = 8, indexCol = Some("tenant"))
    val facts = (0L until 800L).map(k => (k, k / 100L, k % 100L))
      .toDF("k", "tenant", "tier")
    store.commit(facts)
    val v0 = store.manifest(0L)
    assert(v0.size > 4)
    // dim delta: tenant 3's tier becomes 999
    val delta = Seq((3L, 999L)).toDF("tenant", "new_tier")
    store.mergeByIndex(delta, (affected, d) =>
      affected.join(broadcast(d), Seq("tenant"), "left")
        .select(col("k"), col("tenant"),
          coalesce(col("new_tier"), col("tier")).as("tier")), txn = Some(1L))
    val v1 = store.manifest(1L)
    val carried = v1.map(_.path).toSet.intersect(v0.map(_.path).toSet)
    assert(carried.nonEmpty && carried.size < v0.size,
      s"bloom index must prune: carried ${carried.size} of ${v0.size}")
    // content: exactly tenant 3's rows re-tiered, nothing else moved
    val got = store.read().get
    assert(got.count() === 800)
    assert(got.filter(col("tenant") === 3L && col("tier") =!= 999L).isEmpty)
    assert(got.filter(col("tenant") =!= 3L && col("tier") >= 100L).isEmpty)
    // new files carry fresh bloom blobs: a follow-up dim update on an
    // affected tenant still plans through the index
    store.mergeByIndex(Seq((3L, 1000L)).toDF("tenant", "new_tier"),
      (affected, d) => affected.join(broadcast(d), Seq("tenant"), "left")
        .select(col("k"), col("tenant"),
          coalesce(col("new_tier"), col("tier")).as("tier")), txn = Some(2L))
    assert(store.read().get
      .filter(col("tenant") === 3L && col("tier") =!= 1000L).isEmpty)
    // txn replay guard: re-delivering txn 2 is a no-op
    val vBefore = store.currentVersion.get
    store.mergeByIndex(Seq((3L, 7L)).toDF("tenant", "new_tier"),
      (a, d) => a, txn = Some(2L))
    assert(store.currentVersion.contains(vBefore))
    assert(store.read().get
      .filter(col("tenant") === 3L && col("tier") =!= 1000L).isEmpty)
  }

  test("optimize rewrites the fragmented table into the target file count") {
    val store = new SnapshotStore(spark, newRoot(), "user_id", filesPerCommit = 4)
    val log = parsedLog
    // fragment: a base merge, then three new-key deltas — each
    // carries every existing file and ADDS its own file set (the
    // copy-on-write accretion pattern of a long-running ingest)
    store.merge(log)
    (1L to 3L).foreach { i =>
      store.merge(log.limit(40).withColumn("user_id",
        col("user_id") + lit(1000000L * i)))
    }
    val fragmented = store.manifest(store.currentVersion.get)
    assert(fragmented.size > 4, s"expected fragmentation, got ${fragmented.size} files")
    val before = store.read().get.collect().map(_.toString).sorted.toSeq
    store.optimize()
    val compacted = store.manifest(store.currentVersion.get)
    assert(compacted.size <= 4, s"optimize left ${compacted.size} files")
    // content identical, ranges re-clustered (disjoint after optimize)
    assert(store.read().get.collect().map(_.toString).sorted.toSeq == before)
    val sorted = compacted.sortBy(_.minKey)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey <= b.minKey, s"overlap: $a / $b")
      case _ =>
    }
    // and versions() exposes the retained time-travel surface
    assert(store.versions().max == store.currentVersion.get)
  }

  test("secondary Bloom index: point reads on a non-key column skip files") {
    import spark.implicits._
    // 4 groups aligned with key ranges — the index column clusters
    // with the key (the tenant-within-time pattern the index targets)
    val rows = (0L until 1000L).map(k => (k, s"g${k / 250}", k * 3))
      .toDF("k", "grp", "payload")
    val store = new SnapshotStore(spark, newRoot(), "k",
      indexCol = Some("grp"))
    store.commit(rows)
    val all = store.manifest(store.currentVersion.get)
    assert(all.size == 4 && all.forall(_.bloom.isDefined))
    // each group's point read plans a strict subset of the files
    val planned = store.plannedFilesPoint("g0")
    assert(planned.size < all.size, s"${planned.size} of ${all.size}")
    // exactness: pruned read == full-scan filter
    assertSameRows(store.readPoint("g0"),
      store.read().get.filter(col("grp") === "g0"))
    // absent value: every file prunes (no-false-negative Bloom)
    assert(store.plannedFilesPoint("nope").isEmpty)
    assert(store.readPoint("nope").count() == 0)
    // REGRESSION (probe type vs column type): an Int probe against a
    // BIGINT index column must hash through the COLUMN's type — a
    // runtime-typed hash takes xxhash64's 4-byte path and silently
    // Bloom-prunes everything (a false negative)
    val longIdx = new SnapshotStore(spark, newRoot(), "k",
      indexCol = Some("payload"))
    longIdx.commit((0L until 100L).map(k => (k, s"g$k", k * 3)).toDF("k", "grp", "payload"))
    assert(longIdx.plannedFilesPoint(150).nonEmpty, "Int probe against BIGINT column pruned all files")
    assert(longIdx.readPoint(150).count() == 1)
    // blooms survive the CoW merge: carried files keep theirs, the
    // rewritten file gets a fresh one
    val delta = Seq((3L, "g0", 999L)).toDF("k", "grp", "payload")
    store.mergeWith(delta, identity[DataFrame],
      (b, d) => d.unionByName(b.join(d.select(col("k").as("dk")),
        col("k") === col("dk"), "left_anti").drop("dk")))
    val after = store.manifest(store.currentVersion.get)
    assert(after.forall(_.bloom.isDefined))
    assertSameRows(store.readPoint("g3"),
      store.read().get.filter(col("grp") === "g3"))
  }

  test("schema evolution: a fold can add a column; carried files read as null") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k")
    store.commit((0L until 1000L).map(k => (k, k * 2)).toDF("k", "a"))
    val beforeFiles = store.manifest(store.currentVersion.get).map(_.path).toSet
    // the delta carries a NEW column; the fold unions by name with
    // null-fill — the add-only evolution path
    val delta = Seq((3L, 6L, "fresh")).toDF("k", "a", "b")
    store.mergeWith(delta, identity[DataFrame],
      (base, d) => d.unionByName(
        base.join(d.select(col("k").as("dk")), col("k") === col("dk"), "left_anti")
          .drop("dk"), allowMissingColumns = true))
    val after = store.read().get
    // new schema everywhere; carried rows null-fill b
    assert(after.columns.toSeq == Seq("k", "a", "b"))
    assert(after.filter(col("k") === 3L).head().getString(2) == "fresh")
    assert(after.filter(col("b").isNull).count() == 999L)
    // evolution did NOT rewrite the table: untouched files carried over
    val afterFiles = store.manifest(store.currentVersion.get).map(_.path).toSet
    assert((beforeFiles & afterFiles).nonEmpty, "no carried files")
    // a key-range read on a carried file also sees the evolved schema
    assert(store.readRange(500L, 510L).columns.contains("b"))
    // REGRESSION (post-evolution fold over a carried pre-evolution
    // file): the affected base must read through the manifest schema
    // — a raw-parquet base would hand the fold (k, a) and publish the
    // regressed schema, losing column b for every remaining file
    val delta2 = Seq((700L, 1400L, "later")).toDF("k", "a", "b")
    store.mergeWith(delta2, identity[DataFrame],
      (base, d) => d.unionByName(
        base.join(d.select(col("k").as("dk")), col("k") === col("dk"), "left_anti")
          .drop("dk"), allowMissingColumns = true))
    val evolved = store.read().get
    assert(evolved.columns.toSeq == Seq("k", "a", "b"))
    assert(evolved.filter(col("k") === 3L).head().getString(2) == "fresh",
      "evolved column lost after a fold over a carried file")
    assert(evolved.filter(col("k") === 700L).head().getString(2) == "later")
  }

  test("txn guard: replaying a batch id into an additive fold is a no-op") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k")
    def delta(rows: (Long, Long)*): DataFrame = rows.toDF("k", "n")
    val fold = (b: DataFrame, d: DataFrame) =>
      b.unionByName(d).groupBy(col("k")).agg(sum(col("n")).as("n"))

    store.mergeWith(delta(1L -> 10L, 2L -> 1L), identity, fold, txn = Some(0L))
    store.mergeWith(delta(1L -> 5L), identity, fold, txn = Some(1L))
    // the crash-redelivery case: batch 1 folds AGAIN (merge committed,
    // checkpoint offset didn't) — must not double-count
    store.mergeWith(delta(1L -> 5L), identity, fold, txn = Some(1L))
    val after = store.read().get.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSeq == Seq(1L -> 15L, 2L -> 1L), after.toSeq)
    assert(store.lastTxn.contains(1L))
    // the next batch still applies
    store.mergeWith(delta(2L -> 2L), identity, fold, txn = Some(2L))
    assert(store.read().get.filter(col("k") === 2L).head().getLong(1) == 3L)
    assert(store.lastTxn.contains(2L))
    // REGRESSION: a txn-LESS commit interleaved (optimize, CDC merge)
    // must not erase the watermark — otherwise a crash-redelivery
    // right after it would double-count
    store.commit(store.read().get)
    assert(store.lastTxn.contains(2L), "txn watermark lost through a txn-less commit")
    store.mergeWith(delta(2L -> 2L), identity, fold, txn = Some(2L)) // replay again
    assert(store.read().get.filter(col("k") === 2L).head().getLong(1) == 3L,
      "replay after txn-less commit double-counted")
  }

  test("null-key poison rows are dropped, not a wedged micro-batch") {
    val store = new SnapshotStore(spark, newRoot(), "user_id")
    val log = parsedLog
    store.merge(log.filter(col("id") < 500))
    // a delta carrying poison rows (null key — what from_json yields
    // for a malformed line) must merge its good rows and skip the bad
    // ones, like the reference's log-and-skip — NOT throw, because a
    // throwing sink + checkpoint replay re-delivers the batch forever
    val good = log.filter(col("id") >= 500)
    val poison = log.limit(3).withColumn("user_id", lit(null).cast("long"))
    store.merge(good.unionByName(poison))
    assertSameRows(store.read().get,
      CdcOps.softDeleteSnapshot(log, col("user_id")))
    // an ALL-poison delta is a no-op fold, not a crash
    val before = store.read().get.count()
    store.merge(poison)
    assert(store.read().get.count() == before)
  }

  test("change feed: version diff equals the merged delta's upserts, file-diff-only") {
    val store = new SnapshotStore(spark, newRoot(), "user_id", filesPerCommit = 8)
    val log = parsedLog
    store.merge(log)
    // a delta touching one existing key + one new key
    val oneKey = log.orderBy(col("user_id")).limit(1)
      .select(col("user_id")).head.getLong(0)
    val delta = log.filter(col("user_id") === oneKey)
      .withColumn("current_ts", lit("2099-01-01 00:00:00.000000")).limit(1)
      .unionByName(log.limit(1).withColumn("user_id", col("user_id") + 1000000L))
    store.merge(delta)
    val feed = store.changes(0L, 1L)
    // the feed is exactly the new row versions: the delta's keys,
    // with their post-merge state
    val touched = feed.select(col("user_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    val deltaKeys = delta.select(col("user_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(deltaKeys.subsetOf(touched), s"feed $touched misses $deltaKeys")
    // feed rows match the current snapshot's state for those keys
    val current = store.read().get
      .filter(col("user_id").isInCollection(touched))
    assertSameRows(feed.filter(col("user_id").isInCollection(deltaKeys)),
      current.filter(col("user_id").isInCollection(deltaKeys)))
    // and untouched keys vastly outnumber touched ones: the diff only
    // read rewritten files, never the carried-over bulk
    assert(feed.count() < store.read().get.count() / 2,
      "change feed must not rescan the table")
    // identical versions diff to empty
    assert(store.changes(1L, 1L).count() == 0)
  }

  test("store is relocatable: manifests are root-relative, rename keeps every read working") {
    // the property twoMergeStore's atomic-rename landing depends on
    // (and the choice real table formats make): manifest rows must
    // not pin the build path
    val buildRoot = newRoot() + "-build"
    val b = new SnapshotStore(spark, buildRoot, "user_id", filesPerCommit = 4)
    val log = parsedLog
    b.merge(log.filter(pmod(col("id"), lit(2)) === 0))
    b.merge(log.filter(pmod(col("id"), lit(2)) =!= 0))
    val before = b.read().get.collect().toSeq
    val finalRoot = newRoot() + "-final"
    java.nio.file.Files.move(
      java.nio.file.Paths.get(buildRoot), java.nio.file.Paths.get(finalRoot),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val moved = new SnapshotStore(spark, finalRoot, "user_id", filesPerCommit = 4)
    assert(moved.versions() == Seq(0L, 1L))
    assert(moved.read().get.collect().toSeq.toSet == before.toSet)
    assert(moved.changes(0L, 1L).count() > 0) // file-diff read resolves too
    // manifest FILE content carries no absolute build path
    val m1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(finalRoot, "_manifests", "m1.tsv"))
    assert(!m1.contains(buildRoot) && !m1.contains(finalRoot),
      s"manifest pins an absolute root:\n$m1")
  }

  test("merge planning never materializes the delta key set on the driver") {
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    store.commit(spark.range(0L, 2000000L)
      .select(col("id").as("k"), (col("id") * 2).as("v")))
    val nFiles = store.manifest(store.currentVersion.get).size
    // a backfill-sized delta: 1.1e6 DISTINCT keys — the regime where
    // a driver-side distinct().collect() of the key set would be a
    // heap cliff
    val delta = spark.range(500000L, 1600000L)
      .select(col("id").as("k"), lit(-1L).as("v"))
    val lastWriteWins = (b: DataFrame, d: DataFrame) => d.unionByName(
      b.join(d.select(col("k").as("dk")), col("k") === col("dk"), "left_anti")
        .drop("dk"))
    store.mergeWith(delta, identity[DataFrame], lastWriteWins)
    // the file-hit planning pass collected only the elementary-segment
    // summary: bounded by the manifest (<= 2 x files), never by the
    // delta's key cardinality
    assert(store.lastMergeSummaryRows >= 0 &&
      store.lastMergeSummaryRows <= 2L * nFiles,
      s"driver summary ${store.lastMergeSummaryRows} rows for $nFiles files")
    val after = store.read().get
    assert(after.count() == 2000000L)
    assert(after.filter(col("v") === -1L).count() == 1100000L)
    assert(after.filter(col("k") === 0L).head.getLong(1) == 0L)
    // untouched low/high key files carried over (CoW still file-local)
    val v0 = store.manifest(0L).map(_.path).toSet
    val v1 = store.manifest(1L).map(_.path).toSet
    assert((v0 & v1).nonEmpty, "wide merge rewrote even unaffected files")
  }

  test("vacuum under concurrent readers: retained version survives, vacuumed fails cleanly") {
    val store = new SnapshotStore(spark, newRoot(), "user_id", keepVersions = 2)
    val log = parsedLog
    store.merge(log.filter(col("id") < 400))
    val readerV0 = store.read().get // file list resolved NOW, at v0
    val v0Count = readerV0.count()
    store.merge(log.filter(col("id") >= 400 && col("id") < 700))
    // v0 is inside the retention window: the in-flight reader is whole
    assert(readerV0.count() == v0Count)
    assertSameRows(readerV0, store.readVersion(0L))
    // v2 pushes v0 out of the window
    store.merge(log.filter(col("id") >= 700))
    assert(store.versions().min == 1L)
    // precondition for the stale-reader check: at least one v0 file
    // was actually reclaimed (not carried into a retained version)
    def norm(p: String) = p.replaceFirst("^file:/+", "/")
    val retained = store.versions().flatMap(store.manifest(_))
      .map(e => norm(e.path)).toSet
    assert(readerV0.inputFiles.exists(f => !retained.contains(norm(f))),
      "every v0 file carried over; vacuum reclaimed nothing to test")
    // a NEW read of the vacuumed version fails cleanly — the manifest
    // is gone, so there is no path to a partial file list
    intercept[Exception] { store.readVersion(0L) }
    // the STALE reader (plan resolved pre-vacuum) must error, never
    // silently return partial data from its surviving files
    intercept[Exception] { readerV0.count() }
    // and the current version is complete and correct
    assertSameRows(store.read().get,
      CdcOps.softDeleteSnapshot(log, col("user_id")))
  }

  test("vacuum retains only the versions in-flight readers can need") {
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "user_id", keepVersions = 2)
    val log = parsedLog
    (0L until 4L).foreach { i =>
      store.merge(log.filter(pmod(col("id"), lit(4)) === i))
    }
    assert(store.currentVersion.contains(3L))
    // keepVersions=2 => versions 2 and 3 readable, 0 and 1 vacuumed
    assert(store.readVersion(3L).count() > 0)
    assert(store.readVersion(2L).count() > 0)
    intercept[Exception] { store.manifest(0L) }
    intercept[Exception] { store.manifest(1L) }
    // final content is still the full-log snapshot
    assertSameRows(store.read().get,
      CdcOps.softDeleteSnapshot(log, col("user_id")))
  }

  /** Build a store whose v0 manifest carries `n` SYNTHETIC entries
    * (fake paths, key ranges far above the real data), appended as
    * lines to `m0.tsv`, on top of 4 real files over keys 0..999 — a
    * 10⁵-file table fixture without writing 10⁵ real files. Planning
    * must never read the fake paths as long as deltas stay inside the
    * real key range.
    */
  private def syntheticManifestStore(n: Int): SnapshotStore = {
    import spark.implicits._
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "k")
    store.commit((0L until 1000L).map(k => (k, k * 2)).toDF("k", "a"))
    val m0 = java.nio.file.Paths.get(root, "_manifests", "m0.tsv")
    val synth = (0 until n).map { i =>
      val lo = 1000000L + i * 10L
      s"\ndata/v0/synthetic-$i.parquet\t10\t$lo\t${lo + 9L}"
    }.mkString
    java.nio.file.Files.writeString(m0, synth,
      java.nio.file.StandardOpenOption.APPEND)
    assert(store.manifest(0L).size == n + 4)
    store
  }

  private val lastWriteWins: (DataFrame, DataFrame) => DataFrame =
    (b, d) => d.unionByName(b.join(d.select(col("k").as("dk")),
      col("k") === col("dk"), "left_anti").drop("dk"))

  test("1e5-entry manifest: merge planning is delta-local and sublinear") {
    import spark.implicits._
    def mergeOnce(store: SnapshotStore): Double = {
      val delta = (0L until 50L).map(k => (k, k * 7)).toDF("k", "a")
      val t0 = System.nanoTime()
      store.mergeWith(delta, identity[DataFrame], lastWriteWins)
      (System.nanoTime() - t0) / 1e9
    }
    val small = syntheticManifestStore(10000)
    val tSmall = mergeOnce(small)
    val big = syntheticManifestStore(100000)
    val tBig = mergeOnce(big)
    assert(big.currentVersion.contains(1L))
    // planning summary stays delta-local: the collected hit-segment
    // count is independent of the 10⁵ carried entries
    assert(big.lastMergeSummaryRows > 0 && big.lastMergeSummaryRows <= 8,
      s"summary rows ${big.lastMergeSummaryRows} not delta-local")
    // carried entries survived by reference: v1 = 10⁵ synthetic +
    // unaffected real + filesPerCommit rewritten
    val m1 = big.manifest(1L)
    assert(m1.count(_.path.contains("synthetic-")) == 100000)
    assert(m1.size < 100000 + 10)
    // merge correctness on the large manifest (read only the real
    // key range — the synthetic paths are fixture, not data)
    val merged = big.readRange(0L, 999L)
    assert(merged.count() == 1000L)
    assert(merged.filter(col("k") === 5L).select(col("a")).as[Long].head() == 35L)
    // sublinear: 10x the manifest must NOT cost ~10x the merge — the
    // delta work is O(log files) per key and the carried entries are
    // one driver-side pass over the manifest lines (generous 6x bound
    // + noise floor absorbs job-launch variance on a shared host)
    assert(tBig < tSmall * 6.0 + 1.0,
      s"merge at 1e5 files took ${tBig}s vs ${tSmall}s at 1e4 — not sublinear")
  }

  test("1e4-entry manifest: txn watermark, schema and replay guard hold") {
    import spark.implicits._
    val store = syntheticManifestStore(10000)
    val delta = (0L until 10L).map(k => (k, k * 9)).toDF("k", "a")
    store.mergeWith(delta, identity[DataFrame], lastWriteWins, txn = Some(7L))
    assert(store.lastTxn.contains(7L), "txn must ride the manifest header")
    assert(store.schemaOf(1L).exists(_.fieldNames.sameElements(Array("k", "a"))))
    // replaying the same txn id is a no-op (the guard reads the
    // header line, not the entry lines)
    val v = store.mergeWith(delta, identity[DataFrame], lastWriteWins, txn = Some(7L))
    assert(v == 1L && store.currentVersion.contains(1L))
  }

  test("a manifest in the retired parquet entry-list format fails loudly, by name") {
    import spark.implicits._
    // what an older build wrote for a store past 4096 files: a TSV
    // holding only the header, tagged, with the entries elsewhere
    val store = new SnapshotStore(spark, newRoot(), "k")
    store.commit((0L until 10L).map(k => (k, k)).toDF("k", "a"))
    val m0 = java.nio.file.Paths.get(store.root, "_manifests", "m0.tsv")
    val header = java.nio.file.Files.readAllLines(m0).get(0)
    java.nio.file.Files.writeString(m0, header + " entries=parquet")
    def failure(read: => Any): String =
      intercept[IllegalStateException](read).getMessage
    Seq(failure(store.read()), failure(store.manifest(0L)),
      failure(store.lastTxn), failure(store.readRange(0L, 5L))).foreach { msg =>
      assert(msg.contains("manifest v0") && msg.contains(store.root) &&
        msg.contains("optimize()"), msg)
    }
  }

  test("delete-heavy fold commits a carried-only version") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k")
    store.commit((0L until 1000L).map(k => (k, k * 2)).toDF("k", "a"))
    val before = store.manifest(0L)
    val affected = store.plannedFiles(0L, 10L)
    assert(affected.nonEmpty && affected.size < before.size)
    // fold empties the affected slice entirely (a delete-heavy merge):
    // the commit is CARRIED-ONLY and must still publish
    val v = store.mergeWith((0L until 10L).map(k => (k, k * 7)).toDF("k", "a"),
      identity[DataFrame], (b: DataFrame, _: DataFrame) => b.limit(0))
    assert(v == 1L && store.currentVersion.contains(1L))
    val after = store.manifest(1L)
    assert(after.size == before.size - affected.size)
    val beforePaths = before.map(_.path).toSet
    assert(after.forall(e => beforePaths(e.path)), "carried-only version must reference v0 files")
    assert(store.readVersion(1L).count() == 1000L - affected.map(_.rows).sum)
  }

  test("plain reads plan blobless: range planning never pulls Bloom blobs to the driver") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", indexCol = Some("grp"))
    store.commit((0L until 1000L).map(k => (k, s"g${k / 250}", k))
      .toDF("k", "grp", "payload"))
    // the blob-ful surface keeps its blobs (point planning needs them)
    assert(store.manifest(0L).forall(_.bloom.isDefined))
    // the plain-read planning surface is blobless by construction
    assert(store.plannedFiles(0L, 999L).forall(_.bloom.isEmpty),
      "range planning must use the blobless manifest variant")
    // and reads through it stay exact
    assert(store.readRange(0L, 249L).count() == 250L)
    assertSameRows(store.readPoint("g1"),
      store.read().get.filter(col("grp") === "g1"))
  }

  test("bloom index stays exact across 20 CoW merge generations") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k",
      indexCol = Some("grp"), keepVersions = 3)
    val lww = (b: DataFrame, d: DataFrame) => d.unionByName(
      b.join(d.select(col("k").as("dk")), col("k") === col("dk"), "left_anti")
        .drop("dk"))
    store.commit((0L until 1000L).map(k => (k, s"g${k / 250}", k)).toDF("k", "grp", "payload"))
    (1 to 20).foreach { i =>
      // a moving delta window: every generation rewrites the files
      // covering ~40 keys and carries the rest by reference
      val lo = (i * 37L) % 900L
      val delta = (lo until lo + 40L)
        .map(k => (k, s"g${k / 250}", k + i * 1000L)).toDF("k", "grp", "payload")
      store.mergeWith(delta, identity[DataFrame], lww)
    }
    assert(store.currentVersion.contains(20L))
    val m = store.manifest(20L)
    // every file — freshly rewritten or carried through up to 20
    // generations — still carries its blob
    assert(m.forall(_.bloom.isDefined))
    (0 to 3).foreach { g =>
      // exactness after deep churn: pruned point read == full filter
      assertSameRows(store.readPoint(s"g$g"),
        store.read().get.filter(col("grp") === s"g$g"))
    }
    // pruning still effective (strict subset for an endpoint group)
    assert(store.plannedFilesPoint("g0").size < m.size)
    // absent value reads empty THROUGH the index path (false
    // positives may plan files; the row filter keeps it exact)
    assert(store.readPoint("absent").count() == 0L)
  }

  /** The r14 verdict task 1 parameterization: every commit-order /
    * CAS-race / crash case runs against BOTH [[CommitProtocol]]
    * implementations — POSIX atomic-rename and the emulated
    * conditional-put (object-store) double — so "an S3 deployment
    * implements the trait" is proof, not prose.
    */
  private def protocols = Seq(
    "posix-rename" -> graft.store.AtomicRenameCommit,
    "conditional-put" -> graft.store.ConditionalPutCommit)

  protocols.foreach { case (pname, proto) =>
  test(s"two-writer race [$pname]: CAS publish admits exactly one; the loser retries clean") {
    import graft.store.ConcurrentCommitException
    import spark.implicits._
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "k", protocol = proto)
    store.commit(Seq((1L, "base")).toDF("k", "payload"))
    // both writers fold from v0, then race the commit point
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def writer(tag: String): Thread = new Thread(() => {
      try {
        val s = new SnapshotStore(spark, root, "k", protocol = proto)
        val basis = s.read().get
        val next = basis.unionByName(
          Seq((if (tag == "A") 2L else 3L, tag)).toDF("k", "payload"))
        barrier.await()
        s.commit(next)
        outcomes.add(s"$tag:committed")
      } catch {
        case _: ConcurrentCommitException => outcomes.add(s"$tag:aborted")
        case e: Throwable => outcomes.add(s"$tag:unexpected:${e.getClass.getSimpleName}")
      }
    })
    val (ta, tb) = (writer("A"), writer("B"))
    ta.start(); tb.start(); ta.join(); tb.join()
    val res = outcomes.toArray.map(_.toString).sorted.toSeq
    assert(res.count(_.endsWith(":committed")) === 1, s"outcomes: $res")
    assert(res.count(_.endsWith(":aborted")) === 1, s"outcomes: $res")
    assert(store.currentVersion.contains(1L), "exactly one version advanced")
    // the loser's mandated move: re-read (sees the winner's row),
    // re-fold, retry — and the retried commit lands as v2 with BOTH
    // writers' rows (no lost update anywhere)
    val winnerRows = store.read().get.collect().map(_.getString(1)).toSet
    val loserTag = if (winnerRows("A")) "B" else "A"
    val retry = store.read().get.unionByName(
      Seq((9L, loserTag)).toDF("k", "payload"))
    store.commit(retry)
    assert(store.currentVersion.contains(2L))
    val finalRows = store.read().get.collect().map(_.getString(1)).toSet
    assert(finalRows === Set("base", "A", "B"), s"final: $finalRows")
  }
  } // protocols.foreach (two-writer race)

  protocols.foreach { case (pname, proto) =>
  test(s"commit seam [$pname]: every commit primitive routes through CommitProtocol, in commit order") {
    // r13 verdict task 5: the store's crash-safety rests on five
    // primitives a non-POSIX filesystem must be able to replace. This
    // pins (a) that SnapshotStore calls ONLY the seam for them, and
    // (b) the commit order EVERY impl must preserve: manifest lands
    // inside the exclusive section BEFORE the pointer flips — traced
    // here through both the POSIX and the conditional-put protocol.
    import graft.store.CommitProtocol
    import spark.implicits._
    val trace = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    object Tracing extends CommitProtocol {
      def exclusive[T](root: String)(body: => T): T = {
        trace.add("enter"); val r = proto.exclusive(root)(body)
        trace.add("exit"); r
      }
      def readPointer(p: java.nio.file.Path): Option[Long] =
        proto.readPointer(p)
      def flipPointer(p: java.nio.file.Path, v: Long): Unit = {
        trace.add(s"flip:$v"); proto.flipPointer(p, v)
      }
      def landFile(tmp: java.nio.file.Path, t: java.nio.file.Path): Unit = {
        trace.add("landFile"); proto.landFile(tmp, t)
      }
      def landDir(tmp: java.nio.file.Path, t: java.nio.file.Path): Unit = {
        trace.add("landDir"); proto.landDir(tmp, t)
      }
    }
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "k", protocol = Tracing)
    store.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "payload"))
    val t1 = trace.toArray.map(_.toString).toSeq
    assert(t1 === Seq("enter", "landFile", "flip:0", "exit"),
      s"TSV commit order through the seam: $t1")
    // the same store read back through the default protocol proves
    // the seam changed no on-disk byte of the format
    assert(new SnapshotStore(spark, root, "k").read().get.count() === 2)
    // a merge-on-read purge: the deletion vector lands (landDir)
    // before the manifest that references it, inside the same section
    trace.clear()
    store.purgeMor(Seq(1L).toDF("k"))
    val t2 = trace.toArray.map(_.toString).toSeq
    assert(t2 === Seq("enter", "landDir", "landFile", "flip:1", "exit"),
      s"purgeMor commit order through the seam: $t2")
  }
  } // protocols.foreach (commit seam)

  test("optimize aborts instead of resurrecting rows when a merge lands mid-rewrite") {
    import spark.implicits._
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "user_id")
    val log = parsedLog
    store.merge(log.filter(pmod(col("id"), lit(2)) === 0L))
    // simulate the race deterministically: capture optimize's basis,
    // land a merge, then run the rewrite commit with the stale basis
    val basis = store.currentVersion.get
    val frozen = store.readVersion(basis).localCheckpoint(true)
    store.merge(log.filter(pmod(col("id"), lit(2)) === 1L))
    intercept[graft.store.ConcurrentCommitException] {
      // what optimize() would publish had it read before the merge:
      // same CAS path (commit with explicit stale basis via reflection
      // is private — drive it through a second store whose pointer we
      // rewind is overkill; optimize on a fresh handle reproduces the
      // guard because its basis re-check happens inside publish)
      val m = store.getClass.getDeclaredMethod("commitAs",
        classOf[org.apache.spark.sql.DataFrame], classOf[Option[Long]],
        classOf[Option[Long]])
      m.setAccessible(true)
      try m.invoke(store, frozen, None, Some(basis))
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    }
    // the merge's rows are intact — nothing was resurrected
    val expected = CdcOps.softDeleteSnapshot(log, col("user_id"))
    assertSameRows(store.read().get, expected)
  }

  test("conditional-put protocol: full merge lifecycle matches the POSIX store bit-for-bit") {
    // the commit leg of the r14 task-1 parameterization: N merges +
    // vacuum + time travel through the object-store double produce
    // the same table the POSIX protocol does
    import graft.store.ConditionalPutCommit
    val store = new SnapshotStore(spark, newRoot(), "user_id",
      protocol = ConditionalPutCommit)
    val log = parsedLog
    (0L until 3L).foreach { i =>
      store.merge(log.filter(pmod(col("id"), lit(3)) === i))
    }
    assert(store.currentVersion.contains(2L))
    assertSameRows(store.read().get,
      CdcOps.softDeleteSnapshot(log, col("user_id")))
    // the format on disk is protocol-independent: a default-protocol
    // handle reads the conditional-put store's versions
    val posixView = new SnapshotStore(spark, store.root, "user_id")
    assertSameRows(posixView.read().get, store.read().get)
    assert(posixView.versions() == store.versions())
  }

  test("conditional-put protocol: a dead committer's stale lease is broken, not waited out") {
    // the list-free stale-staging cleanup the seam was suspected of
    // missing (r14 verdict task 1): a crash between lease claim and
    // release must not wedge the store until manual repair
    import graft.store.ConditionalPutCommit
    import spark.implicits._
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "k",
      protocol = ConditionalPutCommit)
    store.commit(Seq((1L, "a")).toDF("k", "payload"))
    // simulate the dead committer: a lease object older than the TTL
    val lease = java.nio.file.Paths.get(root, ".LEASE")
    java.nio.file.Files.writeString(lease, "dead@0")
    java.nio.file.Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * ConditionalPutCommit.leaseTtlMs))
    // the next commit breaks the stale lease and proceeds
    store.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "payload"))
    assert(store.currentVersion.contains(1L))
    assert(store.read().get.count() === 2)
    assert(!java.nio.file.Files.exists(lease), "lease must be released")
  }

  test("mergeByIndex: an INT-typed dim delta against a BIGINT index column still plans and folds") {
    // ADVICE r14 (medium): the probe used to hash the delta column at
    // its RUNTIME type — xxhash64's 4-byte path against the store's
    // 8-byte write-side hashes Bloom-pruned every file and the merge
    // silently no-opped (stale data, no error). The probe now casts
    // to the stored column type, like plannedFilesPoint.
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k",
      filesPerCommit = 8, indexCol = Some("tenant"))
    val facts = (0L until 800L).map(k => (k, k / 100L, k % 100L))
      .toDF("k", "tenant", "tier")
    store.commit(facts)
    val delta = Seq((3, 999L)).toDF("tenant", "new_tier")
    assert(delta.schema("tenant").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val v = store.mergeByIndex(delta, (affected, d) =>
      affected.join(
        broadcast(d.select(col("tenant").cast("long").as("tenant"),
          col("new_tier"))), Seq("tenant"), "left")
        .select(col("k"), col("tenant"),
          coalesce(col("new_tier"), col("tier")).as("tier")))
    assert(v == 1L && store.currentVersion.contains(1L),
      "INT-typed delta silently no-opped the merge")
    val got = store.read().get
    assert(got.count() === 800)
    assert(got.filter(col("tenant") === 3L && col("tier") =!= 999L).isEmpty)
    assert(got.filter(col("tenant") =!= 3L && col("tier") >= 100L).isEmpty)
    // and the plan still pruned: bloom planning worked through the cast
    assert(!store.lastIndexMergeFallback)
    val carried = store.manifest(1L).map(_.path).toSet
      .intersect(store.manifest(0L).map(_.path).toSet)
    assert(carried.nonEmpty && carried.size < store.manifest(0L).size,
      "the cast probe must still Bloom-prune")
  }

  test("mergeByIndex: a backfill-sized dim delta takes the full-fold fallback, never a fat broadcast") {
    // r14 verdict task 5: the Bloom plan is O(files × probes) with a
    // probe broadcast — degenerate for a fat delta against a big
    // manifest. Past maxPlannedBroadcast the merge falls back to one
    // full fold; the planning job collects nothing but a bounded count.
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k",
      filesPerCommit = 1000, indexCol = Some("u"), maxPlannedBroadcast = 4096)
    store.commit(spark.range(0L, 10000L).select(col("id").as("k"),
      col("id").as("u"), lit(0L).as("tag")))
    assert(store.manifest(0L).size == 1000, "need the 10³-file manifest")
    // 10⁵ distinct index keys — far past the 4096 probe bound
    val fat = spark.range(0L, 100000L)
      .select(col("id").as("u"), lit(7L).as("newtag"))
    store.mergeByIndex(fat, (aff, d) =>
      aff.join(d, Seq("u"), "left").select(col("k"), col("u"),
        coalesce(col("newtag"), col("tag")).as("tag")), txn = Some(1L))
    assert(store.lastIndexMergeFallback,
      "a fat delta must take the full-fold fallback")
    val got = store.read().get
    assert(got.count() === 10000L)
    assert(got.filter(col("tag") =!= 7L).isEmpty, "fallback fold must apply")
    // a dim-shaped delta still takes the probe path on the new version
    store.mergeByIndex(Seq((5L, 9L)).toDF("u", "newtag"), (aff, d) =>
      aff.join(broadcast(d), Seq("u"), "left").select(col("k"), col("u"),
        coalesce(col("newtag"), col("tag")).as("tag")), txn = Some(2L))
    assert(!store.lastIndexMergeFallback)
    assert(store.read().get.filter(col("k") === 5L).head.getLong(2) == 9L)
  }

  test("purgeMor: merge-on-read purge rewrites no data file; reads equal the CoW purge") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    val base = (0L until 400L).map(i => (i, s"payload-$i")).toDF("k", "payload")
    store.commit(base)
    val v0 = store.manifest(0L).map(_.path).toSet
    store.purgeMor(Seq(3L, 7L, 11L).toDF("k"), txn = Some(1L))
    // carried-only commit: EVERY data file carries by reference — the
    // MoR economics (purge cost = metadata, not a covering rewrite)
    assert(store.currentVersion.contains(1L))
    assert(store.manifest(1L).map(_.path).toSet == v0,
      "MoR purge must rewrite no data file")
    assert(store.dvName(1L).isDefined, "v1 must carry a deletion vector")
    // reads are post-delete on every path
    val got = store.read().get
    assert(got.count() === 397)
    assert(got.filter(col("k").isin(3L, 7L, 11L)).isEmpty)
    assert(store.readRange(0L, 20L).filter(col("k") === 7L).isEmpty)
    // read equivalence with the CoW purge on the same input
    val cow = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    cow.commit(base)
    cow.purge(Seq(3L, 7L, 11L).toDF("k"))
    assertSameRows(got, cow.read().get)
    // absent keys: no version churn at all
    store.purgeMor(Seq(9999999L).toDF("k"))
    assert(store.currentVersion.contains(1L))
    // replayed txn: a no-op (crash-redelivery safety, like mergeWith)
    store.purgeMor(Seq(20L).toDF("k"), txn = Some(1L))
    assert(store.currentVersion.contains(1L))
    assert(store.read().get.filter(col("k") === 20L).count() === 1)
  }

  test("purgeMor: tombstones are per-file — an upsert of a purged key is visible again") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    store.commit((0L until 400L).map(i => (i, s"p-$i")).toDF("k", "payload"))
    store.purgeMor(Seq(5L, 100L).toDF("k"))
    assert(store.read().get.filter(col("k").isin(5L, 100L)).isEmpty)
    // upsert key 5: the new row lands in a NEW file the tombstone
    // never mentions — a GLOBAL key tombstone would mask it forever
    store.mergeWith(Seq((5L, "reborn")).toDF("k", "payload"),
      identity[DataFrame], lastWriteWins)
    val after = store.read().get
    assert(after.filter(col("k") === 5L).collect()
      .map(_.getString(1)).toSeq == Seq("reborn"))
    // …while key 100 (different file, still carried) stays purged:
    // the fold's base was DV-applied, nothing resurrected
    assert(after.filter(col("k") === 100L).isEmpty)
    assert(after.count() === 399)
    // a later merge rewriting key 100's covering file must not
    // resurrect it either (the affected base reads post-delete)
    store.mergeWith(Seq((101L, "x")).toDF("k", "payload"),
      identity[DataFrame], lastWriteWins)
    val fin = store.read().get
    assert(fin.filter(col("k") === 100L).isEmpty)
    assert(fin.filter(col("k") === 101L).head.getString(1) == "x")
    assert(fin.count() === 399)
    // that rewrite dropped the last tombstone's file → the DV is gone
    assert(store.dvName(store.currentVersion.get).isEmpty,
      "tombstones of rewritten files must be shed, not carried")
  }

  test("purgeMor: optimize compacts the DV away and vacuum reclaims the tombstone file") {
    import spark.implicits._
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "k", filesPerCommit = 8)
    store.commit((0L until 400L).map(i => (i, s"p-$i")).toDF("k", "payload"))
    store.purgeMor(Seq(3L, 7L).toDF("k"))
    val dv1 = store.dvName(1L).get
    val dvPath = java.nio.file.Paths.get(root, "_deletes", dv1)
    assert(java.nio.file.Files.exists(dvPath))
    // the audit surface lists EXACTLY the outstanding tombstone keys
    assert(store.deletions().select(col("key")).distinct()
      .collect().map(_.getLong(0)).toSet == Set(3L, 7L))
    // optimize: the deferred rewrite — all-new files, tombstones
    // folded in, DV dropped from the new version's header
    store.optimize()
    assert(store.currentVersion.contains(2L))
    assert(store.dvName(2L).isEmpty, "optimize must compact the DV away")
    assert(store.deletions().isEmpty, "audit must read empty after compaction")
    val got = store.read().get
    assert(got.count() === 398)
    assert(got.filter(col("k").isin(3L, 7L)).isEmpty)
    // v1 (and its DV) is still in the retention window for in-flight
    // readers; one more commit pushes it out and vacuum reclaims the
    // tombstone file with the manifest
    store.commit(store.read().get)
    assert(!java.nio.file.Files.exists(dvPath),
      "vacuum must reclaim the out-of-retention deletion vector")
    assert(store.read().get.count() === 398)
  }

  test("type widening: an int column widened to long by a fold reads carried files without rewrite") {
    // r14 verdict task 7: the manifest-recorded schema is the read
    // schema for EVERY file, and Spark's vectorized parquet reader
    // widens int32 → BIGINT — so a type evolution is a header change,
    // never a table rewrite (the reference coerced types per-table at
    // write [ref: KuduManager.scala:86-108]; here old files stay
    // byte-identical and widen on read).
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k")
    store.commit((0 until 1000).map(k => (k.toLong, k * 2)).toDF("k", "a")
      .select(col("k"), col("a").cast("int").as("a")))
    assert(store.schemaOf(0L).get("a").dataType == IntegerType)
    val v0Files = store.manifest(0L).map(_.path).toSet
    // generation 1: a delta whose value NEEDS 64 bits — the fold's
    // union widens the table schema to LONG
    store.mergeWith(Seq((3L, 6000000000L)).toDF("k", "a"),
      identity[DataFrame], lastWriteWins)
    assert(store.schemaOf(1L).get("a").dataType == LongType,
      "the fold's widened schema must become the table schema")
    val after = store.read().get
    assert(after.schema("a").dataType == LongType)
    assert(after.filter(col("k") === 3L).head.getLong(1) == 6000000000L)
    // carried int32 files read through the widened schema, exactly
    assert(after.filter(col("k") === 500L).head.getLong(1) == 1000L)
    assert(after.count() === 1000L)
    val v1Files = store.manifest(1L).map(_.path).toSet
    assert((v0Files & v1Files).nonEmpty, "widening must not rewrite the table")
    // generation 2: a second fold over a still-carried narrow file —
    // the affected base reads widened, the republished schema stays wide
    store.mergeWith(Seq((700L, 7000000000L)).toDF("k", "a"),
      identity[DataFrame], lastWriteWins)
    assert(store.schemaOf(2L).get("a").dataType == LongType)
    val fin = store.read().get
    assert(fin.filter(col("k") === 700L).head.getLong(1) == 7000000000L)
    assert(fin.filter(col("k") === 10L).head.getLong(1) == 20L)
    // v0-era int32 files are STILL carried after two generations
    assert((v0Files & store.manifest(2L).map(_.path).toSet).nonEmpty,
      "two-generation widen must never rewrite untouched files")
    // the pruned-read paths widen too
    assert(store.readRange(10L, 10L).schema("a").dataType == LongType)
    assert(store.readRange(10L, 10L).head.getLong(1) == 20L)
  }

  test("evolution guard: drops and narrows are rejected at commit time on carried merges") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    store.commit((0L until 400L).map(i => (i, i * 2, s"s$i")).toDF("k", "a", "b"))
    val delta = Seq((3L, 6L, "x")).toDF("k", "a", "b") // localized → files carry
    // a fold that DROPS a column: carried files keep the bytes, and a
    // later re-add would resurrect stale values — reject at commit
    val eDrop = intercept[IllegalStateException] {
      store.mergeWith(delta, identity[DataFrame],
        (base, _) => base.drop("b"))
    }
    assert(eDrop.getMessage.contains("dropped column 'b'"), eDrop.getMessage)
    // a fold that NARROWS a column: carried long files can't serve int
    val eNarrow = intercept[IllegalStateException] {
      store.mergeWith(delta, identity[DataFrame],
        (base, _) => base.withColumn("a", col("a").cast("int")))
    }
    assert(eNarrow.getMessage.contains("'a'"), eNarrow.getMessage)
    // nothing committed by either rejected fold
    assert(store.currentVersion.contains(0L))
    assert(store.read().get.count() === 400L)
    // the SAME reshape via a full rewrite is legal (no carried files)
    store.commit(store.read().get.drop("b"))
    assert(store.currentVersion.contains(1L))
    assert(store.read().get.columns.toSeq == Seq("k", "a"))
    // widening on a carried merge still passes (the legal evolution)
    store.mergeWith(Seq((3L, 6000000000L)).toDF("k", "a"),
      identity[DataFrame], lastWriteWins)
    assert(store.read().get.filter(col("k") === 3L).head.getLong(1) == 6000000000L)
  }

  test("column rename: a metadata-only commit; carried files map forward by generation") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 4)
    store.commit((0L until 400L).map(i => (i, i * 2, s"s$i")).toDF("k", "a", "tag"))
    val v0Files = store.manifest(0L).map(_.path).toSet
    // the rename itself: no data file read or written
    store.renameColumn("a", "metric")
    assert(store.currentVersion.contains(1L))
    assert(store.manifest(1L).map(_.path).toSet == v0Files,
      "rename must be metadata-only")
    assert(store.schemaOf(1L).get.fieldNames.toSeq == Seq("k", "metric", "tag"))
    val got = store.read().get
    assert(got.columns.toSeq == Seq("k", "metric", "tag"))
    assert(got.filter(col("k") === 5L).head.getLong(1) == 10L,
      "old-name on-disk data must surface under the new name")
    assert(got.count() === 400L)
    // a fold AFTER the rename uses the new name; its new file is
    // written under the new name while old files keep mapping
    store.mergeWith(Seq((5L, 999L, "x")).toDF("k", "metric", "tag"),
      identity[DataFrame], lastWriteWins)
    val after = store.read().get
    assert(after.filter(col("k") === 5L).head.getLong(1) == 999L)
    assert(after.filter(col("k") === 300L).head.getLong(1) == 600L)
    assert(after.count() === 400L)
    // pruned-path reads map too
    assert(store.readRange(10L, 10L).head.getLong(1) == 20L)
    // guards: key column and occupied names are protected
    intercept[IllegalArgumentException] { store.renameColumn("k", "kk") }
    intercept[IllegalArgumentException] { store.renameColumn("tag", "metric") }
    intercept[IllegalArgumentException] { store.renameColumn("gone", "x") }
  }

  test("column rename: chains compose and a freed name can be re-added") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 4)
    store.commit((0L until 400L).map(i => (i, i * 3)).toDF("k", "a"))
    // chain: a -> b (v1), b -> c (v2); first-generation files map a->c
    store.renameColumn("a", "b")
    store.renameColumn("b", "c")
    val got = store.read().get
    assert(got.columns.toSeq == Seq("k", "c"))
    assert(got.filter(col("k") === 7L).head.getLong(1) == 21L)
    // the freed name "a" is re-added by a fold as a NEW column: old
    // files must null-fill it while their on-disk "a" still reads as c
    store.mergeWith(Seq((7L, 21L, 777L)).toDF("k", "c", "a"),
      identity[DataFrame],
      (base, d) => d.unionByName(
        base.join(d.select(col("k").as("dk")), col("k") === col("dk"),
          "left_anti").drop("dk"), allowMissingColumns = true))
    val evolved = store.read().get
    assert(evolved.columns.sorted.toSeq == Seq("a", "c", "k"))
    assert(evolved.filter(col("k") === 7L).select(col("a")).head.getLong(0) == 777L)
    assert(evolved.filter(col("k") === 8L).select(col("c")).head.getLong(0) == 24L,
      "pre-rename on-disk a must still read as c after the name was re-used")
    assert(evolved.filter(col("k") === 8L).select(col("a")).head.isNullAt(0),
      "the re-added column must null-fill pre-rename files")
    assert(evolved.count() === 400L)
    // relocatability: renames live in the header, not the store handle
    val rehandle = new SnapshotStore(spark, store.root, "k")
    assert(rehandle.read().get.filter(col("k") === 7L)
      .select(col("c")).head.getLong(0) == 21L)
  }

  test("column rename composes with type widening across generations") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 4)
    // v0: int32 column under the old name
    store.commit((0 until 400).map(i => (i.toLong, i)).toDF("k", "a")
      .select(col("k"), col("a").cast("int").as("a")))
    // v1: widen via a long delta
    store.mergeWith(Seq((3L, 6000000000L)).toDF("k", "a"),
      identity[DataFrame], lastWriteWins)
    // v2: rename the widened column
    store.renameColumn("a", "metric")
    val got = store.read().get
    assert(got.schema("metric").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(got.filter(col("k") === 3L).head.getLong(1) == 6000000000L)
    // a v0-era int32 file read through BOTH the rename mapping and
    // the widening updater
    assert(got.filter(col("k") === 200L).head.getLong(1) == 200L)
    assert(got.count() === 400L)
  }

  test("widen whitelist is pinned to what the vectorized parquet reader serves") {
    // ADVICE r15 (medium): a whitelisted-but-unservable pair passes
    // the commit gate and then every read of carried files throws —
    // so every admitted pair is EXECUTED here against a carried
    // narrow file, and the one lossy pair Spark's reader refuses
    // (long→double, excluded by SPARK-40876) is asserted rejected.
    import spark.implicits._
    import org.apache.spark.sql.types._
    val pairs: Seq[(DataType, DataType)] = Seq(
      (IntegerType, LongType), (IntegerType, DoubleType),
      (FloatType, DoubleType), (ShortType, IntegerType),
      (ShortType, LongType), (ByteType, ShortType),
      (ByteType, IntegerType), (ByteType, LongType))
    pairs.foreach { case (from, to) =>
      val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
      store.commit((0L until 120L).map(i => (i, i % 100L)).toDF("k", "a")
        .select(col("k"), col("a").cast(from).as("a")))
      assert(store.schemaOf(0L).get("a").dataType == from)
      store.mergeWith(
        Seq((3L, 91L)).toDF("k", "a")
          .select(col("k"), col("a").cast(to).as("a")),
        identity[DataFrame], lastWriteWins)
      assert(store.schemaOf(1L).get("a").dataType == to,
        s"$from→$to must be admitted and become the table schema")
      assert((store.manifest(0L).map(_.path).toSet &
        store.manifest(1L).map(_.path).toSet).nonEmpty,
        s"$from→$to merge must carry files for the pin to mean anything")
      // the read scans every carried narrow file through the wide
      // schema — an unservable pair fails exactly here
      val got = store.read().get
      assert(got.schema("a").dataType == to)
      val total = got.agg(sum(col("a").cast("long"))).head.getLong(0)
      assert(total == 5228L, s"$from→$to carried-file read corrupted values")
    }
    // the lossy pair the reader has NO updater for is rejected at
    // commit time, not admitted to fail at read time
    val st2 = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    st2.commit((0L until 120L).map(i => (i, i)).toDF("k", "a"))
    val e = intercept[IllegalStateException] {
      st2.mergeWith(Seq((3L, 1.5)).toDF("k", "a"),
        identity[DataFrame], lastWriteWins)
    }
    assert(e.getMessage.contains("'a'"), e.getMessage)
    assert(st2.currentVersion.contains(0L))
    assert(st2.read().get.count() === 120L)
  }

  test("conditional-put lease: an overrun holder never deletes the new holder's lease") {
    // ADVICE r15 (medium): release was an unconditional delete — a
    // holder whose lease was broken as stale would destroy the NEW
    // holder's lease on exit, re-opening the two-committer window.
    // Release is now a conditional delete on the claim token.
    import graft.store.ConditionalPutCommit
    import java.nio.file.{Files, Paths}
    val root = newRoot()
    val lease = Paths.get(root, ".LEASE")
    ConditionalPutCommit.exclusive(root) {
      // simulate the takeover: this holder overran its TTL, a taker
      // broke the lease and re-claimed with its own token
      Files.delete(lease)
      Files.writeString(lease, "taker-token")
    }
    assert(Files.exists(lease) && Files.readString(lease) == "taker-token",
      "overrun holder must not delete the new holder's lease")
    Files.delete(lease)
  }

  test("conditional-put: the pointer flip fails once the lease is lost") {
    // the ownership re-verify at the commit point: a holder broken as
    // stale must NOT publish over the new holder's commit
    import graft.store.ConditionalPutCommit
    import java.nio.file.{Files, Paths}
    val root = newRoot()
    val pointer = Paths.get(root, "LATEST")
    val e = intercept[IllegalStateException] {
      ConditionalPutCommit.exclusive(root) {
        ConditionalPutCommit.readPointer(pointer)
        Files.delete(Paths.get(root, ".LEASE"))
        Files.writeString(Paths.get(root, ".LEASE"), "taker-token")
        ConditionalPutCommit.flipPointer(pointer, 0L)
      }
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    assert(!Files.exists(pointer), "the losing flip must not publish")
    Files.delete(Paths.get(root, ".LEASE"))
  }

  test("conditional-put: readers never observe a torn pointer under concurrent flips") {
    // ADVICE r15 (low): readPointer used to read outside the pointer
    // monitor while flipPointer truncate-writes in place — a racing
    // reader could see an empty file and crash on toLong
    import graft.store.ConditionalPutCommit
    import java.nio.file.Paths
    val root = newRoot()
    val pointer = Paths.get(root, "LATEST")
    ConditionalPutCommit.flipPointer(pointer, 0L)
    @volatile var stop = false
    @volatile var err: Throwable = null
    val reader = new Thread(() => {
      while (!stop) {
        try { ConditionalPutCommit.readPointer(pointer); () }
        catch { case t: Throwable => err = t; stop = true }
      }
    })
    reader.start()
    (1L to 500L).foreach(v => ConditionalPutCommit.flipPointer(pointer, v))
    stop = true
    reader.join(10000)
    assert(err == null, s"reader observed a torn pointer: $err")
  }

  test("vacuum reclaims crash-orphaned DV staging dirs past the retention window") {
    // ADVICE r15 (low): dot-prefixed _deletes staging dirs orphaned by
    // a crash were never reclaimed (vacuum skipped all dot entries and
    // the attempt token means no later attempt overwrites them)
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "k", filesPerCommit = 8)
    store.commit((0L until 400L).map(i => (i, s"p-$i")).toDF("k", "payload"))
    store.purgeMor(Seq(3L).toDF("k"))
    val orphan = Paths.get(root, "_deletes", ".dv9.deadbeef.tmp")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-0.parquet"), "junk")
    // fresh staging dir: could be an in-flight writer's — left alone
    store.commit(store.read().get)
    assert(Files.exists(orphan),
      "a fresh staging dir may belong to a live writer")
    // aged past the retention window: a dead writer's garbage
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * SnapshotStore.dvStageRetentionMs))
    store.commit(store.read().get)
    assert(!Files.exists(orphan),
      "vacuum must reclaim an out-of-retention orphaned staging dir")
    assert(store.read().get.count() === 399L)
  }

  test("purgeMor masks rows when the store root needs URI encoding (space, plus)") {
    // ADVICE r15 (low): input_file_name() is URL-encoded; comparing it
    // to raw manifest paths made the DV anti-join miss silently on
    // such roots — purged rows became readable again
    import spark.implicits._
    // space → %20 in input_file_name(); '+' stays literal in a URI
    // path but form-decoding would corrupt it to a space (the %2B
    // protection) — the sandbox JVM's fs encoding is ASCII-only, so
    // non-ASCII roots can't be created here, but they ride the same
    // percent-decode path as the space
    val root = tempDir("graft store+enc ").toString
    val store = new SnapshotStore(spark, root, "k", filesPerCommit = 8)
    store.commit((0L until 100L).map(i => (i, s"p$i")).toDF("k", "payload"))
    store.purgeMor(Seq(3L, 7L).toDF("k"))
    val got = store.read().get
    assert(got.count() === 98L,
      "MoR tombstones must mask on a URI-encoded root")
    assert(got.filter(col("k").isin(3L, 7L)).isEmpty)
  }

  test("purgeMor steady state: K batches accumulate bounded DV growth; optimize+vacuum restore CoW economics") {
    // r15 verdict task 8: the MoR weekly-forget story at 100 TB rests
    // on tombstone compaction actually bounding steady-state cost.
    // Run K successive purge batches with NO compaction between them
    // and assert the economics the design claims: (a) no data file is
    // ever rewritten (the purge bill is metadata), (b) the live DV
    // grows additively in purged keys — read amplification is the
    // tombstone count, nothing superlinear, (c) reads stay correct the
    // whole time, and (d) ONE optimize + retention-exit restores the
    // CoW end-state: empty DV, equal bytes, tombstone files reclaimed.
    import spark.implicits._
    val root = newRoot()
    // retention must span the whole accumulation phase, or the
    // per-commit vacuum reclaims early DVs mid-experiment (that
    // reclamation is itself asserted at the end)
    val store = new SnapshotStore(spark, root, "k", filesPerCommit = 8,
      keepVersions = 6)
    val n = 400L
    store.commit((0L until n).map(i => (i, s"p-$i")).toDF("k", "payload"))
    val v0Files = store.manifest(0L).map(_.path).toSet
    val batches: Seq[Seq[Long]] =
      (0 until 5).map(b => Seq(10L + b, 100L + 2L * b, 300L + 3L * b))
    var purged = Set.empty[Long]
    batches.zipWithIndex.foreach { case (ks, i) =>
      store.purgeMor(ks.toDF("k"), txn = Some(i + 1L))
      purged ++= ks
      val v = store.currentVersion.get
      // (a) carried by reference: the manifest is v0's, bit for bit
      assert(store.manifest(v).map(_.path).toSet == v0Files,
        s"batch $i must rewrite no data file")
      // (b) bounded growth: on this range-clustered table each key has
      // exactly one covering file, so the live DV is exactly the
      // purged-key set — the per-read anti-join mass IS |purged|
      val dv = store.deletions()
      assert(dv.count() === purged.size.toLong,
        s"batch $i: DV rows must equal purged keys (1 covering file/key)")
      assert(dv.select(col("key")).distinct().collect()
        .map(_.getLong(0)).toSet == purged)
      // (c) reads stay correct at every step
      assert(store.read().get.count() === n - purged.size)
    }
    // K versions accumulated K DV files on disk (one per purge commit)
    val deletesDir = java.nio.file.Paths.get(root, "_deletes")
    val dvDirs = java.nio.file.Files.list(deletesDir)
      .toArray.map(_.toString).filterNot(_.contains("/."))
    assert(dvDirs.length === batches.size,
      "one committed DV per purge batch before compaction")
    // (d) the deferred rewrite: optimize folds all tombstones in...
    store.optimize()
    assert(store.dvName(store.currentVersion.get).isEmpty)
    assert(store.deletions().isEmpty)
    val cow = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 8)
    cow.commit((0L until n).map(i => (i, s"p-$i")).toDF("k", "payload"))
    cow.purge(purged.toSeq.toDF("k"))
    assertSameRows(store.read().get, cow.read().get)
    // ...and once the purge versions exit retention, vacuum reclaims
    // every accumulated tombstone file — steady state is DV-free
    (0 until 5).foreach { _ => store.commit(store.read().get) }
    val left = java.nio.file.Files.list(deletesDir)
      .toArray.map(_.toString).filterNot(_.contains("/."))
    assert(left.isEmpty,
      s"vacuum must reclaim all accumulated DV files, left: ${left.toSeq}")
    assert(store.read().get.count() === n - purged.size)
  }

  test("write-time file stats equal the stats-job definition bit-for-bit") {
    // r17: writeDataFiles collects per-file manifest stats (rows, key
    // range, secondary Bloom) DURING the write via observe() +
    // FileStatsAgg instead of a second job re-reading the output.
    // This pins the new path to the old job's definition: for every
    // committed file, rows/min/max must equal a direct recount and
    // the Bloom blob must be BYTE-IDENTICAL to bloom_agg(xxhash64(c))
    // over that file — the probe side depends on exact bit equality.
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k",
      indexCol = Some("grp"), filesPerCommit = 4)
    store.commit((0L until 1000L).map(i => (i, s"g${i % 7}", i * 3))
      .toDF("k", "grp", "payload"))
    val entries = store.manifest(store.currentVersion.get)
    assert(entries.size === 4, "range clustering contract: 4 files")
    entries.foreach { e =>
      val f = spark.read.parquet(e.path)
      assert(f.count() === e.rows)
      val mm = f.agg(min(col("k")), max(col("k"))).head()
      assert(mm.getLong(0) === e.minKey && mm.getLong(1) === e.maxKey)
      val jobBlob = f.agg(graft.functions.bloom_agg(xxhash64(col("grp")),
        numBits = 1 << 14)).head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(e.bloom.get, jobBlob),
        s"write-time Bloom blob must be bit-identical for ${e.path}")
    }
    // ranges are disjoint (the manifest-pruning contract)
    val sorted = entries.sortBy(_.minKey)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey < b.minKey)
      case _ => ()
    }
  }

  /** One parsed change record in [[CdcOps.parse]]'s column contract:
    * (table, op_type, current_ts, id, user_id, event_type, value).
    */
  private type Change =
    (String, String, Option[String], Long, Long, Option[String], Option[Double])

  private def changeFrame(rows: Seq[Change]): DataFrame = {
    import spark.implicits._
    rows.toDF("table", "op_type", "current_ts", "id", "user_id", "event_type", "value")
  }

  test("CDC merge in k slices equals the whole-log soft-delete snapshot (randomized)") {
    Seq(11L, 23L, 37L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      var nextId = 0L
      def ts(): Option[String] =
        // few distinct seconds, so (current_ts) ties are common and the
        // id decides; one change in ten has no timestamp at all
        if (rng.nextInt(10) == 0) None
        else Some(f"2024-01-01 00:00:${rng.nextInt(6)}%02d")
      def change(op: String, key: Long, at: Option[String] = ts()): Change = {
        nextId += 1
        ("db.events", op, at, nextId, key,
          Some(s"e${rng.nextInt(3)}"), Some(rng.nextInt(1000).toDouble))
      }
      def randomOp(): String = Seq("I", "U", "U", "D")(rng.nextInt(4))
      val k = 2 + rng.nextInt(3)
      // slice 0 seeds keys [1000, 1100); later slices reach below and
      // above every file's range, and a D of key 1000 is followed by a
      // later U of it
      val first = (0 until 300).map(_ => change(randomOp(), 1000L + rng.nextInt(100))) :+
        change("D", 1000L, Some("2024-01-01 00:00:08"))
      val later = (1 until k).map { s =>
        val fresh = (0 until 150).map(_ => change(randomOp(), 900L + rng.nextInt(300)))
        val revive =
          if (s == 1) Seq(change("U", 1000L, Some("2024-01-01 00:00:09"))) else Nil
        fresh ++ revive
      }
      // exact replays (same record, same (current_ts, id)) inside a
      // slice and across slices
      val withReplays = (first +: later).zipWithIndex.map { case (slice, i) =>
        val earlier = ((first +: later).take(i + 1)).flatten
        slice ++ Seq.fill(10)(earlier(rng.nextInt(earlier.size)))
      }
      // an all-new-key delta: keys below and above everything stored
      val allNew = (1L to 5L).map(key => change("I", key)) ++
        (5000L to 5004L).map(key => change(randomOp(), key))
      val slices = withReplays :+ allNew
      val store = new SnapshotStore(spark, newRoot(), "user_id")
      slices.indices.foreach { i =>
        store.merge(changeFrame(slices(i)))
        val log = changeFrame(slices.take(i + 1).flatten)
        withClue(s"seed $seed, after slice $i of ${slices.size}: ") {
          assertSameRows(store.read().get,
            CdcOps.softDeleteSnapshot(log, col("user_id")))
        }
        if (i == 0)
          assert(store.readRange(1000L, 1000L).head().getAs[String]("delete_state") == "1")
      }
      val revived = store.readRange(1000L, 1000L).collect()
      assert(revived.length == 1 &&
        revived.head.getAs[String]("delete_state") == "0",
        s"seed $seed: a U after a D must revive the key")
    }
  }

  test("CDC merge tie rule: exact replays collapse, and a tied later batch wins") {
    val store = new SnapshotStore(spark, newRoot(), "user_id")
    val at = Some("2024-01-01 00:00:01")
    val a: Change = ("db.events", "I", at, 7L, 1L, Some("e0"), Some(1.0))
    val other: Change = ("db.events", "I", at, 8L, 2L, Some("e1"), Some(5.0))
    // a replay inside one batch keeps one row
    store.merge(changeFrame(Seq(a, a, other)))
    assert(store.read().get.count() == 2L)
    // an exact replay in a later batch changes nothing
    store.merge(changeFrame(Seq(a)))
    assertSameRows(store.read().get,
      CdcOps.softDeleteSnapshot(changeFrame(Seq(a, a, other, a)), col("user_id")))
    // a different record under the same (current_ts, id): the later
    // batch wins the tie, as compactSnapshot's rule has it
    store.merge(changeFrame(Seq(a.copy(_7 = Some(2.0)))))
    assert(store.readRange(1L, 1L).head().getAs[Double]("value") == 2.0)
    store.merge(changeFrame(Seq(a.copy(_2 = "D"))))
    val deleted = store.readRange(1L, 1L).head()
    assert(deleted.getAs[String]("delete_state") == "1" && deleted.isNullAt(
      deleted.fieldIndex("value")))
    assertSameRows(store.readRange(2L, 2L),
      CdcOps.softDeleteSnapshot(changeFrame(Seq(other)), col("user_id")))
  }

  test("CDC merges stay on the observed stats path") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "user_id", filesPerCommit = 8)
    def check(what: String): Unit = {
      assert(!store.lastStatsFallback, s"$what fell back to the stats job")
      store.manifest(store.currentVersion.get).foreach { e =>
        val r = spark.read.parquet(e.path)
          .agg(count(lit(1)), min(col("user_id")), max(col("user_id"))).head()
        assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((e.rows, e.minKey, e.maxKey)),
          s"$what: manifest stats disagree with ${e.path}")
      }
    }
    val log = parsedLog
    // fewer distinct keys than filesPerCommit: some range partitions
    // stay empty, on the first commit and on an all-new-key merge
    store.merge(log.filter(col("user_id") === log.agg(min(col("user_id"))).as[Long].head()))
    check("a one-key first commit")
    store.merge(log)
    check("a full-log merge")
    store.merge(log.filter(pmod(col("id"), lit(7)) === 0)
      .withColumn("current_ts", lit("2099-01-01 00:00:00.000000")))
    check("a rewriting merge")
    store.merge(log.limit(2).withColumn("user_id", col("user_id") + 1000000L))
    check("a two-key all-new merge")
  }

  test("a TSV-manifest copy-on-write CDC merge runs at most 4 Spark jobs") {
    val store = new SnapshotStore(spark, newRoot(), "user_id")
    val log = parsedLog
    store.merge(log.filter(pmod(col("id"), lit(3)) =!= 0))
    // a micro-batch as the streaming sink hands it over: spread over
    // the source's partitions and persisted. (When one input partition
    // holds most of base ∪ delta, Spark's range sampling re-samples it:
    // one more job.)
    val delta = log.filter(pmod(col("id"), lit(3)) === 0).repartition(4).persist()
    try {
      delta.count()
      val (_, rec) = SparkEvents.record(spark)(store.merge(delta))
      // planning pass, range sample, range exchange, write
      assert(rec.jobs.size <= 4, s"the merge ran ${rec.jobs.size} jobs: ${rec.jobs}")
    } finally delta.unpersist()
    assertSameRows(store.read().get, CdcOps.softDeleteSnapshot(log, col("user_id")))
  }

  test("a fatal error during a merge's write surfaces as itself, not as a retryable conflict") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
    // planning any frame that carries a `_fault` column throws `fault`:
    // an error raised inside the store's write, on the driver
    @volatile var fault: Throwable = null
    object FailPlanning extends SparkStrategy {
      def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
        case p: Project if p.projectList.exists(_.name == "_fault") => throw fault
        case _ => Nil
      }
    }
    def attempt(e: Throwable): Throwable = {
      val root = newRoot()
      val store = new SnapshotStore(spark, root, "k")
      store.commit(Seq((1L, 1L), (2L, 2L)).toDF("k", "v"))
      fault = e
      // a concurrent writer wins while this merge folds, so the
      // pointer has moved past the attempt's basis when its write fails
      val fold = (_: DataFrame, d: DataFrame) => {
        new SnapshotStore(spark, root, "k").commit(Seq((3L, 3L)).toDF("k", "v"))
        d.withColumn("_fault", lit(1))
      }
      intercept[Throwable](store.mergeWith(
        spark.range(1L, 2L).select(col("id").as("k"), lit(9L).as("v")),
        identity[DataFrame], fold))
    }
    spark.experimental.extraStrategies = Seq(FailPlanning)
    try {
      val oom = new OutOfMemoryError("injected")
      assert(attempt(oom) eq oom, "a fatal error must not be relabelled retryable")
      val io = new java.io.IOException("injected")
      attempt(io) match {
        case c: graft.store.ConcurrentCommitException =>
          assert(c.getCause eq io, "the retryable conflict must chain its cause")
        case other => fail(s"a non-fatal write error under a moved pointer must be " +
          s"a retryable conflict, got $other")
      }
    } finally spark.experimental.extraStrategies = Nil
  }

  /** A lookup's rows against the Spark scan's: `read().get.filter(cond)`
    * on the same store, as a multiset, under the same schema.
    */
  private def assertLookup(store: SnapshotStore, got: DataFrame,
                           cond: org.apache.spark.sql.Column, what: String): Unit = {
    val all = store.read().get
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(got.schema == all.schema, s"$what: schema")
    assert(rows(got) == rows(all.filter(cond)), what)
  }

  test("local lookups equal the Spark scan on randomized stores with evolution, renames and DVs") {
    import spark.implicits._
    val lwwAdd = (b: DataFrame, d: DataFrame) => d.unionByName(
      b.join(d.select(col("k").as("dk")), col("k") === col("dk"), "left_anti")
        .drop("dk"), allowMissingColumns = true)
    Seq(5L, 19L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val n = 300 + rng.nextInt(200)
      val store = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 4)
      // v0: even keys, an INT column and a payload
      store.commit((0 until n).map(i => (i * 2L, rng.nextInt(1000), s"p$i")).toDF("k", "a", "payload")
        .select(col("k"), col("a").cast("int").as("a"), col("payload")))
      // a fold widens `a` to BIGINT; untouched files stay int32 on disk
      store.mergeWith(Seq((2L * rng.nextInt(n), 6000000000L, "wide")).toDF("k", "a", "payload"),
        identity[DataFrame], lwwAdd)
      // a column added after the files were written
      store.mergeWith(Seq((2L * rng.nextInt(n), 7L, "x", "added")).toDF("k", "a", "payload", "extra"),
        identity[DataFrame], lwwAdd)
      // a rename: files from before it are a second generation
      store.renameColumn("payload", "body")
      store.mergeWith(Seq((2L * rng.nextInt(n) + 1L, 8L, "after", "e")).toDF("k", "a", "body", "extra"),
        identity[DataFrame], lwwAdd)
      // merge-on-read purge, then a re-upsert of one purged key
      val purged = Seq.fill(6)(2L * rng.nextInt(n))
      store.purgeMor(purged.toDF("k"))
      store.mergeWith(Seq((purged.head, 9L, "reborn", "r")).toDF("k", "a", "body", "extra"),
        identity[DataFrame], lwwAdd)
      val v = store.currentVersion.get
      assert(store.dvName(v).isDefined, s"seed $seed: the store keeps a deletion vector")
      assert(store.renamesOf(v).nonEmpty)
      val m = store.manifest(v)
      // every file boundary, just outside it, the purged keys, keys
      // outside every file (an empty plan) and random keys
      val points = m.flatMap(e => Seq(e.minKey, e.maxKey, e.minKey - 1, e.maxKey + 1)) ++
        purged ++ Seq(-7L, 10L * n) ++ Seq.fill(10)(rng.nextInt(2 * n).toLong)
      points.distinct.foreach { k =>
        assertLookup(store, store.readRange(k, k), col("k") === k, s"seed $seed: key $k")
      }
      val ranges = Seq.fill(6) {
        val lo = rng.nextInt(2 * n).toLong - 20L
        (lo, lo + rng.nextInt(150))
      } ++ Seq((-100L, -1L), (10L * n, 11L * n), (m.map(_.minKey).min, m.map(_.maxKey).max))
      ranges.foreach { case (lo, hi) =>
        assertLookup(store, store.readRange(lo, hi), col("k").between(lo, hi),
          s"seed $seed: range $lo-$hi")
      }
    }
  }

  test("local readPoint: an Int probe against a BIGINT index column, with tombstones") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", indexCol = Some("grp"))
    store.commit((0L until 400L).map(k => (k, k / 50, s"p$k")).toDF("k", "grp", "payload"))
    assert(store.schemaOf(0L).get("grp").dataType == org.apache.spark.sql.types.LongType)
    store.purgeMor(Seq(3L, 60L, 399L).toDF("k"))
    (0 to 8).foreach { g =>
      val got = store.readPoint(g) // an Int probe
      assertLookup(store, got, col("grp") === g.toLong, s"group $g")
      assert(got.count() == (if (g == 8) 0L else if (g == 0 || g == 1 || g == 7) 49L else 50L))
    }
  }

  test("lookups on a small store start no Spark job; a plan above the limit runs the scan") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k", indexCol = Some("grp"))
    store.commit((0L until 400L).map(k => (k, k / 50, s"p$k")).toDF("k", "grp", "payload"))
    store.purgeMor(Seq(3L).toDF("k"))
    val ((point, byIndex, gone), rec) = SparkEvents.record(spark) {
      (store.readRange(5L, 5L).collect(), store.readPoint(1L).collect(),
        store.readRange(3L, 3L).collect())
    }
    assert(rec.jobs.isEmpty, s"local lookups started jobs: ${rec.jobs}")
    assert(point.map(_.getString(2)).toSeq == Seq("p5"))
    assert(byIndex.length == 50 && gone.isEmpty)
    // one file holding more rows than the limit: the Spark scan, same rows
    val big = new SnapshotStore(spark, newRoot(), "k", filesPerCommit = 1)
    big.commit(spark.range(SnapshotStore.LocalReadMaxRows + 1)
      .select(col("id").as("k"), (col("id") * 2).as("v")))
    assert(big.plannedFiles(7L, 7L).map(_.rows).sum > SnapshotStore.LocalReadMaxRows)
    val (rows, bigRec) = SparkEvents.record(spark)(big.readRange(7L, 9L).collect())
    assert(bigRec.jobs.nonEmpty, "a plan above the limit must run the Spark scan")
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((7L, 14L), (8L, 16L), (9L, 18L)))
  }

  test("the local reader is reused, and rebuilt after a session conf change") {
    import spark.implicits._
    val store = new SnapshotStore(spark, newRoot(), "k")
    store.commit((0L until 400L).map(k => (k, s"p$k")).toDF("k", "payload"))
    store.readRange(1L, 1L).collect()
    val built = store.localReaderBuilds.get()
    (0 until 20).foreach(i => store.readRange(i, i + 3).collect())
    assert(store.localReaderBuilds.get() == built, "an unchanged conf must reuse the reader")
    val key = "spark.sql.parquet.columnarReaderBatchSize"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "7")
    try {
      assertLookup(store, store.readRange(3L, 40L), col("k").between(3L, 40L), "after conf change")
      assert(store.localReaderBuilds.get() == built + 1,
        "a lookup after a conf change must rebuild the reader")
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    store.readRange(1L, 1L).collect()
    assert(store.localReaderBuilds.get() == built + 2, "restoring the conf rebuilds again")
  }

  test("local lookups, failed ones included, do not grow the open file descriptors") {
    import spark.implicits._
    val fds = new java.io.File("/proc/self/fd")
    assume(fds.isDirectory, "needs /proc/self/fd")
    val store = new SnapshotStore(spark, newRoot(), "k")
    store.commit((0L until 400L).map(k => (k, s"p$k")).toDF("k", "payload"))
    store.purgeMor(Seq(4L, 200L).toDF("k")) // the deletion vector is read too
    // an Int probe against a STRING index column casts every decoded
    // value (ANSI), and a non-numeric one raises mid-file: the reader
    // that exception abandons must be closed too
    val failing = new SnapshotStore(spark, newRoot(), "k", indexCol = Some("tag"))
    failing.commit((0L until 400L).map(k => (k, if (k < 3) "5" else s"t$k")).toDF("k", "tag"))
    (0 until 20).foreach(i => store.readRange(i, i).collect())
    intercept[Exception](failing.readPoint(5).collect())
    val before = fds.list().length
    (0 until 500).foreach(i => store.readRange(i % 400, i % 400).collect())
    (0 until 100).foreach(_ => intercept[Exception](failing.readPoint(5).collect()))
    val after = fds.list().length
    assert(after - before < 50,
      s"open descriptors went from $before to $after over 600 lookups")
  }

  test("a vacuum failure after the pointer flip never fails the commit that landed") {
    import spark.implicits._
    val root = newRoot()
    val store = new SnapshotStore(spark, root, "k", keepVersions = 2)
    store.commit(Seq((1L, "a")).toDF("k", "payload"))
    store.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "payload"))
    // v2's vacuum drops m0 and reads it first: a line it cannot parse
    // makes that vacuum throw after the flip
    java.nio.file.Files.writeString(java.nio.file.Paths.get(root, "_manifests", "m0.tsv"),
      "# graft-manifest v1 key=k\nnot a manifest line\n")
    val v = store.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "payload"))
    assert(v == 2L)
    assert(store.currentVersion.contains(2L))
    assert(store.read().get.count() == 3L)
  }
}
