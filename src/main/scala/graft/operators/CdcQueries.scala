package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.cdc.{AvroChangeModel, CdcOps, ChangeModel}
import graft.sources.Tables

/** A-block (SURVEY.md §2): the reference's CDC semantics exposed as
  * oracle-checkable batch queries. The change stream is derived
  * deterministically from `events` (ChangeModel.changeLines), so the
  * DuckDB oracle can recompute every result from the raw parquet.
  */
object CdcQueries {

  // batch operators read the MATERIALIZED change-line table (the
  // landed input a real CDC consumer starts from — to_json fabrication
  // is paid once per corpus, not once per query); the parse itself is
  // the operator under test and runs fresh every time
  private def parsed(spark: SparkSession, dir: String): DataFrame =
    CdcOps.parse(ChangeModel.linesTable(spark, dir))

  /** A1: JSON parse round-trip. */
  def qCdcParse(spark: SparkSession, dir: String): DataFrame =
    parsed(spark, dir)
      .select(col("id"), col("user_id"), col("event_type"), col("value"),
        col("op_type"), col("current_ts"))
      .orderBy(col("id"))

  /** A1-Avro (r15 verdict task 6): the identical change records
    * carried as binary Avro (schema-registry shape) and decoded
    * in-stream — the decode yields [[CdcOps.parse]]'s exact column
    * contract, so the oracle is q_cdc_parse's SQL verbatim and every
    * downstream A2-A6 operator works on the Avro feed unchanged.
    */
  def qCdcParseAvro(spark: SparkSession, dir: String): DataFrame =
    AvroChangeModel.parseAvro(AvroChangeModel.avroLinesTable(spark, dir))
      .select(col("id"), col("user_id"), col("event_type"), col("value"),
        col("op_type"), col("current_ts"))
      .orderBy(col("id"))

  /** A3 over the Avro feed: LWW upsert snapshot routed through the
    * SAME CdcOps.snapshot kernel as q_cdc_upsert — proving the decode
    * output drives the existing pipeline end-to-end (oracle is
    * q_cdc_upsert's SQL verbatim; byte-identical snapshot).
    */
  def qCdcUpsertAvro(spark: SparkSession, dir: String): DataFrame =
    CdcOps.snapshot(
        AvroChangeModel.parseAvro(AvroChangeModel.avroLinesTable(spark, dir)),
        col("user_id"))
      .select(col("user_id"), col("id").as("last_id"), col("op_type").as("last_op"),
        col("value").as("last_value"), col("current_ts").as("last_ts"))
      .orderBy(col("user_id"))

  /** A5: stringly-typed payload coerced against the target schema. */
  def qCdcTypemap(spark: SparkSession, dir: String): DataFrame = {
    val raw = CdcOps.parseRaw(ChangeModel.linesTable(spark, dir))
    CdcOps.coerce(raw, Seq(
        "ID" -> LongType, "USER_ID" -> LongType,
        "EVENT_TYPE" -> StringType, "VALUE" -> DoubleType))
      .select(col("id"), col("user_id"), col("event_type"), col("value"), col("op_type"))
      .orderBy(col("id"))
  }

  /** A3: last-write-wins upsert snapshot keyed on user_id. */
  def qCdcUpsert(spark: SparkSession, dir: String): DataFrame =
    CdcOps.snapshot(parsed(spark, dir), col("user_id"))
      .select(col("user_id"), col("id").as("last_id"), col("op_type").as("last_op"),
        col("value").as("last_value"), col("current_ts").as("last_ts"))
      .orderBy(col("user_id"))

  /** A3 (compaction tier): base snapshot + delta batch folded by
    * compactSnapshot must equal the one-shot snapshot over the whole
    * log — the oracle is exactly q_cdc_upsert's. The split key
    * (id % 3) deliberately interleaves "old" and "new" rows to prove
    * the merge is order-correct, not just append-friendly.
    */
  def qCdcCompact(spark: SparkSession, dir: String): DataFrame = {
    val p = parsed(spark, dir)
    val base = CdcOps.snapshot(p.filter(pmod(col("id"), lit(3)) =!= 0), col("user_id"))
    CdcOps.compactSnapshot(base, p.filter(pmod(col("id"), lit(3)) === 0), "user_id")
      .select(col("user_id"), col("id").as("last_id"), col("op_type").as("last_op"),
        col("value").as("last_value"), col("current_ts").as("last_ts"))
      .orderBy(col("user_id"))
  }

  /** A4: snapshot with logical deletes. */
  def qCdcSoftdelete(spark: SparkSession, dir: String): DataFrame =
    CdcOps.softDeleteSnapshot(parsed(spark, dir), col("user_id"))
      .select(col("user_id"), col("id").as("last_id"), col("delete_state"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"))

  /** A2 + A6: route the stream to its table, emit audit rows. */
  def qCdcAudit(spark: SparkSession, dir: String): DataFrame =
    CdcOps.audit(CdcOps.routeTable(parsed(spark, dir), "events"))
      .orderBy(col("id").cast("long"))

  /** A7: per-bucket sync metrics (tables, total, rec/s). */
  def qSyncMetrics(spark: SparkSession, dir: String): DataFrame =
    CdcOps.syncMetrics(parsed(spark, dir))

  /** A8: offset-range bookkeeping. */
  def qOffsetLog(spark: SparkSession, dir: String): DataFrame =
    CdcOps.offsetLog(parsed(spark, dir))

  /** A8: replay from stored offsets (ReadByAssignOffset as batch). */
  def qCdcReplay(spark: SparkSession, dir: String): DataFrame =
    CdcOps.replayFromOffsets(parsed(spark, dir),
        Map(0 -> (10L, 500L), 1 -> (0L, 250L), 2 -> (100L, 600L), 3 -> (5L, 999L)))
      .select(col("id"), col("user_id"), col("op_type"), col("value"))
      .orderBy(col("id"))

  /** A23: snapshot reconciliation diff — the audit a CDC operator
    * runs to answer "what changed between the table as of T and the
    * table now": per key added / removed / changed / unchanged, where
    * "live" drops keys whose last operation is a delete (so a key
    * deleted after T really shows as removed). One full-outer join of
    * two *snapshot-sized* frames on the snapshot key — the same
    * shuffle key as the snapshots themselves, so AQE can reuse the
    * exchange; nothing here rescans the raw log twice beyond the two
    * snapshot builds. current_ts is the second-resolution string the
    * reference's OGG format carries; its lexicographic order is
    * chronological, so the cutoff is a plain string compare.
    */
  def qTableDiff(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "2024-01-15 00:00:00"
    // Both snapshots in ONE pass over one parse of the log: the
    // last-write-wins ordering (current_ts, id) is exactly the
    // lexicographic order of struct(current_ts, id, ...), so a plain
    // conditional struct-max per key is each snapshot's head row —
    // no second log scan, no self-join, one shuffle on the key.
    val lastRow = struct(col("current_ts"), col("id"), col("op_type"))
    val heads = parsed(spark, dir).groupBy(col("user_id"))
      .agg(max(when(col("current_ts") <= cutoff, lastRow)).as("o"),
        max(lastRow).as("n"))
    val oldLive = col("o").isNotNull && col("o.op_type") =!= "D"
    val newLive = col("n.op_type") =!= "D"
    heads
      .filter(oldLive || newLive)
      .select(col("user_id"),
        when(oldLive, col("o.id")).as("old_last_id"),
        when(newLive, col("n.id")).as("new_last_id"))
      .withColumn("kind",
        when(col("old_last_id").isNull, "added")
          .when(col("new_last_id").isNull, "removed")
          .when(col("old_last_id") === col("new_last_id"), "unchanged")
          .otherwise("changed"))
      .orderBy(col("user_id"))
  }

  /** A24: SCD2 dimension history from the change log — one row per
    * version with its validity interval and a current flag. The
    * full-history answer to the A3 snapshot's "latest only".
    */
  def qCdcScd2(spark: SparkSession, dir: String): DataFrame =
    CdcOps.scd2History(parsed(spark, dir), col("user_id"))
      .select(col("user_id"), col("version_n"), col("id"), col("op_type"),
        col("event_type"), col("value"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .orderBy(col("user_id"), col("version_n"))

  /** A27: point-in-time feature join — the feature-store
    * "training-set build" on top of the A25 history: each purchase
    * event (the label row) is enriched with the user's profile state
    * valid AT the purchase timestamp — the latest non-purchase
    * change at or before ts — plus the number of profile versions
    * that existed by then and the feature's age in microseconds.
    * Leakage-free by construction: label rows and dimension rows are
    * disjoint event sets, and only earlier dimension rows flow into
    * a label. Spark-first shape: tagged union + ONE window over
    * user_id (single shuffle), `last(struct)` carrying every feature
    * column at once and a running count(f) for the version number —
    * no range-join explosion, no per-attribute window stack. At
    * 100 TB this is the standard sort-merge as-of shape: both sides
    * shuffle once on the entity key and stream through the sort.
    * [ref: KuduManager.scala:72-114 — the reference keeps only
    * last-write-wins state; this is the versioned point-in-time read
    * that state cannot serve]
    */
  def qPitFeatures(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    val dim = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("ord_id"),
        struct(col("event_id").as("feat_id"), col("event_type").as("feat_type"),
          col("value").as("feat_value"),
          unix_micros(col("ts")).as("feat_ts_us")).as("f"),
        lit(null: String).cast("long").as("label_id"))
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("ord_id"),
        lit(null: String).cast(dim.schema("f").dataType).as("f"),
        col("event_id").as("label_id"))
    // (user_id, ts) pairs are unique in the corpus; ord_id still
    // totalizes the order so the plan is deterministic under ties
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("ord_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionAll(labels)
      .withColumn("pit", last(col("f"), ignoreNulls = true).over(w))
      .withColumn("n_versions", count(col("f")).over(w))
      .filter(col("label_id").isNotNull)
      .select(col("label_id").as("event_id"), col("user_id"),
        unix_micros(col("ts")).as("label_ts_us"),
        col("pit.feat_id").as("feat_id"),
        col("pit.feat_type").as("feat_type"),
        col("pit.feat_value").as("feat_value"),
        col("n_versions"),
        (unix_micros(col("ts")) - col("pit.feat_ts_us")).as("feat_age_us"))
      .orderBy(col("event_id"))
  }

  /** A2 under the gate: per-table routing of a MIXED multi-table
    * change stream (the reference consumes one topic carrying many
    * tables and fans out per target [ref: KuduManager.scala:66-70]).
    * The deterministic mixed stream publishes even event ids as
    * PUB.EVENTS and odd as PUB.ORDERS; routing to "orders" must keep
    * exactly the odd-id records with the normalized table name.
    */
  def qCdcRoute(spark: SparkSession, dir: String): DataFrame = {
    val lines = ChangeModel.mixedLinesTable(spark, dir)
    CdcOps.routeTable(CdcOps.parse(lines), "orders")
      .select(col("id"), col("user_id"), col("op_type"), col("tab_name"))
      .orderBy(col("id"))
  }

  /** A14 under the gate: dead-letter quarantine. Lines whose id is
    * divisible by 7 are deterministically corrupted (a junk prefix
    * breaks the JSON), so the split is recomputable by the oracle:
    * the valid side must be exactly the uncorrupted records, and
    * every row carries the total quarantine count (the raw lines held
    * for replay — a silent skip at scale hides poison messages).
    */
  def qCdcQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val lines = ChangeModel.linesTable(spark, dir)
      .select(
        when(pmod(col("id"), lit(7)) === 0, concat(lit("!poison!"), col("line")))
          .otherwise(col("line")).as("line"))
    val split = CdcOps.parseWithQuarantine(lines)
    val nQuar = split.filter(!col("is_valid"))
      .agg(count(lit(1)).as("n_quarantined"))
    split.filter(col("is_valid"))
      .select(col("id"), col("user_id"), col("event_type"), col("value"),
        col("op_type"))
      .crossJoin(broadcast(nQuar))
      .orderBy(col("id"))
  }

  /** A41: dead-letter replay — the RECOVERY half of A14's quarantine
    * (route-and-count is useless unless repaired rows can rejoin the
    * table): the poisoned lines are repaired (strip the corruption
    * prefix), re-parsed through the SAME quarantine parser, unioned
    * with the first-pass valid rows, and upserted — and the result
    * must equal the snapshot of an incident-free feed, which is
    * exactly q_cdc_upsert's oracle plus the repair count. Replay is
    * a second pass over ONLY the quarantined slice (1/7 of the
    * feed), never a full re-ingest.
    */
  def qDlqReplay(spark: SparkSession, dir: String): DataFrame = {
    val lines = ChangeModel.linesTable(spark, dir)
      .select(
        when(pmod(col("id"), lit(7)) === 0, concat(lit("!poison!"), col("line")))
          .otherwise(col("line")).as("line"))
    val split = CdcOps.parseWithQuarantine(lines)
    val repaired = CdcOps.parseWithQuarantine(
      split.filter(!col("is_valid"))
        .select(regexp_replace(col("line"), "^!poison!", "").as("line")))
      .filter(col("is_valid"))
    val nRepaired = repaired.agg(count(lit(1)).as("n_repaired"))
    val all = split.filter(col("is_valid")).unionByName(repaired)
    CdcOps.snapshot(all, col("user_id"))
      .select(col("user_id"), col("id").as("last_id"),
        col("op_type").as("last_op"), col("value").as("last_value"),
        col("current_ts").as("last_ts"))
      .crossJoin(broadcast(nRepaired))
      .orderBy(col("user_id"))
  }

  /** The two-merge snapshot-store history shared by q_store_changes
    * and q_store_timetravel: even-id changes merged as v1, odd-id as
    * v2. Landed ONCE per corpus in the session through
    * [[graft.sources.DerivedTable.readOrBuildAs]] (manifests are
    * root-relative, so the store is built at a tmp path and renamed
    * into place like any landing). Queries over a landed store bill
    * only their read (file-level diff / as-of scan), the way a real
    * pipeline reads its committed table instead of re-ingesting the
    * feed.
    */
  private def twoMergeStore(spark: SparkSession,
                            dir: String): graft.store.SnapshotStore =
    graft.sources.DerivedTable.readOrBuildAs(spark, "change-store", dir,
      Seq("events"), "two-merge-even-odd")(tmp => {
      val b = new graft.store.SnapshotStore(spark, tmp, "user_id")
      // stage the parse ONCE (r17, guide §5): mergeWith reads its
      // delta twice (key-segment pass + fold) per merge, so the JSON
      // parse lineage ran up to 4x per build. Released before return;
      // build-sized, never table-sized.
      val p = parsed(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        b.merge(p.filter(pmod(col("id"), lit(2)) === 0))
        b.merge(p.filter(pmod(col("id"), lit(2)) =!= 0))
      } finally p.unpersist(blocking = false)
    })(root => new graft.store.SnapshotStore(spark, root, "user_id"))

  /** A21 under the gate: version-diff read on the snapshot store —
    * `changes(v1, v2)` over a two-merge history must equal the
    * multiset difference of the two full snapshots (copy-on-write
    * file accounting: added-file rows exceptAll dropped-file rows;
    * carried-over files cancel by construction, so the diff is exact
    * while reading only the files the second merge touched).
    */
  def qStoreChanges(spark: SparkSession, dir: String): DataFrame = {
    val store = twoMergeStore(spark, dir)
    val Seq(v1, v2) = store.versions().take(2) // versions() is oldest-first
    store.changes(v1, v2)
      .select(col("user_id"), col("id").as("last_id"), col("delete_state"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** A17 under the gate: time travel — `readVersion` on the
    * PREVIOUS version of the two-merge history must reproduce the
    * snapshot as it stood before the second merge (= the upsert
    * snapshot of only the even-id changes), and `versions()` must
    * list exactly the two retained versions. The as-of read plans
    * from v1's manifest alone: files rewritten by the second merge
    * stay visible to v1 (copy-on-write), which is the entire point
    * of retaining versions.
    */
  def qStoreTimetravel(spark: SparkSession, dir: String): DataFrame = {
    val store = twoMergeStore(spark, dir)
    val vs = store.versions() // oldest-first
    store.readVersion(vs.head)
      .select(col("user_id"), col("id").as("last_id"), col("delete_state"),
        col("event_type"), col("value"))
      .withColumn("n_versions", lit(vs.length.toLong))
      .orderBy(col("user_id"))
  }

  /** A36: optimistic multi-writer ingest — TWO writers fold disjoint
    * halves of the change log into ONE store CONCURRENTLY, each
    * retrying on [[graft.store.ConcurrentCommitException]] (the CAS
    * commit point's mandated loser move: re-read, re-fold, retry).
    * The gate: the final snapshot must equal the one-shot soft-delete
    * fold of the whole log — no lost update under any interleaving.
    * This is the reference's many-executor Kudu-client reality
    * [ref: KuduManager.scala:72-114 — concurrent per-record upserts]
    * re-expressed at the table-format layer. Landed once per corpus
    * in the session through [[graft.sources.DerivedTable.readOrBuildAs]].
    */
  def qStoreConcurrent(spark: SparkSession, dir: String): DataFrame = {
    val store = graft.sources.DerivedTable.readOrBuildAs(spark, "ccstore", dir,
      Seq("events"), "cas-two-writer-v1")(tmp => {
      val b = new graft.store.SnapshotStore(spark, tmp, "user_id")
      val p = parsed(spark, dir).localCheckpoint(true)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def writer(side: Long): Thread = new Thread(() => {
        val half = p.filter(pmod(col("id"), lit(2)) === side)
        barrier.await()
        var done = false
        while (!done) {
          try { b.merge(half); done = true }
          catch { case _: graft.store.ConcurrentCommitException => () }
        }
      })
      val (t0, t1) = (writer(0L), writer(1L))
      t0.start(); t1.start(); t0.join(); t1.join()
    })(root => new graft.store.SnapshotStore(spark, root, "user_id"))
    store.read().get
      .select(col("user_id"), col("id").as("last_id"), col("delete_state"),
        col("event_type"), col("value"))
      .withColumn("writers", lit(2L))
      .orderBy(col("user_id"))
  }

  /** A38: order-free table checksums for sync validation — the
    * "did the replica land every row intact" audit a CDC pipeline
    * runs after a sync window [ref: LoggerManager.scala's per-batch
    * count log — this is its content-level upgrade]. Each row hashes
    * a canonical pipe-joined projection (keys + money in EXPLICIT
    * cents-cast longs + dates as strings, so both engines render
    * identical bytes) to 56 md5 bits; the table checksum is the SUM
    * of row hashes mod 2^56 — commutative, so partition order,
    * shuffle layout, and re-runs cannot move it, and any single
    * changed/missing/duplicated row does. Sums run in decimal(38,0)
    * (HUGEINT on the oracle side): 2^56-sized terms overflow BIGINT
    * at ~128 rows. One map pass + global fold per table.
    */
  def qTableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // spread a one-split scan across the machine BEFORE the canon
    // concat + md5-per-row pass — that pass is this query's entire
    // compute, and a single-file table serializes all of it onto one
    // core (measured 6 tasks / 1.4-1.9 s for three table-sized hash
    // folds; the checksum is order-free by construction, so the
    // spread cannot move it). Column pruning pushes the projection
    // below the round-robin exchange, so only the canon's source
    // columns cross and every expression runs post-exchange. No-op at
    // cluster scale where scans have many splits.
    def ck(df: org.apache.spark.sql.DataFrame, name: String,
           canon: org.apache.spark.sql.Column) =
      graft.sources.Tables.spreadIfOneSplit(df)
        .select(graft.streaming.ChecksumStream.rowHash56(canon).as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("s"))
        .select(lit(name).as("table_name"), col("n_rows"),
          expr("CAST(s % 72057594037927936 AS BIGINT)").as("checksum56"))
    ck(t.orders, "orders",
      concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"),
        date_format(col("o_orderdate"), "yyyy-MM-dd")))
      .unionAll(ck(t.lineitem, "lineitem",
        concat_ws("|", col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long"))))
      .unionAll(ck(t.events, "events",
        graft.streaming.ChecksumStream.eventsCanon))
      .orderBy(col("table_name"))
  }

  /** A40: offset-log continuity audit — "did we lose a sync window"
    * [ref: files/offset.log — the reference trusts its per-window
    * (topic, partition, from, until) lines for replay; a lost line
    * silently skips data on restart]. Offsets are the per-partition
    * row_number (Kafka's contiguous per-partition space), bucketed
    * into 250-offset sync windows; window #2 is dropped to simulate
    * a lost log line, and the audit must find EXACTLY those holes:
    * per partition, a lag() pass flags every from > prev_until + 1
    * and totals the missing offsets. Partition-local windows — the
    * lag never crosses partitions, so the audit scales per-partition.
    */
  def qOffsetAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition")).orderBy(col("id"))
    val logRows = parsed(spark, dir)
      .withColumn("partition", pmod(col("user_id"), lit(4)).cast("int"))
      .withColumn("off", row_number().over(w).cast("long"))
      .withColumn("win", expr("(off - 1) div 250"))
      .groupBy(col("partition"), col("win"))
      .agg(min(col("off")).as("fromoffset"), max(col("off")).as("untiloffset"))
      .filter(col("win") =!= 2L) // simulated lost log line
    val seq0 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("partition")).orderBy(col("win"))
    logRows
      .withColumn("prev_until", lag(col("untiloffset"), 1).over(seq0))
      .withColumn("gap",
        when(col("prev_until").isNotNull &&
          col("fromoffset") > col("prev_until") + 1L,
          col("fromoffset") - col("prev_until") - 1L).otherwise(0L))
      .groupBy(col("partition"))
      .agg(count(lit(1)).as("n_log_rows"),
        sum(when(col("gap") > 0L, 1L).otherwise(0L)).as("n_gaps"),
        sum(col("gap")).as("missing_offsets"))
      .orderBy(col("partition"))
  }

  /** A43: right-to-be-forgotten purge through the table-format seam —
    * the compliance operation every stored corpus eventually faces
    * (the reference's Kudu tables served DELETEs the same way
    * [ref: KuduManager.scala:74-80] but only LOGICALLY; a forget
    * request needs the bytes gone). A document store is committed,
    * a deterministic forget set (doc_id % 13 == 0) is purged via
    * [[graft.store.SnapshotStore.purge]] — file-level copy-on-write:
    * only files whose key range covers a purged id are rewritten,
    * everything else carries by reference, and vacuum reclaims the
    * old version's bytes. The gate reads the purged store and must
    * equal the batch filter of the source table — content equality
    * after hard delete; the CoW file accounting is StoreSpec-pinned.
    * At 100 TB: a forget batch costs the rewrite of the covering
    * files only (range-clustered layout keeps that near-minimal),
    * never a table rewrite, and the purge plan shuffles only the
    * 8-byte forget keys.
    */
  def qForgetDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = graft.sources.DerivedTable.scratch("gq-forget")
    val store = new graft.store.SnapshotStore(spark, root, "doc_id",
      filesPerCommit = 8)
    store.commit(docs)
    store.purge(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .select(col("doc_id")))
    store.read().get.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** A43b (r14 verdict task 4): the merge-on-read twin of
    * [[qForgetDocs]] — the same forget batch served through
    * [[graft.store.SnapshotStore.purgeMor]], which writes only a
    * per-file key-tombstone set (a deletion vector) and carries every
    * data file by reference; reads anti-join the broadcast DV. Same
    * batch-filter oracle as the CoW gate, so the two purge modes are
    * pinned row-identical. Economics at 100 TB: a weekly small forget
    * batch costs segment planning + a batch-sized DV write — no data
    * file is read or written — and the deferred rewrite lands when
    * the operator runs optimize(); the CoW mode stays the path for
    * hard erasure deadlines. The no-rewrite file accounting, upsert-
    * after-purge visibility and optimize/vacuum compaction are
    * StoreSpec-pinned.
    */
  def qForgetDocsMor(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = graft.sources.DerivedTable.scratch("gq-forget-mor")
    val store = new graft.store.SnapshotStore(spark, root, "doc_id",
      filesPerCommit = 8)
    store.commit(docs)
    store.purgeMor(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .select(col("doc_id")))
    store.read().get.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** A43c (r15): the compliance AUDIT over the merge-on-read forget
    * path — after a [[graft.store.SnapshotStore.purgeMor]] batch, the
    * store's [[graft.store.SnapshotStore.deletions]] frame lists
    * every masked-but-not-yet-erased key with the data file it is
    * scheduled out of. The gate joins the distinct tombstoned keys
    * back to the source table and reports per-source counts — the
    * report a data-protection officer actually asks for ("how many
    * records per source are pending physical erasure?"), and the
    * proof that the DV contains EXACTLY the forget set (a missing
    * key = a forget request silently dropped; an extra key = data
    * masked that nobody asked to forget). Oracle: the batch
    * recompute of the forget set per source.
    */
  def qForgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = graft.sources.DerivedTable.scratch("gq-fa")
    val store = new graft.store.SnapshotStore(spark, root, "doc_id",
      filesPerCommit = 8)
    store.commit(docs)
    store.purgeMor(docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .select(col("doc_id")))
    store.deletions().select(col("key").as("doc_id")).distinct()
      .join(docs, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tombstoned"))
      .orderBy(col("source"))
  }

  /** A44: incremental view maintenance of a denormalized table — the
    * operation every reference deployment performed implicitly (Kudu
    * target tables were denormalized fact rows; a dimension change
    * meant re-upserting every affected fact [ref: KuduManager.scala:
    * 108-120, row-by-row]) made a PLANNED, index-pruned rewrite: the
    * fact store inlines a per-user dim attribute (tier), a dim delta
    * arrives (every user_id % 5 == 0 moves to tier+10), and
    * [[graft.store.SnapshotStore.mergeByIndex]] rewrites ONLY the
    * files whose secondary Bloom blob might contain an affected
    * user — the fold left-joins the broadcast delta and coalesces
    * the new attribute in. Gate: the maintained table's per-tier
    * aggregate equals the batch recompute with the dim change
    * applied. The file-pruning economics (dim clustered with key →
    * fraction-of-table rewrite) are StoreSpec-pinned; at this gate's
    * scattered layout the index degrades gracefully to
    * rewrite-what-matches, never to wrongness.
    */
  def qIvmDenorm(spark: SparkSession, dir: String): DataFrame = {
    val facts = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"),
        pmod(col("user_id"), lit(3)).as("tier"),
        round(col("value") * 100).cast("long").as("cents"))
    val root = graft.sources.DerivedTable.scratch("gq-ivm")
    val store = new graft.store.SnapshotStore(spark, root, "event_id",
      filesPerCommit = 8, indexCol = Some("user_id"))
    store.commit(facts)
    val delta = facts.select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(5)) === 0)
      .withColumn("new_tier", pmod(col("user_id"), lit(3)) + 10)
    store.mergeByIndex(delta, (affected, d) =>
      affected.join(broadcast(d), Seq("user_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("new_tier"), col("tier")).as("tier"), col("cents")),
      txn = Some(1L))
    store.read().get.groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("tier"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ivm_denorm"       -> (qIvmDenorm _),
    "q_forget_docs"      -> (qForgetDocs _),
    "q_forget_docs_mor"  -> (qForgetDocsMor _),
    "q_forget_audit"     -> (qForgetAudit _),
    "q_dlq_replay"       -> (qDlqReplay _),
    "q_offset_audit"     -> (qOffsetAudit _),
    "q_table_checksum"   -> (qTableChecksum _),
    "q_store_concurrent" -> (qStoreConcurrent _),
    "q_cdc_route"      -> (qCdcRoute _),
    "q_cdc_quarantine" -> (qCdcQuarantine _),
    "q_store_changes"  -> (qStoreChanges _),
    "q_store_timetravel" -> (qStoreTimetravel _),
    "q_pit_features"   -> (qPitFeatures _),
    "q_cdc_scd2"       -> (qCdcScd2 _),
    "q_table_diff"     -> (qTableDiff _),
    "q_cdc_parse"      -> (qCdcParse _),
    "q_cdc_parse_avro" -> (qCdcParseAvro _),
    "q_cdc_upsert_avro" -> (qCdcUpsertAvro _),
    "q_cdc_typemap"    -> (qCdcTypemap _),
    "q_cdc_upsert"     -> (qCdcUpsert _),
    "q_cdc_compact"    -> (qCdcCompact _),
    "q_cdc_softdelete" -> (qCdcSoftdelete _),
    "q_cdc_audit"      -> (qCdcAudit _),
    "q_sync_metrics"   -> (qSyncMetrics _),
    "q_offset_log"     -> (qOffsetLog _),
    "q_cdc_replay"     -> (qCdcReplay _),
  )

  private val opCase =
    "CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END"
  private val tsSec = "strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S')"

  val oracles: Map[String, String] = Map(
    // the index-maintained denormalized table == batch recompute with
    // the dim change applied
    "q_ivm_denorm" ->
      """WITH f AS (SELECT event_id, user_id,
        |  CASE WHEN user_id % 5 = 0 THEN user_id % 3 + 10
        |       ELSE user_id % 3 END AS tier,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f GROUP BY tier ORDER BY tier""".stripMargin,

    // hard delete through the store == the batch filter of the source
    "q_forget_docs" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 13 != 0
        |GROUP BY source ORDER BY source""".stripMargin,

    // the DV audit lists EXACTLY the forget set, attributed by source
    "q_forget_audit" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_tombstoned
        |FROM documents WHERE doc_id % 13 = 0
        |GROUP BY source ORDER BY source""".stripMargin,

    // the merge-on-read purge serves the SAME rows as the CoW purge
    "q_forget_docs_mor" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 13 != 0
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_dlq_replay" ->
      s"""WITH nrep AS (SELECT CAST(count(*) AS BIGINT) AS n_repaired
         |              FROM events WHERE event_id % 7 = 0)
         |SELECT user_id, event_id AS last_id, $opCase AS last_op,
         | value AS last_value, $tsSec AS last_ts, nrep.n_repaired
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY $tsSec DESC, event_id DESC) AS rn FROM events), nrep
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_offset_audit" ->
      """WITH o AS (SELECT CAST(user_id % 4 AS INT) AS partition,
        |    row_number() OVER (PARTITION BY user_id % 4
        |      ORDER BY event_id) AS off
        |  FROM events),
        |lr0 AS (SELECT partition, (off - 1) // 250 AS win,
        |          CAST(min(off) AS BIGINT) AS fromoffset,
        |          CAST(max(off) AS BIGINT) AS untiloffset
        |        FROM o GROUP BY 1, 2),
        |lr AS (SELECT * FROM lr0 WHERE win != 2),
        |g AS (SELECT partition, fromoffset, untiloffset,
        |        lag(untiloffset) OVER (PARTITION BY partition
        |          ORDER BY win) AS prev_until
        |      FROM lr),
        |gg AS (SELECT partition,
        |         CASE WHEN prev_until IS NOT NULL
        |              AND fromoffset > prev_until + 1
        |              THEN fromoffset - prev_until - 1 ELSE 0 END AS gap
        |       FROM g)
        |SELECT partition, CAST(count(*) AS BIGINT) AS n_log_rows,
        |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |  CAST(sum(gap) AS BIGINT) AS missing_offsets
        |FROM gg GROUP BY partition ORDER BY partition""".stripMargin,

    "q_table_checksum" ->
      """WITH h AS (
        |  SELECT 'orders' AS table_name,
        |    CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey,
        |      o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT),
        |      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d'))), 1, 14))
        |      AS BIGINT) AS h
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem',
        |    CAST(('0x' || substr(md5(concat_ws('|', l_orderkey, l_partkey,
        |      l_suppkey, CAST(round(l_extendedprice * 100) AS BIGINT))), 1, 14))
        |      AS BIGINT)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'events',
        |    CAST(('0x' || substr(md5(concat_ws('|', event_id, user_id,
        |      event_type, CAST(round(value * 100) AS BIGINT))), 1, 14))
        |      AS BIGINT)
        |  FROM events)
        |SELECT table_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(h AS HUGEINT)) % 72057594037927936 AS BIGINT)
        |    AS checksum56
        |FROM h GROUP BY table_name ORDER BY table_name""".stripMargin,
    // routing the mixed stream to "orders" == the odd-event_id half
    "q_cdc_route" ->
      s"""SELECT event_id AS id, user_id, $opCase AS op_type,
         | 'orders' AS tab_name
         |FROM events WHERE event_id % 2 = 1 ORDER BY id""".stripMargin,

    // valid side == the uncorrupted records (id % 7 <> 0); every row
    // carries the quarantine count (the id % 7 = 0 lines)
    "q_cdc_quarantine" ->
      s"""SELECT event_id AS id, user_id, event_type, value,
         | $opCase AS op_type,
         | (SELECT count(*) FROM events WHERE event_id % 7 = 0) AS n_quarantined
         |FROM events WHERE event_id % 7 <> 0 ORDER BY id""".stripMargin,

    // changes(v1, v2) == soft-delete snapshot of the FULL log
    // EXCEPT ALL the snapshot of the even-id half (v1)
    // as-of read of v1 == upsert snapshot over only the even-id
    // half of the log, exactly q_store_changes' snap1 CTE
    "q_store_timetravel" ->
      s"""SELECT user_id, event_id AS last_id,
         | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
         | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
         | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
         | CAST(2 AS BIGINT) AS n_versions
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY $tsSec DESC, event_id DESC) AS rn
         |      FROM events WHERE event_id % 2 = 0)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_store_changes" ->
      s"""WITH snap AS (
         | SELECT user_id, event_id AS last_id,
         |  CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
         | FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |         ORDER BY $tsSec DESC, event_id DESC) AS rn FROM events)
         | WHERE rn = 1),
         |snap1 AS (
         | SELECT user_id, event_id AS last_id,
         |  CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
         |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
         | FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |         ORDER BY $tsSec DESC, event_id DESC) AS rn
         |       FROM events WHERE event_id % 2 = 0)
         | WHERE rn = 1)
         |SELECT * FROM (
         | SELECT * FROM snap EXCEPT ALL SELECT * FROM snap1)
         |ORDER BY user_id""".stripMargin,

    // point-in-time replay: per label row, arg_max over the same
    // (ts, event_id) composite the as-of oracles use; dimension and
    // label sets are disjoint so <= here equals the window's
    // rows-preceding semantics exactly
    "q_pit_features" ->
      """WITH d AS (SELECT user_id, cast(ts AS timestamp) AS tsv, event_id,
        |    event_type, value,
        |    strftime(cast(ts AS timestamp), '%Y%m%d%H%M%S%f')
        |      || lpad(cast(event_id AS varchar), 12, '0') AS k
        |  FROM events WHERE event_type <> 'purchase')
        |SELECT p.event_id, p.user_id,
        |  epoch_us(cast(p.ts AS timestamp)) AS label_ts_us,
        |  (SELECT arg_max(d.event_id, d.k) FROM d
        |     WHERE d.user_id = p.user_id AND d.tsv <= cast(p.ts AS timestamp)) AS feat_id,
        |  (SELECT arg_max(d.event_type, d.k) FROM d
        |     WHERE d.user_id = p.user_id AND d.tsv <= cast(p.ts AS timestamp)) AS feat_type,
        |  (SELECT arg_max(d.value, d.k) FROM d
        |     WHERE d.user_id = p.user_id AND d.tsv <= cast(p.ts AS timestamp)) AS feat_value,
        |  (SELECT count(*) FROM d
        |     WHERE d.user_id = p.user_id AND d.tsv <= cast(p.ts AS timestamp)) AS n_versions,
        |  epoch_us(cast(p.ts AS timestamp)) -
        |  (SELECT arg_max(epoch_us(d.tsv), d.k) FROM d
        |     WHERE d.user_id = p.user_id AND d.tsv <= cast(p.ts AS timestamp)) AS feat_age_us
        |FROM events p
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q_cdc_scd2" ->
      s"""SELECT user_id,
         |  row_number() OVER w AS version_n,
         |  event_id AS id, $opCase AS op_type, event_type, value,
         |  $tsSec AS valid_from,
         |  lead($tsSec) OVER w AS valid_to,
         |  CASE WHEN lead($tsSec) OVER w IS NULL
         |         AND $opCase <> 'D' THEN 1 ELSE 0 END AS is_current
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY $tsSec, event_id)
         |ORDER BY user_id, version_n""".stripMargin,

    "q_table_diff" ->
      s"""WITH ev AS (SELECT event_id, user_id, $opCase AS op, $tsSec AS cts
         |  FROM events),
         |oldsnap AS (SELECT user_id, event_id AS old_last_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY cts DESC, event_id DESC) AS rn
         |  FROM ev WHERE cts <= '2024-01-15 00:00:00')
         |  WHERE rn = 1 AND op <> 'D'),
         |newsnap AS (SELECT user_id, event_id AS new_last_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY cts DESC, event_id DESC) AS rn FROM ev)
         |  WHERE rn = 1 AND op <> 'D')
         |SELECT COALESCE(o.user_id, n.user_id) AS user_id,
         |  o.old_last_id, n.new_last_id,
         |  CASE WHEN o.user_id IS NULL THEN 'added'
         |       WHEN n.user_id IS NULL THEN 'removed'
         |       WHEN o.old_last_id = n.new_last_id THEN 'unchanged'
         |       ELSE 'changed' END AS kind
         |FROM oldsnap o FULL OUTER JOIN newsnap n ON o.user_id = n.user_id
         |ORDER BY user_id""".stripMargin,

    "q_cdc_parse" ->
      s"""SELECT event_id AS id, user_id, event_type, value,
         | $opCase AS op_type, $tsSec AS current_ts
         |FROM events ORDER BY id""".stripMargin,

    // the Avro feed carries the SAME logical records — the oracles are
    // q_cdc_parse's / q_cdc_upsert's verbatim
    "q_cdc_parse_avro" ->
      s"""SELECT event_id AS id, user_id, event_type, value,
         | $opCase AS op_type, $tsSec AS current_ts
         |FROM events ORDER BY id""".stripMargin,

    "q_cdc_upsert_avro" ->
      s"""SELECT user_id, event_id AS last_id, $opCase AS last_op,
         | value AS last_value, $tsSec AS last_ts
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY $tsSec DESC, event_id DESC) AS rn FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_cdc_typemap" ->
      s"""SELECT event_id AS id, user_id, event_type, value,
         | $opCase AS op_type
         |FROM events ORDER BY id""".stripMargin,

    "q_cdc_upsert" ->
      s"""SELECT user_id, event_id AS last_id, $opCase AS last_op,
         | value AS last_value, $tsSec AS last_ts
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY $tsSec DESC, event_id DESC) AS rn FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // compaction result == one-shot snapshot over the full log
    "q_cdc_compact" ->
      s"""SELECT user_id, event_id AS last_id, $opCase AS last_op,
         | value AS last_value, $tsSec AS last_ts
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY $tsSec DESC, event_id DESC) AS rn FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the concurrent two-writer fold must land exactly the soft-
    // delete snapshot of the WHOLE log — CAS admits no lost update
    "q_store_concurrent" ->
      s"""SELECT user_id, event_id AS last_id,
         | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
         | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
         | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
         | CAST(2 AS BIGINT) AS writers
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY $tsSec DESC, event_id DESC) AS rn FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q_cdc_softdelete" ->
      s"""SELECT user_id, event_id AS last_id,
         | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
         | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
         | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
         |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
         |        ORDER BY $tsSec DESC, event_id DESC) AS rn FROM events)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_cdc_audit" ->
      s"""SELECT cast(event_id as varchar) AS id, 'events' AS name,
         | $tsSec AS current_ts,
         | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
         | '0' AS his_delete_state
         |FROM events ORDER BY event_id""".stripMargin,

    "q_sync_metrics" ->
      """SELECT strftime(date_trunc('hour', cast(ts as timestamp)), '%Y-%m-%d %H:%M:%S') AS bucket,
        | count(DISTINCT event_type) AS n_tables, count(*) AS total,
        | count(*) / 3600.0 AS rate
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_offset_log" ->
      """SELECT 'events' AS topic, cast(user_id % 4 as int) AS partition,
        | min(event_id) AS fromoffset, max(event_id) AS untiloffset,
        | count(*) AS n_records
        |FROM events GROUP BY 2 ORDER BY 2""".stripMargin,

    "q_cdc_replay" ->
      s"""SELECT event_id AS id, user_id, $opCase AS op_type, value
         |FROM events
         |WHERE (user_id % 4 = 0 AND event_id > 10  AND event_id <= 500)
         |   OR (user_id % 4 = 1 AND event_id > 0   AND event_id <= 250)
         |   OR (user_id % 4 = 2 AND event_id > 100 AND event_id <= 600)
         |   OR (user_id % 4 = 3 AND event_id > 5   AND event_id <= 999)
         |ORDER BY id""".stripMargin,
  )
}
