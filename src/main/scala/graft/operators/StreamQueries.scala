package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.ChangeModel
import graft.sources.DerivedTable.scratch
import graft.sources.Tables
import graft.streaming.{AggStream, CdcStream, ChecksumStream, EventStream, KafkaCdcSource}

/** The streaming tier (A9/A15/A22) wired into the DRIVER'S ORACLE
  * GATE, not just ScalaTest equivalence specs: each query drives the
  * real Structured Streaming pipeline to completion (file source →
  * checkpointed sink, multiple micro-batches; most gates through the
  * one [[StreamQueries.drive]]) and returns the sink's FINAL TABLE as
  * a batch frame. Because the change stream derives
  * deterministically from `events` (ChangeModel), a DuckDB oracle can
  * recompute every result from the raw parquet — the same hard check
  * the batch queries get. The reference is first a streaming system
  * [ref: ConsumerMain.scala:91-152]; this makes its core loop visible
  * to the correctness gate, not only to specs.
  */
object StreamQueries {

  /** The one gate drive. Lands `arrivals(i)` as one `format` file
    * (parquet, or text for CDC change lines) under `batch<i>` of a
    * fresh scratch dir, starts the query once the first arrival has
    * landed, drains it with `processAllAvailable()` after every
    * arrival, and ALWAYS stops it: an arrival that throws while it
    * lands, or a fold that fails a micro-batch, reaches the caller
    * with no query left running in the session. `start` gets the
    * input glob and the first arrival's dir (the schema source of the
    * file-fold streams); the drive returns that dir.
    */
  private[graft] def drive(tag: String, format: String, arrivals: Seq[DataFrame])(
      start: (String, String) => StreamingQuery): String = {
    require(arrivals.nonEmpty, "a drive needs at least one arrival")
    val inDir = scratch(s"gq-$tag-in")
    def land(i: Int): Unit =
      arrivals(i).coalesce(1).write.mode("overwrite").format(format).save(s"$inDir/batch$i")
    land(0)
    val q = start(s"$inDir/*/", s"$inDir/batch0")
    try arrivals.indices.foreach { i =>
      if (i > 0) land(i)
      q.processAllAvailable()
    } finally q.stop()
    s"$inDir/batch0"
  }

  /** Two arrivals: the rows where `first` holds, then the rest. */
  private def splitBy(df: DataFrame, first: Column): Seq[DataFrame] =
    Seq(df.filter(first), df.filter(!first))

  /** The time-split arrivals of the stateful gates: rows at or before
    * the midpoint of the `ts` range, then the rest. Per-user order is
    * preserved, so sessions and join matches that straddle the cut
    * exercise state carried across the micro-batch boundary.
    */
  private def timeHalves(events: DataFrame): Seq[DataFrame] = {
    val mm = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
    splitBy(events, unix_micros(col("ts")) <= (mm.getLong(0) + mm.getLong(1)) / 2)
  }

  /** The watermark-flush arrival of the append-mode window gates: one
    * `zzz_sentinel` event 30 days past the last real one, so the
    * watermark passes every real window and all of them emit. The
    * sentinel's own window never closes; its other columns are -1.
    */
  private def flushSentinel(events: DataFrame): DataFrame = {
    val maxTs = events.agg(max(col("ts"))).head.getTimestamp(0)
    val ts = new java.sql.Timestamp(maxTs.getTime + 30L * 86400000L)
    events.sparkSession.range(1).select(events.schema.fields.toSeq.map { f =>
      (f.name match {
        case "ts" => lit(ts)
        case "event_type" => lit("zzz_sentinel")
        case _ => lit(-1).cast(f.dataType)
      }).as(f.name)
    }: _*)
  }

  /** Append a streaming frame's rows to parquet under `outDir`. */
  private def appendSink(out: DataFrame, outDir: String): StreamingQuery =
    out.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", scratch("gq-sink-ckpt"))
      .start()

  /** A CDC snapshot store's rows in the snapshot oracles' columns. */
  private def cdcRows(spark: SparkSession, snapDir: String): DataFrame =
    CdcStream.readSnapshot(spark, snapDir).get
      .select(col("user_id"), col("id").as("last_id"), col("delete_state"),
        col("event_type"), col("value"))

  /** A9 under the gate: the full CDC ingest — JSON change lines
    * arriving in TWO deterministic chunks, checkpointed foreachBatch
    * MERGE through the SnapshotStore seam — then the stored snapshot.
    * Equals the batch soft-delete snapshot over the whole log for ANY
    * arrival split (the compaction-fold law the store specs pin).
    */
  def qStreamCdcSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val lines = ChangeModel.changeLines(Tables(spark, dir).events).select("line")
    val snapDir = scratch("gq-cdc-snap")
    // first arrival: even ids; second arrival: the rest — interleaved
    // key ranges, so the second merge REWRITES files, not just appends
    val idIsEven = get_json_object(col("line"), "$.after.ID").cast("long") % 2 === 0
    drive("cdc", "text", splitBy(lines, idIsEven)) { (glob, _) =>
      CdcStream.start(spark, glob, snapDir, scratch("gq-cdc-ckpt"))
    }
    cdcRows(spark, snapDir).orderBy(col("user_id"))
  }

  /** A1b under the gate (r15 verdict task 6, the in-stream half): the
    * SAME two-arrival CDC ingest as [[qStreamCdcSnapshot]], but the
    * wire records arrive as schema-registry-shaped BINARY AVRO
    * (parquet files of a `body: binary` column standing in for a
    * Kafka value column) and are decoded in-stream by
    * [[graft.cdc.AvroChangeModel.parseAvro]] plugged into
    * [[CdcStream.startFromLines]]'s decode seam. Everything
    * downstream — foreachBatch, SnapshotStore merge, soft-delete
    * recompute — is the JSON pipeline's code, byte for byte; the
    * oracle is q_stream_cdc_snapshot's SQL verbatim, which IS the
    * byte-identical-snapshot claim.
    */
  def qStreamCdcAvro(spark: SparkSession, dir: String): DataFrame = {
    import graft.cdc.AvroChangeModel
    val bodies = AvroChangeModel
      .avroChangeLines(Tables(spark, dir).events).select(col("id"), col("body"))
    val snapDir = scratch("gq-avro-snap")
    drive("avro", "parquet", splitBy(bodies, col("id") % 2 === 0).map(_.select("body"))) {
      (glob, _) =>
        CdcStream.startFromLines(spark.readStream.schema("body BINARY").parquet(glob),
          snapDir, scratch("gq-avro-ckpt"),
          decode = b => AvroChangeModel.parseAvro(b.select("body")))
    }
    cdcRows(spark, snapDir).orderBy(col("user_id"))
  }

  /** A35 under the gate: continuous ingest + AUTO-COMPACTION — the
    * maintenance policy a long-running CDC table needs at 100 TB:
    * copy-on-write merges accrete a file set per micro-batch, and
    * without compaction the manifest (and every scan's file list)
    * grows without bound. Four arrivals land DISJOINT user-id
    * quarters (each merge carries the other quarters' files — the
    * fragmenting workload), and after every drained arrival the
    * maintenance hook runs `optimize()` whenever the live manifest
    * exceeds `maxFiles`. The CAS commit point makes the hook safe to
    * run beside the stream: an optimize racing a merge ABORTS
    * instead of resurrecting pre-merge rows (StoreSpec pins that).
    * Gate: final content equals the one-shot fold of the whole log
    * (compaction changes layout, never content), the table ends
    * compacted (files back at the commit target), and the policy
    * actually fired.
    */
  def qStreamAutoOptimize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir).events
    // deterministic range quarters of the user-id space
    val quarters = ev.select(col("user_id")).distinct()
      .withColumn("q", ntile(4).over(Window.orderBy(col("user_id"))))
    val lines = ChangeModel.changeLines(ev).select("line")
      .withColumn("uid",
        get_json_object(col("line"), "$.after.USER_ID").cast("long"))
      .join(broadcast(quarters.withColumnRenamed("user_id", "uid")), Seq("uid"))
      .localCheckpoint(true)
    val linesDir = scratch("gq-opt-lines")
    val snapDir = scratch("gq-opt-snap")
    val maxFiles = 6
    var nOpt = 0L
    lines.filter(col("q") === 1).select("line").coalesce(1)
      .write.mode("overwrite").text(linesDir + "/batch0")
    val q = CdcStream.start(spark, linesDir + "/*/", snapDir, scratch("gq-opt-ckpt"))
    try {
      q.processAllAvailable()
      (2 to 4).foreach { i =>
        lines.filter(col("q") === i).select("line").coalesce(1)
          .write.mode("overwrite").text(linesDir + s"/batch${i - 1}")
        q.processAllAvailable()
        // the maintenance hook: compact when the live file list
        // exceeds the policy bound (a daemon beside the stream; CAS
        // protects it from the stream's own commits)
        val store = new graft.store.SnapshotStore(spark, snapDir, "user_id")
        store.currentVersion.foreach { v =>
          if (store.manifest(v).size > maxFiles) { store.optimize(); nOpt += 1 }
        }
      }
    } finally q.stop()
    val store = new graft.store.SnapshotStore(spark, snapDir, "user_id")
    val filesFinal = store.manifest(store.currentVersion.get).size.toLong
    cdcRows(spark, snapDir)
      .withColumn("compacted", lit(if (filesFinal <= maxFiles) 1L else 0L))
      .withColumn("policy_fired", lit(if (nOpt >= 1L) 1L else 0L))
      .orderBy(col("user_id"))
  }

  /** A13 under the gate (the q_kafka_seam item): the A9 fold driven
    * through the `graftlines` DataSourceV2 streaming source — a
    * Kafka-shaped (topic, partition, offset) line stream served from
    * local segment files through the REAL `startingOffsets` /
    * offset-commit interfaces — proving the reference's
    * resume-from-offset-log loop end-to-end:
    *
    *  1. phase A consumes the first arrival from `earliest`; every
    *     batch commit rewrites the reference-format
    *     `topic,partition,from,until` offset log
    *     [ref: ConsumerMain.scala:128-151, files/offset.log];
    *  2. the second arrival APPENDS to the segment files;
    *  3. phase B is a NEW query with a FRESH checkpoint — recovery
    *     comes from the stored log alone, mapped through
    *     [[KafkaCdcSource.offsetLogToStartingOffsets]] (the
    *     ReadByAssignOffset path [ref: ReadByAssignOffset.scala:57-61]),
    *     not from the previous WAL.
    *
    * The gate pins BOTH sides of exactly-once: the stored snapshot
    * must equal the full-log batch oracle (nothing skipped — the
    * interleaved id split makes phase B carry last-writes for half
    * the keys), and the consumption record must count every line
    * exactly once (n_consumed == n_distinct == count(events):
    * a replay inflates n_consumed over n_distinct, which the
    * idempotent fold alone would hide).
    */
  def qStreamKafkaSeam(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Paths, StandardCopyOption, StandardOpenOption}
    val lines = ChangeModel.changeLines(Tables(spark, dir).events)
      .withColumn("id", get_json_object(col("line"), "$.after.ID").cast("long"))
    val segDir = scratch("gq-kseam-seg")
    val snapDir = scratch("gq-kseam-snap")
    val consumedDir = scratch("gq-kseam-consumed")
    val logPath = segDir + "/offset.log"
    // two "Kafka partitions" of topic pub, keyed by id parity; the
    // arrival split interleaves within each partition so phase B
    // rewrites keys phase A already stored
    def writePhase(p: Int, phaseA: Boolean): Unit = {
      val out = scratch(s"gq-kseam-w$p")
      lines.filter(expr(s"id % 2 = $p AND ((id div 2) % 2 = 0) = $phaseA"))
        .select("line").coalesce(1).write.mode("overwrite").text(out)
      val part = {
        val s = Files.list(Paths.get(out))
        try s.filter(_.getFileName.toString.startsWith("part-")).findFirst.get
        finally s.close()
      }
      val seg = Paths.get(segDir, s"pub-$p.log")
      if (phaseA) Files.move(part, seg, StandardCopyOption.REPLACE_EXISTING)
      else Files.write(seg, Files.readAllBytes(part), StandardOpenOption.APPEND)
    }
    def readSeam(starting: String) = spark.readStream.format("graftlines")
      .option("path", segDir).option("commitLog", logPath)
      .option("startingOffsets", starting).load()
    (0 to 1).foreach(writePhase(_, phaseA = true))
    // per-batch offset persistence, the reference's driver-loop store
    // (engine-side commit() lags one batch by design — see
    // OffsetLogListener); progress events are async, so phase A waits
    // until the log covers everything it consumed
    val listener = new graft.streaming.OffsetLogListener(
      s"graftlines($segDir)", logPath)
    spark.streams.addListener(listener)
    try {
      val qa = CdcStream.startFromLines(readSeam("earliest"), snapDir,
        scratch("gq-kseam-ckptA"), Some(consumedDir))
      try qa.processAllAvailable() finally qa.stop()
      val expectA = graft.streaming.GraftLines.segments(segDir)
        .map { case (t, p, f) =>
          (t, p) -> graft.streaming.GraftLines.countLines(f) }.toMap
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ({
        val logged =
          if (Files.exists(Paths.get(logPath)))
            graft.streaming.GraftLines.parseOffsetsJson(
              KafkaCdcSource.offsetLogToStartingOffsets(
                scala.jdk.CollectionConverters
                  .ListHasAsScala(Files.readAllLines(Paths.get(logPath)))
                  .asScala.toSeq))
          else Map.empty[(String, Int), Long]
        logged != expectA
      }) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(
          s"offset log $logPath never caught up to phase A ($expectA)")
        Thread.sleep(50)
      }
      (0 to 1).foreach(writePhase(_, phaseA = false))
      val logLines = scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(Paths.get(logPath))).asScala.toSeq
      val qb = CdcStream.startFromLines(
        readSeam(KafkaCdcSource.offsetLogToStartingOffsets(logLines)), snapDir,
        scratch("gq-kseam-ckptB"), Some(consumedDir))
      try qb.processAllAvailable() finally qb.stop()
    } finally spark.streams.removeListener(listener)
    val counts = spark.read.parquet(consumedDir).agg(
      count(lit(1)).as("n_consumed"),
      count_distinct(col("topic"), col("partition"), col("offset"))
        .as("n_distinct"))
    cdcRows(spark, snapDir)
      .crossJoin(broadcast(counts))
      .orderBy(col("user_id"))
  }

  /** A42 under the gate (r13 verdict task 4): multi-topic fan-in →
    * per-table fan-out. The reference consumes a topic SET into one
    * direct stream and upserts each record into its target table
    * [ref: ConsumerMain.scala:44, KuduManager.scala:66-70]; here TWO
    * graftlines topic directories (topic `t_events` carries
    * PUB.EVENTS changes = even event ids, topic `t_orders` carries
    * PUB.ORDERS = odd ids) union into ONE streaming query whose
    * foreachBatch routes per table into per-table SnapshotStores
    * ([[CdcStream.startRouted]]). Two arrivals with interleaved ids
    * per topic force the second micro-batch to REWRITE keys the
    * first one stored in BOTH sinks — the cross-batch fold is
    * exercised per table, under one shared checkpoint.
    * Gate: each stored snapshot equals the batch soft-delete fold of
    * its table's slice of the full log.
    */
  def qStreamMultitopic(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Paths, StandardCopyOption, StandardOpenOption}
    val lines = ChangeModel.mixedChangeLines(Tables(spark, dir).events)
      .withColumn("id", get_json_object(col("line"), "$.after.ID").cast("long"))
    val topicDirs = Map("t_events" -> scratch("gq-mt-events"),
                        "t_orders" -> scratch("gq-mt-orders"))
    val storeRoot = scratch("gq-mt-stores")
    // topic routing mirrors mixedChangeLines: even ids are PUB.EVENTS
    def writePhase(topic: String, parity: Int, phaseA: Boolean): Unit = {
      val out = scratch(s"gq-mt-w$parity")
      lines.filter(expr(s"id % 2 = $parity AND ((id div 2) % 2 = 0) = $phaseA"))
        .select("line").coalesce(1).write.mode("overwrite").text(out)
      val part = {
        val s = Files.list(Paths.get(out))
        try s.filter(_.getFileName.toString.startsWith("part-")).findFirst.get
        finally s.close()
      }
      val seg = Paths.get(topicDirs(topic), s"$topic-0.log")
      if (phaseA) Files.move(part, seg, StandardCopyOption.REPLACE_EXISTING)
      else Files.write(seg, Files.readAllBytes(part), StandardOpenOption.APPEND)
    }
    def readTopic(d: String) = spark.readStream.format("graftlines")
      .option("path", d).option("startingOffsets", "earliest").load()
    writePhase("t_events", 0, phaseA = true)
    writePhase("t_orders", 1, phaseA = true)
    val fanIn = readTopic(topicDirs("t_events"))
      .unionByName(readTopic(topicDirs("t_orders")))
    val q = CdcStream.startRouted(fanIn, Seq("events", "orders"), storeRoot,
      scratch("gq-mt-ckpt"))
    try {
      q.processAllAvailable()
      writePhase("t_events", 0, phaseA = false)
      writePhase("t_orders", 1, phaseA = false)
      q.processAllAvailable()
    } finally q.stop()
    Seq("events", "orders").map { t =>
      new graft.store.SnapshotStore(spark, s"$storeRoot/$t", "user_id")
        .read().get.withColumn("tab_name", lit(t))
    }.reduce(_ unionByName _)
      .select(col("tab_name"), col("user_id"), col("id").as("last_id"),
        col("delete_state"), col("event_type"), col("value"))
      .orderBy(col("tab_name"), col("user_id"))
  }

  /** A45 under the gate: STREAMING incremental view maintenance —
    * A44's dim-update propagation driven by a dim-delta stream. The
    * denormalized fact store is committed once; dim deltas (every
    * user_id % 5 == 0 moves to tier+10) arrive in TWO chunks, and
    * each batch folds in via
    * [[graft.store.SnapshotStore.mergeByIndex]] with txn = batchId —
    * the replay guard that makes the at-least-once foreachBatch
    * delivery exactly-once on the table (a redelivered batch is a
    * committed-txn no-op, exercised for real here by the WAL
    * machinery rather than by a spec's hand-made replay). Gate: the
    * maintained table equals the batch recompute with the full dim
    * change applied — same oracle as A44, arrival-split invariant.
    */
  def qStreamIvm(spark: SparkSession, dir: String): DataFrame = {
    val facts = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"),
        pmod(col("user_id"), lit(3)).as("tier"),
        round(col("value") * 100).cast("long").as("cents"))
    val root = scratch("gq-sivm-store")
    val store = new graft.store.SnapshotStore(spark, root, "event_id",
      filesPerCommit = 8, indexCol = Some("user_id"))
    store.commit(facts)
    val users = facts.select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(5)) === 0)
      .withColumn("new_tier", pmod(col("user_id"), lit(3)) + 10)
      .localCheckpoint(true)
    drive("sivm", "parquet", splitBy(users, pmod(col("user_id"), lit(10)) === 0)) { (glob, _) =>
      spark.readStream.schema("user_id LONG, new_tier LONG").parquet(glob)
        .writeStream.option("checkpointLocation", scratch("gq-sivm-ckpt"))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val s = new graft.store.SnapshotStore(batch.sparkSession, root,
            "event_id", filesPerCommit = 8, indexCol = Some("user_id"))
          s.mergeByIndex(batch, (affected, d) =>
            affected.join(broadcast(d), Seq("user_id"), "left")
              .select(col("event_id"), col("user_id"),
                coalesce(col("new_tier"), col("tier")).as("tier"), col("cents")),
            txn = Some(batchId))
          ()
        }.start()
    }
    new graft.store.SnapshotStore(spark, root, "event_id",
      indexCol = Some("user_id")).read().get
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("tier"))
  }

  /** A46 under the gate (r15): STREAMING right-to-be-forgotten — the
    * compliance family's streaming leg. A document store is committed
    * once; forget-key batches (the A43 forget set, split in two
    * arrival chunks) flow through a file stream, and each micro-batch
    * purges via [[graft.store.SnapshotStore.purgeMor]] with
    * txn = batchId — merge-on-read, so the purge costs a
    * batch-sized deletion-vector write and ZERO data-file rewrites
    * per batch (the weekly-forget-feed economics at 100 TB: the
    * deferred rewrite is optimize()'s, run on the operator's
    * schedule, not per batch), and the WAL txn guard makes the
    * at-least-once foreachBatch delivery exactly-once on the table.
    * Gate: the continuously-purged store equals the batch filter of
    * the source — the SAME oracle as A43/A43b, so all three forget
    * paths (batch CoW, batch MoR, streaming MoR) are pinned
    * row-identical.
    */
  def qStreamForget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"), col("n_chars"))
    val root = scratch("gq-sforget-store")
    val store = new graft.store.SnapshotStore(spark, root, "doc_id",
      filesPerCommit = 8)
    store.commit(docs)
    val forget = docs.filter(pmod(col("doc_id"), lit(13)) === 0)
      .select(col("doc_id")).localCheckpoint(true)
    drive("sforget", "parquet", splitBy(forget, pmod(col("doc_id"), lit(26)) === 0)) {
      (glob, _) =>
        spark.readStream.schema("doc_id LONG").parquet(glob)
          .writeStream.option("checkpointLocation", scratch("gq-sforget-ckpt"))
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            new graft.store.SnapshotStore(batch.sparkSession, root, "doc_id",
              filesPerCommit = 8).purgeMor(batch, txn = Some(batchId))
            ()
          }.start()
    }
    new graft.store.SnapshotStore(spark, root, "doc_id")
      .read().get.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
  }

  /** A15 under the gate: at-least-once delivery (every event lands
    * TWICE) deduplicated by the watermarked streaming dedup. One
    * AvailableNow batch, so no event is ever "late" vs the watermark
    * — the result is exactly the original event set.
    */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val inDir = scratch("gq-dedup-in")
    val outDir = scratch("gq-dedup-out")
    events.write.mode("overwrite").parquet(inDir + "/a")
    events.write.mode("overwrite").parquet(inDir + "/b")
    val streamIn = spark.readStream.schema(
      spark.read.parquet(inDir + "/a").schema).parquet(inDir + "/*/")
    val q = EventStream.dedupStream(streamIn)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", scratch("gq-dedup-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    spark.read.parquet(outDir).orderBy(col("event_id"))
  }

  /** A22 under the gate: the continuously-maintained aggregate table
    * — per-batch partials folded ADDITIVELY into the SnapshotStore
    * via the txn-guarded copy-on-write merge, across two arrivals —
    * then the stored table. Equals the one-shot groupBy over all
    * events (additive partials are fold-order-free on counts and
    * scaled-cents longs; never float sums).
    */
  def qStreamAggTable(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("value"))
    val storeDir = scratch("gq-agg-store")
    drive("agg", "parquet", splitBy(events, col("event_id") % 2 === 0)) { (glob, first) =>
      AggStream.start(spark, glob, first, storeDir, scratch("gq-agg-ckpt"))
    }
    AggStream.readTable(spark, storeDir).get
      .select(col("user_id"), col("n_events"), col("sum_cents"))
      .orderBy(col("user_id"))
  }

  /** A39 under the gate: the live sync-validation checksum — two
    * arrivals fold their canonical-row-hash partials into the store;
    * the running checksum must equal the batch A38 checksum of the
    * full events table (the oracle replays the A38 events arm).
    * Replay safety comes from the same batch-txn guard as A22.
    */
  def qStreamChecksum(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val storeDir = scratch("gq-ck-store")
    drive("ck", "parquet", splitBy(events, col("event_id") % 2 === 0)) { (glob, first) =>
      ChecksumStream.start(spark, glob, first, storeDir, scratch("gq-ck-ckpt"))
    }
    ChecksumStream.readChecksum(spark, storeDir).get
      .orderBy(col("table_name"))
  }

  /** The two-arrival sessionization harness of q_stream_session and
    * q_stream_session_tws: time-split arrivals through `sessionize`,
    * every emitted (closed) session appended to parquet.
    */
  private def sessionGate(spark: SparkSession, dir: String)(
      sessionize: Dataset[EventStream.SessionEvent] => Dataset[EventStream.SessionOut])
      : DataFrame = {
    import spark.implicits._
    val events = Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"))
    val outDir = scratch("gq-sess-out")
    drive("sess", "parquet", timeHalves(events)) { (glob, _) =>
      appendSink(sessionize(spark.readStream.schema(events.schema).parquet(glob)
        .as[EventStream.SessionEvent]).toDF(), outDir)
    }
    spark.read.parquet(outDir)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** A11 under the gate: stateful gap sessionization
    * (flatMapGroupsWithState) across TWO time-split arrivals — each
    * user's open session must CARRY in state over the micro-batch
    * boundary and close correctly when its successor arrives. The
    * emitted set is every closed session; the open tail per user
    * stays in state, so the oracle is the batch sessionization minus
    * each user's final session.
    */
  def qStreamSession(spark: SparkSession, dir: String): DataFrame =
    sessionGate(spark, dir)(EventStream.sessionize(_, gapMinutes = 60))

  /** A10 under the gate: the watermarked tumbling-window aggregate —
    * hourly counts and scaled-cents sums per event type in APPEND
    * mode (a window emits only once, when the watermark passes it).
    * The second arrival is the flush sentinel, which advances the
    * watermark past every real window so they all finalize; the
    * sentinel's own window never closes and is filtered defensively.
    * Oracle: the batch hourly bucket aggregate (q_time_bucket's SQL).
    */
  def qStreamWindow(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
      .select(col("ts"), col("event_type"), col("value"))
    val outDir = scratch("gq-win-out")
    drive("win", "parquet", Seq(events, flushSentinel(events))) { (glob, _) =>
      appendSink(spark.readStream.schema(events.schema).parquet(glob)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum2"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
          col("event_type"), col("n"), (col("sum2") / 100.0).as("sum_value")),
        outDir)
    }
    spark.read.parquet(outDir)
      .filter(col("event_type") =!= "zzz_sentinel")
      .orderBy(col("bucket"), col("event_type"))
  }

  /** A26 under the gate: the streaming corpus ingest — two arrivals
    * with cross-arrival exact duplicates, quality-filtered and
    * first-arrival-deduped through the txn-guarded store fold — then
    * the stored corpus. Equals the batch quality-filter + per-text
    * min-doc_id winner over the whole corpus (the content-hash key
    * never crosses the output boundary, so the oracle groups the
    * text string itself).
    */
  def qStreamIngest(spark: SparkSession, dir: String): DataFrame = {
    val storeDir = scratch("gq-ing-store")
    drive("ing", "parquet", splitBy(Tables(spark, dir).documents, col("doc_id") % 2 === 1)) {
      (glob, first) =>
        graft.streaming.IngestStream.start(spark, glob, first, storeDir,
          scratch("gq-ing-ckpt"))
    }
    graft.streaming.IngestStream.readTable(spark, storeDir).get
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** A24 under the gate: the continuously-maintained SKETCH table —
    * per-day HLL register files folded through the store by
    * register-wise union across TWO arrivals whose days overlap (the
    * fold path, not just append). Because HLL union is order-free and
    * idempotent, the streamed table's estimates equal a one-shot
    * batch build bit-for-bit; the gate then checks the estimate
    * against the exact per-day distinct count (B9b accuracy-gate
    * pattern, <= 5%).
    */
  def qStreamSketch(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events.select(col("ts"), col("user_id"))
    val storeDir = scratch("gq-sk-store")
    drive("sk", "parquet", splitBy(events, col("user_id") % 2 === 1)) { (glob, first) =>
      graft.streaming.SketchStream.start(spark, glob, first, storeDir,
        scratch("gq-sk-ckpt"))
    }
    val est = graft.streaming.SketchStream.estimates(
      graft.streaming.SketchStream.readTable(spark, storeDir).get)
    val exact = events
      .select(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
        .cast("long").as("day"), col("user_id"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("n_users"))
    exact.join(est, "day")
      .select(col("day"), col("n_users"),
        (abs(col("est").cast("double") / col("n_users") - 1.0) <= 0.05)
          .as("hll_ok"))
      .orderBy(col("day"))
  }

  /** A10b under the gate: the watermarked stream-stream join — each
    * purchase joined to the same user's clicks in the preceding hour,
    * across TWO time-split arrivals. Clicks near the cut must SURVIVE
    * in join state over the micro-batch boundary to match purchases
    * arriving later (the 2 h watermark retains exactly the window the
    * 1 h join range needs). Inner-join append emits every match, so
    * the result equals the batch range join over all events.
    */
  def qStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val outDir = scratch("gq-ssj-out")
    drive("ssj", "parquet", timeHalves(events)) { (glob, _) =>
      appendSink(EventStream.purchaseClickJoin(
        spark.readStream.schema(events.schema).parquet(glob)), outDir)
    }
    spark.read.parquet(outDir)
      .select(col("purchase_id"), col("click_id"), col("user_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** A10c under the gate: windowed APPROXIMATE distinct users — the
    * HLL sketch aggregate as streaming state (mergeable partials, so
    * per-window memory is O(2^p), never per-key). Sentinel-flushed
    * like q_stream_window; the estimate is then accuracy-gated
    * against the exact per-window distinct count (<= 5%, the B9b /
    * q_stream_sketch precedent) so the oracle pins exact + true.
    */
  def qStreamHll(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
      .select(col("ts"), col("user_id"), col("event_type"))
    val outDir = scratch("gq-hll-out")
    drive("hll", "parquet", Seq(events, flushSentinel(events))) { (glob, _) =>
      appendSink(EventStream.windowedApproxUsers(
        spark.readStream.schema(events.schema).parquet(glob)), outDir)
    }
    val maxBucket = events
      .agg(max(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss"))).head.getString(0)
    val exact = events
      .select(date_format(date_trunc("hour", col("ts")),
        "yyyy-MM-dd HH:mm:ss").as("bucket"), col("user_id"))
      .distinct()
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_users"))
    spark.read.parquet(outDir)
      .filter(col("bucket") <= maxBucket) // the sentinel's own window
      .join(exact, "bucket")
      // accuracy gate: 5% relative OR 2 absolute — hourly windows
      // here hold ~10-20 users, where a single linear-counting
      // register collision (P ~ n^2/2m per window) is a 1-row
      // undercount that a pure relative bound mislabels
      .select(col("bucket"), col("n_users"), col("n_events"),
        (abs(col("approx_users").cast("double") / col("n_users") - 1.0) <= 0.05
          || abs(col("approx_users") - col("n_users")) <= 2)
          .as("hll_ok"))
      .orderBy(col("bucket"))
  }

  /** A11c under the gate: the SAME two-arrival sessionization harness
    * as q_stream_session, run through Spark 4's `transformWithState`
    * (typed state handles on the RocksDB store) instead of
    * flatMapGroupsWithState. The two APIs share one session fold
    * (EventStream.foldSessions), and this gate makes the pinned
    * tws == fmgws == batch equivalence visible to the ORACLE, not
    * only to specs — the oracle string is identical to
    * q_stream_session's.
    */
  def qStreamSessionTws(spark: SparkSession, dir: String): DataFrame = {
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try sessionGate(spark, dir)(EventStream.twsSessionize(_, gapMinutes = 60))
    finally {
      prev match {
        case Some(p) => spark.conf.set(confKey, p)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  /** A18 under the gate: backpressure-bounded ingest — the SAME CDC
    * pipeline as q_stream_cdc_snapshot, but the burst lands as FOUR
    * files BEFORE the query starts, with `maxFilesPerTrigger = 1`, so
    * the fold runs across >= 4 rate-limited micro-batches (the
    * Structured twin of the reference's backpressure knobs
    * [ref: ConsumerMain.scala:36-39]).
    * Convergence must be split-invariant: the stored snapshot equals
    * the batch soft-delete snapshot over the whole log — the same
    * oracle, now proven under the rate limit.
    */
  def qStreamRateLimit(spark: SparkSession, dir: String): DataFrame = {
    val lines = ChangeModel.changeLines(Tables(spark, dir).events).select("line")
    val linesDir = scratch("gq-rate-lines")
    val snapDir = scratch("gq-rate-snap")
    val idMod = get_json_object(col("line"), "$.after.ID").cast("long") % 4
    (0 until 4).foreach { m =>
      lines.filter(idMod === m).coalesce(1)
        .write.mode("overwrite").text(linesDir + s"/burst$m")
    }
    val q = CdcStream.start(spark, linesDir + "/*/", snapDir, scratch("gq-rate-ckpt"),
      maxFilesPerTrigger = 1)
    try q.processAllAvailable() finally q.stop()
    cdcRows(spark, snapDir).orderBy(col("user_id"))
  }

  /** A20 under the gate: ingest-time decontamination — the C25 Bloom
    * blob as the STATIC side of a stream-static composition: each
    * micro-batch of arriving train documents explodes to 5-gram
    * hashes, probes the broadcast blob (near-certain misses never
    * shuffle), and bloom survivors are CONFIRMED by the exact eval
    * semi-join before landing. Two arrivals; per-doc results never
    * span batches, so the appended union is the exact flag set.
    * Oracle: exact 5-gram contamination (q_bloom_contamination's).
    */
  def qStreamDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val outDir = scratch("gq-dec-out")
    val evalGrams = docs.filter(col("source") === "src0")
      .select(explode(graft.functions.shingle_hashes(
        split(col("text"), " "), 5)).as("gh")).distinct()
    val blob = evalGrams
      .agg(graft.functions.bloom_agg(col("gh"), numBits = 1 << 17).as("bf"))
    val train = docs.filter(col("source") =!= "src0")
    drive("dec", "parquet", splitBy(train, col("doc_id") % 2 === 0)) { (glob, _) =>
      spark.readStream.schema(train.schema).parquet(glob).writeStream
        .option("checkpointLocation", scratch("gq-dec-ckpt"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val grams = batch.select(col("doc_id"),
            explode(graft.functions.shingle_hashes(
              split(col("text"), " "), 5)).as("gh"))
          grams.crossJoin(broadcast(blob))
            .filter(graft.functions.bloom_might_contain(col("bf"), col("gh")))
            .select(col("doc_id"), col("gh"))
            .join(evalGrams, Seq("gh"), "left_semi")
            .select(col("doc_id")).distinct()
            .write.mode("append").parquet(outDir)
        }
        .start()
    }
    spark.read.parquet(outDir).distinct().orderBy(col("doc_id"))
  }

  /** A33 under the gate: incremental decontamination-coverage
    * maintenance — the C80 coverage report kept CURRENT as training
    * batches arrive. Each micro-batch's distinct 5-gram hashes fold
    * into a gram store through the table-format seam (a keyed set
    * union, so checkpoint-replayed batches are idempotent and the
    * txn watermark absorbs re-delivery), and the FINAL coverage of
    * the frozen eval set must equal the batch C80 oracle for any
    * arrival split — the convergence property that lets a live
    * ingest answer "how reconstructible is our eval set from what
    * we have ingested SO FAR" without ever re-scanning the
    * accumulated corpus [ref: KuduManager.scala:108-120 — the
    * continuously-upserted store role].
    */
  def qStreamCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val storeDir = scratch("gq-cov-store")
    val train = docs.filter(col("source") =!= "src0")
    val setUnion: (DataFrame, DataFrame) => DataFrame =
      (base, delta) => delta.select(col("gh"))
        .unionByName(base.select(col("gh"))).distinct()
    drive("cov", "parquet", splitBy(train, col("doc_id") % 2 === 0)) { (glob, _) =>
      spark.readStream.schema(train.schema).parquet(glob).writeStream
        .option("checkpointLocation", scratch("gq-cov-ckpt"))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val grams = batch.select(explode(graft.functions.shingle_hashes(
              split(col("text"), " "), 5)).as("gh")).distinct()
          new graft.store.SnapshotStore(batch.sparkSession, storeDir, "gh")
            .mergeWith(grams, init = identity[DataFrame], fold = setUnion,
              txn = Some(batchId))
          ()
        }
        .start()
    }
    val trainGh = new graft.store.SnapshotStore(spark, storeDir, "gh")
      .read().get.select(col("gh"))
    val eval = docs.filter(col("source") === "src0")
      .select(col("doc_id").as("eval_id"),
        explode(graft.functions.shingle_hashes(split(col("text"), " "), 5)).as("gh"))
    val tot = eval.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
    val cov = eval.join(trainGh, Seq("gh"), "left_semi")
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_covered"))
    tot.join(cov, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        expr("coalesce(n_covered, 0) * 1000000 div n_grams").as("coverage_ppm"))
      .orderBy(col("eval_id"))
  }

  /** A12/A19 under the gate: the batch-throughput sync log. A
    * two-arrival stream (even event ids, then odd) runs with a
    * [[graft.streaming.RateListener]] whose file sink appends the
    * reference-format line per micro-batch
    * [ref: LoggerManager.scala:38-60, 62-100]; the DATED LOG FILE is
    * then parsed back into (batch_id, n_rows, rate_positive) and
    * oracle-compared — the logged totals must be exactly the two
    * arrival counts, so a dropped batch, a double-fired listener, or
    * a mis-formatted line all fail the gate. rec/s is wall-clock
    * (non-deterministic), so the gate pins only its positivity.
    */
  def qStreamSyncLog(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"))
    val inDir = scratch("gq-slog-in")
    val logDir = scratch("gq-slog-log")
    val listener = new graft.streaming.RateListener(Some(logDir))
    spark.streams.addListener(listener)
    try {
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(inDir + "/batch0")
      val q = spark.readStream.schema(ev.schema).parquet(inDir + "/*/")
        .writeStream.format("noop").option("checkpointLocation", scratch("gq-slog-ckpt"))
        .start()
      try {
        q.processAllAvailable()
        ev.filter(col("event_id") % 2 =!= 0).coalesce(1)
          .write.mode("overwrite").parquet(inDir + "/batch1")
        q.processAllAvailable()
        // progress events arrive on the async listener bus, and the
        // in-memory report is appended BEFORE the file line — wait on
        // the artifact this query actually reads (the log file's line
        // count), not the buffer
        def logLines(): Int = listener.logFile match {
          case Some(f) if Files.exists(f) => Files.readAllLines(f).size()
          case _ => 0
        }
        val deadline = System.currentTimeMillis() + 20000
        while (logLines() < 2 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
      } finally q.stop()
    } finally spark.streams.removeListener(listener)
    spark.read.text(logDir + "/sync-*.log")
      .select(
        regexp_extract(col("value"), "batch=(\\d+)", 1).cast("long").as("batch_id"),
        regexp_extract(col("value"), "total=(\\d+)", 1).cast("long").as("n_rows"),
        (regexp_extract(col("value"), "rate=(\\d+\\.\\d+)", 1).cast("double") >= 0)
          .as("rate_positive"))
      .orderBy(col("batch_id"))
  }

  /** IvfStream under the gate: streaming maintenance of the C7b IVF
    * index — the coarse quantizer landed once from the full corpus,
    * then the vectors arriving in TWO chunks, each assigned to its
    * frozen nearest centroid and upserted into the list table through
    * the txn-guarded SnapshotStore merge — then the IVF top-5 of the
    * q_ann_ivf query batch against the MAINTAINED index. Because the
    * quantizer is deterministic and frozen, the streamed list table
    * equals a one-shot assign of the whole corpus, so the output
    * equals q_ann_ivf and shares its fully-SQL-replayed oracle (any
    * lost/duplicated/mis-assigned arrival shifts a rank). The
    * replay-no-op and arrival-split invariances are spec'd in
    * IvfStreamSpec.
    */
  def qStreamAnnIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val indexDir = scratch("gq-ivf-index")
    val storeDir = scratch("gq-ivf-store")
    graft.streaming.IvfStream.landCentroids(emb, indexDir, nLists = 8)
    drive("ivf", "parquet", splitBy(emb, col("vec_id") % 2 === 1)) { (glob, first) =>
      graft.streaming.IvfStream.start(spark, glob, first, indexDir, storeDir,
        scratch("gq-ivf-ckpt"))
    }
    graft.streaming.IvfStream.queryTopK(spark, indexDir, storeDir,
      emb.filter(col("vec_id") < 8), k = 5, nprobe = 2)
  }

  /** IvfStream's PQ tier under the gate: the full IVF-PQ quantizer
    * pair landed once (frozen centroids + codebooks), the vectors
    * arriving in TWO chunks — each assigned AND PQ-encoded against
    * the frozen artifacts, upserted through the txn-guarded store —
    * then the compressed-scan + exact-rerank top-5 (C7d) served from
    * the MAINTAINED artifacts alone. Shares q_ann_ivfpq's full
    * two-quantizer SQL replay as its oracle.
    */
  def qStreamAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    val indexDir = scratch("gq-ivfpq-index")
    val storeDir = scratch("gq-ivfpq-store")
    graft.streaming.IvfStream.landIvfPq(emb, indexDir, nLists = 8, m = 8, k = 16)
    drive("ivfpq", "parquet", splitBy(emb, col("vec_id") % 2 === 1)) { (glob, first) =>
      graft.streaming.IvfStream.start(spark, glob, first, indexDir, storeDir,
        scratch("gq-ivfpq-ckpt"))
    }
    graft.streaming.IvfStream.queryTopKPq(spark, indexDir, storeDir,
      emb.filter(col("vec_id") < 8), topK = 5, nprobe = 2, rerank = 32,
      excludeSelf = true)
  }

  /** NearDupStream under the gate: the C2 MinHash-LSH index
    * maintained across TWO document arrivals (signature store +
    * bucket posting store through the txn-guarded CoW merges), then
    * ALL verified near-dup pairs served from the index alone. The
    * doc_id parity split puts most near-dup twins in DIFFERENT
    * arrivals, so the equality with the one-shot C2 scan (shared
    * exact SQL replay) genuinely exercises the cross-batch fold.
    */
  def qStreamNeardup(spark: SparkSession, dir: String): DataFrame = {
    val storeDir = scratch("gq-nd-store")
    drive("nd", "parquet", splitBy(Tables(spark, dir).documents, col("doc_id") % 2 === 1)) {
      (glob, first) =>
        graft.streaming.NearDupStream.start(spark, glob, first, storeDir,
          scratch("gq-nd-ckpt"))
    }
    graft.streaming.NearDupStream.pairs(spark, storeDir, minJaccard = 0.8)
  }

  /** QualityGateStream under the gate: the frozen-LM ingest filter
    * across TWO document arrivals (admitted store + per-source stats
    * through txn-guarded CoW merges). The output joins the admitted
    * table with its source's admission counters, so the oracle
    * checks BOTH maintained tables: the admitted set replays the
    * C69 score CTE filtered at the shared threshold; the counters
    * replay per-source totals over the whole corpus.
    */
  def qStreamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val storeDir = scratch("gq-qg-store")
    drive("qg", "parquet", splitBy(Tables(spark, dir).documents, col("doc_id") % 2 === 1)) {
      (glob, first) =>
        graft.streaming.QualityGateStream.start(spark, glob, first, dir, storeDir,
          scratch("gq-qg-ckpt"))
    }
    val admitted = graft.streaming.QualityGateStream
      .readAdmitted(spark, storeDir).get
    val stats = graft.streaming.QualityGateStream
      .readStats(spark, storeDir).get
    admitted.join(stats, Seq("source"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("ppl_milli_ebits"), col("n_seen"), col("n_kept"))
      .orderBy(col("doc_id"))
  }

  /** A31 LateRouterStream under the gate: events arrive in two
    * chunks — the bulk (event_id % 3 != 0) establishes the high-water
    * mark, then the remainder (event_id % 3 == 0) arrives out of
    * order, and every row older than hwm − 1 hour is ROUTED to the
    * late quarantine instead of silently dropped. The gate frame is
    * per-event-type on-time/late counts over BOTH routes; the oracle
    * replays the two-batch watermark evolution with the same modulo
    * split (batch0 has no prior mark → all on-time; batch1 routes
    * against max(ts) of batch0 − 1h).
    */
  def qStreamLate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("event_type"))
    val accDir = scratch("gq-late-acc")
    val lateDir = scratch("gq-late-q")
    val hwmDir = scratch("gq-late-hwm")
    drive("late", "parquet", splitBy(ev, col("event_id") % 3 =!= 0)) { (glob, first) =>
      graft.streaming.LateRouterStream.start(spark, glob, first, accDir, lateDir,
        hwmDir, scratch("gq-late-ckpt"), delayMicros = 3600L * 1000000L)
    }
    val cols = Seq("event_id", "ts", "event_type")
    val acc = graft.streaming.LateRouterStream.readRoute(spark, accDir, cols)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_ontime"))
    val late = graft.streaming.LateRouterStream.readRoute(spark, lateDir, cols)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_late"))
    acc.join(late, Seq("event_type"), "full_outer")
      .select(col("event_type"),
        coalesce(col("n_ontime"), lit(0L)).as("n_ontime"),
        coalesce(col("n_late"), lit(0L)).as("n_late"))
      .orderBy(col("event_type"))
  }

  /** A32 BackfillStream under the gate: the REPAIR half of A31 —
    * the same two-arrival routing, then each route folds into its
    * own per-(day, event_type) aggregate store, and the repaired
    * view (accepted + quarantine, summed at read) must equal the
    * batch aggregate over ALL events: no row lost to the watermark,
    * with the late contribution per day a first-class column. The
    * oracle replays the modulo-split late rule and the full-corpus
    * day aggregate in one pass.
    */
  def qStreamBackfill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_id"), col("ts"), col("event_type"))
    val accDir = scratch("gq-bf-acc")
    val lateDir = scratch("gq-bf-q")
    val hwmDir = scratch("gq-bf-hwm")
    val first = drive("bf", "parquet", splitBy(ev, col("event_id") % 3 =!= 0)) {
      (glob, first) =>
        graft.streaming.LateRouterStream.start(spark, glob, first, accDir, lateDir,
          hwmDir, scratch("gq-bf-ck1"), delayMicros = 3600L * 1000000L)
    }
    // each route is already landed: one drain per re-drive
    def refold(routeDir: String): DataFrame = {
      val storeDir = scratch("gq-bf-store")
      val q = graft.streaming.BackfillStream.start(
        spark, routeDir + "/*/", first, storeDir, scratch("gq-bf-ck"))
      try q.processAllAvailable() finally q.stop()
      graft.streaming.BackfillStream.readTable(spark, storeDir).get
    }
    val a = refold(accDir).select(col("d"), col("event_type"), col("n").as("na"))
    val l = refold(lateDir).select(col("d"), col("event_type"), col("n").as("nl"))
    a.join(l, Seq("d", "event_type"), "full_outer")
      .select(col("d"), col("event_type"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nl"), lit(0L))).as("n_total"),
        coalesce(col("nl"), lit(0L)).as("n_late"))
      .orderBy(col("d"), col("event_type"))
  }

  /** A34 DriftMonitorStream under the gate: documents arrive in two
    * batches (doc_id parity split); the frozen reference is the
    * length distribution of sources src0–src4. After each batch the
    * monitor logs the two-sample KS of the CUMULATIVE arrived
    * distribution vs the reference — the gate frame is that drift
    * log, and the oracle replays both cumulative prefixes (batch 0 =
    * odd doc_ids, batch 1 = all) through the same
    * integer-cross-multiplied D. Checks end-to-end: the additive
    * count fold, the replay-deterministic log upsert, and the KS
    * kernel's exactness on the streamed path.
    */
  def qStreamDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val storeDir = scratch("gq-drift-store")
    val ref = docs
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("n_chars").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    drive("drift", "parquet", splitBy(docs, col("doc_id") % 2 === 1)) { (glob, first) =>
      graft.streaming.DriftMonitorStream.start(spark, glob, first, ref, storeDir,
        scratch("gq-drift-ckpt"))
    }
    graft.streaming.DriftMonitorStream.readLog(spark, storeDir).get
      .select(col("batch_id"), col("n_cum"), col("n_ref"), col("ks_ppm"))
      .orderBy(col("batch_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_drift"        -> (qStreamDrift _),
    "q_stream_late"         -> (qStreamLate _),
    "q_stream_backfill"     -> (qStreamBackfill _),
    "q_stream_quality_gate" -> (qStreamQualityGate _),
    "q_stream_ann_index"    -> (qStreamAnnIndex _),
    "q_stream_ann_pq"       -> (qStreamAnnPq _),
    "q_stream_neardup"      -> (qStreamNeardup _),
    "q_stream_sync_log"     -> (qStreamSyncLog _),
    "q_stream_rate_limit"   -> (qStreamRateLimit _),
    "q_stream_decontaminate" -> (qStreamDecontaminate _),
    "q_stream_coverage"     -> (qStreamCoverage _),
    "q_stream_join"        -> (qStreamJoin _),
    "q_stream_hll"         -> (qStreamHll _),
    "q_stream_session_tws" -> (qStreamSessionTws _),
    "q_stream_sketch"       -> (qStreamSketch _),
    "q_stream_ingest"       -> (qStreamIngest _),
    "q_stream_cdc_snapshot" -> (qStreamCdcSnapshot _),
    "q_stream_cdc_avro"     -> (qStreamCdcAvro _),
    "q_stream_multitopic" -> (qStreamMultitopic _),
    "q_stream_ivm" -> (qStreamIvm _),
    "q_stream_forget" -> (qStreamForget _),
    "q_stream_auto_optimize" -> (qStreamAutoOptimize _),
    "q_stream_kafka_seam"   -> (qStreamKafkaSeam _),
    "q_stream_dedup"        -> (qStreamDedup _),
    "q_stream_agg_table"    -> (qStreamAggTable _),
    "q_stream_checksum"     -> (qStreamChecksum _),
    "q_stream_session"      -> (qStreamSession _),
    "q_stream_window"       -> (qStreamWindow _),
  )

  val oracles: Map[String, String] = Map(
    // two-batch watermark evolution replayed with the modulo split:
    // batch0 (id % 3 != 0) has no prior mark; batch1 routes against
    // max(batch0.ts) − 1h
    "q_stream_late" ->
      """WITH b0 AS (SELECT event_type FROM events WHERE event_id % 3 != 0),
        |hw AS (SELECT max(ts) AS mx FROM events WHERE event_id % 3 != 0),
        |r1 AS (SELECT event_type,
        |         CASE WHEN ts < mx - INTERVAL 1 HOUR THEN 1 ELSE 0 END AS late
        |       FROM events, hw WHERE event_id % 3 = 0),
        |u AS (SELECT event_type, 0 AS late FROM b0
        |      UNION ALL SELECT event_type, late FROM r1)
        |SELECT event_type,
        |  CAST(sum(1 - late) AS BIGINT) AS n_ontime,
        |  CAST(sum(late) AS BIGINT) AS n_late
        |FROM u GROUP BY event_type ORDER BY event_type""".stripMargin,

    // repaired view == the batch aggregate over ALL events; the late
    // column replays the modulo-split watermark rule
    "q_stream_backfill" ->
      """WITH hw AS (SELECT max(ts) AS mx FROM events WHERE event_id % 3 != 0),
        |lab AS (SELECT CAST(ts AS DATE) AS d, event_type,
        |          CASE WHEN event_id % 3 = 0 AND ts < mx - INTERVAL 1 HOUR
        |               THEN 1 ELSE 0 END AS late
        |        FROM events, hw)
        |SELECT d, event_type,
        |  CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(late) AS BIGINT) AS n_late
        |FROM lab GROUP BY d, event_type ORDER BY d, event_type""".stripMargin,

    // the two logged batch totals == the two arrival counts
    "q_stream_sync_log" ->
      """SELECT CAST(0 AS BIGINT) AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_rows, true AS rate_positive
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT), true
        |FROM events WHERE event_id % 2 <> 0
        |ORDER BY batch_id""".stripMargin,

    // identical to q_stream_cdc_snapshot's oracle: the rate-limited
    // multi-batch fold must converge to the same full-log snapshot
    "q_stream_rate_limit" ->
      """SELECT user_id, event_id AS last_id,
        | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
        | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
        | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') DESC,
        |                 event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // identical to q_bloom_contamination's oracle: exact 5-gram
    // contamination; the streamed bloom prefilter + exact confirm
    // must flag the same train docs for any arrival split
    "q_stream_decontaminate" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g5 AS (SELECT doc_id, source,
        |  unnest(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |                        for i in generate_series(1, len(w)-4)])) AS g FROM toks)
        |SELECT DISTINCT t.doc_id
        |FROM g5 t SEMI JOIN (SELECT g FROM g5 WHERE source = 'src0') e ON t.g = e.g
        |WHERE t.source != 'src0'
        |ORDER BY t.doc_id""".stripMargin,

    // the drive-to-completion gram store must yield EXACTLY the
    // batch C80 coverage for this arrival split (same oracle text)
    "q_stream_coverage" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
        |grams AS (SELECT doc_id, source,
        |  unnest(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |                        for i in generate_series(1, len(w)-4)])) AS g FROM toks),
        |ev AS (SELECT doc_id, g FROM grams WHERE source = 'src0'),
        |tr AS (SELECT DISTINCT g FROM grams WHERE source != 'src0'),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM ev GROUP BY 1),
        |cov AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_covered
        |        FROM ev e JOIN tr USING (g) GROUP BY 1)
        |SELECT t.doc_id AS eval_id, t.n_grams,
        | CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
        | CAST(coalesce(c.n_covered, 0) * 1000000 // t.n_grams AS BIGINT) AS coverage_ppm
        |FROM tot t LEFT JOIN cov c USING (doc_id) ORDER BY 1""".stripMargin,

    // the streamed join == the batch range join (purchase joined to
    // same-user clicks in the preceding hour)
    "q_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND cast(c.ts as timestamp) >= cast(p.ts as timestamp) - INTERVAL 1 HOUR
        | AND cast(c.ts as timestamp) <= cast(p.ts as timestamp)
        |ORDER BY purchase_id, click_id""".stripMargin,

    // exact per-hour distinct users; the streamed HLL estimate is
    // accuracy-gated on the Spark side (hll_ok), oracle pins exact+true
    "q_stream_hll" ->
      """SELECT strftime(date_trunc('hour', cast(ts as timestamp)), '%Y-%m-%d %H:%M:%S') AS bucket,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | count(*) AS n_events, true AS hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical to q_stream_session's oracle: transformWithState and
    // flatMapGroupsWithState share one session fold, so the emitted
    // closed-session set is the same
    "q_stream_session_tws" ->
      """WITH sess AS (
        | SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(tsx), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(tsx), '%Y-%m-%d %H:%M:%S') AS session_end
        | FROM (
        |  SELECT user_id, event_id, tsx,
        |   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsx, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |   SELECT user_id, event_id, cast(ts as timestamp) AS tsx,
        |    CASE WHEN lag(epoch_us(cast(ts as timestamp))) OVER
        |           (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) IS NULL
        |      OR epoch_us(cast(ts as timestamp)) - lag(epoch_us(cast(ts as timestamp))) OVER
        |           (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) > 3600000000
        |    THEN 1 ELSE 0 END AS new_sess
        |   FROM events))
        | GROUP BY user_id, session_id)
        |SELECT user_id, session_start, session_end, n_events
        |FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS msid FROM sess)
        |WHERE session_id < msid
        |ORDER BY user_id, session_start""".stripMargin,

    // exact per-day distinct users; the streamed HLL estimate is
    // accuracy-gated on the Spark side (hll_ok), oracle pins exact+true
    "q_stream_sketch" ->
      """SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  true AS hll_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the stored corpus == batch quality filter + per-text min-doc_id
    // winner (first arrival = smallest doc_id by construction)
    "q_stream_ingest" ->
      """WITH kept AS (
        | SELECT doc_id, text, lang, source, n_chars
        | FROM (SELECT *, len(string_split(text,' ')) AS n_words,
        |   len(list_filter(string_split(text,' '),
        |       t -> t IN ('the','a','of','and','to','in','is'))) AS n_stopwords,
        |   list_sum(list_transform(string_split(text,' '), t -> length(t))) * 1.0
        |     / len(string_split(text,' ')) AS mean_word_len
        |  FROM documents)
        | WHERE n_words BETWEEN 20 AND 100000
        |   AND mean_word_len BETWEEN 2.0 AND 10.0
        |   AND n_stopwords >= 1),
        |w AS (SELECT *, row_number() OVER (PARTITION BY text
        |        ORDER BY doc_id) AS rn FROM kept)
        |SELECT doc_id, lang, source, n_chars FROM w
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // the q_stream_cdc_snapshot snapshot oracle PLUS the exactly-once
    // consumption pin: both count columns must equal count(events)
    "q_stream_kafka_seam" ->
      """SELECT user_id, event_id AS last_id,
        | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
        | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
        | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
        | (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_consumed,
        | (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_distinct
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') DESC,
        |                 event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // identical to q_cdc_softdelete's oracle: the streamed store must
    // converge to the batch soft-delete snapshot of the whole log
    "q_stream_cdc_snapshot" ->
      """SELECT user_id, event_id AS last_id,
        | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
        | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
        | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') DESC,
        |                 event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the Avro wire feed decodes to the SAME logical records, so the
    // oracle is q_stream_cdc_snapshot's verbatim (byte-identical
    // snapshot through the shared pipeline)
    "q_stream_cdc_avro" ->
      """SELECT user_id, event_id AS last_id,
        | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
        | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
        | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') DESC,
        |                 event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // streaming IVM converges to the batch recompute for any arrival
    // split of the dim delta (A44's oracle, split-invariant)
    // streaming MoR forget == the batch filter (same oracle as
    // q_forget_docs / q_forget_docs_mor — three paths, one truth)
    "q_stream_forget" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 13 != 0
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_stream_ivm" ->
      """WITH f AS (SELECT event_id, user_id,
        |  CASE WHEN user_id % 5 = 0 THEN user_id % 3 + 10
        |       ELSE user_id % 3 END AS tier,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM f GROUP BY tier ORDER BY tier""".stripMargin,

    // multi-topic fan-in: each per-table store equals the batch
    // soft-delete fold of ITS table's slice (even ids = events topic,
    // odd = orders, the mixedChangeLines routing), folded per
    // (table, user_id) independently
    "q_stream_multitopic" ->
      """WITH r AS (SELECT *,
        |  CASE WHEN event_id % 2 = 0 THEN 'events' ELSE 'orders' END AS tab
        |  FROM events),
        |s AS (SELECT *, row_number() OVER (PARTITION BY tab, user_id
        |        ORDER BY strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') DESC,
        |                 event_id DESC) AS rn FROM r)
        |SELECT tab AS tab_name, user_id, event_id AS last_id,
        | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
        | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
        | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
        |FROM s WHERE rn = 1 ORDER BY tab_name, user_id""".stripMargin,

    // auto-compaction changes LAYOUT, never CONTENT: the four-quarter
    // arrival fold + optimize cycles must equal the one-shot snapshot,
    // with the policy flags pinned true (ended compacted, fired >= 1x)
    "q_stream_auto_optimize" ->
      """SELECT user_id, event_id AS last_id,
        | CASE WHEN event_type = 'error' THEN '1' ELSE '0' END AS delete_state,
        | CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS event_type,
        | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
        | CAST(1 AS BIGINT) AS compacted, CAST(1 AS BIGINT) AS policy_fired
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY strftime(cast(ts as timestamp), '%Y-%m-%d %H:%M:%S') DESC,
        |                 event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // doubled delivery dedups back to exactly the original event set
    "q_stream_dedup" ->
      """SELECT event_id, user_id, event_type
        |FROM events ORDER BY event_id""".stripMargin,

    // the maintained table == one-shot aggregate over all events
    "q_stream_checksum" ->
      """SELECT 'events' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(CAST(('0x' || substr(md5(concat_ws('|', event_id,
        |      user_id, event_type, CAST(round(value * 100) AS BIGINT))), 1, 14))
        |      AS BIGINT) AS HUGEINT)) % 72057594037927936 AS BIGINT) AS checksum56
        |FROM events""".stripMargin,

    "q_stream_agg_table" ->
      """SELECT user_id, count(*) AS n_events,
        | CAST(sum(cast(round(value*100) as bigint)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // every real window finalizes (sentinel-flushed) == the batch
    // hourly bucket aggregate
    "q_stream_window" ->
      """SELECT strftime(date_trunc('hour', cast(ts as timestamp)), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n,
        | sum(cast(round(value*100) as bigint))/100.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // batch sessionization (q_sessionize's oracle) minus each user's
    // final — still open — session, which stays in streaming state
    "q_stream_session" ->
      """WITH sess AS (
        | SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(min(tsx), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(tsx), '%Y-%m-%d %H:%M:%S') AS session_end
        | FROM (
        |  SELECT user_id, event_id, tsx,
        |   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsx, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |   SELECT user_id, event_id, cast(ts as timestamp) AS tsx,
        |    CASE WHEN lag(epoch_us(cast(ts as timestamp))) OVER
        |           (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) IS NULL
        |      OR epoch_us(cast(ts as timestamp)) - lag(epoch_us(cast(ts as timestamp))) OVER
        |           (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) > 3600000000
        |    THEN 1 ELSE 0 END AS new_sess
        |   FROM events))
        | GROUP BY user_id, session_id)
        |SELECT user_id, session_start, session_end, n_events
        |FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS msid FROM sess)
        |WHERE session_id < msid
        |ORDER BY user_id, session_start""".stripMargin,
  )
}
