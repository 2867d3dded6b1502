package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.cdc.{CdcOps, ChangeModel}
import graft.sources.Tables

/** A9-A12: streaming behavior against the batch ops as ground truth. */
class StreamingSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = graft.GraftSession.local(cores = 4, appName = "streaming-spec")


  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The sessionization ground truth BOTH stateful-API tests compare
    * against (shared so A11 and A11c can't drift apart): the
    * oracle-checked batch sessionize minus each user's final
    * (still-open) session.
    */
  private def closedBatchSessions: DataFrame = {
    val batch = graft.operators.Relational.qSessionize(spark, sf)
    batch.withColumn("max_sid",
        max(col("session_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))))
      .filter(col("session_id") < col("max_sid"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
  }

  test("A9: incremental streaming upsert converges to the batch snapshot") {
    val events = Tables(spark, sf).events
    val lines = ChangeModel.changeLines(events).select("line")

    // split the change log into two "arrivals"
    val first = lines.filter(col("line").contains("\"ID\":1") === false)
    val linesDir = tempDir("cdc-lines")
    val snapDir = tempDir("cdc-snap")
    val ckpt = tempDir("cdc-ckpt")

    first.coalesce(1).write.mode("overwrite").text(linesDir.resolve("batch0").toString)
    val q = CdcStream.start(spark, linesDir.toString + "/*/", snapDir.toString, ckpt.toString)
    q.processAllAvailable()

    // second arrival: the remainder
    lines.exceptAll(first).coalesce(1).write.mode("overwrite")
      .text(linesDir.resolve("batch1").toString)
    q.processAllAvailable()
    q.stop()

    // the store's vacuum keeps a bounded number of versions on disk
    val versions = snapDir.resolve("data").toFile.listFiles()
      .map(_.getName).filter(_.startsWith("v"))
    assert(versions.length <= 3, versions.mkString(","))

    val streamed = CdcStream.readSnapshot(spark, snapDir.toString).get
      .select("user_id", "id", "op_type", "delete_state", "event_type", "value")
    val batch = CdcOps.softDeleteSnapshot(
        CdcOps.parse(ChangeModel.changeLines(events)), col("user_id"))
      .select("user_id", "id", "op_type", "delete_state", "event_type", "value")

    assert(sortedRows(streamed) == sortedRows(batch))
    assert(streamed.count() == events.select("user_id").distinct().count())
  }

  test("A9: restart from checkpoint does not reprocess (exactly-once)") {
    val events = Tables(spark, sf).events
    val lines = ChangeModel.changeLines(events).select("line")
    val linesDir = tempDir("cdc2-lines")
    val snapDir = tempDir("cdc2-snap")
    val ckpt = tempDir("cdc2-ckpt")

    lines.coalesce(1).write.mode("overwrite").text(linesDir.resolve("b0").toString)
    val q1 = CdcStream.start(spark, linesDir.toString + "/*/", snapDir.toString, ckpt.toString)
    q1.processAllAvailable(); q1.stop()
    val v1 = Files.readString(snapDir.resolve("LATEST"))

    // restart with same checkpoint: no new input => no new snapshot version
    val q2 = CdcStream.start(spark, linesDir.toString + "/*/", snapDir.toString, ckpt.toString)
    q2.processAllAvailable(); q2.stop()
    assert(Files.readString(snapDir.resolve("LATEST")) == v1)
  }

  test("A42: routed fan-out — silent tables churn no version; replay hits all sinks idempotently") {
    import graft.store.SnapshotStore
    val events = Tables(spark, sf).events
    val mixed = ChangeModel.mixedChangeLines(events).select("line")
    // arrival 1 carries ONLY the events table's records (even ids) —
    // the orders sink must see an empty route and commit nothing
    val evLines = mixed.filter(
      get_json_object(col("line"), "$.table") === "PUB.EVENTS")
    val linesDir = tempDir("rt-lines")
    val storeRoot = tempDir("rt-stores")
    val ckpt = tempDir("rt-ckpt")
    evLines.coalesce(1).write.mode("overwrite")
      .text(linesDir.resolve("b0").toString)
    val q = CdcStream.startRouted(
      spark.readStream.text(linesDir.toString + "/*/")
        .withColumnRenamed("value", "line"),
      Seq("events", "orders"), storeRoot.toString, ckpt.toString)
    q.processAllAvailable()
    val ordersStore = new SnapshotStore(spark, storeRoot.resolve("orders").toString, "user_id")
    assert(ordersStore.currentVersion.isEmpty,
      "a topic-silent table must not commit a version")
    // arrival 2: the orders records — both sinks now populated
    mixed.exceptAll(evLines).coalesce(1).write.mode("overwrite")
      .text(linesDir.resolve("b1").toString)
    q.processAllAvailable(); q.stop()
    val parsed = CdcOps.parse(mixed)
    Seq("events", "orders").foreach { t =>
      val got = new SnapshotStore(spark, storeRoot.resolve(t).toString, "user_id")
        .read().get.select("user_id", "id", "delete_state")
      val want = CdcOps.softDeleteSnapshot(
        CdcOps.routeTable(parsed, t).drop("tab_name"), col("user_id"))
        .select("user_id", "id", "delete_state")
      assert(sortedRows(got) == sortedRows(want), s"table $t diverged")
    }
    // crash-replay: a fresh query on the SAME checkpoint with no new
    // input advances neither sink (the WAL owns the offsets; the fold
    // is idempotent per table)
    val vBefore = Seq("events", "orders").map(t =>
      Files.readString(storeRoot.resolve(t).resolve("LATEST")))
    val q2 = CdcStream.startRouted(
      spark.readStream.text(linesDir.toString + "/*/")
        .withColumnRenamed("value", "line"),
      Seq("events", "orders"), storeRoot.toString, ckpt.toString)
    q2.processAllAvailable(); q2.stop()
    val vAfter = Seq("events", "orders").map(t =>
      Files.readString(storeRoot.resolve(t).resolve("LATEST")))
    assert(vAfter == vBefore, "checkpoint restart re-merged a committed batch")
  }

  test("A13b: maxFilesPerTrigger bounds per-batch rows under an input burst") {
    val events = Tables(spark, sf).events
    val lines = ChangeModel.changeLines(events).select("line")
    val linesDir = tempDir("rl-lines")
    val snapDir = tempDir("rl-snap")
    val ckpt = tempDir("rl-ckpt")
    // burst: four files are already waiting when the query starts —
    // without rate limiting they'd form ONE giant micro-batch
    val perFile = (0 until 4).map { i =>
      val part = lines.filter(pmod(xxhash64(col("line")), lit(4)) === i)
      part.coalesce(1).write.mode("overwrite").text(linesDir.resolve(s"f$i").toString)
      part.count()
    }
    val listener = new RateListener
    spark.streams.addListener(listener)
    try {
      val q = CdcStream.start(spark, linesDir.toString + "/*/", snapDir.toString,
        ckpt.toString, maxFilesPerTrigger = 1)
      q.processAllAvailable(); q.stop()
      val deadline = System.currentTimeMillis() + 10000
      while (listener.reports.count(_.numInputRows > 0) < 4 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val batches = listener.reports.filter(_.numInputRows > 0)
      // the burst was consumed as >= 4 bounded batches, none larger
      // than a single file
      assert(batches.size >= 4, s"expected >=4 batches, got ${batches.size}")
      assert(batches.map(_.numInputRows).max <= perFile.max,
        s"per-batch rows ${batches.map(_.numInputRows).max} > file max ${perFile.max}")
    } finally spark.streams.removeListener(listener)
    // sliced consumption converges to the same snapshot as one batch
    val streamed = CdcStream.readSnapshot(spark, snapDir.toString).get
      .select("user_id", "id", "op_type", "delete_state")
    val batch = CdcOps.softDeleteSnapshot(
        CdcOps.parse(ChangeModel.changeLines(events)), col("user_id"))
      .select("user_id", "id", "op_type", "delete_state")
    assert(sortedRows(streamed) == sortedRows(batch))
  }

  test("A20: bloom decontamination blob prefilters a document stream (stream-static)") {
    import graft.functions.{bloom_agg, bloom_might_contain, rolling_hash64}
    val docs = Tables(spark, sf).documents
    val docDir = tempDir("bloom-in")
    docs.write.mode("overwrite").parquet(docDir.resolve("p").toString)
    // the benchmark blob is STATIC (built once, broadcast into every
    // micro-batch) — the streaming form of the C25 decontamination
    // prefilter: ingest-time flagging against a fixed held-out set
    val blob = docs.filter(col("source") === "src0")
      .agg(bloom_agg(rolling_hash64(col("text")), numBits = 1 << 12).as("bf"))
    val streamIn = spark.readStream.schema(docs.schema)
      .parquet(docDir.toString + "/*/")
    val flagged = streamIn.crossJoin(broadcast(blob))
      .filter(bloom_might_contain(col("bf"), rolling_hash64(col("text"))))
      .select(col("doc_id"))
    val q = flagged.writeStream.outputMode("append")
      .format("memory").queryName("bloom_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("bloom_out")
    val want = docs.crossJoin(broadcast(blob))
      .filter(bloom_might_contain(col("bf"), rolling_hash64(col("text"))))
      .select(col("doc_id"))
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() >= docs.filter(col("source") === "src0").count())
  }

  test("A10: streaming windowed agg equals batch time-bucket agg") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("ev-in")
    events.write.mode("overwrite").parquet(evDir.resolve("p").toString)

    val streamIn = spark.readStream
      .schema(events.schema)
      .parquet(evDir.toString + "/*/")
    val agg = EventStream.windowedAgg(streamIn)

    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("win_out")
    val want = EventStream.windowedAgg(events)
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("A10c: streaming windowed HLL sketch equals the batch sketch") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("hll-in")
    events.write.mode("overwrite").parquet(evDir.resolve("p").toString)

    val streamIn = spark.readStream
      .schema(events.schema)
      .parquet(evDir.toString + "/*/")
    val agg = EventStream.windowedApproxUsers(streamIn)

    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hll_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("hll_out")
    val want = EventStream.windowedApproxUsers(events)
    // register-max merge is order-insensitive: stream == batch exactly
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("A11b: native session_window aggregation — stream equals batch") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("sw-in")
    events.write.mode("overwrite").parquet(evDir.resolve("p").toString)
    val streamIn = spark.readStream.schema(events.schema).parquet(evDir.toString + "/*/")
    val agg = streamIn
      .groupBy(col("user_id"), session_window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("sw_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("sw_out")
    val want = graft.operators.Relational.qSessionWindow(spark, sf)
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("A11: streaming sessionization emits exactly the closed sessions") {
    import spark.implicits._
    val events = Tables(spark, sf).events
    val evDir = tempDir("sess-in")
    events.write.mode("overwrite").parquet(evDir.resolve("p").toString)

    val streamIn = spark.readStream.schema(events.schema).parquet(evDir.toString + "/*/")
      .select(col("user_id"), col("ts"), col("event_id"))
      .as[EventStream.SessionEvent]
    val sessions = EventStream.sessionize(streamIn, gapMinutes = 60)

    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("sess_out")
    assert(sortedRows(got.select("user_id", "session_start", "session_end", "n_events"))
      == sortedRows(closedBatchSessions))
    assert(got.count() > 0)
  }

  test("A11c: transformWithState sessionization == flatMapGroupsWithState == batch") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = Tables(spark, sf).events
      val evDir = tempDir("tws-in")
      events.write.mode("overwrite").parquet(evDir.resolve("p").toString)
      val streamIn = spark.readStream.schema(events.schema).parquet(evDir.toString + "/*/")
        .select(col("user_id"), col("ts"), col("event_id"))
        .as[EventStream.SessionEvent]
      val q = EventStream.twsSessionize(streamIn, gapMinutes = 60)
        .writeStream.outputMode("append")
        .format("memory").queryName("tws_out")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val got = spark.table("tws_out")
      assert(sortedRows(got.select("user_id", "session_start", "session_end", "n_events"))
        == sortedRows(closedBatchSessions))
      assert(got.count() > 0)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("A10b: stream-stream join equals the batch range join") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("ssj-in")
    events.write.mode("overwrite").parquet(evDir.resolve("p").toString)

    val streamIn = spark.readStream.schema(events.schema).parquet(evDir.toString + "/*/")
    val q = EventStream.purchaseClickJoin(streamIn)
      .writeStream.outputMode("append").format("memory").queryName("ssj_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("ssj_out")
    val want = EventStream.purchaseClickJoin(events)
    assert(sortedRows(got) == sortedRows(want))
    assert(got.count() > 0)
  }

  test("A15: streaming dedup drops replayed events with bounded state") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("dedup-in")
    // simulate an at-least-once transport: the same 200 events land twice
    val chunk = events.limit(200)
    chunk.write.mode("overwrite").parquet(evDir.resolve("a").toString)
    chunk.write.mode("overwrite").parquet(evDir.resolve("b").toString)

    val streamIn = spark.readStream.schema(events.schema).parquet(evDir.toString + "/*/")
    val q = EventStream.dedupStream(streamIn)
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()

    assert(spark.table("dedup_out").count() == 200)
    assert(spark.table("dedup_out").select("event_id").distinct().count() == 200)
  }

  test("A10d: watermark drops late events from the windowed aggregation") {
    import spark.implicits._
    val dir = tempDir("late-in")
    def ev(hour: Int, n: Int): Seq[(Timestamp, String, Double)] =
      (0 until n).map(i => (Timestamp.valueOf(f"2020-01-01 $hour%02d:10:0$i"),
        "click", 1.0))
    // batch 1: windows 0..3 plus an hour-20 event that advances the
    // watermark to 18:10 once the batch completes
    (ev(0, 2) ++ ev(1, 3) ++ ev(2, 1) ++ ev(3, 1) ++ ev(20, 1))
      .toDF("ts", "event_type", "value")
      .coalesce(1) // ONE part file: the file source batches per FILE
      .write.parquet(dir.resolve("f1").toString)
    val streamIn = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "ts timestamp, event_type string, value double"))
      .parquet(dir.toString + "/*/")
    val q = EventStream.windowedAgg(streamIn, "1 hour", "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out")
      .start()
    q.processAllAvailable() // batch 1 commits; watermark now 18:10
    // arrival 2: one LATE event in hour 1 (window end 02:00 << the
    // committed watermark -> must be dropped) + one at 21 to close
    // window 20
    (ev(1, 1) ++ ev(21, 1)).toDF("ts", "event_type", "value")
      .coalesce(1)
      .write.parquet(dir.resolve("f2").toString)
    q.processAllAvailable(); q.stop()
    val got = spark.table("late_out")
      .select(col("bucket"), col("n")).as[(String, Long)].collect().toMap
    // hour-1 window emitted with ONLY batch-1 rows: the late event
    // arrived after the watermark passed its window and was dropped
    assert(got("2020-01-01 01:00:00") == 3L, got.toString)
    assert(got("2020-01-01 00:00:00") == 2L, got.toString)
  }

  test("robustness: core ops survive empty input") {
    val empty = Tables(spark, sf).events.limit(0)
    val lines = graft.cdc.ChangeModel.changeLines(empty)
    assert(CdcOps.softDeleteSnapshot(CdcOps.parse(lines), col("user_id")).count() == 0)
    assert(CdcOps.syncMetrics(CdcOps.parse(lines)).count() == 0)
    assert(EventStream.windowedAgg(empty).count() == 0)
    val emptyDocs = Tables(spark, sf).documents.limit(0)
    assert(graft.dedup.Dedup.minhashLsh(emptyDocs).count() == 0)
    assert(graft.dedup.Dedup.exact(emptyDocs).count() == 0)
    assert(graft.dedup.Dedup.containmentPairs(emptyDocs, 0.6).count() == 0)
    assert(graft.dedup.Dedup.containmentPairsPrefix(emptyDocs, 0.6).count() == 0)
    // skew stat on an empty corpus is 0 (not NaN/NPE) -> plain path
    assert(graft.dedup.Dedup.shingleDfSkew(emptyDocs) == 0.0)
    val emptyEmb = Tables(spark, sf).embeddings.limit(0)
    assert(graft.dedup.Dedup.semanticDedup(emptyEmb).count() == 0)
    assert(graft.ann.Ann.bruteTopK(emptyEmb, emptyEmb, 5).count() == 0)
    assert(graft.ann.Ann.ivfTopK(emptyEmb, emptyEmb, 5).count() == 0)
    assert(graft.ann.Ann.pqTopK(emptyEmb, emptyEmb, 5).count() == 0)
    assert(graft.ann.Ann.ivfPqTopK(emptyEmb, emptyEmb, 5).count() == 0)
    // frame sampling of empty media emits zero frames
    assert(graft.multimodal.Multimodal.frameSample(
      graft.multimodal.Multimodal.asMedia(emptyDocs)).count() == 0)
  }

  test("A12b: sync-log sink appends the batch log lines to a dated file") {
    import scala.jdk.CollectionConverters._
    val events = Tables(spark, sf).events
    val evDir = tempDir("slog-in")
    events.limit(150).write.mode("overwrite").parquet(evDir.resolve("p").toString)
    val logDir = tempDir("slog-out")
    val listener = new RateListener(logDir = Some(logDir.toString))
    spark.streams.addListener(listener)
    try {
      val streamIn = spark.readStream.schema(events.schema).parquet(evDir.toString + "/*/")
      val q = streamIn.groupBy(col("event_type")).count()
        .writeStream.outputMode("complete").format("memory").queryName("slog_out")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      val deadline = System.currentTimeMillis() + 10000
      while (listener.reports.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val f = listener.logFile.get
      assert(Files.exists(f), s"missing $f")
      val lines = Files.readAllLines(f).asScala
      assert(lines.nonEmpty)
      assert(lines.forall(_.matches(
        """\[ graft \] batch=\d+ time=\S+ total=\d+ rate=\d+\.\d{4} rec/s""")),
        lines.mkString("\n"))
      // the logged totals are the listener's reports verbatim
      assert(lines.map(_.split("total=")(1).split(" ")(0).toLong).sum ==
        listener.reports.map(_.numInputRows).sum)
    } finally spark.streams.removeListener(listener)
  }

  test("A22: continuously-maintained aggregate table equals the batch aggregate") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("agg-in")
    val storeDir = tempDir("agg-store")
    val ckpt = tempDir("agg-ckpt")

    // three arrivals; the fold must be additive across batches, so a
    // user present in all three accumulates, not last-write-wins
    events.filter(pmod(col("event_id"), lit(3)) === 0)
      .write.mode("overwrite").parquet(evDir.resolve("b0").toString)
    val q = AggStream.start(spark, evDir.toString + "/*/",
      evDir.resolve("b0").toString, storeDir.toString, ckpt.toString)
    q.processAllAvailable()
    events.filter(pmod(col("event_id"), lit(3)) === 1)
      .write.mode("overwrite").parquet(evDir.resolve("b1").toString)
    q.processAllAvailable()
    events.filter(pmod(col("event_id"), lit(3)) === 2)
      .write.mode("overwrite").parquet(evDir.resolve("b2").toString)
    q.processAllAvailable()
    q.stop()

    val streamed = AggStream.readTable(spark, storeDir.toString).get
    val batch = AggStream.partials(events)
    assert(sortedRows(streamed) == sortedRows(batch))
    // the table is the product: between-batch reads were versioned
    // (>= one version per non-empty fold) and snapshot-isolated
    val store = new graft.store.SnapshotStore(spark, storeDir.toString, "user_id")
    assert(store.versions().nonEmpty)
  }

  test("A26: streaming corpus ingest == batch quality-filter + exact-dedup keep-first") {
    val docs = Tables(spark, sf).documents
    val inDir = tempDir("ing-in")
    val storeDir = tempDir("ing-store")
    val ckpt = tempDir("ing-ckpt")

    // two arrivals; a text duplicated ACROSS arrivals must resolve to
    // the smallest doc_id regardless of which batch carried it — the
    // store fold, not per-batch dedup, decides (first-arrival-wins is
    // only deterministic because doc_id orders arrivals here)
    docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      .write.mode("overwrite").parquet(inDir.resolve("b0").toString)
    val q = IngestStream.start(spark, inDir.toString + "/*/",
      inDir.resolve("b0").toString, storeDir.toString, ckpt.toString)
    q.processAllAvailable()
    docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      .write.mode("overwrite").parquet(inDir.resolve("b1").toString)
    q.processAllAvailable()
    q.stop()

    val streamed = IngestStream.readTable(spark, storeDir.toString).get
    val batch = IngestStream.candidates(docs)
    assert(sortedRows(streamed) == sortedRows(batch))
    // the quality gate actually dropped something, and the dedup key
    // is unique in the product
    assert(streamed.count() < docs.count())
    assert(streamed.select("th").distinct().count() == streamed.count())
    // restart on the same checkpoint with no new input: no reprocess
    val v1 = java.nio.file.Files.readString(storeDir.resolve("LATEST"))
    val q2 = IngestStream.start(spark, inDir.toString + "/*/",
      inDir.resolve("b0").toString, storeDir.toString, ckpt.toString)
    q2.processAllAvailable(); q2.stop()
    assert(java.nio.file.Files.readString(storeDir.resolve("LATEST")) == v1)
  }

  test("A24: continuously-maintained sketch table == one-shot sketches, register-exact") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("sk-in")
    val storeDir = tempDir("sk-store")
    val ckpt = tempDir("sk-ckpt")

    // three arrivals splitting every day's users across batches, so
    // per-day registers only converge if the stored fold really
    // unions (a last-write-wins fold would drop earlier arrivals)
    for (r <- 0 to 2)
      events.filter(pmod(col("event_id"), lit(3)) === r)
        .write.mode("overwrite").parquet(evDir.resolve(s"b$r").toString)
    val q = SketchStream.start(spark, evDir.toString + "/*/",
      evDir.resolve("b0").toString, storeDir.toString, ckpt.toString)
    q.processAllAvailable(); q.stop()

    val streamed = SketchStream.readTable(spark, storeDir.toString).get
    // register-file equality, not just estimate equality: the stored
    // sketch IS the one-shot sketch, byte for byte (base64 so array
    // equality is structural)
    val batch = SketchStream.partials(events)
    assert(sortedRows(streamed.select(col("day"), base64(col("sk")))) ==
      sortedRows(batch.select(col("day"), base64(col("sk")))))
    // and the estimates it serves are within the HLL band of exact
    val est = SketchStream.estimates(streamed)
    val exact = events.groupBy(
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as("day"))
      .agg(countDistinct(col("user_id")).as("n"))
    val joined = est.join(exact, "day")
      .select(abs(col("est").cast("double") / col("n") - 1.0).as("relerr"))
    assert(joined.filter(col("relerr") > 0.05).count() == 0)
  }

  test("A12: rate listener reports per-batch totals like LoggerManager") {
    val events = Tables(spark, sf).events
    val evDir = tempDir("rate-in")
    events.limit(100).write.mode("overwrite").parquet(evDir.resolve("p").toString)

    val listener = new RateListener
    spark.streams.addListener(listener)
    try {
      val streamIn = spark.readStream.schema(events.schema).parquet(evDir.toString + "/*/")
      val q = streamIn.groupBy(col("event_type")).count()
        .writeStream.outputMode("complete").format("memory").queryName("rate_out")
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (listener.reports.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.reports.map(_.numInputRows).sum == 100)
      assert(listener.formatted.head.contains("rec/s"))
    } finally spark.streams.removeListener(listener)
  }

  test("a gate whose arrival throws while it lands stops its query") {
    import graft.operators.StreamQueries.drive
    val ok = spark.range(20).toDF("id")
    val boom = spark.range(20).select(
      when(col("id") === 7, raise_error(lit("arrival 1 failed to land")))
        .otherwise(col("id")).as("id"))
    val e = intercept[Exception] {
      drive("fail-land", "parquet", Seq(ok, boom)) { (glob, first) =>
        FileFoldStream.start(spark, glob, first, tempDir("fail-land-ckpt").toString) {
          (b, _) => b.count(); ()
        }
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("arrival 1 failed to land")), e)
    assert(spark.streams.active.isEmpty, "the failed drive left its query running")
  }

  test("a gate whose fold throws stops its query") {
    import graft.operators.StreamQueries.drive
    val arrivals = Seq(spark.range(10).toDF("id"), spark.range(10, 20).toDF("id"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drive("fail-fold", "parquet", arrivals) { (glob, first) =>
        FileFoldStream.start(spark, glob, first, tempDir("fail-fold-ckpt").toString) {
          (_, batchId) =>
            if (batchId == 1) throw new IllegalStateException("fold of batch 1 failed")
        }
      }
    }
    assert(String.valueOf(e.getCause.getMessage).contains("fold of batch 1 failed"), e)
    assert(spark.streams.active.isEmpty, "the failed drive left its query running")
  }

  test("a stream's pinned frame is released when the stream stops") {
    import org.apache.spark.storage.StorageLevel
    val docs = Tables(spark, sf).documents
    val inDir = tempDir("pin-in")
    docs.coalesce(1).write.mode("overwrite").parquet(inDir.resolve("batch0").toString)
    val (glob, first) = (inDir.toString + "/*/", inDir.resolve("batch0").toString)
    // the listener bus that delivers the termination is asynchronous
    def released(pinned: => DataFrame): Boolean = {
      val deadline = System.currentTimeMillis() + 10000
      while (pinned.storageLevel != StorageLevel.NONE && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      pinned.storageLevel == StorageLevel.NONE
    }
    val ref = docs.select(col("n_chars").as("v")).groupBy(col("v")).agg(count(lit(1)).as("c"))
    val drift = DriftMonitorStream.start(spark, glob, first, ref,
      tempDir("pin-drift").toString, tempDir("pin-drift-ckpt").toString)
    try {
      drift.processAllAvailable()
      assert(ref.storageLevel != StorageLevel.NONE, "the drift reference is pinned while it runs")
    } finally drift.stop()
    assert(released(ref), "the drift reference stayed cached after its stream stopped")
    def deficits = graft.operators.CorpusQueries.lmDeficits(spark, sf)
    val gate = QualityGateStream.start(spark, glob, first, sf,
      tempDir("pin-qg").toString, tempDir("pin-qg-ckpt").toString)
    try {
      gate.processAllAvailable()
      assert(deficits.storageLevel != StorageLevel.NONE, "the LM deficits are pinned while the gate runs")
    } finally gate.stop()
    assert(released(deficits), "the LM deficits stayed cached after the gate stopped")
  }
}
