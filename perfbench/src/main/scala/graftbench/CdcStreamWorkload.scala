package graftbench

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.CdcOps
import graft.store.SnapshotStore
import graft.streaming.{CdcStream, GraftLines}

/** `cdc_stream`: the reference's own path. One generator thread
  * appends OGG change lines open-loop at a fixed rate to four
  * graftlines partitions; `CdcStream.startFromLines` folds each
  * micro-batch into a store seeded with one row per key, so every
  * batch rewrites every stored file. A fixed burst then drains under
  * a fixed `maxLinesPerTrigger` with no trigger interval.
  */
object CdcStreamWorkload {
  val Keys = 50000
  val Parts = 4
  /** Lines per second: about half the `drain_rows_per_s` measured at
    * 4 cores (9 800–11 400 rows/s).
    */
  val Rate = 5000.0
  /** Per partition, so a batch holds at most 4 × this many lines. */
  val MaxLinesPerTrigger = 2500L
  val Burst = 40000
  /** Lines per warm-up micro-batch, run before timing starts. */
  val WarmupLines = 1000
  val WarmupBatches = 2
  val DeleteShare = 0.05
  val SetupReps = 3

  /** Lines appended so far, with each partition's cumulative bytes. */
  final class Topic(dir: String) {
    private val outs = (0 until Parts).map(p =>
      new FileOutputStream(Paths.get(dir, s"events-$p.log").toFile, true))
    val cumBytes: Array[ArrayBuffer[Long]] = Array.fill(Parts)(ArrayBuffer(0L))
    var emitted = 0L

    /** Append lines `emitted until upTo`, one write per partition. */
    def append(upTo: Long, mk: Long => String): Unit = {
      val bufs = Array.fill(Parts)(new java.io.ByteArrayOutputStream())
      while (emitted < upTo) {
        val p = (emitted % Parts).toInt
        val b = (mk(emitted) + "\n").getBytes(UTF_8)
        bufs(p).write(b)
        cumBytes(p) += cumBytes(p).last + b.length
        emitted += 1
      }
      (0 until Parts).foreach { p =>
        if (bufs(p).size > 0) { outs(p).write(bufs(p).toByteArray); outs(p).flush() }
      }
    }
    def close(): Unit = outs.foreach(_.close())
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val tally = new Tally
    val rng = new java.util.Random(ctx.seed)
    val fold = new Fold(Keys)

    // set-up: seed a fresh store with one row per key, several times
    val seedTs = Changes.ts(Changes.TsBase - 86400)
    (0 until Keys).foreach(k => fold.add(k, "I", seedTs, k, 3, Changes.valueText(k % 1000 * 25)))
    val seedLines = spark.range(Keys).select(to_json(struct(
      lit(Changes.Table).as("table"), lit("I").as("op_type"), lit(seedTs).as("current_ts"),
      struct(col("id").as("ID"), col("id").as("USER_ID"), lit("signup").as("EVENT_TYPE"),
        (col("id") % 1000 / 4.0).as("VALUE")).as("after"))).as("line"))
    var storeRoot = ""
    val setups = tr.span("phase", "setup") {
      (0 until SetupReps).map { i =>
        storeRoot = ctx.dir(s"cdc/store-$i")
        val t0 = System.nanoTime()
        tr.span("call", "seed_store") {
          new SnapshotStore(spark, storeRoot, "user_id").merge(CdcOps.parse(seedLines))
        }
        Stats.seconds(t0, System.nanoTime())
      }
    }
    val store = new SnapshotStore(spark, storeRoot, "user_id")
    val seedVersion = store.currentVersion.get

    val topicDir = ctx.dir("cdc/topic")
    Files.createDirectories(Paths.get(topicDir))
    val topic = new Topic(topicDir) // opening creates the four segments

    // version → first time the poller saw LATEST name it
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    @volatile var polling = true
    val poller = new Thread(() => {
      var last = seedVersion
      while (polling) {
        val now = System.nanoTime()
        store.currentVersion.foreach { v =>
          while (last < v) { last += 1; seen.putIfAbsent(last, now) }
        }
        LockSupport.parkNanos(1000000L)
      }
    }, "graftbench-poller")
    poller.setDaemon(true)
    poller.start()

    val wallAtNano0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def nanoOfWallMs(ms: Long): Long = nano0 + (ms - wallAtNano0) * 1000000L

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val lines = spark.readStream.format("graftlines")
      .option("path", topicDir)
      .option("maxLinesPerTrigger", MaxLinesPerTrigger.toString)
      .load()
    val mk: Long => String = { j =>
      val key = (rng.nextDouble() * Keys).toLong
      val op = if (rng.nextDouble() < DeleteShare) "D" else "U"
      val tsText = Changes.ts(Changes.TsBase + j / 1000)
      val ev = rng.nextInt(3)
      val v = Changes.valueText(rng.nextInt(100000))
      val id = Keys + j
      fold.add(key, op, tsText, id, ev, v)
      Changes.line(op, tsText, id, key, ev, v)
    }

    val warmup = WarmupLines.toLong * WarmupBatches
    val openLoop = warmup + (Rate * ctx.seconds).toLong
    var lateMaxMs = 0.0
    var lagEnd = 0L
    var t0 = 0L
    val checkpoint = ctx.dir("cdc/checkpoint")
    val query = CdcStream.startFromLines(lines, storeRoot, checkpoint)
    var drainQuery: Option[StreamingQuery] = None
    try {
      // the stream's first batches run cold: they are not timed
      tr.span("phase", "warmup") {
        (1 to WarmupBatches).foreach { b =>
          topic.append(WarmupLines.toLong * b, mk)
          query.processAllAvailable()
        }
      }
      ctx.settle()
      tr.span("phase", "open_loop") {
        // line j (j >= warmup) is due at t0 + (j - warmup) / Rate
        t0 = System.nanoTime()
        while (topic.emitted < openLoop) {
          val now = System.nanoTime()
          val due = math.min(openLoop, warmup + ((now - t0) / 1e9 * Rate).toLong + 1)
          if (due > topic.emitted) {
            val lateMs = (now - t0) / 1e6 - (topic.emitted - warmup) / Rate * 1000.0
            lateMaxMs = math.max(lateMaxMs, lateMs)
            topic.append(due, mk)
          }
          LockSupport.parkNanos(2000000L)
        }
        lagEnd = topic.emitted - consumed(query.lastProgress)
        query.processAllAvailable()
        query.stop()
      }
      // the burst lands while no query runs; a restart on the same
      // checkpoint then drains it with no trigger interval between
      // batches, so the drain rate is the batches' own
      tr.span("phase", "burst") {
        topic.append(openLoop + Burst, mk)
        val q = CdcStream.startFromLines(lines, storeRoot, checkpoint,
          trigger = Trigger.ProcessingTime(0L))
        drainQuery = Some(q)
        q.processAllAvailable()
      }
    } finally {
      query.stop()
      drainQuery.foreach(_.stop())
      polling = false
      poller.join()
      topic.close()
    }

    val progress = (query.recentProgress ++ drainQuery.toSeq.flatMap(_.recentProgress))
      .filter(_.numInputRows > 0).sortBy(_.batchId)
    val total = openLoop + Burst
    tally.check(progress.map(_.batchId).toSeq == progress.indices.map(_.toLong),
      "micro-batches are numbered 0, 1, 2, ...")
    tally.check(progress.nonEmpty && consumed(progress.last) == total,
      s"offsets consumed equal the $total lines emitted")
    tally.check(store.currentVersion.contains(seedVersion + progress.length),
      "every micro-batch committed one store version")

    def versionOf(p: StreamingQueryProgress) = seedVersion + 1 + p.batchId
    def visible(p: StreamingQueryProgress): Long =
      Option(seen.get(versionOf(p))).map(_.longValue).getOrElse(System.nanoTime())

    // latency sample per open-loop micro-batch: visible time minus the
    // mean due time of its lines
    val (early, burst) = progress.partition(p => consumed(p) <= openLoop)
    val loop = early.filter(p => consumed(p) > warmup)
    val latencies = loop.toSeq.map { p =>
      val (s, e) = bounds(p)
      var sum = 0.0
      var n = 0L
      (0 until Parts).foreach { part =>
        (s.getOrElse(part, 0L) until e.getOrElse(part, 0L)).foreach { o =>
          sum += o * Parts + part; n += 1
        }
      }
      tally.check(n == p.numInputRows, s"batch ${p.batchId} read its planned offsets")
      val dueNs = t0 + ((sum / n - warmup) / Rate * 1e9).toLong
      Stats.seconds(dueNs, visible(p))
    }
    tally.attempted += early.length - loop.length + burst.length

    // the restarted query's first batch also pays the query's start-up,
    // so the drain is timed from the start of its second batch
    val drained = burst.drop(1)
    val drainStart = nanoOfWallMs(java.time.Instant.parse(drained.head.timestamp).toEpochMilli)
    val drainS = Stats.seconds(drainStart, visible(drained.last))
    val addBatchS = loop.toSeq.map(_.durationMs.get("addBatch").doubleValue / 1000.0)
    val loopRows = loop.map(_.numInputRows).sum

    val reads = tr.span("phase", "check") {
      ReadBack.run(ctx, store, fold.row, fold.rows.toSeq, 0L, Keys - 1L, rng, tally)
    }

    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "latency_p50_s" -> Stats.quantile(latencies, 0.5),
      "latency_p90_s" -> Stats.quantile(latencies, 0.9),
      "drain_rows_per_s" -> drained.map(_.numInputRows).sum / drainS,
      "merge_rows_per_s" -> loopRows / addBatchS.sum,
    ) ++ reads.metrics

    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      def phase(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val batches = progress.toSeq
      batches.foreach { p =>
        val start = nanoOfWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        tr.recordBatch(p.batchId, start, start + (phase(p, "triggerExecution") * 1e6).toLong)
      }
      val lo = loop.toSeq
      val q = math.max(1, lo.length / 4)
      def med(k: String, ps: Seq[StreamingQueryProgress] = lo) = Stats.median(ps.map(phase(_, k)))
      val jobs = lo.map(p => tr.jobsOfBatch(p.batchId))
      val written = jobs.flatten.map(_.counts.outputBytes.get).sum.toDouble
      val inBytes = lo.map { p =>
        val (s, e) = bounds(p)
        (0 until Parts).map(part => topic.cumBytes(part)(e.getOrElse(part, 0L).toInt) -
          topic.cumBytes(part)(s.getOrElse(part, 0L).toInt)).sum
      }.sum.toDouble
      val phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
        "walCommit", "commitOffsets")
      Map(
        "streaming.latest_offset_ms" -> med("latestOffset"),
        "streaming.latest_offset_ms_q1" -> med("latestOffset", lo.take(q)),
        "streaming.latest_offset_ms_q4" -> med("latestOffset", lo.takeRight(q)),
        "streaming.query_planning_ms" -> med("queryPlanning"),
        "streaming.wal_commit_ms" -> Stats.median(lo.map(p =>
          phase(p, "walCommit") + phase(p, "commitOffsets"))),
        "streaming.add_batch_ms" -> med("addBatch"),
        "streaming.trigger_execution_ms" -> med("triggerExecution"),
        "streaming.phase_share" -> Stats.median(lo.map(p =>
          phases.map(phase(p, _)).sum / math.max(1.0, phase(p, "triggerExecution")))),
        "streaming.rows_per_batch" -> Stats.median(lo.map(_.numInputRows.toDouble)),
        "streaming.lag_rows_end" -> lagEnd.toDouble,
        "spark.jobs_per_batch" -> Stats.median(jobs.map(_.size.toDouble)),
        "spark.tasks_per_batch" -> Stats.median(jobs.map(_.map(_.counts.tasks.get).sum.toDouble)),
        "store.bytes_written_per_input_byte" -> written / math.max(1.0, inBytes),
        "gen.late_ms_max" -> lateMaxMs,
      ) ++ reads.layers(store)
    }
    Outcome(tally.attempted, tally.failed, e2e, layers)
  }

  /** Lines consumed through a progress report's end offsets. */
  private def consumed(p: StreamingQueryProgress): Long =
    if (p == null || p.sources.isEmpty) 0L else offsets(p.sources(0).endOffset).values.sum

  /** A micro-batch's start and end offset per partition. */
  private def bounds(p: StreamingQueryProgress): (Map[Int, Long], Map[Int, Long]) =
    (offsets(p.sources(0).startOffset), offsets(p.sources(0).endOffset))

  private def offsets(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else GraftLines.parseOffsetsJson(json).map { case ((_, p), o) => p -> o }
}
