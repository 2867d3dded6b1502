package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.cdc.CdcOps
import graft.store.SnapshotStore

/** A9: the reference's whole pipeline — Kafka DStream → per-record
  * Kudu upsert [ref: ConsumerMain.scala:91-152] — as Structured
  * Streaming: file/Kafka source of JSON change lines → foreachBatch
  * MERGE through the [[graft.store.SnapshotStore]] table-format seam
  * (data-file manifest + key-range index + snapshot-isolated reads —
  * the Kudu role).
  *
  * Offset management (the reference's zk/local-file/Kafka-commit
  * triple [ref: ConsumerMain.scala:128-151]) is subsumed by the
  * checkpoint WAL: source offsets commit atomically with batch
  * completion, so restart resumes exactly where it stopped; replaying
  * a committed batch is harmless because the merge fold is idempotent
  * (last-write-wins on the same (current_ts, id) total order).
  */
object CdcStream {

  private val snapshotKey = "user_id"

  def readSnapshot(spark: SparkSession, snapshotDir: String): Option[DataFrame] =
    new SnapshotStore(spark, snapshotDir, snapshotKey).read()

  /** Start the ingest: `linesDir` is watched for files of JSON change
    * lines (the file-source stand-in for a Kafka topic; swapping in
    * `format("kafka")` changes only this reader).
    *
    * `maxFilesPerTrigger` (0 = unlimited) is the Structured Streaming
    * twin of the reference's backpressure / maxRatePerPartition knobs
    * [ref: ConsumerMain.scala:36-39]: a burst of input files is
    * consumed in bounded per-batch slices instead of one giant
    * micro-batch that overwhelms the sink.
    */
  def start(spark: SparkSession, linesDir: String, snapshotDir: String,
            checkpointDir: String, maxFilesPerTrigger: Int = 0,
            trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    val reader = spark.readStream
    if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    val lines = reader.text(linesDir).withColumnRenamed("value", "line")
    startFromLines(lines, snapshotDir, checkpointDir, trigger = trigger)
  }

  /** Deploy-config form: snapshot under `<storeRoot>/<name>`,
    * checkpoint under `<checkpointRoot>/<name>`, cadence and
    * admission rate from the properties file — the reference's
    * config.properties-driven ConsumerMain startup
    * [ref: ConsumerMain.scala:41-45] for this engine's knobs.
    */
  def startFromConfig(spark: SparkSession, cfg: graft.GraftConfig,
                      linesDir: String, name: String): StreamingQuery =
    start(spark, linesDir,
      s"${cfg.storeRoot}/$name", s"${cfg.checkpointRoot}/$name",
      cfg.maxFilesPerTrigger, cfg.trigger)

  /** Multi-table fan-in → fan-out (r13 verdict task 4): ONE streaming
    * query consumes a topic-set line stream (the reference subscribes
    * a comma topic LIST into one direct stream
    * [ref: ConsumerMain.scala:44]) and routes each table's records to
    * its own SnapshotStore under `<storeRoot>/<table>` — the
    * reference's per-target-table Kudu fan-out
    * [ref: KuduManager.scala:66-70] through the table-format seam.
    *
    * One checkpoint owns the whole fan-out: every table's merge for a
    * micro-batch completes before the batch commits, so a crash
    * replays the batch into ALL sinks — harmless, the fold is
    * idempotent per table. The mixed batch is parsed ONCE and
    * persisted; each route is a filter on the parsed frame (a table
    * absent from a batch merges an empty delta, which is a no-op by
    * the store's hit-segment check — no version churn).
    */
  def startRouted(lines: DataFrame, tables: Seq[String], storeRoot: String,
                  checkpointDir: String,
                  trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    require(tables.nonEmpty, "startRouted needs at least one target table")
    tables.foreach(t => Files.createDirectories(Paths.get(s"$storeRoot/$t")))
    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val parsed = CdcOps.parse(batch.select("line")).persist()
        try tables.foreach { t =>
          val store = new SnapshotStore(batch.sparkSession,
            s"$storeRoot/$t", snapshotKey)
          store.merge(CdcOps.routeTable(parsed, t).drop("tab_name"))
        } finally parsed.unpersist()
        ()
      }
      .start()
  }

  /** The same ingest over an ALREADY-BUILT streaming `line` frame —
    * the seam where the source format swaps (file, graftlines, or
    * `format("kafka")` on a real cluster) without touching the fold.
    * `consumedDir` (optional) additionally appends each batch's
    * (topic, partition, offset) rows — the per-batch consumption
    * record q_stream_kafka_seam counts to prove exactly-once resume.
    */
  /** `decode` turns a micro-batch of wire records into the typed
    * change-record frame ([[CdcOps.parse]]'s column contract). The
    * default is the JSON line parse; the binary-Avro feed swaps in
    * [[graft.cdc.AvroChangeModel.parseAvro]] and NOTHING downstream
    * changes — the decode is the only encoding-specific stage of the
    * pipeline (the reference is JSON-only
    * [ref: KuduManager.scala:50-66]; a schema-registry deployment
    * differs exactly here).
    */
  def startFromLines(lines: DataFrame, snapshotDir: String,
                     checkpointDir: String,
                     consumedDir: Option[String] = None,
                     trigger: Trigger = Trigger.ProcessingTime("1 second"),
                     decode: DataFrame => DataFrame =
                       b => CdcOps.parse(b.select("line"))): StreamingQuery = {
    Files.createDirectories(Paths.get(snapshotDir))
    // the consumption record lands under rec=<ckpt-hash>_b<batchId>
    // (ADVICE r10): a failed-and-retried micro-batch — within one
    // run OR as a crash-restart replay of an uncommitted batch, the
    // normal at-least-once foreachBatch path — reuses its
    // checkpointed batchId under the SAME checkpoint, so it
    // OVERWRITES its own record instead of appending a duplicate
    // that would inflate n_consumed over n_distinct and spuriously
    // fail the exactly-once accounting gate. The checkpoint hash
    // (the logical stream's identity — the old random run token
    // falsely double-counted crash-restart replays) keeps SEPARATE
    // queries sharing one record dir (the seam gate's fresh-
    // checkpoint resume-from-offset-log phase B) from colliding at
    // batchId 0; a genuine source replay (new offsets for old data)
    // still surfaces as duplicate offsets in the record itself.
    val ckptTag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(checkpointDir))
    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Incremental compaction through the table-format seam: the
        // batch is folded into the stored files its keys touch, as
        // snapshot(affected base ∪ batch) inside the ONE range
        // exchange that clusters the rewritten files —
        // compact(snapshot(A), B) == snapshot(A ∪ B), so semantics
        // equal replaying the whole log, and the fold adds no shuffle
        // of its own (4 jobs per batch, plan-shape spec'd).
        // delete_state is recomputed after every merge; logical
        // deletes survive because the D record itself stays in the
        // snapshot [ref: KuduManager.scala:74-80].
        val store = new SnapshotStore(batch.sparkSession, snapshotDir, snapshotKey)
        // persist: the copy-on-write merge reads the delta three times
        // (key-set for file pruning, range sampling, the fold) —
        // without a cache the source micro-batch would be re-scanned
        // per pass
        val parsed = decode(batch).persist()
        try store.merge(parsed)
        finally parsed.unpersist()
        consumedDir.foreach { d =>
          batch.selectExpr("topic", "partition", "offset")
            .write.mode("overwrite").parquet(s"$d/rec=${ckptTag}_b$batchId")
        }
        ()
      }
      .start()
  }
}
