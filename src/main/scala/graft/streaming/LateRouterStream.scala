package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.store.SnapshotStore

/** A31: watermark late-data ROUTING — the side-output Structured
  * Streaming doesn't give you. Spark's `withWatermark` silently
  * DROPS rows older than watermark−delay inside stateful operators; a
  * production training-data ingest cannot lose records silently — it
  * must quarantine them for audit and backfill (G3's lateness audit
  * is the batch diagnostic; this is the streaming enforcement, the
  * dropped-row accounting the reference's sync log implies per batch
  * [ref: LoggerManager.scala:38-63]).
  *
  * Each micro-batch routes against the high-water mark carried from
  * the END of the previous batch — exactly Spark's own watermark
  * cadence (the watermark a batch enforces was computed from prior
  * batches): `ts < hwm − delay` → quarantine parquet, else →
  * accepted parquet; then the batch's own max(ts) is folded into a
  * per-batch hwm ledger.
  *
  * Replay discipline (the A22/A26 txn pattern, hardened for a
  * DERIVED read): the hwm ledger is a [[SnapshotStore]] keyed by
  * batch_id, one row per batch. The routing hwm for batch b is
  * max(mx_micros) over ledger rows with batch_id < b — a replayed
  * batch therefore re-reads the SAME pre-batch hwm it used the first
  * time (reading "current hwm" would include the replayed batch's
  * own fold and flip the split), re-routes identically, and
  * OVERWRITES its own rec=b<batchId> landing — keyed by batchId
  * ALONE (not the CdcStream run token: THAT landing wants cross-run
  * replays visible for the exactly-once accounting gate; this one
  * wants them absorbed, and checkpointed batchIds stay monotonic
  * across restarts, so batchId is the correct idempotency key). The
  * ledger fold itself is txn-guarded into a no-op. Scale: the ledger
  * is one 16-byte row per micro-batch; both output routes are
  * append-only parquet partitioned by arrival batch.
  */
object LateRouterStream {

  private val keyCol = "batch_id"

  /** Read one routed side back, dropping the rec= landing column. */
  def readRoute(spark: SparkSession, dir: String, schemaCols: Seq[String]): DataFrame =
    spark.read.parquet(dir).select(schemaCols.map(col): _*)

  def start(spark: SparkSession, eventsGlob: String, schemaDir: String,
            acceptedDir: String, lateDir: String, hwmDir: String,
            checkpointDir: String, delayMicros: Long): StreamingQuery = {
    Files.createDirectories(Paths.get(acceptedDir))
    Files.createDirectories(Paths.get(lateDir))
    Files.createDirectories(Paths.get(hwmDir))
    // both routes land the source columns only (no ts_micros/is_late)
    val outCols = spark.read.parquet(schemaDir).schema.fieldNames.map(col).toSeq
    FileFoldStream.start(spark, eventsGlob, schemaDir, checkpointDir) { (batch, batchId) =>
      val ss = batch.sparkSession
      val ledger = new SnapshotStore(ss, hwmDir, keyCol)
      // pre-batch hwm: strictly earlier ledger rows only, so a
      // replayed batch routes against the same mark as its first run
      val hwmPrev: Option[Long] = ledger.read().flatMap { l =>
        val r = l.filter(col(keyCol) < batchId)
          .agg(max(col("mx_micros"))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      val stamped = batch.withColumn("ts_micros", unix_micros(col("ts"))).persist()
      try {
        val isLate = hwmPrev match {
          case Some(h) => col("ts_micros") < lit(h - delayMicros)
          case None    => lit(false)
        }
        val routed = stamped.withColumn("is_late", isLate)
        routed.filter(!col("is_late")).select(outCols: _*)
          .write.mode("overwrite")
          .parquet(s"$acceptedDir/rec=b$batchId")
        routed.filter(col("is_late")).select(outCols: _*)
          .write.mode("overwrite")
          .parquet(s"$lateDir/rec=b$batchId")
        val mxRow = stamped.agg(max(col("ts_micros"))).head()
        if (!mxRow.isNullAt(0)) {
          val delta = ss.range(1).select(lit(batchId).as(keyCol),
            lit(mxRow.getLong(0)).as("mx_micros"))
          ledger.mergeWith(delta, init = identity[DataFrame],
            fold = (base, d) => base.unionByName(d)
              .groupBy(col(keyCol)).agg(max(col("mx_micros")).as("mx_micros")),
            txn = Some(batchId))
        }
      } finally stamped.unpersist()
      ()
    }
  }
}
