package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.store.SnapshotStore

/** A22: continuously-maintained aggregate table — the streaming form
  * of the reference's metrics rollup (per-batch counters folded into
  * a queryable store [ref: LoggerManager.scala:38-60], here per KEY
  * instead of per batch): each micro-batch computes PARTIAL
  * aggregates (count + exact scaled-cents sum per user) and folds
  * them ADDITIVELY into a [[graft.store.SnapshotStore]] table via the
  * copy-on-write merge — only files whose key range the batch touches
  * are rewritten.
  *
  * Why partial-then-fold instead of Spark's own streaming state: the
  * result TABLE is the product (queryable between batches, snapshot
  * isolation, time travel), not a stream of updates; and the fold is
  * the same mergeable-partial-aggregate shape the batch engine uses
  * map-side, so stream == batch bit-exactly (counts and scaled longs
  * — never float sums, whose fold order would drift).
  *
  * Exactly-once: additive folds are NOT idempotent under replay, and
  * foreachBatch's merge and the checkpoint's offset commit are two
  * writes — a crash between them redelivers the batch. The store's
  * txn guard closes that window: the streaming batchId commits
  * atomically with the table version (manifest header), and a
  * replayed batchId <= the last applied one is a no-op.
  */
object AggStream {

  private val keyCol = "user_id"

  /** Per-batch partial aggregate with the stored-table schema:
    * (user_id, n_events, sum_cents). Works on a batch frame too —
    * the spec's oracle applies it to the whole table at once.
    */
  def partials(events: DataFrame): DataFrame =
    events.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))

  /** Additive fold: base and delta rows share the table schema, so
    * the merge is one union + re-aggregate over the affected slice.
    */
  private def foldAdd(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col(keyCol))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("sum_cents")).as("sum_cents"))

  def readTable(spark: SparkSession, storeDir: String): Option[DataFrame] =
    new SnapshotStore(spark, storeDir, keyCol).read()

  /** Start the maintenance query over a parquet file stream of event
    * rows (schema from `schemaDir` — any existing events parquet).
    */
  def start(spark: SparkSession, eventsDir: String, schemaDir: String,
            storeDir: String, checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, eventsDir, schemaDir, checkpointDir) { (batch, batchId) =>
      val store = new SnapshotStore(batch.sparkSession, storeDir, keyCol)
      // persist: mergeWith evaluates the delta twice (key pruning +
      // fold); the partial aggregate is tiny (one row per key).
      // txn = batchId: an additive fold is NOT replay-idempotent,
      // so redelivery after a crash between merge and checkpoint
      // commit must be a no-op (the store skips txn <= last).
      val p = partials(batch).persist()
      try store.mergeWith(p, init = identity[DataFrame], fold = foldAdd,
        txn = Some(batchId))
      finally p.unpersist()
      ()
    }
  }
}
