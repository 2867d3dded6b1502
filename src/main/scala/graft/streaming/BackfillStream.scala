package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.store.SnapshotStore

/** A32: late-data BACKFILL — the repair half of the A31 lifecycle.
  * A31 routes watermark-late rows to a quarantine instead of
  * dropping them; this stream folds a routed directory (accepted OR
  * quarantined) into a per-(day, event_type) aggregate store, so the
  * pipeline's answer is eventually-correct: repaired view = the
  * accepted store + the quarantine store, summed at read — exactly
  * the batch aggregate over ALL events, no row lost.
  *
  * Two stores instead of one shared store because each streaming
  * query owns its own monotonic batchId space: folding two streams
  * into ONE SnapshotStore would interleave their txn ids and the
  * scalar replay guard (txn <= last applied → no-op) would silently
  * drop legitimate batches. Separate ledgers also keep the repair
  * AUDITABLE — how much of every day's count arrived late is a
  * first-class column, not lost in a merged total.
  *
  * The A22 discipline throughout: per-batch PARTIAL aggregates
  * (mergeable counts, never floats) folded additively through the
  * txn-guarded CoW merge; the store key is xxhash64(day|event_type)
  * — a long, so the store's key-range file pruning applies; day and
  * event_type ride along as payload columns.
  */
object BackfillStream {

  private val keyCol = "k"

  /** Per-batch partial: (k, d, event_type, n). Works on a batch
    * frame too — the oracle applies it to the whole table at once.
    */
  def partials(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("d"), col("event_type"))
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(xxhash64(concat_ws("|", col("d"), col("event_type"))).as(keyCol),
        col("d"), col("event_type"), col("n"))

  private def foldAdd(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col(keyCol), col("d"), col("event_type"))
      .agg(sum(col("n")).as("n"))

  def readTable(spark: SparkSession, storeDir: String): Option[DataFrame] =
    new SnapshotStore(spark, storeDir, keyCol).read()

  /** Start the fold over a parquet file stream of routed event rows
    * (schema from `schemaDir`; route dirs nest rec=b<batchId>
    * landings, so the needed columns are re-selected explicitly).
    */
  def start(spark: SparkSession, routedGlob: String, schemaDir: String,
            storeDir: String, checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, routedGlob, schemaDir, checkpointDir) { (batch, batchId) =>
      val store = new SnapshotStore(batch.sparkSession, storeDir, keyCol)
      val p = partials(batch.select(col("ts"), col("event_type"))).persist()
      try store.mergeWith(p, init = identity[DataFrame], fold = foldAdd,
        txn = Some(batchId))
      finally p.unpersist()
      ()
    }
  }
}
