package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.store.SnapshotStore

/** A24: continuously-maintained SKETCH table — the [[AggStream]]
  * pattern with a mergeable summary instead of additive longs: each
  * micro-batch sketches its rows per day (`hll_sketch`, one 4 KiB
  * register file per key) and folds the binary into the stored table
  * by register-wise union (`hll_union`) through the SnapshotStore
  * copy-on-write merge. The stored table answers "distinct users per
  * day (or any day range, by further merging)" at any time without
  * ever re-scanning the facts — the pre-aggregation lifecycle that
  * makes sliding/rollup distinct counts viable at 100 TB.
  *
  * Unlike the additive fold, the register union is IDEMPOTENT, so a
  * replayed batch could not corrupt the table even without the txn
  * guard — it is kept anyway (same manifest-header mechanism as
  * A22) so redelivery costs no rewrite at all.
  */
object SketchStream {

  private val keyCol = "day"

  /** Per-batch partial: one HLL register file per epoch day. Works on
    * a batch frame too (the spec's ground truth runs it one-shot).
    */
  def partials(events: DataFrame): DataFrame =
    events.select(
        datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long").as(keyCol),
        col("user_id"))
      .groupBy(col(keyCol))
      .agg(graft.functions.hll_sketch(col("user_id")).as("sk"))

  /** Fold: register-wise union of the stored sketch and the batch
    * sketch per day — order-free and idempotent.
    */
  private def foldUnion(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col(keyCol))
      .agg(graft.functions.hll_union(col("sk")).as("sk"))

  /** Distinct-estimate view over a sketch table (per day here; a
    * range rollup would groupBy the coarser key before the merge).
    */
  def estimates(table: DataFrame): DataFrame =
    table.groupBy(col(keyCol))
      .agg(graft.functions.hll_merge(col("sk")).as("est"))

  def readTable(spark: SparkSession, storeDir: String): Option[DataFrame] =
    new SnapshotStore(spark, storeDir, keyCol).read()

  def start(spark: SparkSession, eventsDir: String, schemaDir: String,
            storeDir: String, checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, eventsDir, schemaDir, checkpointDir) { (batch, batchId) =>
      val store = new SnapshotStore(batch.sparkSession, storeDir, keyCol)
      val p = partials(batch).persist()
      try store.mergeWith(p, init = identity[DataFrame], fold = foldUnion,
        txn = Some(batchId))
      finally p.unpersist()
      ()
    }
  }
}
