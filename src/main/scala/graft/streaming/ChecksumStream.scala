package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.store.SnapshotStore

/** A39: continuously-maintained table checksum — the A38 sync-
  * validation checksum kept LIVE beside the stream instead of
  * recomputed after the fact [ref: LoggerManager.scala's per-batch
  * sync log — this is its content-integrity upgrade, maintained at
  * the same per-batch cadence]. The checksum is a SUM of canonical
  * row hashes, i.e. a mergeable partial aggregate: each micro-batch
  * contributes one (n_rows, sum_h) row and the store folds it
  * additively under the same batch-txn replay guard as A22 — so the
  * running checksum equals the batch A38 checksum of everything
  * ingested, bit-exactly, at every commit point.
  *
  * The decimal(38,0) running sum never wraps (2^56-sized terms need
  * ~10^21 rows to reach 38 digits); the queryable surface reduces it
  * mod 2^56 exactly like the batch twin.
  */
object ChecksumStream {

  // SnapshotStore prunes on LONG key ranges — the store key is a
  // numeric table id; the human-readable table_name rides along.
  private val keyCol = "table_id"
  private val EventsId = 1L

  /** 56-bit canonical row hash — the A38 kernel (md5 prefix of a
    * pipe-joined projection, money as explicit cents-cast longs).
    */
  def rowHash56(canon: Column): Column =
    conv(substring(md5(canon), 1, 14), 16, 10).cast("decimal(38,0)")

  /** Canonical projection of an events row (shared with the batch
    * A38 arm so stream == batch is bit-exact by construction).
    */
  def eventsCanon: Column =
    concat_ws("|", col("event_id"), col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long"))

  /** One-row partial: (table_name, n_rows, sum_h). Safe on an empty
    * batch (sum coalesces to 0).
    */
  def partials(events: DataFrame): DataFrame =
    events.select(rowHash56(eventsCanon).as("h"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("h")), lit(0L).cast("decimal(38,0)")).as("sum_h"))
      .select(lit(EventsId).as(keyCol), lit("events").as("table_name"),
        col("n_rows"), col("sum_h"))

  private def foldAdd(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col(keyCol), col("table_name"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("sum_h")).cast("decimal(38,0)").as("sum_h"))

  /** The queryable surface: running checksum mod 2^56, the A38 shape. */
  def readChecksum(spark: SparkSession, storeDir: String): Option[DataFrame] =
    new SnapshotStore(spark, storeDir, keyCol).read().map(_.select(
      col("table_name"), col("n_rows"),
      expr("CAST(sum_h % 72057594037927936 AS BIGINT)").as("checksum56")))

  /** One micro-batch's fold. txn = batchId: the additive checksum
    * fold is not replay-idempotent; redelivery must be a no-op (the
    * store skips txn <= last applied).
    */
  def foldBatch(batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val store = new SnapshotStore(batch.sparkSession, storeDir, keyCol)
    val p = partials(batch).persist()
    try store.mergeWith(p, init = identity[DataFrame], fold = foldAdd,
      txn = Some(batchId))
    finally p.unpersist()
    ()
  }

  def start(spark: SparkSession, eventsDir: String, schemaDir: String,
            storeDir: String, checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, eventsDir, schemaDir, checkpointDir)(
      foldBatch(_, storeDir, _))
  }
}
