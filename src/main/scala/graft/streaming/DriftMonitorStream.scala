package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.DiagnosticsQueries
import graft.store.SnapshotStore

/** A34: streaming distribution-DRIFT monitor — the continuous twin of
  * G9's batch KS: a FROZEN reference distribution (per-value counts
  * of the reference corpus's doc-length column, built once at query
  * start — the A28/A30 frozen-artifact discipline) is compared after
  * every micro-batch against the CUMULATIVE arrived distribution,
  * and the two-sample Kolmogorov–Smirnov statistic lands in an
  * append-maintained drift log. This is the ingest-governance alarm
  * next to QualityGateStream's admission filter: admission judges
  * each document, drift judges the STREAM — a crawler that silently
  * starts truncating documents passes per-doc quality yet fires here
  * within a batch [ref: ConsumerMain.scala:91-152's consume→validate
  * loop, with validation lifted from per-record to per-distribution].
  *
  * Two maintained tables (SnapshotStore CoW merges, batch-sized work):
  *  - cumulative per-VALUE counts keyed on the value (A22 additive
  *    fold, txn-guarded — a replayed batch folds as a no-op);
  *  - the drift LOG keyed by batch id (one row per batch: cumulative
  *    N, reference N, ks_ppm). The row is a pure function of the
  *    post-fold cumulative state, so a replayed batch UPSERTS the
  *    identical row — the log converges under crash-replay.
  *
  * Per-batch cost: one batch-sized count aggregate, one CoW fold
  * touching only the value-range files the batch hits, and one KS
  * pass over the bounded value grid — nothing scales with the
  * stream's history but the grid itself.
  */
object DriftMonitorStream {

  private def countStore(spark: SparkSession, dir: String) =
    new SnapshotStore(spark, s"$dir/counts", "v")
  private def logStore(spark: SparkSession, dir: String) =
    new SnapshotStore(spark, s"$dir/log", "batch_id")

  /** Additive per-value counters (associative + commutative). */
  private def addCounts(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta).groupBy(col("v")).agg(sum(col("c")).as("c"))

  /** Upsert by batch id: a replayed batch replaces its identical row. */
  private def upsertLog(base: DataFrame, delta: DataFrame): DataFrame =
    base.join(delta.select(col("batch_id")), Seq("batch_id"), "left_anti")
      .unionByName(delta)

  /** Fold one batch of document rows into the cumulative counts and
    * append its drift reading (the foreachBatch body, callable
    * directly for batch backfills and replay specs).
    */
  def foldBatch(batch: DataFrame, refCounts: DataFrame, storeDir: String,
                batchId: Long): Unit = {
    val spark = batch.sparkSession
    val cnts = batch.select(col("n_chars").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    countStore(spark, storeDir).mergeWith(cnts,
      init = identity[DataFrame], fold = addCounts, txn = Some(batchId))
    // A first batch that is empty (or all-null-key) makes mergeWith
    // a no-op with no committed version: read() is None, and there
    // is nothing to score yet — skip the KS/log step instead of
    // wedging checkpoint replay on a .get of None.
    val stored = countStore(spark, storeDir).read()
    if (stored.isEmpty) return
    val cum = stored.get.select(col("v"), col("c"))
    val row = DiagnosticsQueries.ksStat(cum, refCounts)
      .select(lit(batchId).as("batch_id"), col("n_a").as("n_cum"),
        col("n_b").as("n_ref"), col("ks_ppm"))
    logStore(spark, storeDir).mergeWith(row,
      init = identity[DataFrame], fold = upsertLog)
    ()
  }

  /** Start the monitor over a parquet file stream of document rows.
    * `refCounts` is the frozen reference distribution as a
    * (v: long, c: long) count frame — materialized once here and
    * shared by every batch, released when the query terminates.
    */
  def start(spark: SparkSession, docsDir: String, schemaDir: String,
            refCounts: DataFrame, storeDir: String,
            checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, docsDir, schemaDir, checkpointDir,
      pins = Seq(refCounts))(foldBatch(_, refCounts, storeDir, _))
  }

  def readLog(spark: SparkSession, storeDir: String): Option[DataFrame] =
    logStore(spark, storeDir).read()

  def readCounts(spark: SparkSession, storeDir: String): Option[DataFrame] =
    countStore(spark, storeDir).read()
}
