package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.row_position
import graft.operators.CorpusQueries
import graft.store.SnapshotStore

/** A30: streaming ingest-time QUALITY gate — the production shape
  * where a FROZEN, offline-trained quality model scores every
  * arriving document and only target-quality material enters the
  * corpus (CCNet's ingest filter; the reference's consume → validate
  * → upsert loop [ref: ConsumerMain.scala:91-152] with the
  * validation replaced by model scoring). The model is the C69
  * fixed-point bigram LM read from the LANDED word-pairs artifact —
  * built ONCE outside the stream and never updated by it (the
  * A28/A29 frozen-artifact discipline: maintenance must not drift
  * the model the gate is defined by). Two maintained tables:
  *
  *  - ADMITTED docs keyed by doc_id (upsert — a redelivered doc
  *    replaces its row, so the table converges under replay);
  *  - per-source admission STATS (n_seen, n_kept) — the A22
  *    additive-fold aggregate, txn-guarded so a replayed batch folds
  *    as a no-op.
  *
  * Per-batch work is batch-sized: scoring is one broadcast join of
  * the batch's bigrams against the frozen deficit table + one
  * per-doc aggregate; the CoW merges rewrite only files whose key
  * range the batch touches. Admission is `ppl_milli_ebits <=
  * threshold` in the C69 integer eighth-bit scale, with the
  * threshold frozen as the model corpus's EXACT median score
  * ([[modelThreshold]] — CCNet's percentile cut), so the admitted
  * set is bit-reproducible and the q_stream_quality_gate oracle
  * replays it exactly. Docs the model cannot score (no known bigram
  * — here only sub-2-token docs) are counted seen, never admitted.
  */
object QualityGateStream {

  private val docKey = "doc_id"
  // the store's key index is a long range — string group keys enter
  // as their xxhash64 with the string kept as a payload column
  private val statsKey = "skey"

  private def docStore(spark: SparkSession, dir: String) =
    new SnapshotStore(spark, s"$dir/docs", docKey)
  private def statStore(spark: SparkSession, dir: String) =
    new SnapshotStore(spark, s"$dir/stats", statsKey)

  /** Upsert by doc_id: a re-delivered document replaces its row. */
  private def upsertDocs(base: DataFrame, delta: DataFrame): DataFrame =
    base.join(delta.select(col(docKey)), Seq(docKey), "left_anti")
      .unionByName(delta)

  /** Additive per-source counters (associative + commutative). */
  private def addStats(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col(statsKey))
      .agg(min(col("source")).as("source"),
        sum(col("n_seen")).as("n_seen"), sum(col("n_kept")).as("n_kept"))

  /** The frozen admission threshold: the EXACT median score of the
    * model corpus (CCNet's percentile cut — an absolute constant
    * would not transfer across corpora; measured: the sf0.01-tuned
    * constant admitted 6 of 5000 docs at sf0.1). Computed ONCE per
    * model, offline, with the C27 range-sort + `row_position()`
    * pattern (never a single-partition window), and frozen alongside
    * the deficit table.
    */
  def modelThreshold(spark: SparkSession, modelDir: String): Long = {
    val scores = CorpusQueries.lmScoreFrame(spark, modelDir)
      .select(col("ppl_milli_ebits"))
    val k = (scores.count() + 1L) / 2L
    scores.orderBy(col("ppl_milli_ebits"))
      .select(col("ppl_milli_ebits"), row_position().as("pos"))
      .filter(col("pos") === k - 1L).first().getLong(0)
  }

  /** Score one batch against the frozen model: (admitted rows in the
    * stored schema, per-source stats delta). Works on a batch frame
    * too — the spec's oracle applies it to the whole corpus at once.
    */
  def admit(batch: DataFrame, deficits: DataFrame,
            threshold: Long): (DataFrame, DataFrame) = {
    val scored = CorpusQueries.lmScoreAgainst(batch, deficits)
      .select(col(docKey), col("ppl_milli_ebits"))
    val admitted = batch
      .select(col(docKey), col("lang"), col("source"), col("n_chars"))
      .join(scored.filter(col("ppl_milli_ebits") <= threshold), Seq(docKey))
    val stats = batch.select(col(docKey), col("source"))
      .join(scored, Seq(docKey), "left")
      .groupBy(xxhash64(col("source")).as(statsKey), col("source"))
      .agg(count(lit(1)).as("n_seen"),
        sum(when(col("ppl_milli_ebits") <= threshold, 1L).otherwise(0L))
          .as("n_kept"))
      .select(col(statsKey), col("source"), col("n_seen"), col("n_kept"))
    (admitted, stats)
  }

  /** Fold one batch into both stores (the foreachBatch body,
    * callable directly for batch backfills and replay specs).
    */
  def mergeBatch(batch: DataFrame, deficits: DataFrame, storeDir: String,
                 txn: Option[Long], threshold: Long): Unit = {
    val spark = batch.sparkSession
    val (admitted, stats) = admit(batch, deficits, threshold)
    docStore(spark, storeDir)
      .mergeWith(admitted, init = identity[DataFrame], fold = upsertDocs,
        txn = txn)
    statStore(spark, storeDir)
      .mergeWith(stats, init = identity[DataFrame], fold = addStats,
        txn = txn)
    ()
  }

  /** Start the gate over a parquet file stream of document rows.
    * `modelDir` is the corpus the frozen LM was trained on (its
    * landed word-pairs artifact is read, or built once if absent).
    */
  def start(spark: SparkSession, docsDir: String, schemaDir: String,
            modelDir: String, storeDir: String, checkpointDir: String,
            threshold: Option[Long] = None): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    // frozen: pinned once per query start, shared by every batch
    val deficits = CorpusQueries.lmDeficits(spark, modelDir)
    FileFoldStream.start(spark, docsDir, schemaDir, checkpointDir,
        pins = Seq(deficits)) {
      val thr = threshold.getOrElse(modelThreshold(spark, modelDir))
      (batch, batchId) => mergeBatch(batch, deficits, storeDir, Some(batchId), thr)
    }
  }

  def readAdmitted(spark: SparkSession, storeDir: String): Option[DataFrame] =
    docStore(spark, storeDir).read()

  def readStats(spark: SparkSession, storeDir: String): Option[DataFrame] =
    statStore(spark, storeDir).read()
}
