package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.store.SnapshotStore
import graft.text.TextAnalysis

/** A26: streaming corpus ingest — the LLM-data twin of the reference's
  * CDC loop (consume → validate → dedup-upsert → queryable table
  * [ref: ConsumerMain.scala:91-152, KuduManager.scala:72-114]):
  * documents arrive as a file stream, each micro-batch is quality-
  * filtered (the C18 rule), reduced to one WINNER per exact content
  * hash (first arrival = smallest doc_id — the C14 keep-best shape
  * with arrival order as quality), and folded into a
  * [[graft.store.SnapshotStore]] keyed by the 64-bit content hash, so
  * the store IS the deduplicated corpus, queryable between batches
  * with snapshot isolation.
  *
  * Scale: per-batch state is the batch's winner set (batch-bounded);
  * the cross-batch dedup state lives in the STORE's key index, not in
  * Spark streaming state — no unbounded dropDuplicates state, and the
  * CoW merge rewrites only files whose hash range the batch touches.
  * Exactly-once: same txn-guard discipline as A22 (a replayed batchId
  * folds as a no-op).
  */
object IngestStream {

  private val keyCol = "th"

  /** Per-batch quality-filtered winner per content hash, in the
    * stored-table schema (th, doc_id, lang, source, n_chars). Works
    * on a batch frame too — the spec's oracle applies it to the whole
    * corpus at once (the A22 partials pattern).
    */
  def candidates(docs: DataFrame): DataFrame = {
    val keep = TextAnalysis.qualityFeatures(docs)
      .filter(col("n_words").between(20, 100000) &&
        col("mean_word_len").between(2.0, 10.0) &&
        col("n_stopwords") >= 1)
      .select(col("doc_id"))
    docs.join(keep, "doc_id")
      .select(xxhash64(col("text")).as(keyCol), col("doc_id"),
        col("lang"), col("source"), col("n_chars"))
      .groupBy(col(keyCol))
      .agg(min_by(
        struct(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        col("doc_id")).as("r"))
      .select(col(keyCol), col("r.doc_id").as("doc_id"),
        col("r.lang").as("lang"), col("r.source").as("source"),
        col("r.n_chars").as("n_chars"))
  }

  /** First-arrival-wins fold: between the stored row and a delta row
    * with the same content hash, keep the smaller doc_id.
    */
  private def foldKeepFirst(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col(keyCol))
      .agg(min_by(
        struct(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        col("doc_id")).as("r"))
      .select(col(keyCol), col("r.doc_id").as("doc_id"),
        col("r.lang").as("lang"), col("r.source").as("source"),
        col("r.n_chars").as("n_chars"))

  def readTable(spark: SparkSession, storeDir: String): Option[DataFrame] =
    new SnapshotStore(spark, storeDir, keyCol).read()

  /** Start the ingest over a parquet file stream of document rows
    * (schema from `schemaDir` — any existing documents parquet).
    */
  def start(spark: SparkSession, docsDir: String, schemaDir: String,
            storeDir: String, checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, docsDir, schemaDir, checkpointDir) { (batch, batchId) =>
      val store = new SnapshotStore(batch.sparkSession, storeDir, keyCol)
      val cand = candidates(batch).persist()
      try store.mergeWith(cand, init = identity[DataFrame],
        fold = foldKeepFirst, txn = Some(batchId))
      finally cand.unpersist()
      ()
    }
  }
}
