package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ann.Ann
import graft.store.SnapshotStore

/** Streaming ANN index maintenance — the A24/A26 landed-artifact
  * lifecycle applied to the C7b IVF index (the reference's
  * consume → upsert → queryable-table loop
  * [ref: ConsumerMain.scala:91-152, KuduManager.scala:72-114], with
  * the Kudu table replaced by the index's LIST table):
  *
  *  - the coarse quantizer is built ONCE from a bootstrap corpus and
  *    landed as a parquet artifact ([[landCentroids]]) — the
  *    frozen-quantizer discipline every production IVF service
  *    follows (adding vectors never moves centroids, so a vector's
  *    list assignment is a pure function of the landed artifact);
  *  - each arriving vector batch is assigned to its nearest frozen
  *    centroid (ONE broadcast pass, batch-sized —
  *    [[Ann.ivfListEntries]]) and UPSERTED into the list table
  *    through the [[SnapshotStore]] copy-on-write merge keyed on
  *    vec_id: only data files whose vec_id range the batch touches
  *    are rewritten, so maintenance cost scales with the batch,
  *    never with index size;
  *  - queries read the landed centroids + the store's current
  *    snapshot ([[queryTopK]]) — never the raw corpus — with
  *    snapshot isolation between micro-batches.
  *
  * Exactly-once: the merge is txn-guarded (a replayed foreachBatch
  * batchId folds as a no-op), and the upsert fold itself is
  * idempotent per vec_id, so a re-delivered vector converges to the
  * same row either way.
  */
object IvfStream {

  private val keyCol = "neighbor_id"

  /** One-shot quantizer build + landing: `nLists` deterministic
    * centroids from the bootstrap corpus, written to
    * `indexDir/cents`.
    */
  def landCentroids(emb: DataFrame, indexDir: String, nLists: Int = 8): Unit = {
    val cents = Ann.ivfCentroids(emb, nLists)
    cents.write.mode("overwrite").parquet(s"$indexDir/cents")
    // the landed parquet is now the authority — drop the build's
    // session-lifetime cache pin
    cents.unpersist()
    ()
  }

  /** Full IVF-PQ quantizer landing: [[landCentroids]] plus the PQ
    * codebooks and an (m, k) meta file. A store maintained against
    * this index carries packed PQ codes next to each list entry, so
    * [[queryTopKPq]] can serve the compressed-scan + exact-rerank
    * path (C7d) from the maintained artifacts alone.
    */
  def landIvfPq(emb: DataFrame, indexDir: String, nLists: Int = 8,
                m: Int = 8, k: Int = 16): Unit = {
    landCentroids(emb, indexDir, nLists)
    val cb = Ann.pqCodebooks(emb, m, k)
    cb.write.mode("overwrite").parquet(s"$indexDir/codebooks")
    cb.unpersist()
    val spark = emb.sparkSession
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexDir/meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    try out.write(s"""{"m": $m, "k": $k}""".getBytes("UTF-8"))
    finally out.close()
    ()
  }

  def centroids(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(s"$indexDir/cents")

  private def hasCodebooks(spark: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/codebooks")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def metaOf(spark: SparkSession, indexDir: String): (Int, Int) = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$indexDir/meta.json")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(metaPath)
    val meta = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    def intOf(key: String): Int =
      s""""$key"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(meta)
        .getOrElse(throw new IllegalStateException(
          s"index meta $metaPath is missing key '$key': $meta")).group(1).toInt
    (intOf("m"), intOf("k"))
  }

  def readLists(spark: SparkSession, storeDir: String): Option[DataFrame] =
    new SnapshotStore(spark, storeDir, keyCol).read()

  /** Upsert fold: a delta row replaces the stored row with the same
    * vec_id (anti-join + union — deterministic, idempotent).
    */
  private def upsert(base: DataFrame, delta: DataFrame): DataFrame =
    base.join(delta.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(delta)

  /** Fold one vector batch into the maintained list table (the
    * foreachBatch body, callable directly for batch backfills).
    */
  def mergeBatch(batch: DataFrame, indexDir: String, storeDir: String,
                 txn: Option[Long]): Long = {
    val spark = batch.sparkSession
    val store = new SnapshotStore(spark, storeDir, keyCol)
    // with a full IVF-PQ landing the maintained row also carries the
    // packed PQ codes (frozen codebooks — same discipline as the
    // frozen centroids); both encode passes are broadcast-only
    val entries =
      if (hasCodebooks(spark, indexDir))
        Ann.ivfPqEntries(batch, centroids(spark, indexDir),
          spark.read.parquet(s"$indexDir/codebooks"),
          m = metaOf(spark, indexDir)._1)
      else Ann.ivfListEntries(batch, centroids(spark, indexDir))
    store.mergeWith(entries, init = identity[DataFrame], fold = upsert, txn = txn)
  }

  /** Start the maintenance stream over a parquet file stream of
    * embedding rows (schema from `schemaDir` — any existing
    * embeddings parquet). `indexDir` must already hold landed
    * centroids ([[landCentroids]]).
    */
  def start(spark: SparkSession, vecsDir: String, schemaDir: String,
            indexDir: String, storeDir: String,
            checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, vecsDir, schemaDir, checkpointDir) { (batch, batchId) =>
      mergeBatch(batch, indexDir, storeDir, Some(batchId))
      ()
    }
  }

  /** IVF top-k against the maintained index: landed centroids + the
    * store's current list-table snapshot. The corpus is never read.
    */
  def queryTopK(spark: SparkSession, indexDir: String, storeDir: String,
                queries: DataFrame, k: Int, nprobe: Int = 2): DataFrame =
    Ann.ivfQueryTopK(centroids(spark, indexDir),
      readLists(spark, storeDir).getOrElse(
        throw new IllegalStateException(s"no list table at $storeDir")),
      queries, k, nprobe)

  /** IVF-PQ top-k against the maintained index (requires a
    * [[landIvfPq]] landing): landed centroids + codebooks, codes and
    * normed vectors from the store snapshot — the exact frames
    * [[Ann.queryIvfPq]] reads from a one-shot
    * [[Ann.buildIvfPqIndex]], so query semantics are identical.
    */
  def queryTopKPq(spark: SparkSession, indexDir: String, storeDir: String,
                  queries: DataFrame, topK: Int, nprobe: Int = 2,
                  rerank: Int = 32, excludeSelf: Boolean = false): DataFrame = {
    val lists = readLists(spark, storeDir).getOrElse(
      throw new IllegalStateException(s"no list table at $storeDir"))
    val (m, k) = metaOf(spark, indexDir)
    val idx = Ann.IvfPqIndex(
      cents = centroids(spark, indexDir),
      codebooks = spark.read.parquet(s"$indexDir/codebooks"),
      codes = lists.select(col(keyCol), col("list_id"), col("codes")),
      vectors = lists.select(col(keyCol), col("ce"), col("nc")),
      m = m, k = k)
    Ann.queryIvfPq(idx, queries, topK, nprobe, rerank, excludeSelf)
  }
}
