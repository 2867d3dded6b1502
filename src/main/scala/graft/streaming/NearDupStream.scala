package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup
import graft.store.SnapshotStore

/** A29: streaming NEAR-dup index maintenance — the C2 MinHash-LSH
  * index under the A26/A28 landed-store lifecycle, completing the
  * streaming dedup story (IngestStream folds EXACT duplicates at
  * ingest; this maintains the near-dup candidate index the same
  * way). The reference's consume → upsert → queryable-table loop
  * [ref: ConsumerMain.scala:91-152] with the table replaced by two
  * index artifacts:
  *
  *  - a SIGNATURE store keyed by doc_id holding each document's
  *    hashed-shingle set (the exact-verify side);
  *  - a BUCKET store keyed by the 64-bit (band, band-hash) key
  *    holding the sorted posting list of doc_ids in that LSH bucket
  *    (one row per bucket — the A22 continuously-maintained-
  *    aggregate shape, folded by sorted set-union).
  *
  * Per-batch work is batch-sized: signatures and band hashes are
  * map-side kernels over the arriving documents, and the CoW merges
  * rewrite only store files whose key range the batch touches. Both
  * folds are idempotent and txn-guarded, so replays converge. The
  * banding is [[Dedup.bandStructs]] — the SAME definition the batch
  * operator uses, so the streamed index equals the one-shot C2 scan
  * for any arrival split (the q_stream_neardup gate pins this
  * against q_dedup_minhash's exact SQL replay).
  *
  * At 100 TB: bucket posting lists are near-dup-mass-sized (LSH at
  * 16x4 over 64-slot signatures — a bucket collects only docs whose
  * signatures agree on a band), and [[pairs]] explodes pairs only
  * WITHIN buckets — candidate generation stays linear + bucket-
  * bounded exactly like the batch path.
  */
object NearDupStream {

  private val sigKey = "doc_id"
  private val bucketKey = "bkey"

  private def sigStore(spark: SparkSession, dir: String) =
    new SnapshotStore(spark, s"$dir/sig", sigKey)
  private def bucketStore(spark: SparkSession, dir: String) =
    new SnapshotStore(spark, s"$dir/bucket", bucketKey)

  /** Upsert by doc_id: a re-delivered document replaces its row. */
  private def upsertSig(base: DataFrame, delta: DataFrame): DataFrame =
    base.join(delta.select(col(sigKey)), Seq(sigKey), "left_anti")
      .unionByName(delta)

  /** Sorted set-union of posting lists per bucket — associative,
    * commutative, idempotent: any arrival split and any replay
    * converges to the same row.
    */
  private def unionBuckets(base: DataFrame, delta: DataFrame): DataFrame =
    base.unionByName(delta)
      .groupBy(col(bucketKey))
      .agg(sort_array(array_distinct(flatten(collect_list(col("docs")))))
        .as("docs"))
      // cumulative growth across batches is re-checked at fold time
      .withColumn("docs", cappedDocs(col("docs")))

  /** Fold-time twin of [[pairs]]' maxBucketDocs — spec-visible. */
  private[graft] val maxFoldBucketDocs: Int = 5000

  /** Hot-bucket guard on the INDEX WRITE path (mergeBatch): refuse to
    * land a degenerate posting list rather than commit an index whose
    * every read would explode quadratically — the same remediation
    * story as [[Dedup.minhashLsh]]'s guard, raised inline
    * (data-dependent, no extra pass). Applied to each batch's
    * contribution (covers the v0/init commit) AND inside the fold
    * (covers cumulative growth across batches). The failing batch
    * dies loudly and the store's commit never happens, so the index
    * stays at its pre-batch version.
    */
  private def cappedDocs(docs: Column): Column =
    when(size(docs) <= maxFoldBucketDocs, docs)
      .otherwise(raise_error(concat(
        lit("minhash-LSH hot bucket at index write: a bucket exceeds "),
        lit(s"$maxFoldBucketDocs docs — templated/boilerplate flood; " +
          "dedup exact at ingest or cluster with dup clusters instead " +
          "of pair enumeration."))))

  /** Fold one document batch into both index stores (the foreachBatch
    * body, callable directly for batch backfills).
    *
    * The shingle kernel is the batch's entire compute and BOTH
    * contributions derive from it, while mergeWith reads each delta
    * several times (key-set pass, range sampling, data write) — so
    * the shared shingle frame and the bucket aggregate are staged
    * once per batch (batch-sized, released before return) instead of
    * re-shingling the documents up to six times per merge (r16;
    * measured 40 scheduled jobs / 3.2 s for the forget gate's
    * build+forget+query lifecycle before, most of them re-running
    * this lineage).
    */
  def mergeBatch(batch: DataFrame, storeDir: String,
                 txn: Option[Long]): Unit = {
    val spark = batch.sparkSession
    val shingles = Dedup.hashedShingles(batch)
      .select(col(sigKey), col("shh")).persist()
    val buckets = shingles
      .select(col(sigKey), graft.functions.minhash_sig(col("shh")).as("sig"))
      .select(col(sigKey),
        explode(array(Dedup.bandStructs(col("sig")): _*)).as("b"))
      .select(xxhash64(col("b.band"), col("b.bh")).as(bucketKey), col(sigKey))
      .groupBy(col(bucketKey))
      .agg(sort_array(collect_set(col(sigKey))).as("docs"))
      .withColumn("docs", cappedDocs(col("docs")))
      .persist()
    try {
      sigStore(spark, storeDir).mergeWith(shingles,
        init = identity[DataFrame], fold = upsertSig, txn = txn)
      bucketStore(spark, storeDir)
        .mergeWith(buckets, init = identity[DataFrame], fold = unionBuckets,
          txn = txn)
    } finally {
      buckets.unpersist(blocking = false)
      shingles.unpersist(blocking = false)
    }
    ()
  }

  def start(spark: SparkSession, docsDir: String, schemaDir: String,
            storeDir: String, checkpointDir: String): StreamingQuery = {
    Files.createDirectories(Paths.get(storeDir))
    FileFoldStream.start(spark, docsDir, schemaDir, checkpointDir)(
      (batch, batchId) => mergeBatch(batch, storeDir, Some(batchId)))
  }

  /** Forget-propagation (r14, the A43/C105 compliance family): hard-
    * remove a set of documents from BOTH index artifacts without
    * touching the corpus. The forgotten docs' bucket keys are
    * recomputed FROM THE INDEX ALONE (band hashes derive from the
    * stored shingle sets via the same [[Dedup.bandStructs]] kernel —
    * no text needed), so the bucket-store rewrite is delta-bounded:
    * only buckets a forgotten doc actually sits in are re-folded
    * (docs := docs minus forgotten; emptied buckets drop), via the
    * deleteOnly merge mode (no covering file → no commit). The
    * signature store is then purged by key. One scan of the
    * signature store per forget batch, zero corpus reads; after both
    * commits + vacuum the forgotten ids are unreachable from
    * [[pairs]] and their bytes are reclaimed.
    */
  def forget(spark: SparkSession, storeDir: String, forgetIds: DataFrame,
             txn: Option[Long] = None): Unit = {
    val sigs = sigStore(spark, storeDir).read().getOrElse(return)
    // staged once (r16): the forget set feeds the semi-join here AND
    // the signature-store purge below; callers typically pass a
    // corpus-derived filter lineage that would otherwise re-scan per
    // consumer (purge stages its own distinct internally, so this
    // caches the one shared upstream evaluation)
    val gone0 = forgetIds.select(col(sigKey)).distinct().persist()
    val gone = broadcast(gone0)
    val affected = sigs.join(gone, Seq(sigKey), "left_semi")
      .select(col(sigKey), graft.functions.minhash_sig(col("shh")).as("sig"))
    // persist: mergeWith evaluates the delta twice (key-set pass +
    // fold) and this lineage re-reads the signature store
    val delta = affected
      .select(col(sigKey), explode(array(Dedup.bandStructs(col("sig")): _*)).as("b"))
      .select(xxhash64(col("b.band"), col("b.bh")).as(bucketKey), col(sigKey))
      .groupBy(col(bucketKey))
      .agg(sort_array(collect_set(col(sigKey))).as("forget_docs"))
      .persist()
    try bucketStore(spark, storeDir).mergeWith(delta,
      init = _ => delta.limit(0).select(col(bucketKey), col("forget_docs").as("docs")),
      fold = (base, keyed) => base
        .join(keyed, Seq(bucketKey), "left")
        .select(col(bucketKey),
          array_except(col("docs"),
            coalesce(col("forget_docs"), array().cast("array<bigint>"))).as("docs"))
        .filter(size(col("docs")) > 0),
      txn = txn, deleteOnly = true)
    finally delta.unpersist()
    try sigStore(spark, storeDir).purge(gone0)
    finally gone0.unpersist(blocking = false)
    ()
  }

  /** All verified near-dup pairs from the maintained index: explode
    * pairs within each stored bucket, dedup, exact-verify against the
    * stored shingle sets at `minJaccard` — the C2 semantics served
    * from the index alone (the corpus is never re-read).
    */
  def pairs(spark: SparkSession, storeDir: String,
            minJaccard: Double = 0.8,
            maxBucketDocs: Int = 5000): DataFrame = {
    val buckets0 = bucketStore(spark, storeDir).read().getOrElse(
      throw new IllegalStateException(s"no bucket store at $storeDir"))
    val sh = sigStore(spark, storeDir).read().getOrElse(
      throw new IllegalStateException(s"no signature store at $storeDir"))
    // the batch kernel's hot-bucket guard, served from the index: a
    // degenerate bucket's posting list would explode quadratically
    // below — refuse inline (raise_error is data-dependent and free:
    // no extra pass, the check rides the same scan) with the same
    // remediation story as Dedup.minhashLsh
    val buckets =
      if (maxBucketDocs <= 0) buckets0
      else buckets0.withColumn("docs",
        when(size(col("docs")) <= maxBucketDocs, col("docs"))
          .otherwise(raise_error(concat(
            lit("minhash-LSH hot bucket in the streamed index: bucket "),
            col(bucketKey).cast("string"),
            lit(s" holds more than maxBucketDocs=$maxBucketDocs docs — " +
              "templated/boilerplate flood; dedup exact at ingest, use " +
              "dup clusters, or raise maxBucketDocs explicitly.")))))
    val cand = buckets.filter(size(col("docs")) >= 2)
      .select(explode(col("docs")).as("id_a"), col("docs"))
      .select(col("id_a"), explode(col("docs")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    cand
      .join(sh.select(col(sigKey).as("id_a"), col("shh").as("sh_a")), "id_a")
      .join(sh.select(col(sigKey).as("id_b"), col("shh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
