package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.ann.Ann
import graft.sources.Tables
import graft.store.SnapshotStore

/** IvfStream — streaming maintenance of the C7b IVF index through the
  * SnapshotStore CoW merge: two-arrival convergence to the one-shot
  * build, identical query results, txn-guarded replay no-op, and
  * vector re-delivery idempotence.
  */
class IvfStreamSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = graft.GraftSession.local(cores = 4, appName = "ivfstream-spec")

  private val sfDir = "/root/testdata/sf0.001"


  private def fp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two-arrival stream converges to the one-shot build; query results identical") {
    val emb = Tables(spark, sfDir).embeddings
    val inDir = tempDir("ivfs-in").toString
    val indexDir = tempDir("ivfs-index").toString
    val storeDir = tempDir("ivfs-store").toString
    val ckpt = tempDir("ivfs-ckpt").toString
    IvfStream.landCentroids(emb, indexDir, nLists = 8)
    emb.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch0")
    val q = IvfStream.start(spark, inDir + "/*/", inDir + "/batch0",
      indexDir, storeDir, ckpt)
    q.processAllAvailable()
    emb.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch1")
    q.processAllAvailable()
    q.stop()
    // the maintained list table == a one-shot assign of the whole
    // corpus against the same frozen centroids
    val cents = IvfStream.centroids(spark, indexDir)
    val streamed = IvfStream.readLists(spark, storeDir).get
      .select("neighbor_id", "list_id")
    val oneShot = Ann.ivfListEntries(emb, cents)
      .select("neighbor_id", "list_id")
    assert(fp(streamed) == fp(oneShot))
    assert(streamed.count() == emb.count())
    // and the query side over the maintained index == the one-shot
    // ivfQueryTopK over fresh frames
    val queries = emb.filter(col("vec_id") < 8)
    val got = IvfStream.queryTopK(spark, indexDir, storeDir, queries, k = 5)
    val want = Ann.ivfQueryTopK(cents, Ann.ivfListEntries(emb, cents),
      queries, k = 5, nprobe = 2)
    assert(fp(got) == fp(want))
  }

  test("IVF-PQ tier: maintained artifacts serve the same top-k as the one-shot build") {
    val emb = Tables(spark, sfDir).embeddings
    val indexDir = tempDir("ivfpq-index").toString
    val storeDir = tempDir("ivfpq-store").toString
    IvfStream.landIvfPq(emb, indexDir, nLists = 8, m = 8, k = 16)
    IvfStream.mergeBatch(emb.filter(col("vec_id") % 2 === 1),
      indexDir, storeDir, txn = Some(0L))
    IvfStream.mergeBatch(emb.filter(col("vec_id") % 2 === 0),
      indexDir, storeDir, txn = Some(1L))
    val queries = emb.filter(col("vec_id") < 8)
    val got = IvfStream.queryTopKPq(spark, indexDir, storeDir, queries,
      topK = 5, nprobe = 2, rerank = 32, excludeSelf = true)
    // the one-shot path: build everything from the corpus in-session
    val want = Ann.ivfPqTopK(emb, queries, topK = 5,
      nLists = 8, nprobe = 2, m = 8, k = 16, rerank = 32)
    assert(fp(got) == fp(want))
  }

  test("replayed txn is a no-op; re-delivered vectors fold idempotently") {
    val emb = Tables(spark, sfDir).embeddings
    val indexDir = tempDir("ivfs2-index").toString
    val storeDir = tempDir("ivfs2-store").toString
    IvfStream.landCentroids(emb, indexDir, nLists = 8)
    val a = emb.filter(col("vec_id") % 2 === 1)
    val b = emb.filter(col("vec_id") % 2 === 0)
    IvfStream.mergeBatch(a, indexDir, storeDir, txn = Some(0L))
    IvfStream.mergeBatch(b, indexDir, storeDir, txn = Some(1L))
    val store = new SnapshotStore(spark, storeDir, "neighbor_id")
    val vBefore = store.currentVersion.get
    val before = fp(IvfStream.readLists(spark, storeDir).get)
    // replayed batchId (the foreachBatch redelivery case): no new
    // version, no row change
    IvfStream.mergeBatch(b, indexDir, storeDir, txn = Some(1L))
    assert(store.currentVersion.get == vBefore)
    assert(fp(IvfStream.readLists(spark, storeDir).get) == before)
    // a GENUINE re-delivery under a NEW txn (source replay past the
    // guard): the keyed upsert converges to the same rows
    IvfStream.mergeBatch(b, indexDir, storeDir, txn = Some(2L))
    assert(fp(IvfStream.readLists(spark, storeDir).get) == before)
  }
}
