package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.dedup.Dedup
import graft.sources.Tables
import graft.store.SnapshotStore

/** NearDupStream — streaming MinHash-LSH index maintenance:
  * two-arrival convergence to the one-shot C2 scan, txn-guarded
  * replay no-op, re-delivery idempotence.
  */
class NearDupStreamSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = graft.GraftSession.local(cores = 4, appName = "neardup-spec")

  private val sfDir = "/root/testdata/sf0.001"


  private def fp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two arrivals converge to the one-shot C2 pair set") {
    val docs = Tables(spark, sfDir).documents
    val storeDir = tempDir("nd-store").toString
    NearDupStream.mergeBatch(docs.filter(col("doc_id") % 2 === 1),
      storeDir, txn = Some(0L))
    NearDupStream.mergeBatch(docs.filter(col("doc_id") % 2 === 0),
      storeDir, txn = Some(1L))
    val got = NearDupStream.pairs(spark, storeDir, minJaccard = 0.8)
    val want = Dedup.minhashLsh(docs, minJaccard = 0.8)
    assert(fp(got) == fp(want))
    assert(got.count() > 0, "the sf0.001 corpus must contain near-dups")
  }

  test("replayed txn is a no-op; re-delivery under a new txn is idempotent") {
    val docs = Tables(spark, sfDir).documents
    val storeDir = tempDir("nd2-store").toString
    val b = docs.filter(col("doc_id") % 2 === 0)
    NearDupStream.mergeBatch(docs.filter(col("doc_id") % 2 === 1),
      storeDir, txn = Some(0L))
    NearDupStream.mergeBatch(b, storeDir, txn = Some(1L))
    val sig = new SnapshotStore(spark, s"$storeDir/sig", "doc_id")
    val buk = new SnapshotStore(spark, s"$storeDir/bucket", "bkey")
    val (vs, vb) = (sig.currentVersion.get, buk.currentVersion.get)
    val before = fp(NearDupStream.pairs(spark, storeDir))
    // replayed foreachBatch txn: both stores no-op
    NearDupStream.mergeBatch(b, storeDir, txn = Some(1L))
    assert(sig.currentVersion.get == vs && buk.currentVersion.get == vb)
    // genuine re-delivery under a new txn: idempotent folds converge
    NearDupStream.mergeBatch(b, storeDir, txn = Some(2L))
    assert(fp(NearDupStream.pairs(spark, storeDir)) == before)
  }

  test("hot-bucket guard: a boilerplate flood fails the fold loudly; the read side has its own cap") {
    import spark.implicits._
    val storeDir = tempDir("nd3-store").toString
    // 100 identical docs: legal under the fold cap — the index lands
    val flood = (0L until 100L)
      .map(i => (i, "identical boilerplate text shared by every doc in this batch"))
      .toDF("doc_id", "text")
    NearDupStream.mergeBatch(flood, storeDir, txn = Some(0L))
    // the read-side cap refuses a bucket beyond maxBucketDocs inline
    val eRead = intercept[Exception] {
      NearDupStream.pairs(spark, storeDir, maxBucketDocs = 50).count()
    }
    assert(eRead.getMessage.contains("hot bucket"), eRead.getMessage)
    // within the cap the full clique verifies at J=1
    assert(NearDupStream.pairs(spark, storeDir).count() == 100L * 99 / 2)
    // a flood past the FOLD cap fails the mergeBatch loudly instead of
    // landing an index whose every read would be quadratic
    val storeDir2 = tempDir("nd4-store").toString
    val bigFlood = (0L until (NearDupStream.maxFoldBucketDocs + 100L))
      .map(i => (i, "identical boilerplate text shared by every doc in this batch"))
      .toDF("doc_id", "text")
    val eFold = intercept[Exception] {
      NearDupStream.mergeBatch(bigFlood, storeDir2, txn = Some(0L))
    }
    def anyMsg(t: Throwable): String = {
      var m = ""; var cur = t
      while (cur != null) { m += Option(cur.getMessage).getOrElse(""); cur = cur.getCause }
      m
    }
    assert(anyMsg(eFold).contains("hot bucket"), anyMsg(eFold).take(500))
    // the bucket store refused the commit — no readable version landed
    val buk = new SnapshotStore(spark, s"$storeDir2/bucket", "bkey")
    assert(buk.currentVersion.isEmpty,
      "the hot-bucket fold must not land a bucket-store version")
  }
}
