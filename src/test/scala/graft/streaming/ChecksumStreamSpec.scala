package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.sources.Tables

/** A39 — the live sync-validation checksum: the streamed fold must
  * equal the batch A38 checksum of everything ingested, a replayed
  * batch id must be a no-op, and the arrival split must not matter
  * (the checksum is a commutative sum).
  */
class ChecksumStreamSpec extends AnyFunSuite with TempDirs {

  private val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession =
    graft.GraftSession.local(cores = 4, appName = "checksum-stream-spec")


  private def read1(storeDir: String): (Long, Long) = {
    val r = ChecksumStream.readChecksum(spark, storeDir).get.collect()(0)
    (r.getAs[Long]("n_rows"), r.getAs[Long]("checksum56"))
  }

  test("two-split streamed fold equals the batch A38 events checksum; replay is a no-op") {
    val events = Tables(spark, sfDir).events
    val storeDir = tempDir("ck-store").toString
    val even = events.filter(col("event_id") % 2 === 0)
    val odd = events.filter(col("event_id") % 2 =!= 0)
    ChecksumStream.foldBatch(even, storeDir, batchId = 0L)
    val afterB0 = read1(storeDir)
    // crash-redelivery of batch 0: the additive fold must not double
    ChecksumStream.foldBatch(even, storeDir, batchId = 0L)
    assert(read1(storeDir) === afterB0)
    ChecksumStream.foldBatch(odd, storeDir, batchId = 1L)
    val streamed = read1(storeDir)
    // batch twin: the A38 events arm on the full table
    val batch = graft.operators.CdcQueries.qTableChecksum(spark, sfDir)
      .filter(col("table_name") === "events").collect()(0)
    assert(streamed ===
      ((batch.getAs[Long]("n_rows"), batch.getAs[Long]("checksum56"))))
  }

  test("arrival split order cannot move the checksum (commutative fold)") {
    val events = Tables(spark, sfDir).events
    val s1 = tempDir("ck-s1").toString; val s2 = tempDir("ck-s2").toString
    val byUser = events.filter(col("user_id") % 2 === 0)
    val rest = events.filter(col("user_id") % 2 =!= 0)
    ChecksumStream.foldBatch(byUser, s1, 0L)
    ChecksumStream.foldBatch(rest, s1, 1L)
    ChecksumStream.foldBatch(rest, s2, 0L)
    ChecksumStream.foldBatch(byUser, s2, 1L)
    assert(read1(s1) === read1(s2))
  }
}
