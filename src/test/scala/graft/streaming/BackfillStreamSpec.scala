package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.sources.Tables

/** BackfillStream — the A31 repair half: accepted + quarantine
  * stores sum to the exact batch aggregate (no row lost to the
  * watermark), and a checkpoint restart folds nothing twice.
  */
class BackfillStreamSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession =
    graft.GraftSession.local(cores = 4, appName = "backfill-spec")

  private val sfDir = "/root/testdata/sf0.001"
  private val delay = 3600L * 1000000L


  test("repaired view equals the batch day aggregate; the late store is non-trivial") {
    val ev = Tables(spark, sfDir).events
      .select(col("event_id"), col("ts"), col("event_type"))
    val inDir = tempDir("bf-in").toString
    val accDir = tempDir("bf-acc").toString
    val lateDir = tempDir("bf-late").toString
    ev.filter(col("event_id") % 3 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch0")
    val q = LateRouterStream.start(spark, inDir + "/*/", inDir + "/batch0",
      accDir, lateDir, tempDir("bf-hwm").toString, tempDir("bf-ck1").toString, delay)
    q.processAllAvailable()
    ev.filter(col("event_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch1")
    q.processAllAvailable()
    q.stop()
    val accStore = tempDir("bf-as").toString
    val lateStore = tempDir("bf-ls").toString
    val ck2 = tempDir("bf-ck2").toString
    val qa = BackfillStream.start(spark, accDir + "/*/", inDir + "/batch0",
      accStore, ck2)
    qa.processAllAvailable(); qa.stop()
    val ql = BackfillStream.start(spark, lateDir + "/*/", inDir + "/batch0",
      lateStore, tempDir("bf-ck3").toString)
    ql.processAllAvailable(); ql.stop()
    val a = BackfillStream.readTable(spark, accStore).get
      .select(col("d"), col("event_type"), col("n").as("na"))
    val l = BackfillStream.readTable(spark, lateStore).get
      .select(col("d"), col("event_type"), col("n").as("nl"))
    assert(l.agg(sum(col("nl"))).head().getLong(0) > 0L,
      "the drive must push rows through the late store")
    val repaired = a.join(l, Seq("d", "event_type"), "full_outer")
      .select(col("d"), col("event_type"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nl"), lit(0L))).as("n"))
    val want = ev.groupBy(to_date(col("ts")).as("d"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(repaired.except(want).count() === 0L)
    assert(want.except(repaired).count() === 0L)
    // restart the accepted fold on its checkpoint with no new files:
    // the additive store must not move (txn guard + committed offsets)
    val before = a.agg(sum(col("na"))).head().getLong(0)
    val qa2 = BackfillStream.start(spark, accDir + "/*/", inDir + "/batch0",
      accStore, ck2)
    qa2.processAllAvailable(); qa2.stop()
    val after = BackfillStream.readTable(spark, accStore).get
      .agg(sum(col("n"))).head().getLong(0)
    assert(after === before, "restart must not double-fold")
  }
}
