package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.sources.Tables

/** LateRouterStream — watermark late-data routing: the two routes
  * tile the input exactly, the split replays the per-batch watermark
  * rule, and a checkpoint restart neither re-delivers nor loses rows.
  */
class LateRouterStreamSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession =
    graft.GraftSession.local(cores = 4, appName = "late-router-spec")

  private val sfDir = "/root/testdata/sf0.001"
  private val cols = Seq("event_id", "ts", "event_type")
  private val delay = 3600L * 1000000L


  test("routes tile the input; the split replays the per-batch watermark rule") {
    val ev = Tables(spark, sfDir).events
      .select(col("event_id"), col("ts"), col("event_type"))
    val inDir = tempDir("lr-in").toString
    val accDir = tempDir("lr-acc").toString
    val lateDir = tempDir("lr-late").toString
    val hwmDir = tempDir("lr-hwm").toString
    val ckpt = tempDir("lr-ckpt").toString
    ev.filter(col("event_id") % 3 =!= 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch0")
    val q = LateRouterStream.start(spark, inDir + "/*/", inDir + "/batch0",
      accDir, lateDir, hwmDir, ckpt, delay)
    q.processAllAvailable()
    ev.filter(col("event_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch1")
    q.processAllAvailable()
    q.stop()
    val acc = LateRouterStream.readRoute(spark, accDir, cols).cache()
    val late = LateRouterStream.readRoute(spark, lateDir, cols).cache()
    // disjoint union == input
    assert(acc.count() + late.count() === ev.count())
    assert(acc.select("event_id").intersect(late.select("event_id")).count() === 0L)
    assert(acc.unionByName(late).select("event_id").distinct().count() === ev.count())
    // the expected split: batch0 all on-time; batch1 late iff
    // ts < max(batch0.ts) − delay
    val hwm = ev.filter(col("event_id") % 3 =!= 0)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val expLate = ev.filter(col("event_id") % 3 === 0 &&
      unix_micros(col("ts")) < lit(hwm - delay))
    assert(late.count() === expLate.count())
    assert(late.select("event_id").except(expLate.select("event_id")).count() === 0L)
    assert(late.count() > 0L, "the drive must exercise the late route")
    acc.unpersist(); late.unpersist()
  }

  test("checkpoint restart: no re-delivery, and a post-restart arrival routes on the accumulated mark") {
    val ev = Tables(spark, sfDir).events
      .select(col("event_id"), col("ts"), col("event_type"))
    val inDir = tempDir("lr2-in").toString
    val accDir = tempDir("lr2-acc").toString
    val lateDir = tempDir("lr2-late").toString
    val hwmDir = tempDir("lr2-hwm").toString
    val ckpt = tempDir("lr2-ckpt").toString
    ev.filter(col("event_id") % 3 === 1).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch0")
    val q1 = LateRouterStream.start(spark, inDir + "/*/", inDir + "/batch0",
      accDir, lateDir, hwmDir, ckpt, delay)
    q1.processAllAvailable()
    q1.stop()
    val n0 = LateRouterStream.readRoute(spark, accDir, cols).count() +
      LateRouterStream.readRoute(spark, lateDir, cols).count()
    // restart on the same checkpoint with no new files: nothing lands
    val q2 = LateRouterStream.start(spark, inDir + "/*/", inDir + "/batch0",
      accDir, lateDir, hwmDir, ckpt, delay)
    q2.processAllAvailable()
    val n1 = LateRouterStream.readRoute(spark, accDir, cols).count() +
      LateRouterStream.readRoute(spark, lateDir, cols).count()
    assert(n1 === n0, "restart with no new input must not re-deliver")
    // a post-restart arrival still routes against the LEDGER mark
    // accumulated before the restart
    ev.filter(col("event_id") % 3 =!= 1).coalesce(1)
      .write.mode("overwrite").parquet(inDir + "/batch1")
    q2.processAllAvailable()
    q2.stop()
    val hwm = ev.filter(col("event_id") % 3 === 1)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val expLate = ev.filter(col("event_id") % 3 =!= 1 &&
      unix_micros(col("ts")) < lit(hwm - delay)).count()
    assert(LateRouterStream.readRoute(spark, lateDir, cols).count() === expLate)
    assert(LateRouterStream.readRoute(spark, accDir, cols).count() +
      expLate === ev.count())
  }
}
