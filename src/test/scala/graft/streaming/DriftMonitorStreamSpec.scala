package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.operators.DiagnosticsQueries
import graft.sources.Tables

/** DriftMonitorStream — frozen-reference KS drift over cumulative
  * arrivals: the per-batch log equals the batch KS of each arrival
  * prefix, the additive count fold is replay-guarded, and the log
  * upsert converges under replay.
  */
class DriftMonitorStreamSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession =
    graft.GraftSession.local(cores = 4, appName = "drift-spec")

  private val sfDir = "/root/testdata/sf0.001"


  private def fp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def refCounts = Tables(spark, sfDir).documents
    .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
    .select(col("n_chars").as("v"))
    .groupBy(col("v")).agg(count(lit(1)).as("c"))

  test("per-batch drift rows equal the batch KS of each cumulative prefix") {
    val docs = Tables(spark, sfDir).documents
    val storeDir = tempDir("drift-store").toString
    val b0 = docs.filter(col("doc_id") % 2 === 1)
    DriftMonitorStream.foldBatch(b0, refCounts, storeDir, batchId = 0L)
    DriftMonitorStream.foldBatch(docs.filter(col("doc_id") % 2 === 0),
      refCounts, storeDir, batchId = 1L)
    val log = DriftMonitorStream.readLog(spark, storeDir).get
      .orderBy(col("batch_id")).collect()
    assert(log.length === 2)
    // each log row replays as the one-shot KS of that prefix
    def want(prefix: org.apache.spark.sql.DataFrame) =
      DiagnosticsQueries.ksStat(
        prefix.select(col("n_chars").as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("c")),
        refCounts).collect()(0)
    val w0 = want(b0)
    val w1 = want(docs)
    assert((log(0).getAs[Long]("n_cum"), log(0).getAs[Long]("n_ref"),
      log(0).getAs[Long]("ks_ppm")) ===
      ((w0.getAs[Long]("n_a"), w0.getAs[Long]("n_b"), w0.getAs[Long]("ks_ppm"))))
    assert((log(1).getAs[Long]("n_cum"), log(1).getAs[Long]("n_ref"),
      log(1).getAs[Long]("ks_ppm")) ===
      ((w1.getAs[Long]("n_a"), w1.getAs[Long]("n_b"), w1.getAs[Long]("ks_ppm"))))
    // the full corpus CONTAINS the reference, so drift shrinks as
    // coverage completes
    assert(log(1).getAs[Long]("ks_ppm") <= log(0).getAs[Long]("ks_ppm"))
  }

  test("replayed batch is a no-op: counts txn-guarded, log row upserts identically") {
    val docs = Tables(spark, sfDir).documents
    val storeDir = tempDir("drift2-store").toString
    val b0 = docs.filter(col("doc_id") % 2 === 1)
    DriftMonitorStream.foldBatch(b0, refCounts, storeDir, batchId = 0L)
    val countsBefore = fp(DriftMonitorStream.readCounts(spark, storeDir).get)
    val logBefore = fp(DriftMonitorStream.readLog(spark, storeDir).get)
    // replay the SAME batch id: the additive fold must not double-count
    DriftMonitorStream.foldBatch(b0, refCounts, storeDir, batchId = 0L)
    assert(fp(DriftMonitorStream.readCounts(spark, storeDir).get) == countsBefore)
    assert(fp(DriftMonitorStream.readLog(spark, storeDir).get) == logBefore)
  }

  test("identical distribution reads near zero; disjoint support reads 1e6") {
    import spark.implicits._
    val a = Seq((1L, 5L), (2L, 3L), (9L, 2L)).toDF("v", "c")
    val same = DiagnosticsQueries.ksStat(a, a).collect()(0)
    assert(same.getAs[Long]("ks_ppm") === 0L)
    val b = Seq((100L, 4L), (200L, 6L)).toDF("v", "c")
    val dis = DiagnosticsQueries.ksStat(a, b).collect()(0)
    assert(dis.getAs[Long]("ks_ppm") === 1000000L)
  }
}
