package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.operators.CorpusQueries
import graft.sources.Tables

/** QualityGateStream — frozen-LM ingest admission: two-arrival
  * convergence to the one-shot batch admission, txn-guarded replay
  * no-op, and the gate genuinely drops sub-threshold material.
  */
class QualityGateStreamSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = graft.GraftSession.local(cores = 4, appName = "qgate-spec")

  private val sfDir = "/root/testdata/sf0.001"


  private def fp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two arrivals converge to the one-shot batch admission; the gate drops docs") {
    val docs = Tables(spark, sfDir).documents
    val deficits = CorpusQueries.lmDeficits(spark, sfDir).persist()
    val thr = QualityGateStream.modelThreshold(spark, sfDir)
    val storeDir = tempDir("qg-store").toString
    QualityGateStream.mergeBatch(docs.filter(col("doc_id") % 2 === 1),
      deficits, storeDir, txn = Some(0L), threshold = thr)
    QualityGateStream.mergeBatch(docs.filter(col("doc_id") % 2 === 0),
      deficits, storeDir, txn = Some(1L), threshold = thr)
    val gotDocs = QualityGateStream.readAdmitted(spark, storeDir).get
    val gotStats = QualityGateStream.readStats(spark, storeDir).get
    val (wantDocs, wantStats) = QualityGateStream.admit(docs, deficits, thr)
    assert(fp(gotDocs) == fp(wantDocs))
    assert(fp(gotStats) == fp(wantStats))
    val admitted = gotDocs.count()
    assert(admitted > 0, "the gate admits target-quality docs")
    assert(admitted < docs.count(), "the gate drops sub-threshold docs")
    // counters account for every doc exactly once, kept == admitted
    val totals = gotStats.agg(sum(col("n_seen")), sum(col("n_kept")))
      .collect()(0)
    assert(totals.getLong(0) === docs.count())
    assert(totals.getLong(1) === admitted)
    deficits.unpersist()
  }

  test("replayed txn is a no-op on both stores") {
    val docs = Tables(spark, sfDir).documents
    val deficits = CorpusQueries.lmDeficits(spark, sfDir).persist()
    val storeDir = tempDir("qg2-store").toString
    val thr = QualityGateStream.modelThreshold(spark, sfDir)
    val b0 = docs.filter(col("doc_id") % 2 === 1)
    QualityGateStream.mergeBatch(b0, deficits, storeDir, txn = Some(0L),
      threshold = thr)
    val docsBefore = fp(QualityGateStream.readAdmitted(spark, storeDir).get)
    val statsBefore = fp(QualityGateStream.readStats(spark, storeDir).get)
    // a replay of the SAME txn must fold as a no-op (the stats fold
    // is additive — without the guard the counters would double)
    QualityGateStream.mergeBatch(b0, deficits, storeDir, txn = Some(0L),
      threshold = thr)
    assert(fp(QualityGateStream.readAdmitted(spark, storeDir).get) == docsBefore)
    assert(fp(QualityGateStream.readStats(spark, storeDir).get) == statsBefore)
    deficits.unpersist()
  }
}
