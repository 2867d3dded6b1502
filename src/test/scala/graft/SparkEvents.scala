package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code made Spark do, read from Spark's own
  * listener bus: the jobs it started and the physical plans of the
  * queries it executed.
  *
  * The bus delivers asynchronously but in order on its shared queue
  * (job events and query-execution callbacks alike), so the block is
  * fenced by two marker jobs: events between the markers' job starts
  * belong to the block, and once the closing marker arrives every
  * earlier event has too.
  */
object SparkEvents {

  /** `jobs` holds each job's stage names, in start order. */
  final case class Recorded(jobs: Seq[String], plans: Seq[String])

  private val MarkerProp = "graft.spec.marker"

  def record[T](spark: SparkSession)(body: => T): (T, Recorded) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[String]()
    val opened = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    def recording = opened.getCount == 0 && closed.getCount == 1
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(MarkerProp))) match {
          case Some("open") => opened.countDown()
          case Some("close") => closed.countDown()
          case _ => if (recording) jobs.add(e.stageInfos.map(_.name).mkString(" | "))
        }
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (recording) plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (recording) plans.add(qe.executedPlan.toString)
    }
    def marker(tag: String, latch: CountDownLatch): Unit = {
      sc.setLocalProperty(MarkerProp, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerProp, null)
      assert(latch.await(60, TimeUnit.SECONDS), s"listener bus never delivered marker $tag")
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    try {
      marker("open", opened)
      val out = body
      marker("close", closed)
      (out, Recorded(jobs.asScala.toSeq, plans.asScala.toSeq))
    } finally {
      spark.listenerManager.unregister(queryListener)
      sc.removeSparkListener(jobListener)
    }
  }
}
