package graft.streaming

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** The one streaming loop behind the file-arrival modules (AggStream,
  * BackfillStream, ChecksumStream, DriftMonitorStream, IngestStream,
  * IvfStream, LateRouterStream, NearDupStream, QualityGateStream,
  * SketchStream): create the stream, fold each micro-batch, persist
  * progress [ref: ConsumerMain.scala:91-152]. A module supplies only
  * its fold; this object owns the wiring every module shares:
  *
  *  - the source schema, inferred once from the parquet at `schemaDir`;
  *  - the parquet file source over `glob`;
  *  - the checkpoint at `checkpointDir`, whose WAL makes the source
  *    offsets commit with each batch (the folds are txn-guarded or
  *    idempotent, so a replayed batch converges);
  *  - the 1 s processing-time trigger;
  *  - `foreachBatch(fold)` and `start()`;
  *  - the frozen frames in `pins`: persisted and materialized before
  *    the query starts, released when THIS query terminates (stop,
  *    failure, or a start that never came up), so repeated starts in
  *    one session never accumulate cached copies.
  *
  * `fold` is evaluated once, after the pins are materialized, so a
  * fold that closes over a value derived from a pin (QualityGateStream's
  * threshold) computes it from the cached frame.
  */
private[graft] object FileFoldStream {

  private val trigger: Trigger = Trigger.ProcessingTime("1 second")

  def start(spark: SparkSession, glob: String, schemaDir: String,
            checkpointDir: String, pins: Seq[DataFrame] = Nil)(
      fold: => (DataFrame, Long) => Unit): StreamingQuery = {
    val schema = spark.read.parquet(schemaDir).schema
    val released = new AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true)) pins.foreach(_.unpersist())
    val q =
      try {
        pins.foreach { p => p.persist(); p.count() }
        spark.readStream.schema(schema).parquet(glob)
          .writeStream
          .option("checkpointLocation", checkpointDir)
          .trigger(trigger)
          .foreachBatch(fold)
          .start()
      } catch { case e: Throwable => release(); throw e }
    if (pins.nonEmpty) {
      val qid = q.id
      val onEnd = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == qid) { release(); spark.streams.removeListener(this) }
      }
      spark.streams.addListener(onEnd)
      // a query that terminated before the listener was registered
      // posts no event the listener will see
      if (!q.isActive) { release(); spark.streams.removeListener(onEnd) }
    }
    q
  }
}
