package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.cdc.{CdcOps, ChangeModel}
import graft.sources.{DerivedTable, Tables}
import graft.streaming.{CdcStream, RateListener}

/** Runnable streaming ingest demo — the ConsumerMain of this engine
  * [ref: ConsumerMain.scala]: consume JSON change lines (file source
  * standing in for the Kafka topic), maintain the upserted snapshot,
  * report per-batch rates.
  *
  * Usage: runMain graft.StreamDemo [sfDir]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(cores = 4, appName = "graft-stream-demo")

    val work = Paths.get(DerivedTable.scratch("graft-demo"))
    val linesDir = work.resolve("lines"); Files.createDirectories(linesDir)
    val snapDir = work.resolve("snapshot")
    val ckptDir = work.resolve("checkpoint")

    val listener = new RateListener
    spark.streams.addListener(listener)

    val events = Tables(spark, sfDir).events
    val lines = ChangeModel.changeLines(events).select("line")

    // arrival 1: first 60% of the log; arrival 2: the rest
    val n = lines.count()
    val cut = (n * 6) / 10
    val byId = CdcOps.parse(lines).select(col("id"))
      .orderBy(col("id")).limit(cut.toInt)
    val maxFirst = byId.agg(max(col("id"))).head.getLong(0)

    val first = lines.filter(get_json_object(col("line"), "$.after.ID").cast("long") <= maxFirst)
    val second = lines.filter(get_json_object(col("line"), "$.after.ID").cast("long") > maxFirst)

    first.coalesce(1).write.mode("overwrite").text(linesDir.resolve("arrival0").toString)
    val q = CdcStream.start(spark, linesDir.toString + "/*/", snapDir.toString, ckptDir.toString)
    q.processAllAvailable()
    val snap1 = CdcStream.readSnapshot(spark, snapDir.toString).get
    println(s"[ StreamDemo ] after arrival 1: snapshot keys=${snap1.count()} " +
      s"deleted=${snap1.filter(col("delete_state") === "1").count()}")

    second.coalesce(1).write.mode("overwrite").text(linesDir.resolve("arrival1").toString)
    q.processAllAvailable()
    q.stop()

    val snap2 = CdcStream.readSnapshot(spark, snapDir.toString).get
    println(s"[ StreamDemo ] after arrival 2: snapshot keys=${snap2.count()} " +
      s"deleted=${snap2.filter(col("delete_state") === "1").count()}")
    snap2.orderBy(col("user_id")).show(5, truncate = false)

    // ground truth: batch replay of the full log
    val batch = CdcOps.softDeleteSnapshot(CdcOps.parse(lines), col("user_id"))
    val diff = snap2.select("user_id", "id", "op_type", "delete_state")
      .exceptAll(batch.select("user_id", "id", "op_type", "delete_state")).count()
    println(s"[ StreamDemo ] streamed-vs-batch snapshot diff rows: $diff")

    // stream-stream interval join over the same event stream
    val joined = graft.streaming.EventStream.purchaseClickJoin(events)
    println(s"[ StreamDemo ] purchases with a click in the preceding hour: " +
      s"${joined.select("purchase_id").distinct().count()} of " +
      s"${events.filter(col("event_type") === "purchase").count()}")

    Thread.sleep(2000) // listener delivery is async
    listener.formatted.foreach(println)
    spark.stop()
    if (diff != 0) sys.exit(1)
  }
}
