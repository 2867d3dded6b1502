package graft.tools

import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-drive wall-time tracker (r10 verdict task 5): the 20
  * q_stream_* gates are correctness-gated in Verify but excluded
  * from Bench (their wall measures micro-batch machinery, not batch
  * engine throughput), which left their drive times living only in
  * SURVEY prose. This main times each gate end-to-end — the drive
  * runs inside the contract function — and records the engine-side
  * input-row count from StreamingQueryProgress events, emitting one
  * committed artifact (stream_bench.json) per round:
  *   {"sf":…, "gates":{name:{"wall_s":…, "input_rows":…,
  *     "rows_per_s":…, "rows_out":…}, …}, "total_s":…}
  * Wall time includes source setup, checkpoint WAL, trigger waits
  * and store folds — the honest cost of the drive, comparable
  * round-over-round at a pinned SF (default sf0.01, the Verify
  * scale the SURVEY prose numbers came from).
  *
  * `input_rows` is read behind a fence on the listener bus: a
  * query's progress events precede its QueryTerminatedEvent on the
  * bus, and QueryStartedEvent reaches listeners before `start()`
  * returns, so once every started query's termination has been
  * delivered the counter holds all of the gate's rows. A gate whose
  * queries do not all terminate within `fenceMs` (one left
  * running, or a stalled bus) is booked as failed.
  */
object StreamBench {
  private val fenceMs = 30000L

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(32, "stream-bench")
    val inputRows = new AtomicLong(0)
    val started = new AtomicLong(0)
    val terminated = new AtomicLong(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        inputRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.incrementAndGet()
    })
    def fenced(): Boolean = {
      val deadline = System.currentTimeMillis() + fenceMs
      while (terminated.get() < started.get() && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      terminated.get() >= started.get()
    }
    val gates = graft.SparkEntry.queries.keys.filter(_.startsWith("q_stream_"))
      .toSeq.sorted
    val out = new StringBuilder
    var total = 0.0
    gates.zipWithIndex.foreach { case (name, i) =>
      inputRows.set(0)
      val t0 = System.nanoTime()
      val (rowsOut, ran) =
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          (df.count(), true)
        } catch { case NonFatal(_) => (-1L, false) }
      val wall = (System.nanoTime() - t0) / 1e9
      val ok = fenced() && ran
      val in = inputRows.get()
      val rps = if (ok && wall > 0) in / wall else -1.0
      if (ok) total += wall
      out.append(f"""    "$name":{"wall_s":${if (ok) f"$wall%.2f" else "-1"},"input_rows":$in,"rows_per_s":${f"$rps%.0f"},"rows_out":$rowsOut}""")
      out.append(if (i == gates.length - 1) "\n" else ",\n")
      println(f"[streambench] $name%-26s ${if (ok) f"$wall%7.2f" else "  FAIL "} s  in=$in%8d  ${rps}%9.0f rows/s  out=$rowsOut")
    }
    val json = "{\n  \"sf\":\"" + sfDir + "\",\n  \"total_s\":" +
      f"$total%.2f" + ",\n  \"gates\":{\n" + out.toString + "  }\n}\n"
    val target = sys.env.getOrElse("GRAFT_STREAMBENCH_OUT", "stream_bench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(target), json.getBytes("UTF-8"))
    spark.stop()
  }
}
