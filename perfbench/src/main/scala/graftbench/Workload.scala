package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.store.SnapshotStore

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     runDir: Path, dataDir: Path, tracer: Tracer) {
  def dir(name: String): String = runDir.resolve(name).toString
  def sc = spark.sparkContext

  /** A full collection before a timed phase, so the garbage of the
    * previous phase is not collected inside its timers.
    */
  def settle(): Unit = System.gc()
}

/** What a workload hands back: operations attempted and failed (a
  * failed operation raised or returned a result the oracle rejects),
  * its end-to-end metrics and, when traced, its per-layer metrics.
  */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double], layers: Map[String, Double])

/** Counts attempted and failed operations of one run. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  def check(ok: => Boolean, what: String): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Exception =>
        System.err.println(s"[graftbench] $what raised: $e"); false
    }
    if (!good) { failed += 1; System.err.println(s"[graftbench] FAILED: $what") }
  }
}

/** The read mix every workload ends with on the store it built: point
  * lookups `readRange(k, k)`, range scans over 1% of the key space and
  * full `read()`s, each checked against the oracle.
  */
object ReadBack {
  /** Untimed point reads first: a point read keeps getting faster for
    * its first few dozen calls in a JVM, so the timed ones start later. */
  val WarmupReads = 25
  val PointReads = 60
  val RangeReads = 12
  val FullReads = 4

  final case class Out(pointMs: Seq[Double], rangeMs: Seq[Double], fullS: Seq[Double],
                       filesPlannedPerPoint: Double, planMs: Seq[Double],
                       jobsPerPoint: Double) {
    /** Every read's wall, seconds: the "query" view of the mix. */
    def queryS: Seq[Double] = (pointMs ++ rangeMs).map(_ / 1000.0) ++ fullS

    def metrics: Map[String, Double] = Map(
      "point_read_p50_ms" -> Stats.quantile(pointMs, 0.5),
      "point_read_p90_ms" -> Stats.quantile(pointMs, 0.9),
      "range_read_p50_ms" -> Stats.quantile(rangeMs, 0.5),
      "full_scan_s" -> Stats.median(fullS),
      "suite_s" -> queryS.sum,
      "query_p50_s" -> Stats.median(queryS))

    def layers(store: SnapshotStore): Map[String, Double] = Map(
      "store.files_planned_per_point_read" -> filesPlannedPerPoint,
      "spark.jobs_per_point_read" -> jobsPerPoint,
      "store.point_read_plan_ms" -> Stats.median(planMs),
      "store.files_end" -> store.plannedFiles(Long.MinValue, Long.MaxValue).size.toDouble)
  }

  def run(ctx: Ctx, store: SnapshotStore, oracle: Long => Option[ChangeRow],
          expectedAll: => Seq[ChangeRow], keyLo: Long, keyHi: Long,
          rng: java.util.Random, tally: Tally): Out = {
    val tr = ctx.tracer
    def key(): Long = keyLo + (rng.nextDouble() * (keyHi - keyLo + 1)).toLong
    ctx.settle()
    tr.span("phase", "read_mix") {
      (0 until WarmupReads).foreach { _ => val k = key(); store.readRange(k, k).collect() }
      var planned = 0L
      val plan = Seq.newBuilder[Double]
      val pointSpans = Seq.newBuilder[Long]
      val point = (0 until PointReads).map { _ =>
        val k = key()
        if (tr.enabled) planned += store.plannedFiles(k, k).size
        var got: Seq[ChangeRow] = Nil
        val t0 = System.nanoTime()
        tr.span("call", s"point_read $k") {
          pointSpans += tr.current
          val df = store.readRange(k, k)
          plan += (System.nanoTime() - t0) / 1e6
          got = df.collect().toSeq.map(ChangeRow.of)
        }
        val ms = (System.nanoTime() - t0) / 1e6
        tally.check(got == oracle(k).toSeq, s"point read of key $k")
        ms
      }
      val width = math.max(1L, (keyHi - keyLo + 1) / 100)
      val range = (0 until RangeReads).map { _ =>
        val lo = key()
        val hi = lo + width - 1
        val t0 = System.nanoTime()
        val got = tr.span("call", s"range_read $lo-$hi") {
          store.readRange(lo, hi).collect().toSeq.map(ChangeRow.of)
        }
        val ms = (System.nanoTime() - t0) / 1e6
        tally.check(got.sortBy(_.key) == (lo to hi).flatMap(oracle(_)),
          s"range read of keys $lo-$hi")
        ms
      }
      val full = (0 until FullReads).map { _ =>
        val t0 = System.nanoTime()
        val all = tr.span("call", "full_read") {
          store.read().map(_.collect().toSeq.map(ChangeRow.of)).getOrElse(Nil)
        }
        val s = Stats.seconds(t0, System.nanoTime())
        tally.check(all.sortBy(_.key) == expectedAll, "full read matches the oracle fold")
        s
      }
      val jobs = if (tr.enabled)
        pointSpans.result().map(s => tr.jobsUnder(s).size.toDouble).sum / PointReads
      else 0.0
      Out(point, range, full, planned.toDouble / PointReads, plan.result(), jobs)
    }
  }
}
