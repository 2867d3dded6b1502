package graftbench

import java.nio.file.{Files, Paths}

import graft.cdc.CdcOps
import graft.store.SnapshotStore

/** The store backfill phase of `analytics_suite`: a closed loop with
  * one client. A seeded change log, landed during set-up, is folded
  * into a fresh store slice by slice in ascending key order, so every
  * merge takes the append path (no file is rewritten, the file count
  * grows); the read mix then goes through manifest pruning over those
  * files. Streaming is bypassed.
  */
object Backfill {
  val Rows = 120000
  /** Two changes per key: an insert, then an update or a delete. */
  val Keys: Int = Rows / 2
  val Slices = 12
  val DeleteShare = 0.10
  val SetupReps = 3

  /** The first slices run while the merge path is still being
    * compiled: they are loaded and checked but not timed.
    */
  val WarmupSlices = 2

  final case class Log(dir: String, fold: Fold, inputBytes: Double, setupS: Double)

  final case class Load(parseS: Seq[Double], mergeS: Seq[Double], mergeJobs: Seq[Double],
                        bytesWritten: Double) {
    private def timed(xs: Seq[Double]) = xs.drop(WarmupSlices)
    private val rowsPerSlice = Rows / Slices
    def sliceS: Seq[Double] = timed(parseS.zip(mergeS).map { case (a, b) => a + b })
    def e2e: Map[String, Double] = Map(
      "latency_p50_s" -> Stats.quantile(sliceS, 0.5),
      "latency_p90_s" -> Stats.quantile(sliceS, 0.9),
      "drain_rows_per_s" -> rowsPerSlice.toDouble * sliceS.size / sliceS.sum,
      "merge_rows_per_s" -> rowsPerSlice.toDouble * sliceS.size / timed(mergeS).sum)
    def layers(inputBytes: Double): Map[String, Double] = Map(
      "cdc.parse_s" -> timed(parseS).sum,
      "store.merge_p50_s" -> Stats.median(timed(mergeS)),
      "spark.jobs_per_merge" -> Stats.median(timed(mergeJobs)),
      "store.bytes_written_per_input_byte" -> bytesWritten / inputBytes)
  }

  final case class Result(load: Load, reads: ReadBack.Out, store: SnapshotStore)

  /** Set-up: generate the log and land it as one file of lines per
    * slice, several times; slice i holds every change of keys
    * [i * Keys / Slices, (i + 1) * Keys / Slices).
    */
  def land(ctx: Ctx): Log = {
    val fold = new Fold(Keys)
    var dir = ""
    var inputBytes = 0.0
    val setups = (0 until SetupReps).map { i =>
      dir = ctx.dir(s"backfill/log-$i")
      val t0 = System.nanoTime()
      ctx.tracer.span("call", "land_log") {
        val rng = new java.util.Random(ctx.seed)
        val slices = Array.fill(Slices)(new java.io.ByteArrayOutputStream())
        (0 until Rows).foreach { r =>
          val key = r / 2L
          val op = if (r % 2 == 0) "I" else if (rng.nextDouble() < DeleteShare) "D" else "U"
          val tsText = Changes.ts(Changes.TsBase + rng.nextInt(86400))
          val ev = rng.nextInt(3)
          val v = Changes.valueText(rng.nextInt(100000))
          fold.add(key, op, tsText, r, ev, v)
          slices((key * Slices / Keys).toInt)
            .write((Changes.line(op, tsText, r, key, ev, v) + "\n").getBytes("UTF-8"))
        }
        Files.createDirectories(Paths.get(dir))
        slices.zipWithIndex.foreach { case (b, s) =>
          Files.write(Paths.get(dir, s"slice-$s.json"), b.toByteArray)
        }
        inputBytes = slices.map(_.size.toDouble).sum
      }
      Stats.seconds(t0, System.nanoTime())
    }
    Log(dir, fold, inputBytes, Stats.median(setups))
  }

  def run(ctx: Ctx, log: Log, tally: Tally): Result = {
    val store = new SnapshotStore(ctx.spark, ctx.dir("backfill/store"), "user_id")
    val load = fold(ctx, store, log.dir, tally)
    val reads = ctx.tracer.span("phase", "check") {
      ReadBack.run(ctx, store, log.fold.row, log.fold.rows.toSeq, 0L, Keys - 1L,
        new java.util.Random(ctx.seed + 1), tally)
    }
    Result(load, reads, store)
  }

  /** Each slice's lines are parsed once into the cache (timed as the
    * parse) and then merged, as the streaming sink does per batch.
    */
  private def fold(ctx: Ctx, store: SnapshotStore, dir: String, tally: Tally): Load = {
    val tr = ctx.tracer
    ctx.settle()
    tr.span("phase", "load") {
      val parse = Seq.newBuilder[Double]
      val merge = Seq.newBuilder[Double]
      (0 until Slices).foreach { i =>
        val lines = ctx.spark.read.text(s"$dir/slice-$i.json").withColumnRenamed("value", "line")
        val parsed = CdcOps.parse(lines).persist()
        try {
          val t0 = System.nanoTime()
          tr.span("call", s"parse slice $i") { parsed.count() }
          val t1 = System.nanoTime()
          val before = store.currentVersion
          tr.span("call", s"merge slice $i") { store.merge(parsed) }
          val t2 = System.nanoTime()
          tally.check(store.currentVersion.exists(v => before.forall(_ < v)),
            s"merge of slice $i committed a version")
          parse += Stats.seconds(t0, t1)
          merge += Stats.seconds(t1, t2)
        } finally parsed.unpersist()
      }
      val mergeJobs = tr.allSpans.filter(_.name.startsWith("merge slice")).map(s => tr.jobsUnder(s.id))
      Load(parse.result(), merge.result(), mergeJobs.map(_.size.toDouble),
        mergeJobs.flatten.map(_.counts.outputBytes.get).sum.toDouble)
    }
  }
}
