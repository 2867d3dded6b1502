package graftbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's JVM entry point; `perfbench/run.py` builds it and
  * starts it once per run in a private directory:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --metrics <name,name,...> --run-dir <dir> --data <dir>
  *        --expected <file> --results <dir>
  *
  * The last stdout line is the result object with the `--metrics`
  * named: the end-to-end metrics with `--trace 0`, each of which the
  * workload must measure; the per-layer metrics with `--trace 1`, where
  * a layer the workload does not enter reads 0, and the run's spans go
  * to `<results>/trace-<workload>.json`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val trace = arg("trace") == "1"
    val wanted = arg("metrics").split(',').toSeq
    val results = Paths.get(arg("results"))
    val heap = new HeapWatch
    val tracer = new Tracer(trace, java.util.UUID.randomUUID().toString)

    val spark = graft.GraftSession.local(Runtime.getRuntime.availableProcessors, "graftbench")
    val out = try {
      tracer.attach(spark.sparkContext)
      val ctx = Ctx(spark, arg("seed").toLong, arg("seconds").toInt,
        Paths.get(arg("run-dir")), Paths.get(arg("data")), tracer)
      val o = workload match {
        case "cdc_stream" => CdcStreamWorkload.run(ctx)
        case "analytics_suite" => AnalyticsWorkload.run(ctx, Paths.get(arg("expected")))
        case other => sys.error(s"unknown workload $other")
      }
      o.copy(e2e = o.e2e + ("peak_heap_mb" -> heap.peakMb))
    } finally spark.stop()

    val missing = if (trace) Nil else wanted.filterNot(out.e2e.contains)
    require(missing.isEmpty, s"$workload did not measure ${missing.mkString(", ")}")
    val bad = out.e2e.filter { case (_, v) => v.isNaN || v.isInfinite || v <= 0 }
    bad.foreach { case (k, v) => System.err.println(s"[graftbench] $k measured $v") }
    val failed = out.failed + bad.size

    val untracedFile = results.resolve(s"e2e-$workload.json")
    Files.createDirectories(results)
    val metrics: Seq[(String, Double)] =
      if (!trace) {
        val e2e = wanted.map(k => k -> out.e2e(k))
        Files.write(untracedFile, render(e2e).getBytes("UTF-8"))
        e2e
      } else {
        println(overheadLine(workload, out.e2e, untracedFile))
        tracer.write(results.resolve(s"trace-$workload.json"), workload)
        wanted.map(k => k -> out.layers.getOrElse(k, 0.0))
      }
    println(s"""{"correct":${failed == 0},"attempted":${out.attempted + bad.size},""" +
      s""""failed":$failed,"metrics":${render(metrics)}}""")
  }

  /** `{"name": {"value": v}, ...}`; run.py adds each unit. */
  private def render(ms: Seq[(String, Double)]): String =
    ms.map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$x}"""
    }.mkString("{", ",", "}")

  /** The traced run's end-to-end readings against the last untraced
    * run of the same workload in this checkout.
    */
  private def overheadLine(workload: String, traced: Map[String, Double], untraced: Path): String = {
    val base: Map[String, Double] =
      if (!Files.exists(untraced)) Map.empty
      else """"([a-z0-9_]+)":\{"value":([-0-9.Ee]+)\}""".r
        .findAllMatchIn(new String(Files.readAllBytes(untraced), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val parts = traced.keys.toSeq.sorted.map { k =>
      base.get(k) match {
        case Some(b) if b != 0 => f"$k ${traced(k)}%.4g vs ${b}%.4g (${(traced(k) / b - 1) * 100}%+.1f%%)"
        case _ => f"$k ${traced(k)}%.4g"
      }
    }
    val against = if (base.isEmpty) "no untraced run recorded yet" else "traced vs last untraced run"
    s"tracing overhead $workload ($against): ${parts.mkString(", ")}"
  }
}
