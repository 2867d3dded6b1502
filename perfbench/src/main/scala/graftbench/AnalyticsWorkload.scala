package graftbench

import java.nio.file.{Files, Path}

import graft.SparkEntry

/** `analytics_suite`: one cold pass over a fixed list of
  * `SparkEntry.queries` at sf0.1, after a warmup pass at sf0.001
  * that counts as set-up. Each query's builder call and its action
  * are timed apart; the action computes the result's fingerprint,
  * which must equal the one DuckDB computed from `SparkEntry.oracleSql`.
  * The [[Backfill]] phase runs between the warmup and the pass.
  * Streaming is bypassed.
  */
object AnalyticsWorkload {
  val Families: Seq[(String, Seq[String])] = Seq(
    "relational" -> Seq("q1_agg", "q3_join_agg"),
    "cdc" -> Seq("q_cdc_parse", "q_cdc_upsert"),
    "fixpoint" -> Seq("q_connected_components", "q_kcore"),
    "eager" -> Seq("q_decile_lift", "q_pareto_front"),
    "store" -> Seq("q_store_changes", "q_store_timetravel"),
    "corpus" -> Seq("q_bm25", "q_dedup_minhash"))
  val Queries: Seq[String] = Families.flatMap(_._2)

  /** `{"q": {"rows": n, "hash": "hex"}, ...}` as written by make_expected.py. */
  def expected(path: Path): Map[String, Fingerprint.Fp] = {
    val txt = new String(Files.readAllBytes(path), "UTF-8")
    """"([A-Za-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([0-9a-f]+)"\s*\}""".r
      .findAllMatchIn(txt).map(m => m.group(1) -> Fingerprint.Fp(m.group(2).toLong, m.group(3)))
      .toMap
  }

  /** Between queries: drop cached tables and checkpointed RDDs, so
    * every query starts from the same storage-memory floor.
    */
  private def coldReset(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    ctx.sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(ctx: Ctx, expectedPath: Path): Outcome = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val tally = new Tally
    val want = expected(expectedPath)
    val small = ctx.dataDir.resolve("sf0.001").toString
    val big = ctx.dataDir.resolve("sf0.1").toString
    val builders = SparkEntry.queries

    // set-up: the warmup runs once per JVM; landing the log is repeated
    val (warmupS, log) = tr.span("phase", "setup") {
      val t0 = System.nanoTime()
      Queries.foreach { q =>
        coldReset(ctx)
        tr.span("call", s"warmup $q") { Fingerprint.of(builders(q)(spark, small)) }
      }
      (Stats.seconds(t0, System.nanoTime()), Backfill.land(ctx))
    }

    // the backfill and its reads run before the pass, on a heap and a
    // host the queries have not yet loaded
    val backfill = Backfill.run(ctx, log, tally)

    // per query: (family, wall s, build s, build span, action span)
    ctx.settle()
    val timed = tr.span("phase", "pass") {
      Families.flatMap { case (family, qs) =>
        qs.map { q =>
          coldReset(ctx)
          var buildSpan, actionSpan = 0L
          val t0 = System.nanoTime()
          val df = tr.span("call", s"build $q") { buildSpan = tr.current; builders(q)(spark, big) }
          val t1 = System.nanoTime()
          val fp = tr.span("call", s"action $q") { actionSpan = tr.current; Fingerprint.of(df) }
          val t2 = System.nanoTime()
          tally.check(want.get(q).contains(fp),
            s"$q fingerprint $fp equals the expected ${want.get(q)}")
          (family, Stats.seconds(t0, t2), Stats.seconds(t0, t1), buildSpan, actionSpan)
        }
      }
    }
    val walls = timed.map(_._2)
    val e2e = Map(
      "setup_s" -> (warmupS + log.setupS),
      "suite_s" -> walls.sum,
      "query_p50_s" -> Stats.median(walls),
    ) ++ backfill.load.e2e ++
      (backfill.reads.metrics -- Seq("suite_s", "query_p50_s"))

    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val ops = Families.map(_._1).flatMap { family =>
        val mine = timed.filter(_._1 == family)
        val jobs = mine.flatMap(t => tr.jobsUnder(t._4) ++ tr.jobsUnder(t._5))
        def total(f: JobCounts => Long) = jobs.map(j => f(j.counts).toDouble).sum
        Seq(
          "wall_s" -> mine.map(_._2).sum,
          "build_s" -> mine.map(_._3).sum,
          "jobs" -> jobs.size.toDouble,
          "stages" -> jobs.map(_.counts.stages.size.toDouble).sum,
          "tasks" -> total(_.tasks.get),
          "exec_run_s" -> total(_.runMs.get) / 1e3,
          "exec_cpu_s" -> total(_.cpuNs.get) / 1e9,
          "shuffle_mb" -> total(_.shuffleBytes.get) / 1048576.0,
          "spill_mb" -> total(_.spillBytes.get) / 1048576.0,
        ).map { case (k, v) => s"operators.$family.$k" -> v }
      }
      ops.toMap ++ backfill.load.layers(log.inputBytes) ++
        backfill.reads.layers(backfill.store)
    }
    Outcome(tally.attempted, tally.failed, e2e, layers)
  }
}
