package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Round-13 hardening — the r12 verdict's scale items: the BFS
  * join-form fallback equals the driver-form search level-for-level,
  * the assortativity corr2_ppm kernel survives moments that exhaust
  * decimal(38,0) headroom, and the KS cross-multiplication stays
  * exact past Long range.
  */
class Round13OpsSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession =
    graft.GraftSession.local(cores = 4, appName = "round13-ops-spec")

  test("E22: join-form BFS fallback equals the driver-form search exactly") {
    val driverForm = AnalyticsQueries.bfsLevels(spark, sf, joinFormAt = 1 << 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // joinFormAt = 0 forces the distributed frontier/visited frames
    // from round 1 — the 100 TB shape where nothing node-sized ever
    // reaches the driver
    val joinForm = AnalyticsQueries.bfsLevels(spark, sf, joinFormAt = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(driverForm.nonEmpty)
    assert(joinForm === driverForm)
  }

  test("E22: BFS seeds from the smallest part node, not the edge-list min") {
    // the un-reversed edge frame's part column is the oracle's seed
    // domain; level 0 must therefore be exactly (1 part, 0 suppliers)
    val lv0 = AnalyticsQueries.qBfsLevels(spark, sf)
      .orderBy(col("lvl")).collect().head
    assert(lv0.getLong(0) === 0L)
    assert((lv0.getLong(1), lv0.getLong(2)) === ((1L, 0L)))
  }

  test("E23: corr2Ppm is exact where decimal(38,0) squaring would overflow") {
    def bd(s: String) = new java.math.BigDecimal(s)
    // num ~ 1e36: num^2 * 1e6 ~ 1e78, double the decimal-38 budget.
    // Truth computed independently with Scala BigInt.
    val num = bd("999999999999999999999999999999999999") // 36 nines
    val dx = bd("1" + "0" * 36)
    val dy = bd("2" + "0" * 36)
    val want = {
      val n = BigInt(num.toBigInteger)
      (n * n * 1000000 / (BigInt(dx.toBigInteger) * BigInt(dy.toBigInteger)))
        .toLong
    }
    assert(AnalyticsQueries.corr2Ppm(num, dx, dy) === want)
    assert(want === 499999L) // n^2/(2e72) * 1e6, floored
    // sign carries through; Cauchy-Schwarz bound respected
    assert(AnalyticsQueries.corr2Ppm(num.negate, dx, dy) === -want)
    // perfect correlation: num^2 == dx*dy -> exactly 1e6 ppm
    assert(AnalyticsQueries.corr2Ppm(bd("2" + "0" * 35), dx, bd("4" + "0" * 34))
      === 1000000L)
    // degenerate graph (zero variance on one axis) -> null, the
    // non-ANSI div-by-zero semantics the frame previously had
    assert(AnalyticsQueries.corr2Ppm(num, java.math.BigDecimal.ZERO, dy) === null)
  }

  test("E23: the one-row frame carries the BigInteger ppm with intact schema") {
    val df = AnalyticsQueries.qAssortativity(spark, sf)
    // gated schema is all-BIGINT since r14 (the driver hashes raw
    // decimal columns differently even when values are identical);
    // the distributed math stays decimal(38,0) upstream of the emit
    val f = df.schema.fields.map(f => (f.name, f.dataType.simpleString)).toMap
    assert(Seq("m", "num", "den_x", "den_y", "corr2_ppm")
      .forall(c => f(c) === "bigint"), f.toString)
    val r = df.collect()(0)
    // the frame's ppm replays through the kernel on its own moments
    def bd(c: String) = new java.math.BigDecimal(r.getAs[Long](c))
    assert(r.getAs[java.lang.Long]("corr2_ppm") ===
      AnalyticsQueries.corr2Ppm(bd("num"), bd("den_x"), bd("den_y")))
  }

  test("G9 kernel: ksStat cross-products stay exact past Long range") {
    import spark.implicits._
    // two 3-value distributions with ~1e9-scale counts: cum*n hits
    // ~4e18 > Long.MaxValue/2 per product and the difference of
    // products would wrap in silent non-ANSI long arithmetic
    val a = Seq((1L, 2000000000L), (2L, 1500000000L), (3L, 900000000L))
      .toDF("v", "c")
    val b = Seq((1L, 1000000000L), (2L, 2500000000L), (3L, 800000000L))
      .toDF("v", "c")
    val r = DiagnosticsQueries.ksStat(a, b).collect()(0)
    val (na, nb) = (4400000000L, 4300000000L)
    assert((r.getLong(0), r.getLong(1)) === ((na, nb)))
    // truth via BigInt over the 3-point grid
    val cumA = Seq(2000000000L, 3500000000L, 4400000000L)
    val cumB = Seq(1000000000L, 3500000000L, 4300000000L)
    val d = cumA.zip(cumB)
      .map { case (ca, cb) => (BigInt(ca) * nb - BigInt(cb) * na).abs }.max
    assert(r.getLong(2) === (d * 1000000 / (BigInt(na) * nb)).toLong)
  }

  test("C89: domain cap keeps exactly min(K, n) per source and flags capped sources") {
    val r = CurationQueries.qDomainCap(spark, sf).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (n, kept, hit) = (row.getAs[Long]("n_docs"),
        row.getAs[Long]("n_kept"), row.getAs[Long]("cap_hit"))
      assert(kept === math.min(40L, n))
      assert(hit === (if (n > 40) 1L else 0L))
    }
  }

  test("C90: reservoir sample is a pure function of (seed, doc_id) — rerun-identical") {
    val a = CurationQueries.qReservoirSample(spark, sf).collect().map(_.toString)
    val b = CurationQueries.qReservoirSample(spark, sf).collect().map(_.toString)
    assert(a.toSeq === b.toSeq)
    CurationQueries.qReservoirSample(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("n_kept") === math.min(25L, r.getAs[Long]("n_docs")))
    }
  }

  test("C94: int8 quantization error is bounded by scale div 127 + 1, per label") {
    import spark.implicits._
    val res = PipelineQueries.qEmbedQuantize(spark, sf).collect()
      .map(r => r.getAs[Long]("label") -> r.getAs[Long]("max_err")).toMap
    // the largest per-vector scale of each label bounds every dim's
    // reconstruction error: err <= s/127 rounded up
    val sMax = graft.sources.Tables(spark, sf).embeddings
      .select(col("label").cast("long").as("label"),
        explode(col("embedding")).as("x"))
      .select(col("label"),
        abs(round(col("x").cast("double") * 1000000d).cast("long")).as("a"))
      .groupBy(col("label")).agg(max(col("a")).as("s"))
      .as[(Long, Long)].collect().toMap
    res.foreach { case (label, err) =>
      assert(err <= sMax(label) / 127L + 1L,
        s"label $label: max_err $err > bound ${sMax(label) / 127L + 1L}")
    }
  }

  test("C93: pooled means are the sign-explicit integer division of exact sums") {
    PipelineQueries.qEmbedPool(spark, sf).collect().foreach { r =>
      val (n, s, m) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("sum_e6"),
        r.getAs[Long]("mean_e6"))
      assert(m === math.signum(s) * (math.abs(s) / n))
    }
  }

  test("A34: an empty or all-null first batch skips the KS step instead of wedging") {
    val store = tempDir("drift-empty").toString
    val empty = graft.sources.Tables(spark, sf).documents
      .filter(col("doc_id") < 0)
    graft.streaming.DriftMonitorStream.foldBatch(empty,
      empty.select(col("n_chars").as("v")).groupBy(col("v"))
        .agg(count(lit(1)).as("c")), store, batchId = 0L)
    assert(graft.streaming.DriftMonitorStream.readLog(spark, store).isEmpty)
    // and the monitor recovers on the first real batch
    val docs = graft.sources.Tables(spark, sf).documents
    val ref = docs.select(col("n_chars").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    graft.streaming.DriftMonitorStream.foldBatch(docs, ref, store, batchId = 1L)
    val log = graft.streaming.DriftMonitorStream.readLog(spark, store).get.collect()
    assert(log.length === 1 && log(0).getAs[Long]("ks_ppm") === 0L)
  }
}
