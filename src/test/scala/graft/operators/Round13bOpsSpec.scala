package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs

/** Round-13 second tier — kernel properties and cross-query
  * invariants for the diversity / policy / geometry / privacy /
  * cadence gates (C96-C101, E25, F22-F23, G11).
  */
class Round13bOpsSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession =
    graft.GraftSession.local(cores = 4, appName = "round13b-ops-spec")

  test("C96: simpson + diversity partition 1e6 exactly; single-source lang is pure concentration") {
    import spark.implicits._
    val rows = CorpusQueries.qSimpsonDiversity(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("simpson_ppm") + r.getAs[Long]("diversity_ppm") === 1000000L)
      assert(r.getAs[Long]("simpson_ppm") >= 0L)
    }
    // kernel: one source holding all docs -> lambda = 1 exactly
    val one = Seq(("xx", "only", 7L)).toDF("lang", "source", "n")
      .groupBy(col("lang"))
      .agg(sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).as("pairs_same"),
        sum(col("n")).as("n_docs"))
      .select(expr("CAST(pairs_same * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)"))
      .head().getLong(0)
    assert(one === 1000000L)
  }

  test("C97: lexicon screen — absent term reports zero hits everywhere, hit_ppm <= 1e6") {
    val rows = CorpusQueries.qLexiconFlags(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("hit_ppm") >= 0L &&
      r.getAs[Long]("hit_ppm") <= 1000000L))
    val pw = rows.filter(_.getAs[String]("term") == "password")
    assert(pw.nonEmpty && pw.forall(_.getAs[Long]("n_hit") === 0L))
    // live terms must actually fire somewhere (the screen is not vacuous)
    assert(rows.filter(_.getAs[String]("term") == "merge")
      .exists(_.getAs[Long]("n_hit") > 0L))
  }

  test("C98: RBO weights are a decreasing suffix sum; identical rankings score the theoretical max") {
    // recompute the suffix weights independently
    val perDepth = (1 to 10).map { d =>
      val p9 = BigInt(9).pow(d - 1); val p10 = BigInt(10).pow(d)
      (BigInt(1000000) * p9 / (p10 * d)).toLong
    }
    val wSuffix = (1 to 10).map(m => perDepth.drop(m - 1).sum)
    assert(wSuffix === wSuffix.sorted.reverse) // monotone decreasing
    val maxRbo = wSuffix.sum // identical top-10: token at rank r adds W(r)
    val got = CorpusQueries.qRboSources(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val v = r.getAs[Long]("rbo_ppm")
      assert(v >= 0L && v <= maxRbo)
    }
  }

  test("C99/C100: norm audit bounds and centroid-distance identity") {
    val norms = PipelineQueries.qVectorNormAudit(spark, sf).collect()
    assert(norms.nonEmpty)
    norms.foreach { r =>
      assert(r.getAs[Long]("min_normsq_e12") <= r.getAs[Long]("mean_normsq_e12"))
      assert(r.getAs[Long]("mean_normsq_e12") <= r.getAs[Long]("max_normsq_e12"))
    }
    // centroid-distance kernel identity: two labels, one vector each,
    // differing by exactly one component step of 0.5 -> dist2_e12 =
    // (500000)^2 = 2.5e11
    import spark.implicits._
    val sums = Seq((0L, 0L, 500000L, 1L), (1L, 0L, 1000000L, 1L))
      .toDF("label", "dim", "s", "n")
    val a = sums.select(col("label").as("la"), col("dim"), col("s").as("sa"), col("n").as("na"))
    val b = sums.select(col("label").as("lb"), col("dim"), col("s").as("sb"), col("n").as("nb"))
    val d2 = a.join(b, Seq("dim")).filter(col("la") < col("lb"))
      .select(expr("CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na").as("d"),
        col("na"), col("nb"))
      .agg(sum(expr("d * d")).as("num"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .select(expr("CAST(num div (CAST(na AS DECIMAL(38,0)) * nb * na * nb) AS BIGINT)"))
      .head().getLong(0)
    assert(d2 === 250000000000L)
  }

  test("C101: geometric noise decodes the hash's leading-zero bits; E[|noise|] is O(1)") {
    val rows = CurationQueries.qDpCounts(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_dp") >= 0L)
      assert(r.getAs[Long]("n_dp") ===
        math.max(0L, r.getAs[Long]("n_true") + r.getAs[Long]("noise")))
      // reference decode: parse the same md5 prefix and count leading
      // zero bits of the 60-bit value — must equal |noise|
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-dp:${r.getAs[String]("event_type")}".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString
      val v = java.lang.Long.parseLong(hex.substring(0, 15), 16) // 60 bits
      val mag = if (v == 0L) 60L else 60L - (64L - java.lang.Long.numberOfLeadingZeros(v))
      assert(math.abs(r.getAs[Long]("noise")) === mag)
    }
  }

  test("E25: octave binning is floor(log2) and mass shares sum to ~1e6") {
    val rows = AnalyticsQueries.qDegreeHist(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val oct = r.getAs[Long]("octave"); val lo = r.getAs[Long]("lo_deg")
      assert(lo === (1L << oct))
    }
    val share = rows.map(_.getAs[Long]("mass_ppm")).sum
    assert(share <= 1000000L && share > 1000000L - rows.length) // floor losses only
  }

  test("F22: decay weight is an exact right shift; score bounded by n_events * 2^20") {
    val rows = TimeSeriesQueries.qDecayScore(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("score_q20") <= r.getAs[Long]("n_events") * 1048576L)
      assert(r.getAs[Long]("score_q20") >= 0L)
    }
  }

  test("F23: gap stats are ordered min <= med <= max and every customer has >= 5 orders") {
    val rows = TimeSeriesQueries.qOrderGapStats(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_orders") >= 5L)
      assert(r.getAs[Long]("min_gap") <= r.getAs[Long]("med_gap"))
      assert(r.getAs[Long]("med_gap") <= r.getAs[Long]("max_gap"))
    }
  }

  test("F24: sliding median window is <= 7 days and bounded by the window extremes") {
    val rows = TimeSeriesQueries.qSlidingMedian(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("n_days") >= 1L && r.getAs[Long]("n_days") <= 7L))
  }

  test("F25: rank migration emits <= 40 parts; absent halves read rank 0 with zero revenue") {
    val rows = TimeSeriesQueries.qRankMigration(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 40)
    rows.foreach { r =>
      val ra = r.getAs[Long]("rank_a"); val rb = r.getAs[Long]("rank_b")
      assert(ra >= 0L && ra <= 20L && rb >= 0L && rb <= 20L)
      assert(ra > 0L || rb > 0L)
      if (ra == 0L) assert(r.getAs[Long]("rev_a_cents") === 0L)
      if (rb == 0L) assert(r.getAs[Long]("rev_b_cents") === 0L)
    }
  }

  test("C102: tail-boilerplate shares are consistent fractions") {
    val rows = CorpusQueries.qTailBoilerplate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_tail_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_tails") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("dup_tail_ppm") <= 1000000L)
      assert(r.getAs[Long]("max_tail_share") >= 1L)
    }
  }

  test("G12: partition balance reports 32 buckets max and max >= ideal share") {
    val rows = DiagnosticsQueries.qPartitionBalance(spark, sf).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_buckets") >= 1L && r.getAs[Long]("n_buckets") <= 32L)
      assert(r.getAs[Long]("max_bucket") >= r.getAs[Long]("min_bucket"))
      // max bucket holds at least the uniform share -> ratio >= 1e6
      assert(r.getAs[Long]("max_vs_ideal_ppm") >= 1000000L)
    }
  }

  test("E26: components partition the node set; every component's id is one of its members") {
    val comps = AnalyticsQueries.qConnectedComponents(spark, sf).collect()
    assert(comps.nonEmpty)
    val total = comps.map(_.getAs[Long]("n_nodes")).sum
    // node universe = endpoints of support>=2 co-purchase edges
    // (the full landed pair table — qCopurchase is a top-20 report)
    val e = AnalyticsQueries.copurchasePairs(spark, sf)
      .filter(col("support") >= 2)
    val nNodes = e.select(col("p1").as("n"))
      .unionAll(e.select(col("p2").as("n"))).distinct().count()
    assert(total === nNodes)
    // component ids are min labels -> distinct, and each <= any member count context
    assert(comps.map(_.getAs[Long]("comp")).distinct.length === comps.length)
  }

  test("A38: checksum is order-free and flips on any single-row mutation") {
    import spark.implicits._
    def sum56(df: org.apache.spark.sql.DataFrame): Long =
      df.select(conv(substring(md5(col("k")), 1, 14), 16, 10)
          .cast("decimal(38,0)").as("h"))
        .agg(sum(col("h")).as("s"))
        .select(expr("CAST(s % 72057594037927936 AS BIGINT)"))
        .head().getLong(0)
    val rows = Seq("1|10|O", "2|20|F", "3|30|P")
    val a = sum56(rows.toDF("k"))
    val b = sum56(rows.reverse.toDF("k"))
    assert(a === b) // commutative fold: partition order cannot move it
    val mutated = sum56(Seq("1|10|O", "2|21|F", "3|30|P").toDF("k"))
    assert(mutated !== a)
    val real = CdcQueries.qTableChecksum(spark, sf).collect()
    assert(real.length === 3)
    real.foreach(r => assert(r.getAs[Long]("checksum56") >= 0L))
  }

  test("G13: every PSI term is nonnegative (factors share sign) and the kernel zeroes on identity") {
    val rows = DiagnosticsQueries.qPsiDrift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("psi_milli_ebits") >= 0L))
    // identity kernel: c/Ns == r/Nr exactly -> cn == rn -> term 0
    import spark.implicits._
    val z = Seq((3L, 6L, 10L, 20L), (7L, 14L, 10L, 20L))
      .toDF("cs", "rs", "ns", "nr")
      .withColumn("cn", expr("cs * nr")).withColumn("rn", expr("rs * ns"))
      .agg(sum(expr("CAST(cn - rn AS DECIMAL(38,0))")).as("s"))
      .head().getDecimal(0)
    assert(z.longValueExact() === 0L)
  }

  test("C103: window co-occurrence weights decay exactly as 1e6 div d") {
    val w = (1 to 5).map(d => 1000000L / d)
    assert(w === Seq(1000000L, 500000L, 333333L, 250000L, 200000L))
    val rows = CorpusQueries.qWindowCooccur(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 40)
    rows.foreach { r =>
      // each co-occurrence contributes at most the adjacent weight
      assert(r.getAs[Long]("weight_ppm") <= r.getAs[Long]("n_pairs") * 1000000L)
      assert(r.getAs[Long]("weight_ppm") >= r.getAs[Long]("n_pairs") * 200000L)
    }
  }

  test("E27: unnormalized HITS scores are positive and hub2 dominates hub1") {
    val rows = AnalyticsQueries.qHitsScores(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val h2s = rows.map(_.getAs[Long]("hub2"))
    assert(h2s === h2s.sorted.reverse)
    rows.foreach { r =>
      assert(r.getAs[Long]("hub1") >= 1L)
      // a2(p) >= a1(p) pointwise (h1 >= 1 per neighbor), so h2 >= h1
      assert(r.getAs[Long]("hub2") >= r.getAs[Long]("hub1"))
    }
  }

  test("A40: the audit finds exactly the dropped sync window per partition") {
    val rows = CdcQueries.qOffsetAudit(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      // window 2 (offsets 501-750) is dropped -> exactly one 250-wide hole
      assert(r.getAs[Long]("n_gaps") === 1L)
      assert(r.getAs[Long]("missing_offsets") === 250L)
    }
  }

  test("F28: heatmap shares sum to ~1e6 and the grid never exceeds 168 cells") {
    val rows = TimeSeriesQueries.qTimeHeatmap(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 168)
    rows.foreach { r =>
      assert(r.getAs[Long]("dow") >= 0L && r.getAs[Long]("dow") <= 6L)
      assert(r.getAs[Long]("hr") >= 0L && r.getAs[Long]("hr") <= 23L)
    }
    val share = rows.map(_.getAs[Long]("share_ppm")).sum
    assert(share <= 1000000L && share > 1000000L - rows.length)
  }

  test("A41: DLQ replay converges to the incident-free upsert snapshot") {
    val replayed = CdcQueries.qDlqReplay(spark, sf).collect()
    val clean = CdcQueries.qCdcUpsert(spark, sf).collect()
    assert(replayed.length === clean.length)
    replayed.zip(clean).foreach { case (r, c) =>
      assert(r.getAs[Long]("user_id") === c.getAs[Long]("user_id"))
      assert(r.getAs[Long]("last_id") === c.getAs[Long]("last_id"))
      assert(r.getAs[String]("last_op") === c.getAs[String]("last_op"))
    }
    // every poisoned line (id % 7 == 0) was repaired, none dropped
    val expected = graft.cdc.ChangeModel.linesTable(spark, sf)
      .filter(col("id") % 7 === 0).count()
    assert(replayed.head.getAs[Long]("n_repaired") === expected)
  }

  test("B47/F29: grouped-mode share floor and burstiness nonnegativity") {
    val modes = Extended.qGroupedMode(spark, sf).collect()
    assert(modes.nonEmpty)
    // three return flags -> the mode holds at least a third
    modes.foreach(r => assert(r.getAs[Long]("mode_share_ppm") >= 333333L))
    val b = TimeSeriesQueries.qBurstiness(spark, sf).collect()
    assert(b.nonEmpty)
    b.foreach { r =>
      assert(r.getAs[Long]("cv2_ppm") >= 0L)
      assert(r.getAs[Long]("n_gaps") >= 5L)
    }
  }

  test("G11: chi2 of an exactly-independent table is zero; real table is nonnegative") {
    import spark.implicits._
    // outer-product table: O = r*c/N exactly -> every dev = 0
    val cells = Seq(("a", "x", 10L), ("a", "y", 20L), ("b", "x", 30L), ("b", "y", 60L))
      .toDF("source", "lang", "o")
    val rm = cells.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val cm = cells.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("nn"))
    val chi = rm.crossJoin(cm).join(cells, Seq("source", "lang"), "left")
      .crossJoin(tot)
      .withColumn("o0", coalesce(col("o"), lit(0L)))
      .withColumn("dev",
        expr("CAST(o0 AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * c"))
      .agg(sum(expr("CAST((dev * dev * 1000) div (CAST(r AS DECIMAL(38,0)) * c * nn) AS BIGINT)")))
      .head().getLong(0)
    assert(chi === 0L)
    val real = DiagnosticsQueries.qChi2Contingency(spark, sf).collect()
    assert(real.nonEmpty)
    real.foreach(r => assert(r.getAs[Long]("chi2_milli") >= 0L))
  }

  test("C103: chunked pair generation equals the whole-doc reference across chunk boundaries") {
    // r17: qWindowCooccur bounds per-row peak memory by slicing the
    // token array into 512-token chunks with a 5-token overlap. Every
    // corpus doc is <= 100 tokens, so the MULTI-chunk branch is
    // invisible to the oracle — this pins it: docs of 2 / 513 / 517 /
    // 518 / 1200 tokens (both sides of every boundary) must aggregate
    // to exactly the reference pair table computed in plain Scala.
    import spark.implicits._
    def doc(id: Long, n: Int): (Long, String, String) =
      // small vocab so pairs recur across chunks; deterministic
      (id, (0 until n).map(i => s"t${(i * 7 + id) % 37}").mkString(" "), "srcT")
    val docs = Seq(doc(1, 2), doc(2, 513), doc(3, 517), doc(4, 518),
      doc(5, 1200), doc(6, 100))
    val dir = tempDir("wcc-chunk").toString
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reference: the pre-chunking single-shot definition
    val agg = scala.collection.mutable.HashMap.empty[(String, String), (Long, Long)]
    docs.foreach { case (_, text, _) =>
      val w = text.split(" ")
      for (i <- 0 until w.length - 1; j <- (i + 1) to math.min(i + 5, w.length - 1)) {
        val k = if (w(i) <= w(j)) (w(i), w(j)) else (w(j), w(i))
        val (n, s) = agg.getOrElse(k, (0L, 0L))
        agg(k) = (n + 1L, s + 1000000L / (j - i))
      }
    }
    val expect = agg.toSeq
      .map { case ((a, b), (n, s)) => (a, b, n, s) }
      .sortBy { case (a, b, _, s) => (-s, a, b) }
      .take(40)
    val got = CorpusQueries.qWindowCooccur(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
  }
}
