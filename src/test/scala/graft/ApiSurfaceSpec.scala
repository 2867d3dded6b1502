package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TypedAggs
import graft.sources.Tables

/** SQL + typed-Dataset API surfaces. */
class ApiSurfaceSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"

  /** Separate session: extensions must come in at build time —
    * getOrCreate() would happily return another suite's session and
    * skip them, so clear the JVM-default session first (the
    * SparkContext is still shared).
    */
  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("api-spec")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("registerAll equips an extension-less session with the full SQL surface") {
    // the notebook path: a session already exists, .withExtensions is
    // silently ignored — registerAll must provide the SAME surface.
    // newSession() shares the context but has its own function
    // registry, so it models the plain session faithfully
    val plain = spark.newSession()
    // newSession() inherits the extension-injected functions; drop
    // them so the assertion proves REGISTERALL supplies the surface
    GraftExtensions.builders.foreach { case (name, _, _) =>
      plain.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    }
    assert(!plain.catalog.functionExists("topk_freq"))
    graft.functions.registerAll(plain)
    assert(plain.catalog.functionExists("topk_freq"))
    Tables(plain, sf).documents.createOrReplaceTempView("docs_plain")
    val names = GraftExtensions.builders.map(_._1)
    assert(names.size >= 14)
    // every registered name resolves (analysis would fail otherwise)
    val r = plain.sql(
      """SELECT rolling_hash64(text) AS a, simhash64(split(text,' ')) AS b,
        |  z_interleave(doc_id, n_chars) AS c
        |FROM docs_plain LIMIT 3""".stripMargin).collect()
    assert(r.length == 3)
    val tk = plain.sql(
      """SELECT explode(topk_freq(w, 3, 4096)) FROM
        | (SELECT explode(split(text, ' ')) AS w FROM docs_plain)""".stripMargin)
    assert(tk.count() == 3)
    // the storable-sketch lifecycle from pure SQL: segment sketches
    // -> stored binary -> re-merged estimate / top-k
    val hm = plain.sql(
      """SELECT hll_merge(sk) AS est FROM
        | (SELECT hll_sketch(doc_id) AS sk FROM docs_plain GROUP BY doc_id % 3)"""
        .stripMargin).first().getLong(0)
    val exact = plain.sql("SELECT count(DISTINCT doc_id) FROM docs_plain")
      .first().getLong(0)
    assert(math.abs(hm.toDouble / exact - 1.0) <= 0.05, s"est=$hm exact=$exact")
    val tm = plain.sql(
      """SELECT explode(topk_merge(sk, 2)) FROM
        | (SELECT topk_sketch(source) AS sk FROM docs_plain GROUP BY doc_id % 3)"""
        .stripMargin)
    assert(tm.count() == 2)
    // CMS from pure SQL: segment grids -> fold -> point probe; the
    // estimate is an overestimate of every true segment-total count
    val cm = plain.sql(
      """SELECT min(cms_query(sk, d)) AS est FROM
        | (SELECT cms_union(sk) AS sk FROM
        |   (SELECT cms_sketch(doc_id) AS sk FROM docs_plain GROUP BY doc_id % 3)),
        | (SELECT DISTINCT doc_id AS d FROM docs_plain)""".stripMargin)
      .first().getLong(0)
    assert(cm >= 1L, s"cms probe of a present key must be >= its count, got $cm")
    // join-cardinality estimate from pure SQL: self-inner-product of a
    // distinct-key sketch >= the number of distinct keys (each key
    // contributes >= 1*1 to every row's dot product)
    val nKeys = plain.sql("SELECT count(DISTINCT doc_id) FROM docs_plain")
      .first().getLong(0)
    val ip = plain.sql(
      """SELECT cms_inner(sk, sk) AS est FROM
        | (SELECT cms_sketch(doc_id) AS sk FROM
        |   (SELECT DISTINCT doc_id FROM docs_plain))""".stripMargin)
      .first().getLong(0)
    assert(ip >= nKeys, s"self inner product $ip must be >= $nKeys")
    // the array form: one digest, several probes, monotone results
    val tq = plain.sql(
      """SELECT tdigest_quantiles(n_chars * 1.0, array(0.25D, 0.5D, 0.75D)) AS qs
        |FROM docs_plain""".stripMargin).first().getSeq[Double](0)
    assert(tq.size == 3 && tq(0) <= tq(1) && tq(1) <= tq(2),
      s"tdigest_quantiles not monotone: $tq")
  }

  test("GraftExtensions exposes the custom expressions to SQL") {
    Tables(spark, sf).documents.createOrReplaceTempView("docs")
    val viaSql = spark.sql(
      """SELECT doc_id, rolling_hash64(text) AS fp,
        |  simhash64(split(text, ' ')) AS sh
        |FROM docs ORDER BY doc_id LIMIT 5""".stripMargin)
    assert(viaSql.count() == 5)
    // same values as the Column API
    import graft.functions.{rolling_hash64, simhash64}
    val viaCol = Tables(spark, sf).documents
      .select(col("doc_id"), rolling_hash64(col("text")).as("fp"),
        simhash64(split(col("text"), " ")).as("sh"))
      .orderBy(col("doc_id")).limit(5)
    assert(viaSql.exceptAll(viaCol).count() == 0)

    val dp = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head.getDouble(0)
    assert(dp == 11.0)

    // shingle_hashes from SQL == the Column API (and the string path)
    val sh3 = spark.sql(
      "SELECT size(shingle_hashes(split('a b c d', ' '), 2)) AS n").head.getInt(0)
    assert(sh3 == 3)

    // bpe_apply from SQL: constant merge list, ordered application
    val bpe = spark.sql(
      """SELECT bpe_apply(split('a b c a b', ' '),
        |  array(array('a','b'), array('a_b','c'))) AS w""".stripMargin)
      .head.getSeq[String](0)
    assert(bpe == Seq("a_b_c", "a_b"), s"bpe_apply via SQL wrong: $bpe")
    // repetition_stats from SQL: "a b a b a" has trigrams
    // (a b a), (b a b), (a b a) -> max 2 of 3
    val rs = spark.sql(
      "SELECT repetition_stats(split('a b a b a', ' '), 3) AS r").head
      .getSeq[Long](0)
    assert(rs == Seq(2L, 3L), rs.toString)
    // hll_distinct from SQL: exact-regime sanity on a small corpus
    val hll = spark.sql(
      "SELECT hll_distinct(doc_id) AS n FROM docs").head.getLong(0)
    val exact = spark.sql(
      "SELECT count(DISTINCT doc_id) AS n FROM docs").head.getLong(0)
    assert(math.abs(hll - exact).toDouble / exact <= 0.05, s"hll=$hll exact=$exact")
    // approx_quantile_sketch from SQL: under-capacity => exact median
    val med = spark.sql(
      "SELECT approx_quantile_sketch(n_chars * 1.0, 0.5) AS m FROM docs").head.getDouble(0)
    val lo = spark.sql(
      "SELECT percentile(n_chars, 0.45) AS p FROM docs").head.getDouble(0)
    val hi = spark.sql(
      "SELECT percentile(n_chars, 0.55) AS p FROM docs").head.getDouble(0)
    assert(med >= lo && med <= hi, s"sketch median $med outside [$lo, $hi]")
    // bloom_agg + bloom_might_contain from SQL: members always probe
    // true; a disjoint key range at ~2% design fpp stays mostly out
    val hits = spark.sql(
      """SELECT count(*) AS n FROM docs d CROSS JOIN
        |  (SELECT bloom_agg(rolling_hash64(text), 131072, 5) AS bf FROM docs) b
        |WHERE bloom_might_contain(b.bf, rolling_hash64(d.text))""".stripMargin)
      .head.getLong(0)
    assert(hits == spark.table("docs").count(), s"bloom missed members: $hits")
    // bottomk_sample from SQL == the deterministic md5 bottom-k
    val bk = spark.sql(
      "SELECT explode(bottomk_sample(doc_id, 3, 'graft-sample-7')) AS id FROM docs")
    val expect = spark.sql(
      """SELECT doc_id AS id FROM docs
        |ORDER BY md5(concat('graft-sample-7:', CAST(doc_id AS STRING))), doc_id
        |LIMIT 3""".stripMargin)
    assert(bk.exceptAll(expect).count() == 0 && expect.exceptAll(bk).count() == 0)
    // topk_freq from SQL == exact counts (capacity >= vocabulary)
    val tk = spark.sql(
      """SELECT t.item, t.cnt FROM
        | (SELECT explode(topk_freq(w, 5, 4096)) AS t FROM
        |   (SELECT explode(split(text, ' ')) AS w FROM docs))""".stripMargin)
    val tkExpect = spark.sql(
      """SELECT w AS item, count(*) AS cnt FROM
        |  (SELECT explode(split(text, ' ')) AS w FROM docs)
        |GROUP BY w ORDER BY cnt DESC, item LIMIT 5""".stripMargin)
    assert(tk.exceptAll(tkExpect).count() == 0 &&
      tkExpect.exceptAll(tk).count() == 0)
  }

  test("tdigest_quantile from SQL: mid and tail estimates inside exact bands") {
    val r = spark.sql(
      """SELECT tdigest_quantile(n_chars * 1.0, 0.5) AS m,
        |  tdigest_quantile(n_chars * 1.0, 0.95) AS t,
        |  percentile(n_chars, 0.45) AS lo, percentile(n_chars, 0.55) AS hi,
        |  percentile(n_chars, 0.93) AS tlo, percentile(n_chars, 0.97) AS thi
        |FROM docs""".stripMargin).head
    assert(r.getDouble(0) >= r.getDouble(2) && r.getDouble(0) <= r.getDouble(3),
      s"median ${r.getDouble(0)} outside [${r.getDouble(2)}, ${r.getDouble(3)}]")
    assert(r.getDouble(1) >= r.getDouble(4) && r.getDouble(1) <= r.getDouble(5),
      s"p95 ${r.getDouble(1)} outside [${r.getDouble(4)}, ${r.getDouble(5)}]")
  }

  test("SQL arg handling: BIGINT literals accepted, column args rejected cleanly") {
    // BIGINT literal (java.lang.Long at eval time) must not ClassCastException
    val n = spark.sql(
      "SELECT size(shingle_hashes(split('a b c d', ' '), CAST(2 AS BIGINT))) AS n")
      .head.getInt(0)
    assert(n == 3)
    val hll = spark.sql(
      "SELECT hll_distinct(doc_id, CAST(12 AS BIGINT)) AS n FROM docs").head.getLong(0)
    assert(hll > 0)
    // a non-constant (column) argument must fail with a clean message,
    // not a ClassCastException or a bogus unbound-attribute eval
    val err = intercept[Exception] {
      spark.sql("SELECT shingle_hashes(split(text, ' '), doc_id) FROM docs").collect()
    }
    assert(err.getMessage.contains("constant integer"), err.getMessage)
  }

  test("approx_quantile_sketch: all-null group returns NULL like exact percentile") {
    val r = spark.sql(
      """SELECT g, approx_quantile_sketch(v, 0.5) AS sk, percentile(v, 0.5) AS ex
        |FROM VALUES (1, 10.0), (1, 20.0), (2, CAST(NULL AS DOUBLE)) AS t(g, v)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(!r(0).isNullAt(1) && !r(0).isNullAt(2))
    assert(r(1).isNullAt(1) && r(1).isNullAt(2),
      s"all-null group: sketch=${r(1).get(1)} exact=${r(1).get(2)}")
  }

  test("hll_sketch/hll_merge: stored per-segment sketches re-merge to the direct estimate, bit-exact") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5000 keys over 10 segments with cross-segment overlap
    val rows = (0 until 5000).map(i => (i % 10, (i * 37) % 3000L)).toDF("seg", "k")
    // direct one-shot estimate over all rows
    val direct = rows.agg(graft.functions.hll_distinct(col("k"))).first().getLong(0)
    // per-segment binary sketches, round-tripped through parquet
    // (the store-then-merge lifecycle the sketch column exists for),
    // then merged back
    val dir = tempDir("hll-seg").toString
    rows.groupBy(col("seg")).agg(graft.functions.hll_sketch(col("k")).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(graft.functions.hll_merge(col("sk"))).first().getLong(0)
    // register-wise max merge is exact: the merged register file IS
    // the direct one, so the estimates are equal, not merely close
    assert(merged == direct, s"merged=$merged direct=$direct")
    // and the estimate itself is sane against the true cardinality
    val exact = rows.select(col("k")).distinct().count()
    assert(math.abs(merged.toDouble / exact - 1.0) <= 0.05,
      s"est=$merged exact=$exact")
  }

  test("typed Aggregator: weighted mean partial-aggregates correctly") {
    import spark.implicits._
    val ev = Tables(spark, sf).events
      .select(col("value"), (col("user_id") + 1).cast("double").as("w"))
      .as[(Double, Double)]
    val agg = new TypedAggs.WeightedMeanCents().toColumn
    val got = ev.select(agg).head()
    // ground truth via exact integer math in one pass
    val rows = ev.collect()
    val sum4 = rows.map { case (v, w) => math.round(v * 100) * math.round(w * 100) }.sum
    val w100 = rows.map { case (_, w) => math.round(w * 100) }.sum
    assert(got == sum4.toDouble / 100.0 / w100.toDouble)
  }

  test("typed Aggregator: range digest merges across partitions") {
    import spark.implicits._
    val vals = Tables(spark, sf).events.select(col("value")).as[Double].repartition(7)
    val d = vals.select(new TypedAggs.RangeDigest().toColumn).head()
    val (n, mn, mx) = (vals.count(), vals.collect().min, vals.collect().max)
    assert(d.n == n && d.min == mn && d.max == mx)
  }
}
