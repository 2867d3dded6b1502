package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.row_position
import graft.sources.Tables

/** E-block: product/ops analytics shapes a curation team runs next to
  * the pipeline proper — cohort retention, entity resolution, Pareto
  * fronts, graph triangle counts. All integer-or-IEEE-exact so every
  * query carries a DuckDB oracle.
  */
object AnalyticsQueries {

  /** E1: weekly cohort retention over the events stream — users
    * grouped by first-activity week, counted distinctly per week
    * offset. Two hash aggregations (cohort assignment, then the
    * matrix); the user->cohort join shuffles on user_id, the same key
    * as the cohort aggregate, so AQE reuses the exchange. Week ids
    * are integer day-diffs floor-divided by 7 (epoch-anchored Monday
    * 1970-01-05) — exact in any engine.
    */
  def qCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"),
        floor(datediff(to_date(col("ts")), to_date(lit("1970-01-05"))) / 7)
          .cast("long").as("week"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** E2: blocked entity resolution (record linkage) — candidate pairs
    * only within a (nation, segment) block, matched on edit distance
    * <= 1 plus a balance band. The block join is an equi-join (no
    * all-pairs): candidate mass is sum over blocks of |block|², the
    * standard blocking bound; at 100 TB the block key would come from
    * a phonetic/sorted-neighborhood key, same plan shape. levenshtein
    * is integer-exact in both engines.
    */
  def qRecordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir).customer
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), col("c_acctbal"))
    val a = c.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      col("c_acctbal").as("bal_a"))
    val b = c.select(col("c_custkey").as("id_b"), col("c_name").as("name_b"),
      col("c_nationkey").as("nk"), col("c_mktsegment").as("seg"),
      col("c_acctbal").as("bal_b"))
    // Predicate order matters: the balance band (~2% selective) and the
    // pair ordering are O(1) comparisons, levenshtein is O(len²) — so
    // the cheap filters run as join residuals BEFORE the projection
    // that computes the edit distance, cutting levenshtein calls ~50×.
    a.join(b, Seq("nk", "seg"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("bal_a") - col("bal_b")) < lit(100.0))
      .withColumn("name_dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("name_dist") <= 1)
      .select(col("id_a"), col("id_b"), col("name_dist").cast("long").as("name_dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** E3: 2-D Pareto front (skyline) over parts — minimize
    * (p_retailprice, p_size). A part survives iff no other part is <=
    * on both dims and < on one. Shape: collapse to one row per
    * distinct price (min size) — that aggregate is the only big
    * shuffle — then a strict-predecessor running MIN over the
    * price-ordered group rows, then join back. The running min uses
    * the distributed two-pass prefix-scan template (the qPpsSample /
    * lateness-audit pattern): range-partition by price, ONE long per
    * partition to the driver (each partition's min), exclusive
    * prefix-min as offsets, offset-seeded in-partition scan — NOT a
    * single-partition window: the price-distinct frame is
    * data-bounded (distinct prices), the one frame in the suite that
    * grew with the corpus rather than the calendar, so the scan must
    * stay parallel. Long.MaxValue seeds the no-predecessor case, so
    * `p_size < prev_min` uniformly encodes the old `prev_min IS NULL
    * OR ...` filter. Comparisons are raw parquet doubles (no
    * arithmetic) so both engines order identically.
    */
  def qParetoFront(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = Tables(spark, dir).part
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    val perPrice = p.groupBy(col("p_retailprice"))
      .agg(min(col("p_size")).cast("long").as("grp_min"))
    val parts = perPrice.repartitionByRange(col("p_retailprice"))
      .sortWithinPartitions(col("p_retailprice"))
      .as[(Double, Long)].rdd
    val partMins = parts.mapPartitionsWithIndex { (i, it) =>
      var m = Long.MaxValue; it.foreach(r => m = math.min(m, r._2)); Iterator((i, m))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partMins.scanLeft(Long.MaxValue)(math.min)
    val bcOff = spark.sparkContext.broadcast(offsets)
    val withPrev = parts.mapPartitionsWithIndex { (i, it) =>
      var acc = bcOff.value(i)
      it.map { case (price, gm) =>
        val prev = acc; acc = math.min(acc, gm); (price, gm, prev)
      }
    }.toDF("p_retailprice", "grp_min", "prev_min")
    p.join(broadcast(withPrev), Seq("p_retailprice"))
      .filter(col("p_size").cast("long") === col("grp_min") &&
        col("p_size").cast("long") < col("prev_min"))
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
      .orderBy(col("p_partkey"))
  }

  /** E4: triangle counting over the word-adjacency graph
    * (degree-ordered orientation, Schank & Wagner 2005 / Suri &
    * Vassilvitskii 2011 MapReduce form). Each undirected edge is
    * oriented from the lower-(degree, word) endpoint to the higher,
    * so every wedge is enumerated exactly once at its lowest-rank
    * apex and wedge mass is bounded by sum(min(deg)) <= O(m^1.5) —
    * the property that makes the self-join survive a power-law graph
    * at 100 TB (a hub of degree d contributes d wedges as a spoke,
    * not d²). Output: the 20 words in the most triangles.
    */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
    // The edge list and the oriented edge list are each consumed by
    // several branches below (degree count + orientation join; wedge
    // e1/e2 + closing). Without pinning, every branch would re-derive
    // its whole upstream — measured 90 corpus scans in one plan — so
    // both frames are cached: ONE corpus pass total. Cache lifetime is
    // the session's (same contract as Dedup's CC step frames); callers
    // needing reclamation can spark.catalog.clearCache() after the
    // action, the frames are edge-sized (two words per row), not
    // corpus-sized.
    val edges = toks.select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] as a, w[i+1] as b))")).as("p"))
      .select(col("p.a"), col("p.b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .cache()
    // single-pass degree: explode both endpoints instead of a
    // two-branch union (one read of the cached edges, one aggregate)
    val deg = edges.select(explode(array(col("u"), col("v"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("d"))
    // orient each edge from lower (degree, word) to higher
    val du = deg.select(col("w").as("u"), col("d").as("du"))
    val dv = deg.select(col("w").as("v"), col("d").as("dv"))
    val lowerFirst =
      col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges.join(du, "u").join(dv, "v")
      .select(
        when(lowerFirst, col("u")).otherwise(col("v")).as("lo"),
        when(lowerFirst, col("v")).otherwise(col("u")).as("hi"))
      .cache()
    val e1 = oriented.select(col("lo").as("x"), col("hi").as("y"))
    val e2 = oriented.select(col("lo").as("y"), col("hi").as("z"))
    val wedges = e1.join(e2, "y").select(col("x"), col("y"), col("z"))
    // close the wedge: (x,z) must be an oriented edge (x,z) — x is the
    // wedge's lowest rank, so the closing edge is oriented x->z
    val closing = oriented.select(col("lo").as("x"), col("hi").as("z"))
    val tris = wedges.join(closing, Seq("x", "z"))
    val perWord = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n_triangles"))
    perWord.orderBy(col("n_triangles").desc, col("word")).limit(20)
  }

  /** E5: sliding-window distinct count — 7-day trailing distinct
    * active users per day. The naive shape (a distinct count per day
    * over a range window) rescans 7 days of facts per output day;
    * instead each (user, day) observation *scatters* to the <=7
    * target days it is visible in, and one distinct aggregate per
    * target day does the rest — the same scatter/gather shape as the
    * F3 EWMA, linear in the fact count with a x7 fan-out of the
    * (user, day)-distinct frame, never quadratic.
    */
  def qSlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
    val scattered = ev
      .select(col("d"), col("user_id"), explode(expr("sequence(0, 6)")).as("k"))
      .select(date_add(col("d"), col("k")).as("t"), col("user_id"))
    val counts = scattered.groupBy(col("t"))
      .agg(countDistinct(col("user_id")).as("n_users_7d"))
    val days = ev.select(col("d")).distinct()
    counts.join(days, col("t") === col("d"))
      .select(col("d"), col("n_users_7d")).orderBy(col("d"))
  }

  /** E6: RFM segmentation — recency/frequency/monetary quintiles per
    * customer. Each quintile needs a global rank over the customer
    * aggregate; a single-partition window would serialize that, so
    * ranks come from a distributed total sort + `row_position()` —
    * the same no-single-partition pattern as the C30 curriculum order.
    * The three metrics are MELTED into one (custkey, metric_id,
    * sort_val) frame of 3n rows and ranked in a SINGLE global sort
    * keyed (metric_id, sort_val, custkey): each metric occupies a
    * contiguous position block of exactly n rows, so per-metric
    * 0-based rank = pos - metric_id*n. Recency orders by epoch-days
    * ascending (stalest first). n and the recency origin (max order
    * date) come from ONE broadcast scalar aggregate over the customer
    * frame, and a groupBy(o_custkey) with one max(when(mid = …)) slot
    * per metric pivots the three ranked rows back into one. Scores
    * are 1 + (5*rank) div n (exact integer bucketing, identical in
    * both engines; ties broken by custkey so the order is total).
    * At scale every stage is range- or hash-partitioned; nothing
    * driver-sized.
    */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("monetary_cents"))
      .withColumn("epoch_days",
        datediff(col("last_d"), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long"))
    val stats = broadcast(per.agg(count(lit(1)).as("n"),
      max(col("epoch_days")).as("mxd")))
    // melt: metric_id 0 = recency, 1 = frequency, 2 = monetary
    val ranked = per
      .select(col("o_custkey"), expr(
      """stack(3,
        |  0L, epoch_days,
        |  1L, frequency,
        |  2L, monetary_cents) AS (mid, v)""".stripMargin))
      .orderBy(col("mid"), col("v"), col("o_custkey"))
      .select(col("o_custkey"), col("mid"), col("v"), row_position().as("pos"))
    def slot(m: Long, c: org.apache.spark.sql.Column) = max(when(col("mid") === m, c))
    val score = expr("1 + (5 * (pos - mid * n)) div n")
    ranked.crossJoin(stats)
      .groupBy(col("o_custkey"))
      .agg(slot(0L, col("mxd") - col("v")).as("recency_days"),
        slot(1L, col("v")).as("frequency"),
        slot(2L, col("v")).as("monetary_cents"),
        slot(0L, score).as("r_score"),
        slot(1L, score).as("f_score"),
        slot(2L, score).as("m_score"))
      .withColumn("rfm_code",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  /** E7: Benford first-digit audit over order totals — the classic
    * fabricated-data screen. The leading digit comes from the cents
    * integer rendered as a string (no float log10), counts in one
    * aggregate, shares in exact ppm. Nine-row output; one fact-sized
    * groupBy with map-side partials.
    */
  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables(spark, dir).orders
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).as("digit"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"), expr("n * 1000000 div t").as("share_ppm"))
      .orderBy(col("digit"))
  }

  /** E8: mixture diversity — Gini impurity of the language mix per
    * source, 1 - sum(p²) in exact ppm: (n² - sum(c²)) * 1e6 div n².
    * Rational, so no float entropy drift; two aggregates, both
    * fact-linear, joined on the source key.
    */
  def qSourceGini(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("source"), col("lang"))
    val perLang = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    perLang.groupBy(col("source"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("ss"),
        count(lit(1)).as("n_langs"))
      .select(col("source"), col("n"), col("n_langs"),
        expr("(n * n - ss) * 1000000 div (n * n)").as("gini_ppm"))
      .orderBy(col("source"))
  }

  /** E9: market-basket co-purchase pairs — the support counts of
    * association-rule mining. Pair generation is a self-equi-join on
    * the basket key with p1 < p2, so candidate mass is
    * sum(|basket|²) — bounded by the max basket size (~7 line items
    * per order), NOT corpus-squared; the join and the pair aggregate
    * both shuffle on natural keys. Top-20 by (support desc, pair) —
    * a total order, so the cut is deterministic.
    */
  /** The co-purchase pair counts, shaped for scale: instead of
    * distinct + self-join on the order key (3 shuffles: the
    * (order, part) distinct, then BOTH join sides re-shuffled on
    * order), each order's part set is gathered ONCE
    * (collect_set partials combine map-side) and the ordered pairs
    * are generated map-side from the sorted array — baskets are
    * small (a handful of items), so the per-order pair fan-out is
    * bounded and the only shuffles are the order-key aggregate and
    * the pair count. sort_array makes the set deterministic and
    * gives p1 < p2 for free.
    */
  /** The per-order sorted item-set table LANDED once per corpus (a
    * standard silver-layer nested artifact: one row per order, the
    * order's distinct parts as a sorted array) — the shared input of
    * every basket-mining shape (E9 pairs, E16 triples). Landing it
    * moves the one collect_set shuffle out of each consumer; the
    * map-side pair/triple explosions stay billed to their queries.
    */
  private[graft] def basketsTable(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DerivedTable.readOrBuild(
      spark, "baskets", dir, Seq("lineitem"), "v1") {
      Tables(spark, dir).lineitem
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("s"))
    }

  private[graft] def copurchasePairsBuild(spark: SparkSession, dir: String): DataFrame =
    basketsTable(spark, dir)
      .select(explode(expr(
        """flatten(transform(s, (x, i) ->
          |  transform(slice(s, i + 2, size(s)), y -> struct(x AS p1, y AS p2))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(count(lit(1)).as("support"))

  /** The pair-count table LANDED once per corpus (the DerivedTable
    * lineage-sharing seam, same as the dup-cluster map and the CDC
    * line drop): a basket-mining pipeline derives rules, similarity,
    * and graph reports from ONE persisted co-purchase table — the
    * E9 builder (q_copurchase) pays the derivation; E12/E13/E14/E11
    * read the landed parquet and filter their own support threshold.
    */
  private[graft] def copurchasePairs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DerivedTable.readOrBuild(
      spark, "copurchase", dir, Seq("lineitem"), "v1") {
      copurchasePairsBuild(spark, dir)
    }

  // the BUILDER query always re-derives (its bench row bills the real
  // pair-mining cost); the landed table is what downstream consumers read
  def qCopurchase(spark: SparkSession, dir: String): DataFrame =
    copurchasePairsBuild(spark, dir)
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(20)

  /** E12: item-item collaborative-filtering similarity — the
    * "customers who bought X also bought Y" kernel: cosine between
    * items' order-membership vectors. For binary vectors cosine² =
    * n_both² / (n_a·n_b), which is exact integer arithmetic at ppm
    * scale — no sqrt, no float drift, same monotone ranking as
    * cosine (the C43 log-free PMI trick). Reuses the E9 per-order
    * pair explosion (2 linear shuffles), joins the two per-item
    * degree frames broadcast, reports the top-20 pairs at support >=
    * 2. At 100 TB: pair mass is basket-bounded (baskets are small),
    * degrees are one fact-sized aggregate.
    */
  def qItemSim(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairs(spark, dir).filter(col("support") >= 2)
    // item degree from the LANDED basket table (already (order, part)
    // distinct — no fact scan, no distinct shuffle), and cached: the
    // two broadcast builds below would otherwise each re-run the
    // aggregate (the frame is part-count-sized; same session-lifetime
    // cache contract as q_triangles' edge frames)
    val ordersPerItem = basketsTable(spark, dir)
      .select(explode(col("s")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .cache()
    pairs
      .join(broadcast(ordersPerItem.select(col("l_partkey").as("p1"), col("n").as("n_p1"))), "p1")
      .join(broadcast(ordersPerItem.select(col("l_partkey").as("p2"), col("n").as("n_p2"))), "p2")
      .select(col("p1"), col("p2"), col("support"), col("n_p1"), col("n_p2"),
        expr("support * support * 1000000 div (n_p1 * n_p2)").as("cos2_ppm"))
      .orderBy(col("cos2_ppm").desc, col("p1"), col("p2"))
      .limit(20)
  }

  /** E10: audience-overlap matrix — pairwise Jaccard between the
    * engaged audiences of each event type ("engaged" = >= 15 events
    * of that type, so the sets differ; with no threshold every user
    * hits every type and the matrix is degenerate). Shape: one
    * fact-sized (user, type) aggregate, then the pair join runs on
    * the AUDIENCE frame (users x 5 types at most), never the fact
    * table — per-user type lists are tiny, so the within-user pair
    * explosion is bounded by |types|² per user. Jaccard reported in
    * exact integer ppm (inter, union counts carried alongside).
    */
  def qUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables(spark, dir).events
      .groupBy(col("user_id"), col("event_type").as("et"))
      .agg(count(lit(1)).as("n_ev"))
      .filter(col("n_ev") >= 15)
      .select(col("user_id"), col("et"))
    val tot = ut.groupBy(col("et")).agg(count(lit(1)).as("n"))
    val a = ut.select(col("user_id"), col("et").as("t1"))
    val b = ut.select(col("user_id"), col("et").as("t2"))
    val pairs = a.join(b, "user_id")
      .filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(tot.select(col("et").as("t1"), col("n").as("n_t1"))), "t1")
      .join(broadcast(tot.select(col("et").as("t2"), col("n").as("n_t2"))), "t2")
      .select(col("t1"), col("t2"), col("n_both"), col("n_t1"), col("n_t2"),
        expr("n_both * 1000000 div (n_t1 + n_t2 - n_both)").as("jaccard_ppm"))
      .orderBy(col("t1"), col("t2"))
  }

  /** E11: k-core decomposition (4 peel rounds, k=3) of the
    * co-purchase graph — the "dense cohesive subgraph" report
    * (community cores, fraud rings, bot clusters). The graph is the
    * E9 co-purchase pair set thresholded at support >= 2 (the
    * unthresholded graph is near-complete and peeling is trivial).
    * Each round is one degree aggregate (explode both endpoints, a
    * single groupBy) plus two semi-joins restricting edges to
    * surviving nodes — O(rounds) linear shuffles, no all-pairs work,
    * the same fixed-iteration discipline as TextRank (C44): a bounded
    * round count keeps the oracle expressible as unrolled SQL, and
    * each round's edge frame is cached so round r+1 reads a
    * materialized frame instead of re-deriving the whole peel chain
    * (the q_triangles lesson; frames are edge-sized and
    * support-pruned, reclaim via clearCache()). Reported per round:
    * surviving node and edge counts — the convergence profile IS the
    * analytics output.
    */
  def qKcore(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    import spark.implicits._
    var e = copurchasePairs(spark, dir)
      .filter(col("support") >= 2)
      .select(col("p1").as("u"), col("p2").as("v")).cache()
    // per-round stats come back as TWO driver longs (the BPE/CC
    // convergence discipline), so each round's plan reads only the
    // previous round's materialized cache — no 4-round union lineage
    // — and retired generations unpersist immediately
    val stats = (1 to 4).map { r =>
      val deg = e.select(explode(array(col("u"), col("v"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("d"))
      // LAZY localCheckpoints fused with the round's counts (r17,
      // verdict item 5): each count is the first action over its
      // frame, so one job computes + persists the blocks AND returns
      // the stat — the eager form ran materialize-then-count twice
      // (4 jobs/round instead of 2). nodes is counted BEFORE pruned
      // so its blocks are materialized once before pruned's two
      // semi-join branches read them. Still checkpoints, never
      // cache/count/unpersist chains: dropping round r-1's cache
      // invalidates round r's entry (the CC lesson — dependents
      // recompute their full lineage)
      val nodes = deg.filter(col("d") >= k).select(col("w")).localCheckpoint(false)
      val nNodes = nodes.count()
      val pruned = e
        .join(nodes.withColumnRenamed("w", "u"), Seq("u"), "left_semi")
        .join(nodes.withColumnRenamed("w", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v")).localCheckpoint(false)
      val nEdges = pruned.count()
      e = pruned
      (r.toLong, nNodes, nEdges)
    }
    stats.toDF("round", "n_nodes", "n_edges").orderBy(col("round"))
  }

  /** E13: association rules — the directional market-basket step on
    * top of E9/E12: for each co-purchase pair at support >= 3, both
    * rule directions a=>b with confidence = sup(ab)·10⁶ div sup(a)
    * and lift = N·sup(ab)·10⁶ div (sup(a)·sup(b)) — all exact
    * integer ppm (the C43 discipline; lift > 10⁶ means positively
    * associated). Pair mass is basket-bounded; the per-item support
    * and basket-count frames are aggregate-sized broadcasts. Top-20
    * rules by confidence, total tiebreak.
    */
  def qBasketRules(spark: SparkSession, dir: String): DataFrame = {
    // all three inputs come off the LANDED basket/pair artifacts:
    // basket count = one row count, item support = one explode over
    // the per-order distinct sets (set membership already dedupes
    // (order, part)), rules = the persisted pair table — the rule
    // report never rescans or re-distincts the fact table (the
    // former inline shape paid a one-split lineitem scan + two
    // distinct shuffles before rule math started)
    val baskets = basketsTable(spark, dir)
    val nBaskets = baskets.agg(count(lit(1)).as("n_baskets"))
    val itemSup = baskets.select(explode(col("s")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("sup"))
    val pairs = copurchasePairs(spark, dir).filter(col("support") >= 3)
    val rules = pairs.select(col("p1").as("a"), col("p2").as("b"), col("support"))
      .unionAll(pairs.select(col("p2").as("a"), col("p1").as("b"), col("support")))
    rules
      .join(broadcast(itemSup.select(col("l_partkey").as("a"), col("sup").as("sup_a"))), "a")
      .join(broadcast(itemSup.select(col("l_partkey").as("b"), col("sup").as("sup_b"))), "b")
      .crossJoin(broadcast(nBaskets))
      .select(col("a"), col("b"), col("support"), col("sup_a"), col("sup_b"),
        expr("support * 1000000 div sup_a").as("confidence_ppm"),
        expr("n_baskets * support * 1000000 div (sup_a * sup_b)").as("lift_ppm"))
      .orderBy(col("confidence_ppm").desc, col("a"), col("b"))
      .limit(20)
  }

  /** E16: frequent 3-itemsets — the next lattice level above the E9
    * pair counts: per-order sorted distinct part sets generate all
    * ordered triples map-side (the same bounded basket fan-out
    * argument — |basket| choose 3 stays small when baskets are
    * small), then one count shuffle, support >= 2, top-20 by
    * (support desc, triple). The explosion nests the E9 slice
    * pattern one level deeper; no self-join ever touches the fact
    * table, so candidate mass is basket-bounded, not df²-bounded.
    */
  def qItemsets3(spark: SparkSession, dir: String): DataFrame = {
    basketsTable(spark, dir)
      .filter(size(col("s")) >= 3)
      .select(explode(expr(
        """flatten(flatten(transform(s, (x, i) ->
          |  transform(slice(s, i + 2, size(s)), (y, j) ->
          |    transform(slice(s, i + j + 3, size(s)), z ->
          |      struct(x AS p1, y AS p2, z AS p3))))))""".stripMargin)).as("t"))
      .groupBy(col("t.p1").as("p1"), col("t.p2").as("p2"), col("t.p3").as("p3"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy(col("support").desc, col("p1"), col("p2"), col("p3"))
      .limit(20)
  }

  /** E14: PageRank (3 synchronous rounds, damping 0.85) on the
    * co-purchase graph at support >= 2 — the "centrality" report of
    * the E-block graph family. All arithmetic is exact integer at
    * scale 10¹²: r₀ = S div N; each round r' = (15·(S div N)) div
    * 100 + Σ_in (85·(r div deg)) div 100. Floor division at every
    * step makes the fixpoint engine-independent (the C43/E11 integer
    * discipline), and the bounded round count keeps the oracle an
    * unrolled-CTE replay (the E11 lesson). Shape per round: one join
    * of the edge frame against the rank frame (both shuffle on the
    * node key — AQE reuses the exchange), one aggregate; the rank
    * frame is node-sized and cached per generation, retired frames
    * unpersist immediately (the E11 cache contract). The undirected
    * graph has no dangling nodes (every node carries an edge both
    * ways), so no global dangling-mass term is needed. Top-20 by
    * (pr desc, node).
    *
    * EAGER-EXECUTION CONTRACT (the qKcore precedent): an iterative
    * fixpoint cannot be a single lazy plan — each round must
    * materialize before the next builds on it, and the generation
    * caches must be released when the answer (a 20-row snapshot) is
    * out. This builder therefore RUNS the jobs at call time and
    * returns a local-relation result; callers timing construction vs
    * action see the cost at construction. All caches release in a
    * finally, so a failed round cannot leak cached generations.
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val S = 1000000000000L
    // ONE scan of the landed pair table emits both edge directions
    // (explode, not unionAll — the union form planned TWO full scans
    // of the ~6M-row unfiltered pair parquet to produce a ~36k-edge
    // graph, the dominant cost of the whole query at sf0.1), cached
    // small. Its count then sizes the loop: parallelism follows the
    // GRAPH's size, not the session's shuffle width (the textrank/CC
    // pattern) — running a 36k-edge round's join+agg at 32-way width
    // bills fixed task overhead ~32x per stage, three rounds over.
    val both0 = copurchasePairs(spark, dir).filter(col("support") >= 2)
      .select(explode(array(
        struct(col("p1").as("u"), col("p2").as("v")),
        struct(col("p2").as("u"), col("p1").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).cache()
    val nEdges = both0.count()
    val loopParts = math.max(1, math.min(32, (nEdges / 100000L).toInt + 1))
    // Edge frame hash-partitioned on the join key ONCE and cached: the
    // per-round both-join then reuses the cached layout instead of
    // re-shuffling the edge frame every round; deg derives from the
    // same partitioning (no extra shuffle), and the rank frame
    // CARRIES the degree column so rounds need no separate deg join:
    // each round is one node-frame shuffle (the inflow groupBy) plus
    // one co-partitioned join.
    val both = both0.repartition(loopParts, col("u")).cache()
    val deg = both.groupBy(col("u")).agg(count(lit(1)).as("d")).cache()
    val nF = broadcast(deg.agg(count(lit(1)).as("n")))
    // Per-round eager localCheckpoint, not one lazy 3-round plan:
    // the lazy form was MEASURED SLOWER (2.25-2.4s vs 2.0s eager at
    // sf0.1) — the deep DAG pays optimizer + AQE replanning on the
    // whole unrolled lineage, which exceeds the 4 job launches it
    // saves. (Not a lineage-safety issue: with a fixed round count
    // each generation is consumed once; CC/k-core checkpoint for the
    // consumed-twice hazard.)
    // r0 stays lazy: it is one projection over the CACHED deg frame,
    // so the first round recomputes nothing — checkpointing it only
    // added a job launch
    var r = deg.crossJoin(nF)
      .select(col("u"), col("d"), expr(s"${S}L div n").as("pr"))
    try {
      for (_ <- 1 to 3) {
        val inflow = both
          .join(r.select(col("u"), col("d"), col("pr")), "u")
          .select(col("v"), expr("(85 * (pr div d)) div 100").as("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("inflow"))
        val next = deg
          .join(inflow.withColumnRenamed("v", "u"), Seq("u"), "left")
          .crossJoin(nF)
          .select(col("u"), col("d"),
            expr(s"(15 * (${S}L div n)) div 100 + coalesce(inflow, 0L)").as("pr"))
          .localCheckpoint(true)
        r = next
      }
      val out = r.orderBy(col("pr").desc, col("u")).limit(20)
      val rows = out.collect() // tiny: top-20 snapshot, then release caches
      import spark.implicits._
      rows.map(x => (x.getLong(0), x.getLong(2))).toSeq.toDF("node", "pr")
    } finally {
      both0.unpersist(); both.unpersist(); deg.unpersist()
    }
  }

  /** E15: decile lift chart — the campaign-targeting report: score
    * customers by total spend, cut into spend deciles by distributed
    * rank (the E6 `row_position()` total sort — no single-partition
    * window at any scale), and compare each decile's conversion rate
    * (>= 1 urgent-priority order) against the base rate. Lift is
    * computed ppm-over-ppm — conv_ppm·10⁶ div base_ppm — so every
    * intermediate stays <= 10¹² regardless of corpus size (the raw
    * cross-product form n_conv·n_c·10⁶ would overflow at billions of
    * customers). Ten-row output; one fact-sized aggregate (its
    * exchange serves both the rank and the base-rate scalar) + one
    * customer-frame sort. A degenerate corpus with zero conversions
    * yields null lift (nullif guard on the base rate, identical in
    * the oracle) rather than an engine-divergent div-by-zero.
    */
  def qDecileLift(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables(spark, dir).orders
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("spend_cents"),
        max(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("converted"))
    val nF = broadcast(per.agg(count(lit(1)).as("n_c"),
      sum(col("converted")).as("tot_conv")))
    per.orderBy(col("spend_cents").desc, col("o_custkey"))
      .select(col("converted"), row_position().as("pos"))
      .crossJoin(nF)
      .select(expr("1 + (10 * pos) div n_c").as("decile"),
        col("converted"), col("n_c"), col("tot_conv"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("converted")).as("n_converted"),
        max(col("n_c")).as("n_c"), max(col("tot_conv")).as("tot_conv"))
      .select(col("decile"), col("n_customers"), col("n_converted"),
        expr("n_converted * 1000000 div n_customers").as("conv_ppm"),
        expr("(n_converted * 1000000 div n_customers) * 1000000 div " +
          "nullif(tot_conv * 1000000 div n_c, 0)").as("lift_ppm"))
      .orderBy(col("decile"))
  }

  /** E17: per-user session features — the behavioral feature block a
    * churn/propensity model consumes, built on the B13 gap
    * sessionization (1h gap, lag/cumsum form): session count, event
    * totals, the longest session in events and in wall µs, total
    * engaged µs, and exact-ppm events-per-session. Both aggregations
    * are keyed on user_id, the same key the session window already
    * shuffled on — the whole query is one exchange end-to-end. All
    * outputs integer (µs / counts / ppm), so the oracle replay is
    * exact.
    */
  def qSessionFeatures(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 3600L * 1000000L
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = Tables(spark, dir).events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(ord).isNull ||
             col("us") - lag(col("us"), 1).over(ord) > gapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_ev"), min(col("us")).as("s0"), max(col("us")).as("s1"))
    sess.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n_ev")).as("n_events"),
        max(col("n_ev")).as("max_session_events"),
        sum(col("s1") - col("s0")).as("total_session_us"),
        max(col("s1") - col("s0")).as("max_session_us"))
      .withColumn("events_per_session_ppm",
        expr("n_events * 1000000 div n_sessions"))
      .orderBy(col("user_id"))
  }

  /** E18: community detection by weighted label propagation (2
    * synchronous rounds) on the co-purchase graph at support >= 2 —
    * the "which products cluster together" report next to E11's
    * k-core and E14's PageRank. Each round every node adopts the
    * label with the largest incident support sum, ties to the
    * smallest label; the argmax is ONE aggregate via max(struct(s,
    * -label)) — no per-node window. Bounded rounds keep the whole
    * query a single lazy plan (2 rounds = 2 join+agg layers; no
    * iterative caching needed, unlike the fixpoint kernels) and the
    * oracle an unrolled-CTE replay. Per round: one edge-vs-label
    * join shuffling on the node key + two aggregates. Output: top-20
    * communities by size.
    */
  def qCommunities(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchasePairs(spark, dir).filter(col("support") >= 2)
      .select(col("p1").as("u"), col("p2").as("v"), col("support").as("w"))
    // hash-partitioned on the join key ONCE and cached (the E14
    // PageRank discipline): the doubled edge frame is consumed by
    // both rounds' joins and the node-universe distinct — five
    // re-derivations in one lazy plan otherwise (same session-
    // lifetime cache contract as q_triangles' edge frames)
    val both = edges.unionAll(
      edges.select(col("v").as("u"), col("u").as("v"), col("w")))
      .repartition(col("v")).cache()
    def step(lab: DataFrame): DataFrame =
      both.join(lab.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u"), col("label"))
        .agg(sum(col("w")).as("s"))
        .groupBy(col("u"))
        .agg(max(struct(col("s"), (-col("label")).as("nl"))).as("m"))
        .select(col("u").as("node"), (-col("m.nl")).as("label"))
    val l0 = both.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    step(step(l0))
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("label"))
      .limit(20)
  }

  /** E19: Poisson-bootstrap resampling — THE cluster bootstrap (each
    * row's replicate weight is drawn independently, so no global
    * resample-with-replacement pass is ever needed): 16 replicate
    * estimates of total order revenue, each row carrying a
    * deterministic hash-derived weight in {0,1,2} with mean 1 (the
    * md5-slot construction from C61, so any engine reproduces the
    * "randomness" bit-for-bit and re-materialization keeps the same
    * CI). Shape: one fact pass with a x16 map-side explode into a
    * 16-group aggregate — partial sums combine map-side, nothing but
    * the 16-row frame ever shuffles; at 100 TB this is the only
    * defensible way to put error bars on a corpus-sized estimate.
    * Output stays pure integers (per-replicate sums + the true sum).
    */
  def qBootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val R = 16
    // spread a one-split scan BEFORE the x16 explode: the replicate
    // explode + per-row md5 is this query's entire compute, and a
    // single-row-group orders file would serialize all of it onto
    // one core (measured 1.75s with 6 total tasks; the 2.4 MB
    // round-robin exchange that buys 32-way hashing is noise)
    val cents = Tables.spreadIfOneSplit(Tables(spark, dir).orders
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents")))
    val tot = broadcast(cents.agg(sum(col("cents")).as("true_sum")))
    cents.select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(R - 1))).as("replicate"))
      .withColumn("v",
        conv(substring(md5(concat(lit("graft-boot:"),
          col("replicate").cast("string"), lit(":"),
          col("o_orderkey").cast("string"))), 1, 2), 16, 10).cast("long"))
      .withColumn("w",
        when(col("v") < 64, 0L).when(col("v") < 192, 1L).otherwise(2L))
      .groupBy(col("replicate"))
      .agg(sum(col("w") * col("cents")).as("boot_sum_cents"))
      .crossJoin(tot)
      .select(col("replicate").cast("long").as("replicate"),
        col("boot_sum_cents"), col("true_sum"))
      .orderBy(col("replicate"))
  }

  /** E22: distributed BFS levels over the part–supplier bipartite
    * graph (nodes encoded in one long key space: part → 2·partkey,
    * supplier → 2·suppkey+1), from the smallest part node. Each
    * round is ONE key-equi join of the frontier into the edge table
    * + an anti-join against the visited set — the textbook
    * distributed-BFS shape (no per-node driver loops; at 100 TB the
    * frontier and edge frames shuffle on the 8-byte node key and the
    * round count is the graph DIAMETER, which for a dense bipartite
    * graph is ~4, not data-sized). Per-round frames are eagerly
    * localCheckpointed (the E11/CC discipline: each round's plan
    * reads the previous round's materialization, never a growing
    * union lineage). Output: per-level part/supplier counts; the
    * oracle replays the exact search as a recursive CTE with
    * min-level dedup. Capped at 8 rounds (spec'd: the cap is never
    * the binding constraint on this graph — the frontier empties
    * first).
    */
  def qBfsLevels(spark: SparkSession, dir: String): DataFrame =
    bfsLevels(spark, dir, joinFormAt = 1 << 16)

  /** E22b: the SAME search with the join-form fallback FORCED from
    * round 1 — the 100 TB shape (distributed frontier/visited frames,
    * one aggregate row per round to the driver) held to the identical
    * oracle as the driver-form twin. Driver-gating both forms keeps
    * the fallback from bit-rotting into prose.
    */
  def qBfsLevelsJoin(spark: SparkSession, dir: String): DataFrame =
    bfsLevels(spark, dir, joinFormAt = 0)

  /** The BFS search with an explicit driver→join-form switch bound.
    * The frontier/visited sets on THIS graph are NODE-bounded
    * (parts + suppliers — dimension-sized, never fact rows), so they
    * ride the driver as the per-round summary (the SnapshotStore
    * hitSegments discipline: distributed pass, bounded collect) and
    * probe the distributed edge table through codegen'd InSet
    * filters — ONE scheduled job per round, vs ~5 (two broadcast
    * builds + a materialization + an emptiness test) for the
    * equivalent broadcast-join round, which at local[32]'s per-job
    * floor was measured 2.3s vs 0.9s for the same search.
    *
    * The moment a round's frontier exceeds `joinFormAt`, the loop
    * PERMANENTLY switches to the join form: frontier and visited
    * become distributed frames, each round is edges ⋈ frontier →
    * distinct → anti-join visited, and only the two per-level counts
    * (one aggregate row) ever reach the driver — the shape that
    * holds when the node universe is itself fact-sized (a 100 TB
    * graph with a fact-sized frontier would OOM the driver under
    * InSet probing). BfsLevelsSpec pins both paths to identical
    * levels by forcing `joinFormAt = 0`.
    */
  private[graft] def bfsLevels(spark: SparkSession, dir: String,
                               joinFormAt: Int): DataFrame = {
    import spark.implicits._
    val e = Tables(spark, dir).lineitem
      .select((col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    // LAZY checkpoint (r17, verdict item 5): the seed aggregate just
    // below is the first action over this frame, so one job both
    // computes/persists the edge blocks and returns the seed — the
    // eager form paid a materialization job plus a block-reading agg
    val edges = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(false)
    // seed = the smallest PART node — part nodes are the EVEN ids
    // (2·partkey), so min over the checkpointed edge frame's even
    // sources equals min over the un-reversed part column (every part
    // with an edge appears as a source in both orientations). Reading
    // the CHECKPOINTED frame (r16) instead of `e` saves a second full
    // lineitem-distinct pass: `e` was not checkpointed, so the old
    // seed agg re-ran the whole scan+distinct lineage. (min over both
    // orientations unfiltered would pick a supplier node whenever
    // min(l_suppkey)*2+1 < min(l_partkey)*2 — the parity filter keeps
    // the oracle's `seed` CTE semantics exactly.)
    val seed = edges.filter(col("a") % 2 === 0)
      .agg(min(col("a"))).first().getLong(0)
    var levels = List((0L, 1L - seed % 2, seed % 2)) // (lvl, parts, supps)
    var lvl = 0L
    // driver-form state (active while the frontier stays small)
    var visited = scala.collection.mutable.HashSet(seed)
    var frontier = Array(seed)
    // join-form state (null until the switch fires)
    var frontierDf: DataFrame = null
    var visitedDf: DataFrame = null
    var exhausted = false
    while (lvl < 8 && !exhausted) {
      lvl += 1
      if (frontierDf == null && frontier.length > joinFormAt) {
        frontierDf = frontier.toSeq.toDF("node").repartition(4)
          .localCheckpoint(true)
        visitedDf = visited.toSeq.toDF("node").repartition(4)
          .localCheckpoint(true)
        visited = null; frontier = null
      }
      if (frontierDf == null) {
        val cand = edges
          .filter(col("a").isInCollection(scala.collection.immutable.ArraySeq
            .unsafeWrapArray(frontier)))
          .select(col("b")).distinct().as[Long].collect()
        val next = cand.filterNot(visited)
        if (next.nonEmpty) {
          visited ++= next
          levels ::= ((lvl, next.count(_ % 2 == 0).toLong,
            next.count(_ % 2 == 1).toLong))
        }
        frontier = next
        exhausted = next.isEmpty
      } else {
        // frontier-sized build side: broadcast while it fits, let
        // AQE fall back to a shuffled hash join when it doesn't —
        // on a real cluster the hint is advisory, not an OOM
        // LAZY checkpoint (r17, verdict item 5): the per-level count
        // aggregate is the round's first action — one job computes
        // the frontier, persists its blocks and returns the counts,
        // where the eager form ran materialize-then-count
        val next = edges.join(broadcast(frontierDf.select(col("node").as("a"))),
            Seq("a"))
          .select(col("b").as("node")).distinct()
          .join(visitedDf, Seq("node"), "left_anti")
          .localCheckpoint(false)
        val cnt = next.agg(
          sum(when(col("node") % 2 === 0, 1L).otherwise(0L)).as("p"),
          sum(when(col("node") % 2 === 1, 1L).otherwise(0L)).as("s")).first()
        val (p, s) =
          if (cnt.isNullAt(0)) (0L, 0L) else (cnt.getLong(0), cnt.getLong(1))
        if (p + s > 0) {
          levels ::= ((lvl, p, s))
          // LAZY union (r16): both inputs are already-materialized
          // localCheckpoints, so the union's lineage is bounded by
          // the round count (≤ 8) — re-checkpointing here paid a
          // full rewrite of the GROWING visited set every round,
          // O(V · rounds) total, purely to truncate a lineage that
          // was never growing per-node work in the first place.
          visitedDf = visitedDf.unionAll(next)
        }
        frontierDf = next
        exhausted = p + s == 0
      }
    }
    levels.reverse.toDF("lvl", "n_parts", "n_supps")
  }

  /** E23: degree assortativity of the co-purchase graph — do hub
    * products co-occur with other hubs (assortative, num > 0) or
    * with the long tail (disassortative, num < 0)? The Pearson
    * moments of (deg(u), deg(v)) over both edge orientations,
    * computed in EXACT integer math (decimal(38,0)/HUGEINT — a float
    * corr would hash-drift), gated as BIGINT (see the cast note at
    * the emit site), plus the signed squared correlation in
    * ppm: sign(num)·num²·10⁶ div (den_x·den_y), which carries the
    * correlation's full information without an irrational sqrt.
    * Shape: one degree aggregate over the landed pair table + two
    * broadcast degree joins + a single one-row moment aggregate —
    * pair-table-sized, map-side combined.
    *
    * The final ratio is computed in UNBOUNDED BigInteger arithmetic
    * on the driver (the moments frame is exactly one row): num²·10⁶
    * exhausts decimal(38,0) headroom superlinearly with graph size
    * (num ~ m·E[d²] grows as pairs·deg²), and Spark's non-ANSI
    * decimal multiply would silently null/wrap long before the
    * inputs themselves overflow — the r12 verdict's latent-defect
    * finding. The distributed part of the query (everything up to
    * the four moments) stays decimal(38,0), which holds to ~1e38 —
    * beyond any physical corpus.
    */
  private[graft] def corr2Ppm(num: java.math.BigDecimal,
                              denX: java.math.BigDecimal,
                              denY: java.math.BigDecimal): java.lang.Long = {
    val n = num.toBigIntegerExact
    val den = denX.toBigIntegerExact.multiply(denY.toBigIntegerExact)
    if (den.signum == 0) null
    else {
      // |num| <= sqrt(den_x*den_y) (Cauchy-Schwarz) so the quotient
      // is <= 1e6 and always fits a Long; both operands nonnegative,
      // so BigInteger truncation == the SQL div/`//` floor.
      val q = n.multiply(n)
        .multiply(java.math.BigInteger.valueOf(1000000L)).divide(den)
      java.lang.Long.valueOf(n.signum.toLong * q.longValueExact())
    }
  }

  def qAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchasePairs(spark, dir).filter(col("support") >= 2)
      .select(col("p1").as("u"), col("p2").as("v"))
    val deg = pairs.select(explode(array(col("u"), col("v"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("deg"))
    val both = pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val moments = both
      .join(broadcast(deg.select(col("w").as("u"), col("deg").as("dx"))), Seq("u"))
      .join(broadcast(deg.select(col("w").as("v"), col("deg").as("dy"))), Seq("v"))
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(dec(col("dx")) * dec(col("dy"))).as("sxy"),
        sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
        sum(dec(col("dy")) * dec(col("dy"))).as("syy"))
      .select(col("m"),
        (dec(col("m")) * col("sxy") - dec(col("sx")) * dec(col("sy"))).as("num"),
        (dec(col("m")) * col("sxx") - dec(col("sx")) * dec(col("sx"))).as("den_x"),
        (dec(col("m")) * col("syy") - dec(col("sy")) * dec(col("sy"))).as("den_y"))
    val r = moments.first()
    val ppm = corr2Ppm(r.getDecimal(1), r.getDecimal(2), r.getDecimal(3))
    // Gated output emits the moments as BIGINT, not raw decimal(38,0):
    // two rounds of driver-hash flags showed decimal128 columns hash
    // differently across engines even when byte-identical in Arrow. The
    // centred moments num/den_x/den_y are bounded by m·max(deg)² ≲ 1e18
    // for any corpus whose pair table fits a cluster (m ≤ 1e12 pairs,
    // deg ≤ 1e3 hubs ⇒ ≤ 1e18); longValueExact throws loudly rather
    // than wrapping if that bound is ever exceeded. The distributed
    // math above and corr2Ppm stay exact decimal/BigInteger.
    val out = org.apache.spark.sql.Row(
      r.getLong(0),
      java.lang.Long.valueOf(r.getDecimal(1).toBigIntegerExact.longValueExact()),
      java.lang.Long.valueOf(r.getDecimal(2).toBigIntegerExact.longValueExact()),
      java.lang.Long.valueOf(r.getDecimal(3).toBigIntegerExact.longValueExact()),
      ppm)
    val lt = org.apache.spark.sql.types.LongType
    spark.createDataFrame(
      java.util.Collections.singletonList(out),
      org.apache.spark.sql.types.StructType(
        Seq("m", "num", "den_x", "den_y", "corr2_ppm")
          .map(org.apache.spark.sql.types.StructField(_, lt))))
  }

  /** E24: local clustering coefficient on the co-purchase graph —
    * per-node "are my neighbours each other's neighbours",
    * cc_ppm = 2·tri(v)·10⁶ div (deg(v)·(deg(v)−1)): the community-
    * cohesion score next to E4's global triangle count and E18's
    * label propagation. Triangles enumerate once through the ordered
    * (a<b<c) two-join wedge close over the landed pair table (each
    * triangle found exactly once, then credited to all three
    * corners) — the join keys are node ids, the wedge mass is
    * degree-bounded, nothing is corpus-sized. Reported for nodes
    * with deg ≥ 3 (non-trivial at every test SF — the support≥2
    * graph gets relatively sparser as the corpus grows), top-30 by
    * (deg, node) — a bounded, fully deterministic report.
    */
  def qClusteringCoef(spark: SparkSession, dir: String): DataFrame = {
    val e = copurchasePairs(spark, dir).filter(col("support") >= 2)
      .select(col("p1").as("u"), col("p2").as("v"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // ordered triangle enumeration: edges already satisfy u < v, so
    // (a,b) ⋈ (b,c) ⋈ (a,c) finds each triangle once with a < b < c
    val e1 = e.select(col("u").as("a"), col("v").as("b"))
    val e2 = e.select(col("u").as("b"), col("v").as("c"))
    val e3 = e.select(col("u").as("a"), col("v").as("c"))
    val tris = e1.join(e2, Seq("b")).join(e3, Seq("a", "c"))
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"))
      .filter(col("deg") >= 3)
      .withColumn("cc_ppm", expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
      .orderBy(col("deg").desc, col("node"))
      .limit(30)
  }

  /** E25: degree-distribution octave histogram of the supplier→part
    * bipartite graph — the first thing to read before ANY graph
    * algorithm runs at 100 TB (a heavy right tail says "salt the
    * hubs or the triangle/BFS join skews"; the octave form is the
    * standard power-law summary). Degree = distinct parts per
    * supplier; octave = floor(log2 deg) via length(bin(deg))-1 — the
    * C75 bit-arithmetic discipline, no float log. One distinct +
    * two bounded aggregates; the histogram frame is ≤64 rows at any
    * scale.
    */
  def qDegreeHist(spark: SparkSession, dir: String): DataFrame = {
    val deg = supplierPartEdges(spark, dir)
      .select(col("s").as("l_suppkey"))
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("deg"))
    val byOct = deg
      .withColumn("octave", (length(expr("bin(deg)")) - 1).cast("long"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_suppliers"), sum(col("deg")).as("edge_mass"))
    val tot = byOct.agg(sum(col("edge_mass")).as("total_mass"))
    byOct.crossJoin(broadcast(tot))
      .select(col("octave"),
        expr("shiftleft(1L, CAST(octave AS INT))").as("lo_deg"),
        col("n_suppliers"), col("edge_mass"),
        expr("edge_mass * 1000000 div total_mass").as("mass_ppm"))
      .orderBy(col("octave"))
  }

  /** E26: connected components of the co-purchase graph (support ≥ 2)
    * — THE graph-clustering primitive under dedup-cluster maps,
    * entity resolution, and community seeds (E18's label propagation
    * finds dense neighborhoods; this finds exact reachability
    * classes). Computed by the shared large-star/small-star kernel
    * ([[graft.dedup.Dedup.connectedComponents]], r15 verdict task 5):
    * O(log n) rounds instead of O(diameter), each round two
    * key-grouped shuffles, convergence by the exact edge-set
    * (count, decimal-sum) invariant — the 100 TB shape (nothing
    * node-sized ever reaches the driver, and a chain-shaped
    * component no longer pays one full-graph shuffle per hop).
    * Oracle replays it as a recursive reachability closure.
    */
  def qConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val e0 = copurchasePairs(spark, dir).filter(col("support") >= 2)
      .select(col("p1").as("id_a"), col("p2").as("id_b"))
    val nodes = e0.select(col("id_a").as("id"))
      .unionAll(e0.select(col("id_b").as("id"))).distinct()
    graft.dedup.Dedup.connectedComponents(e0, nodes)
      .groupBy(col("cluster_id").as("comp")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("comp"))
  }

  /** The distinct supplier→part edge frame LANDED once per corpus
    * (the copurchase-table discipline): E25's degree histogram and
    * E27's four HITS joins all read the landed parquet instead of
    * re-scanning and re-distincting the fact table per consumer —
    * at 100 TB that is the difference between one fact pass and six.
    */
  private[graft] def supplierPartEdges(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DerivedTable.readOrBuild(
      spark, "sp_edges", dir, Seq("lineitem"), "v1") {
      Tables(spark, dir).lineitem
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p")).distinct()
    }

  /** E27: HITS hubs-and-authorities on the supplier→part bipartite
    * graph, two UNNORMALIZED iterations — Kleinberg's mutual
    * reinforcement ("good suppliers stock well-sourced parts")
    * beside E14's PageRank. Skipping the per-round sqrt
    * normalization keeps every score an exact INTEGER (matrix
    * powers of a 0/1 matrix) with the identical ranking, so the
    * oracle replays it as plain SQL joins: a1 = deg(p),
    * h1(s) = Σ a1, a2(p) = Σ h1, h2(s) = Σ a2. Sums in
    * decimal(38,0) — h2 grows as deg⁴. One distinct edge frame,
    * four bounded joins/aggregates, top-20 via TakeOrdered.
    */
  def qHitsScores(spark: SparkSession, dir: String): DataFrame = {
    val e = supplierPartEdges(spark, dir)
    // The edge frame is exchanged exactly twice — once keyed by p,
    // once by s — and every layer is arranged so its groupBy key
    // matches its edge side's partitioning: each mutual-reinforcement
    // join attaches the previous (aggregate-sized, degree-bounded)
    // layer as the right side of a LEFT join. Every edge key has a row
    // in the previous layer, so left = inner here, and a left join
    // can only build its right side: no hint is needed, the edge side
    // is never the build side, and the planner (AQE at runtime)
    // broadcasts the layer while it fits and shuffles it when it does
    // not. A broadcast keeps the streamed side's partitioning, so all
    // four aggregates are exchange-free, and ReuseExchange serves the
    // s-keyed repartition to both h-layers. Values are the same joins
    // and the same decimal(38,0) sums.
    val ep = e.repartition(col("p"))
    val es = e.repartition(col("s"))
    val a1 = ep.groupBy(col("p")).agg(count(lit(1)).cast("decimal(38,0)").as("a1"))
    val h1 = es.join(a1, Seq("p"), "left").groupBy(col("s")).agg(sum(col("a1")).as("h1"))
    val a2 = ep.join(h1, Seq("s"), "left").groupBy(col("p")).agg(sum(col("h1")).as("a2"))
    val h2 = es.join(a2, Seq("p"), "left").groupBy(col("s")).agg(sum(col("a2")).as("h2"))
    h1.join(h2, Seq("s"))
      .select(col("s").as("l_suppkey"),
        col("h1").cast("long").as("hub1"), col("h2").cast("long").as("hub2"))
      .orderBy(col("hub2").desc, col("l_suppkey"))
      .limit(20)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hits_scores"          -> (qHitsScores _),
    "q_connected_components" -> (qConnectedComponents _),
    "q_degree_hist"     -> (qDegreeHist _),
    "q_clustering_coef" -> (qClusteringCoef _),
    "q_assortativity"   -> (qAssortativity _),
    "q_bfs_levels"      -> (qBfsLevels _),
    "q_bfs_levels_join" -> (qBfsLevelsJoin _),
    "q_bootstrap_ci"     -> (qBootstrapCi _),
    "q_communities"      -> (qCommunities _),
    "q_session_features" -> (qSessionFeatures _),
    "q_itemsets3"        -> (qItemsets3 _),
    "q_decile_lift"      -> (qDecileLift _),
    "q_pagerank"         -> (qPagerank _),
    "q_basket_rules"     -> (qBasketRules _),
    "q_kcore"            -> (qKcore _),
    "q_item_sim"         -> (qItemSim _),
    "q_user_overlap"     -> (qUserOverlap _),
    "q_copurchase"       -> (qCopurchase _),
    "q_sliding_distinct" -> (qSlidingDistinct _),
    "q_rfm"              -> (qRfm _),
    "q_benford"          -> (qBenford _),
    "q_source_gini"      -> (qSourceGini _),
    "q_cohort_retention" -> (qCohortRetention _),
    "q_record_linkage"   -> (qRecordLinkage _),
    "q_pareto_front"     -> (qParetoFront _),
    "q_triangles"        -> (qTriangles _),
  )

  private def kcoreLayer(r: Int): String =
    s"""d$r AS MATERIALIZED (SELECT w, count(*) AS d FROM
       |  (SELECT u AS w FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1}) GROUP BY w),
       |n$r AS MATERIALIZED (SELECT w FROM d$r WHERE d >= 3),
       |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
       |  WHERE u IN (SELECT w FROM n$r) AND v IN (SELECT w FROM n$r))""".stripMargin

  private def prInflow(rPrev: String): String =
    s"""SELECT e.v AS node, CAST(sum((85 * (r.pr // dg.d)) // 100) AS BIGINT) AS inflow
       |  FROM edges e JOIN $rPrev r ON e.u = r.node JOIN deg dg ON e.u = dg.u
       |  GROUP BY 1""".stripMargin

  private def prRound(inflow: String): String =
    s"""SELECT d.u AS node,
       |    (15 * (1000000000000 // n)) // 100 + coalesce(i.inflow, 0) AS pr
       |  FROM deg d CROSS JOIN nn LEFT JOIN $inflow i ON i.node = d.u""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_hits_scores" ->
      """WITH e AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
        |           FROM lineitem),
        |a1 AS (SELECT p, CAST(count(*) AS HUGEINT) AS a1 FROM e GROUP BY 1),
        |h1 AS (SELECT s, sum(a1) AS h1 FROM e JOIN a1 USING (p) GROUP BY 1),
        |a2 AS (SELECT p, sum(h1) AS a2 FROM e JOIN h1 USING (s) GROUP BY 1),
        |h2 AS (SELECT s, sum(a2) AS h2 FROM e JOIN a2 USING (p) GROUP BY 1)
        |SELECT h1.s AS l_suppkey, CAST(h1.h1 AS BIGINT) AS hub1,
        |  CAST(h2.h2 AS BIGINT) AS hub2
        |FROM h1 JOIN h2 ON h1.s = h2.s
        |ORDER BY hub2 DESC, l_suppkey LIMIT 20""".stripMargin,

    "q_connected_components" ->
      """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey, l_partkey
        |                         FROM lineitem),
        |e0 AS (SELECT a.l_partkey AS u, b.l_partkey AS v
        |       FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |         AND a.l_partkey < b.l_partkey
        |       GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
        |nodes AS (SELECT DISTINCT u AS node FROM e),
        |r AS (SELECT node, node AS lab FROM nodes
        |      UNION
        |      SELECT e.u AS node, r.lab FROM e JOIN r ON r.node = e.v),
        |cc AS (SELECT node, min(lab) AS comp FROM r GROUP BY node)
        |SELECT CAST(comp AS BIGINT) AS comp,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM cc GROUP BY comp ORDER BY comp""".stripMargin,

    "q_degree_hist" ->
      """WITH d AS (SELECT l_suppkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS deg
        |           FROM lineitem GROUP BY 1),
        |byo AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS octave,
        |          CAST(count(*) AS BIGINT) AS n_suppliers,
        |          CAST(sum(deg) AS BIGINT) AS edge_mass
        |        FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(edge_mass) AS BIGINT) AS total_mass FROM byo)
        |SELECT octave, CAST(1::BIGINT << octave AS BIGINT) AS lo_deg,
        |  n_suppliers, edge_mass,
        |  CAST(edge_mass * 1000000 // total_mass AS BIGINT) AS mass_ppm
        |FROM byo, tot ORDER BY octave""".stripMargin,

    "q_clustering_coef" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |      FROM items a JOIN items b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2),
        |e AS (SELECT p1 AS u, p2 AS v FROM p WHERE support >= 2),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
        |        (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |      FROM e e1 JOIN e e2 ON e2.u = e1.v
        |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM
        |       (SELECT a AS node FROM t UNION ALL SELECT b FROM t
        |        UNION ALL SELECT c FROM t) GROUP BY 1)
        |SELECT d.node, d.deg, coalesce(tn.tri, 0) AS tri,
        |  CAST((2 * coalesce(tn.tri, 0) * 1000000)
        |    // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_ppm
        |FROM deg d LEFT JOIN tn USING (node)
        |WHERE d.deg >= 3
        |ORDER BY d.deg DESC, d.node LIMIT 30""".stripMargin,

    "q_assortativity" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS support
        |      FROM items a JOIN items b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2),
        |e AS (SELECT p1 AS u, p2 AS v FROM p WHERE support >= 2),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM
        |        (SELECT u AS w FROM e UNION ALL SELECT v FROM e) GROUP BY w),
        |x AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |j AS (SELECT du.deg AS dx, dv.deg AS dy
        |      FROM x JOIN deg du ON du.w = x.u JOIN deg dv ON dv.w = x.v),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |        CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |        sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy,
        |        sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
        |        sum(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy
        |      FROM j),
        |mo AS (SELECT m,
        |        CAST(m AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS num,
        |        CAST(m AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS den_x,
        |        CAST(m AS HUGEINT) * syy - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS den_y
        |      FROM s)
        |SELECT m, CAST(num AS BIGINT) AS num,
        |  CAST(den_x AS BIGINT) AS den_x, CAST(den_y AS BIGINT) AS den_y,
        |  CAST(sign(num) AS BIGINT)
        |    * CAST((num * num * 1000000) // (den_x * den_y) AS BIGINT) AS corr2_ppm
        |FROM mo""".stripMargin,

    "q_bfs_levels" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem),
        |ed AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |seed AS (SELECT min(a) AS s FROM e),
        |bfs(node, l) AS (
        |  SELECT s, 0 FROM seed
        |  UNION
        |  SELECT ed.b, bfs.l + 1 FROM bfs JOIN ed ON ed.a = bfs.node
        |  WHERE bfs.l < 8),
        |lv AS (SELECT node, min(l) AS l FROM bfs GROUP BY node)
        |SELECT CAST(l AS BIGINT) AS lvl,
        |  CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts,
        |  CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_supps
        |FROM lv GROUP BY l ORDER BY lvl""".stripMargin,

    // the join-form twin replays the SAME recursive search — the
    // execution strategy must be invisible to the result
    "q_bfs_levels_join" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT l_partkey * 2 AS a, l_suppkey * 2 + 1 AS b FROM lineitem),
        |ed AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |seed AS (SELECT min(a) AS s FROM e),
        |bfs(node, l) AS (
        |  SELECT s, 0 FROM seed
        |  UNION
        |  SELECT ed.b, bfs.l + 1 FROM bfs JOIN ed ON ed.a = bfs.node
        |  WHERE bfs.l < 8),
        |lv AS (SELECT node, min(l) AS l FROM bfs GROUP BY node)
        |SELECT CAST(l AS BIGINT) AS lvl,
        |  CAST(sum(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_parts,
        |  CAST(sum(CASE WHEN node % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_supps
        |FROM lv GROUP BY l ORDER BY lvl""".stripMargin,

    // B13's sessionization replay (same lag/cumsum, same gap) with a
    // user-level rollup on top; all-integer so hash-exact
    "q_session_features" ->
      """WITH sess AS (
        | SELECT user_id, session_id, count(*) AS n_ev,
        |   min(us) AS s0, max(us) AS s1
        | FROM (
        |  SELECT user_id, us,
        |   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |   SELECT user_id, event_id, epoch_us(cast(ts as timestamp)) AS us,
        |    CASE WHEN lag(epoch_us(cast(ts as timestamp))) OVER
        |           (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) IS NULL
        |      OR epoch_us(cast(ts as timestamp)) - lag(epoch_us(cast(ts as timestamp))) OVER
        |           (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) > 3600000000
        |    THEN 1 ELSE 0 END AS new_sess
        |   FROM events))
        | GROUP BY user_id, session_id)
        |SELECT user_id,
        | CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(sum(n_ev) AS BIGINT) AS n_events,
        | CAST(max(n_ev) AS BIGINT) AS max_session_events,
        | CAST(sum(s1 - s0) AS BIGINT) AS total_session_us,
        | CAST(max(s1 - s0) AS BIGINT) AS max_session_us,
        | CAST(sum(n_ev) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
        |   AS events_per_session_ppm
        |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_itemsets3" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
        |SELECT a.p AS p1, b.p AS p2, c.p AS p3,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM it a
        | JOIN it b ON a.o = b.o AND a.p < b.p
        | JOIN it c ON a.o = c.o AND b.p < c.p
        |GROUP BY 1, 2, 3
        |HAVING count(*) >= 2
        |ORDER BY support DESC, p1, p2, p3
        |LIMIT 20""".stripMargin,

    "q_decile_lift" ->
      """WITH per AS (SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS spend_cents,
        |  CAST(max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS converted
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT converted,
        |  row_number() OVER (ORDER BY spend_cents DESC, o_custkey) AS rnk FROM per),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_c,
        |  CAST(sum(converted) AS BIGINT) AS tot_conv FROM per),
        |agg AS (SELECT 1 + (10 * (rnk - 1)) // n_c AS decile,
        |    CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(converted) AS BIGINT) AS n_converted
        |  FROM rk CROSS JOIN nn GROUP BY 1)
        |SELECT decile, n_customers, n_converted,
        |  n_converted * 1000000 // n_customers AS conv_ppm,
        |  (n_converted * 1000000 // n_customers) * 1000000 //
        |    nullif(tot_conv * 1000000 // n_c, 0) AS lift_ppm
        |FROM agg CROSS JOIN nn ORDER BY decile""".stripMargin,

    "q_pagerank" ->
      s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |prs AS MATERIALIZED (
         |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |edges AS MATERIALIZED (
         |  SELECT p1 AS u, p2 AS v FROM prs UNION ALL SELECT p2, p1 FROM prs),
         |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d
         |  FROM edges GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
         |r0 AS MATERIALIZED (
         |  SELECT u AS node, 1000000000000 // n AS pr FROM deg CROSS JOIN nn),
         |i1 AS (${prInflow("r0")}),
         |r1 AS MATERIALIZED (${prRound("i1")}),
         |i2 AS (${prInflow("r1")}),
         |r2 AS MATERIALIZED (${prRound("i2")}),
         |i3 AS (${prInflow("r2")}),
         |r3 AS (${prRound("i3")})
         |SELECT node, pr FROM r3 ORDER BY pr DESC, node LIMIT 20""".stripMargin,

    "q_basket_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items),
        |sup AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
        |pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |rules AS (SELECT p1 AS a, p2 AS b, support FROM pairs
        |  UNION ALL SELECT p2, p1, support FROM pairs)
        |SELECT r.a, r.b, r.support, sa.s AS sup_a, sb.s AS sup_b,
        |  r.support * 1000000 // sa.s AS confidence_ppm,
        |  nb.n_baskets * r.support * 1000000 // (sa.s * sb.s) AS lift_ppm
        |FROM rules r JOIN sup sa ON sa.l_partkey = r.a
        |  JOIN sup sb ON sb.l_partkey = r.b CROSS JOIN nb
        |ORDER BY confidence_ppm DESC, r.a, r.b LIMIT 20""".stripMargin,
    "q_bootstrap_ci" ->
      """WITH c AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |r AS (SELECT c.cents, s.replicate,
        |    CAST(('0x' || substr(md5('graft-boot:'
        |      || CAST(s.replicate AS VARCHAR) || ':'
        |      || CAST(c.o_orderkey AS VARCHAR)), 1, 2)) AS BIGINT) AS v
        |  FROM c, (SELECT unnest(range(16)) AS replicate) s),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS true_sum FROM c)
        |SELECT CAST(r.replicate AS BIGINT) AS replicate,
        |  CAST(sum((CASE WHEN v < 64 THEN 0 WHEN v < 192 THEN 1 ELSE 2 END)
        |    * cents) AS BIGINT) AS boot_sum_cents,
        |  t.true_sum
        |FROM r, t GROUP BY r.replicate, t.true_sum
        |ORDER BY replicate""".stripMargin,

    "q_communities" ->
      """WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT u, v, w FROM (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS w
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2) WHERE w >= 2),
        |b AS MATERIALIZED (SELECT u, v, w FROM e UNION ALL SELECT v, u, w FROM e),
        |l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM b),
        |s1 AS (SELECT b.u, l.label, sum(b.w) AS s
        |  FROM b JOIN l0 l ON b.v = l.node GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT u AS node, label FROM (
        |  SELECT u, label, row_number() OVER (PARTITION BY u
        |    ORDER BY s DESC, label ASC) AS rn FROM s1) WHERE rn = 1),
        |s2 AS (SELECT b.u, l.label, sum(b.w) AS s
        |  FROM b JOIN l1 l ON b.v = l.node GROUP BY 1, 2),
        |l2 AS (SELECT u AS node, label FROM (
        |  SELECT u, label, row_number() OVER (PARTITION BY u
        |    ORDER BY s DESC, label ASC) AS rn FROM s2) WHERE rn = 1)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_members FROM l2
        |GROUP BY 1 ORDER BY n_members DESC, label LIMIT 20""".stripMargin,
    "q_kcore" ->
      s"""WITH items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e0 AS MATERIALIZED (SELECT u, v FROM (
         |  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS sup
         |  FROM items a JOIN items b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2) WHERE sup >= 2),
         |${(1 to 4).map(kcoreLayer).mkString(",\n")}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round,
         |    (SELECT CAST(count(*) AS BIGINT) FROM n1) AS n_nodes,
         |    (SELECT CAST(count(*) AS BIGINT) FROM e1) AS n_edges
         |  UNION ALL SELECT 2, (SELECT count(*) FROM n2), (SELECT count(*) FROM e2)
         |  UNION ALL SELECT 3, (SELECT count(*) FROM n3), (SELECT count(*) FROM e3)
         |  UNION ALL SELECT 4, (SELECT count(*) FROM n4), (SELECT count(*) FROM e4))
         |ORDER BY round""".stripMargin,
    "q_item_sim" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
        |  FROM items GROUP BY 1)
        |SELECT p.p1, p.p2, p.support, da.n AS n_p1, db.n AS n_p2,
        |  p.support * p.support * 1000000 // (da.n * db.n) AS cos2_ppm
        |FROM pairs p JOIN deg da ON da.l_partkey = p.p1
        |  JOIN deg db ON db.l_partkey = p.p2
        |ORDER BY cos2_ppm DESC, p.p1, p.p2 LIMIT 20""".stripMargin,
    "q_user_overlap" ->
      """WITH ut AS (SELECT user_id, event_type AS et FROM events
        |  GROUP BY 1, 2 HAVING count(*) >= 15),
        |tot AS (SELECT et, CAST(count(*) AS BIGINT) AS n FROM ut GROUP BY et),
        |pairs AS (SELECT a.et AS t1, b.et AS t2, CAST(count(*) AS BIGINT) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.et < b.et
        |  GROUP BY 1, 2)
        |SELECT p.t1, p.t2, p.n_both, ta.n AS n_t1, tb.n AS n_t2,
        |  p.n_both * 1000000 // (ta.n + tb.n - p.n_both) AS jaccard_ppm
        |FROM pairs p JOIN tot ta ON ta.et = p.t1 JOIN tot tb ON tb.et = p.t2
        |ORDER BY p.t1, p.t2""".stripMargin,
    "q_copurchase" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |  CAST(count(*) AS BIGINT) AS support
        |FROM items a JOIN items b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin,
    "q_sliding_distinct" ->
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |sc AS (SELECT d + CAST(g.k AS INTEGER) AS t, user_id
        |  FROM ev CROSS JOIN generate_series(0, 6) AS g(k)),
        |cnt AS (SELECT t, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
        |  FROM sc GROUP BY t)
        |SELECT dd.d, cnt.n_users_7d
        |FROM (SELECT DISTINCT d FROM ev) dd JOIN cnt ON cnt.t = dd.d
        |ORDER BY dd.d""".stripMargin,
    "q_rfm" ->
      """WITH per AS (SELECT o_custkey,
        |  max(CAST(o_orderdate AS DATE)) AS last_d,
        |  CAST(count(*) AS BIGINT) AS frequency,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS monetary_cents
        |  FROM orders GROUP BY 1),
        |mx AS (SELECT max(last_d) AS mxd FROM per),
        |base AS (SELECT o_custkey,
        |  CAST(datediff('day', last_d, mxd) AS BIGINT) AS recency_days,
        |  frequency, monetary_cents FROM per CROSS JOIN mx),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_c FROM base),
        |rk AS (SELECT *,
        |  CAST(row_number() OVER (ORDER BY recency_days DESC, o_custkey) AS BIGINT) AS r_rank,
        |  CAST(row_number() OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_rank,
        |  CAST(row_number() OVER (ORDER BY monetary_cents, o_custkey) AS BIGINT) AS m_rank
        |  FROM base)
        |SELECT o_custkey, recency_days, frequency, monetary_cents,
        |  1 + (5 * (r_rank - 1)) // n_c AS r_score,
        |  1 + (5 * (f_rank - 1)) // n_c AS f_score,
        |  1 + (5 * (m_rank - 1)) // n_c AS m_score,
        |  (1 + (5 * (r_rank - 1)) // n_c) * 100
        |    + (1 + (5 * (f_rank - 1)) // n_c) * 10
        |    + (1 + (5 * (m_rank - 1)) // n_c) AS rfm_code
        |FROM rk CROSS JOIN n ORDER BY o_custkey""".stripMargin,
    "q_benford" ->
      """WITH d AS (SELECT substr(CAST(CAST(round(o_totalprice*100) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS digit FROM orders),
        |counts AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
        |SELECT digit, n, n * 1000000 // t AS share_ppm
        |FROM counts CROSS JOIN tot ORDER BY digit""".stripMargin,
    "q_source_gini" ->
      """WITH pl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_langs,
        |  (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)
        |    - CAST(sum(c*c) AS BIGINT)) * 1000000
        |    // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS gini_ppm
        |FROM pl GROUP BY source ORDER BY source""".stripMargin,
    "q_cohort_retention" ->
      """WITH ev AS (SELECT user_id,
        |  CAST(datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS BIGINT) AS week
        | FROM events),
        |cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
        |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e JOIN cohort c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_record_linkage" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
        | AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |  AND abs(a.c_acctbal - b.c_acctbal) < 100.0
        |ORDER BY id_a, id_b""".stripMargin,
    "q_pareto_front" ->
      """WITH pp AS (SELECT p_retailprice, min(p_size) AS grp_min
        |  FROM part GROUP BY p_retailprice),
        |pm AS (SELECT p_retailprice, grp_min,
        |  min(grp_min) OVER (ORDER BY p_retailprice
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_min
        |  FROM pp)
        |SELECT p.p_partkey, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
        |FROM part p JOIN pm ON p.p_retailprice = pm.p_retailprice
        |WHERE p.p_size = pm.grp_min
        |  AND (pm.prev_min IS NULL OR p.p_size < pm.prev_min)
        |ORDER BY p.p_partkey""".stripMargin,
    "q_triangles" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents WHERE len(string_split(text,' ')) >= 2),
        |adj AS (SELECT unnest([{'a': w[i], 'b': w[i+1]} for i in generate_series(1, len(w)-1)]) AS p FROM toks),
        |edges AS (SELECT DISTINCT least(p.a, p.b) AS u, greatest(p.a, p.b) AS v
        |          FROM adj WHERE p.a <> p.b),
        |deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d FROM
        |  (SELECT u AS w FROM edges UNION ALL SELECT v FROM edges) GROUP BY w),
        |oriented AS (SELECT
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS lo,
        |  CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS hi
        |  FROM edges e JOIN deg du ON du.w = e.u JOIN deg dv ON dv.w = e.v),
        |tris AS (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
        |  FROM oriented e1 JOIN oriented e2 ON e2.lo = e1.hi
        |  JOIN oriented e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
        |pw AS (SELECT word, CAST(count(*) AS BIGINT) AS n_triangles FROM
        |  (SELECT x AS word FROM tris UNION ALL SELECT y FROM tris UNION ALL SELECT z FROM tris)
        |  GROUP BY word)
        |SELECT word, n_triangles FROM pw
        |ORDER BY n_triangles DESC, word LIMIT 20""".stripMargin,
  )
}
