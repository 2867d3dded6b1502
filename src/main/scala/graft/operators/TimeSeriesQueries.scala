package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.row_position
import graft.sources.Tables

/** F-block: time-series and event-sequence analytics — gap filling,
  * rolling anomaly detection, EWMA smoothing, day-of-week seasonal
  * indexes, Markov transition matrices, path mining, and A/B
  * comparison. The reference's event stream (pub_event routing,
  * ConsumerMain.scala:91-152) feeds exactly this kind of downstream
  * reporting; here each shape is a declarative Spark plan with a
  * DuckDB oracle.
  *
  * House rule (same as the E-block): every score that could drift in
  * IEEE arithmetic is computed in integer fixed-point — cents,
  * parts-per-million, scaled rational weights — so the oracle replays
  * it bit-exactly. Squares that can exceed 2^63 are cast to
  * decimal(38,0) (HUGEINT on the DuckDB side) before multiplying.
  */
object TimeSeriesQueries {

  /** F1: gap fill + forward fill (densify). Each user's last observed
    * event value per day, carried forward over the global observed-day
    * calendar (days before a user's first observation are dropped, not
    * zero-filled). Shape: a per-(user, day) row_number dedup, a
    * users x days cross join against two *aggregate-sized* frames
    * (distinct users, distinct days), then an ffill window partitioned
    * by user — every window partition is one user's series, so the
    * fill parallelizes across users; nothing here is fact-table-wide
    * except the first dedup shuffle. Values carried as cents (exact).
    */
  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("d"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
    // (user_id, ts) is unique in the generator, so ORDER BY ts is total
    val rn = Window.partitionBy(col("user_id"), col("d")).orderBy(col("ts").desc)
    val daily = ev.withColumn("rn", row_number().over(rn))
      .filter(col("rn") === 1).select(col("user_id"), col("d"), col("cents"))
    val users = ev.select(col("user_id")).distinct()
    val days = ev.select(col("d")).distinct()
    val ffill = Window.partitionBy(col("user_id")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    users.crossJoin(broadcast(days))
      .join(daily, Seq("user_id", "d"), "left")
      .withColumn("filled_cents",
        last(col("cents"), ignoreNulls = true).over(ffill))
      .filter(col("filled_cents").isNotNull)
      .select(col("user_id"), col("d"), col("filled_cents"))
      .orderBy(col("user_id"), col("d"))
  }

  /** F2: rolling z-score anomaly flag on daily order revenue. A day is
    * anomalous when its revenue deviates from the trailing-30-day mean
    * by more than 3 sigma, with at least 15 trailing days. The test is
    * the square-compared form — (n*x - S)^2 > 9 * (n*Q - S^2) — which
    * needs no sqrt and no division, so it is exact in decimal(38,0) /
    * HUGEINT. The global-order window runs over the *daily aggregate*
    * (thousands of rows at any corpus size), not the fact table: the
    * only fact-sized operation is the first groupBy, which shuffles on
    * the date key. Same frame-size argument as the E3 Pareto pass.
    */
  def qAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
    val w = Window.orderBy(col("d")).rowsBetween(-30, -1)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    daily
      .withColumn("n", count(col("r")).over(w))
      .withColumn("s", sum(col("r")).over(w))
      .withColumn("q", sum(dec(col("r")) * dec(col("r"))).over(w))
      .withColumn("is_anomaly",
        (col("n") >= 15 &&
          (dec(col("n")) * dec(col("r")) - dec(col("s"))) *
            (dec(col("n")) * dec(col("r")) - dec(col("s"))) >
          lit(9) * (dec(col("n")) * dec(col("q")) - dec(col("s")) * dec(col("s"))))
          .cast("long"))
      .select(col("d"), col("r").as("revenue_cents"), col("is_anomaly"))
      .orderBy(col("d"))
  }

  /** EWMA lag weights, alpha = 1/5, truncated at 10 days, scaled by
    * 5^10 so every weight is an exact integer: W_k = 4^k * 5^(9-k).
    * Their sum is 5^10 - 4^10 = 8717049.
    */
  private[graft] val EwmaWeights: Seq[Long] =
    (0 to 9).map(k => (BigInt(4).pow(k) * BigInt(5).pow(9 - k)).toLong)

  /** F3: truncated EWMA smoothing of daily revenue (alpha=1/5, 10-day
    * horizon, calendar-time lags — a missing day's weight is simply
    * absent and the normalizer shrinks with it). Instead of a
    * non-equi self-join over [d-9, d] (which Spark would plan as a
    * broadcast nested loop), each source day *scatters* its 10 future
    * contributions via explode(sequence(0,9)) and a single groupBy(t)
    * gathers them: one linear shuffle on the day key, exactly the
    * partial-aggregate shape that scales. Weighted sums stay in long
    * range (cents * 5^9 * 10 << 2^63 even at 100x).
    */
  def qEwma(spark: SparkSession, dir: String): DataFrame =
    ewmaPass(dailyRevenue(spark, dir), "r")
      .select(col("d"), col("r").as("revenue_cents"),
        col("s").as("ewma_cents"))
      .orderBy(col("d"))

  private def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))

  /** One truncated scatter-gather smoothing pass over a (d, value)
    * daily series: (d, v, s) with s the truncated EWMA at d. Shared
    * by F3 and the F14 double pass.
    */
  private def ewmaPass(series: DataFrame, vCol: String): DataFrame = {
    val wts = array(EwmaWeights.map(lit): _*)
    val contrib = series
      .select(col("d"), col(vCol), explode(expr("sequence(0, 9)")).as("k"))
      .select(date_add(col("d"), col("k")).as("t"),
        element_at(wts, col("k") + 1).as("wt"), col(vCol).as("v"))
    val gathered = contrib.groupBy(col("t"))
      .agg(sum(col("v") * col("wt")).as("num"), sum(col("wt")).as("wsum"))
    series.join(gathered, col("d") === col("t"))
      .select(col("d"), col(vCol), expr("num div wsum").as("s"))
  }

  /** F14: Brown's double exponential smoothing (Holt-style linear
    * trend) — the level/trend/one-step-forecast decomposition a
    * demand-planning pass runs on top of F3: the SECOND smoothing
    * pass is the SAME truncated scatter-gather applied to the first
    * pass's (integer) output, so s2 is an EWMA of s1 and Brown's
    * identities give level = 2*s1 - s2 and trend = alpha/(1-alpha) *
    * (s1 - s2) = (s1 - s2)/4 (alpha = 1/5), held in milli-cents so
    * the division is exact-scaled. Forecast = level + trend. All
    * integer end to end (both engines truncate `div` toward zero —
    * consistent on negative trends); the plan is two linear
    * scatter-gather shuffles on the day key, no self-join, no
    * sequential recurrence.
    */
  def qHolt(spark: SparkSession, dir: String): DataFrame = {
    val s1 = ewmaPass(dailyRevenue(spark, dir), "r")
    val s2 = ewmaPass(s1.select(col("d"), col("s").as("v")), "v")
      .select(col("d"), col("s").as("s2"))
    s1.join(s2, Seq("d"))
      .select(col("d"), col("r").as("revenue_cents"),
        (lit(2L) * col("s") - col("s2")).as("level_cents"),
        expr("((s - s2) * 1000) div 4").as("trend_milli_cents"),
        (lit(2L) * col("s") - col("s2") +
          expr("(((s - s2) * 1000) div 4) div 1000")).as("forecast_cents"))
      .orderBy(col("d"))
  }

  /** F4: day-of-week seasonal index. For each weekday (0 = Monday,
    * epoch-anchored integer arithmetic — no engine-specific dow()
    * numbering), the ratio of its per-day average order count and
    * revenue to the overall per-day average, in ppm:
    * idx = (x_dow * days_total * 1e6) div (days_dow * x_total).
    * Revenue is coarsened to kilodollars before the ppm product so
    * the int64 bound holds at 100x. The totals frame is one row,
    * broadcast; everything upstream is one fact-sized groupBy.
    */
  def qSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .withColumn("dow",
        pmod(datediff(col("d"), to_date(lit("1970-01-05"))), lit(7)).cast("long"))
    val perDow = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("n_orders"),
        expr("sum(cents) div 100000").as("rev_k"))
    val totals = perDow.agg(sum(col("n_days")).as("t_days"),
      sum(col("n_orders")).as("t_orders"), sum(col("rev_k")).as("t_rev_k"))
    perDow.crossJoin(broadcast(totals))
      .select(col("dow"), col("n_days"), col("n_orders"),
        expr("(n_orders * t_days * 1000000) div (n_days * t_orders)")
          .as("cnt_idx_ppm"),
        expr("(rev_k * t_days * 1000000) div (n_days * t_rev_k)")
          .as("rev_idx_ppm"))
      .orderBy(col("dow"))
  }

  /** F5: first-order Markov transition matrix over per-user event
    * sequences. lead() within the (user, ts) window — (user_id, ts)
    * is unique so the order is total — then one aggregate; the
    * per-source row total comes from a second window over the
    * 25-row transition frame, not another pass over the facts.
    * Probabilities in exact ppm (count * 1e6 div row_total).
    */
  def qMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_type"))
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val pairs = ev
      .withColumn("to_et", lead(col("event_type"), 1).over(seq))
      .filter(col("to_et").isNotNull)
    val counts = pairs.groupBy(col("event_type").as("from_et"), col("to_et"))
      .agg(count(lit(1)).as("n"))
    val rowTot = Window.partitionBy(col("from_et"))
    counts
      .withColumn("tot", sum(col("n")).over(rowTot))
      .withColumn("prob_ppm", expr("n * 1000000 div tot"))
      .select(col("from_et"), col("to_et"), col("n"), col("prob_ppm"))
      .orderBy(col("from_et"), col("to_et"))
  }

  /** F6: path mining — the 10 most common 3-step event-type paths per
    * user timeline (two stacked lead()s in one window pass, then one
    * aggregate). The top-10 order (n desc, path asc) is total because
    * paths are distinct after the groupBy.
    */
  def qEventPaths(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), col("ts"), col("event_type"))
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    ev.withColumn("e2", lead(col("event_type"), 1).over(seq))
      .withColumn("e3", lead(col("event_type"), 2).over(seq))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(10)
  }

  /** F7: A/B comparison with a two-proportion z-test. Variants are
    * user_id parity; conversion is >=1 high-value purchase (value >=
    * 200, a raw-parquet-double comparison — no arithmetic, so both
    * engines agree bitwise; ~20% of users qualify, so the proportions
    * have real variance instead of saturating at 100%). The
    * significance test is the cross-multiplied square form
    * 10000 * (c_a*n_b - c_b*n_a)^2 * n  >  38415 * c*(n-c) * n_a*n_b
    * (z^2 > 3.8415, i.e. |z| > 1.96, p < 0.05 two-sided) — division-
    * and sqrt-free, exact in decimal(38,0)/HUGEINT at any corpus
    * size. One row out; the only fact-sized work is the per-user
    * conversion aggregate.
    */
  def qAbCompare(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 200.0, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("v", pmod(col("user_id"), lit(2)))
    val row = perUser.agg(
      sum(when(col("v") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("v") === 0, col("conv")).otherwise(0L)).as("c_a"),
      sum(when(col("v") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("v") === 1, col("conv")).otherwise(0L)).as("c_b"))
    val dec = (e: String) => expr(s"cast($e as decimal(38,0))")
    row
      .withColumn("conv_a_ppm", expr("c_a * 1000000 div n_a"))
      .withColumn("conv_b_ppm", expr("c_b * 1000000 div n_b"))
      .withColumn("lift_ppm", col("conv_a_ppm") - col("conv_b_ppm"))
      .withColumn("significant",
        (dec("10000") * dec("c_a * n_b - c_b * n_a") * dec("c_a * n_b - c_b * n_a") *
          dec("n_a + n_b") >
          dec("38415") * dec("c_a + c_b") * dec("(n_a + n_b) - (c_a + c_b)") *
            dec("n_a") * dec("n_b")).cast("long"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        col("conv_a_ppm"), col("conv_b_ppm"), col("lift_ppm"), col("significant"))
  }

  /** F8: sliding distinct via MERGEABLE SKETCHES — the 100 TB shape
    * of E5. The exact scatter fans out the (user, day)-distinct frame
    * x7; here each day is pre-aggregated ONCE into a 4 KiB HLL
    * register file, and only the day-frame of sketches (hundreds of
    * rows) scatters and re-merges — window widening is free. Output
    * gates the estimate against the exact count (<= 5% — p=12 is
    * ~1.6% typical, and linear counting makes small windows near-
    * exact), the same accuracy-gated-oracle pattern as B9b/B21b.
    */
  def qSlidingHll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val perDay = ev.groupBy(col("d"))
      .agg(graft.functions.hll_sketch(col("user_id")).as("sk"))
    val merged = perDay
      .select(col("d"), col("sk"), explode(expr("sequence(0, 6)")).as("k"))
      .select(date_add(col("d"), col("k")).as("t"), col("sk"))
      .groupBy(col("t"))
      .agg(graft.functions.hll_merge(col("sk")).as("est"))
    val exact = ev.distinct()
      .select(col("d"), col("user_id"), explode(expr("sequence(0, 6)")).as("k"))
      .select(date_add(col("d"), col("k")).as("t"), col("user_id"))
      .groupBy(col("t")).agg(countDistinct(col("user_id")).as("n_users_7d"))
    val days = ev.select(col("d")).distinct()
    exact.join(merged, "t").join(days, col("t") === col("d"))
      .select(col("d"), col("n_users_7d"),
        (abs(col("est").cast("double") / col("n_users_7d") - 1.0) <= 0.05)
          .as("hll_ok"))
      .orderBy(col("d"))
  }

  /** F9: sliding heavy hitters — top-3 most active users per 7-day
    * trailing window, via stored per-day SpaceSaving sketches
    * re-merged per window (the F8 pattern for frequency instead of
    * cardinality). Only the day-frame of sketches scatters x7; the
    * facts are touched once. With distinct users <= the 4096
    * capacity the sketch is EXACT (no evictions, merge floor 0), so
    * the oracle checks counts and err=0 bit-for-bit — and the same
    * plan degrades gracefully to the Metwally/mergeable-summaries
    * overestimate bound when cardinality exceeds capacity at 100 TB.
    */
  def qSlidingTopk(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(to_date(col("ts")).as("d"), col("user_id").cast("string").as("item"))
    val perDay = ev.groupBy(col("d"))
      .agg(graft.functions.topk_sketch(col("item")).as("sk"))
    val merged = perDay
      .select(col("d"), col("sk"), explode(expr("sequence(0, 6)")).as("k"))
      .select(date_add(col("d"), col("k")).as("t"), col("sk"))
      .groupBy(col("t"))
      .agg(graft.functions.topk_merge(col("sk"), k = 3).as("top"))
    val days = ev.select(col("d")).distinct()
    merged.join(days, col("t") === col("d"))
      .select(col("d"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("d"), (col("pos") + 1).cast("long").as("rank"),
        col("e.item").as("item"), col("e.cnt").as("cnt"), col("e.err").as("err"))
      .orderBy(col("d"), col("rank"))
  }

  /** F10: multi-touch revenue attribution — the marketing-analytics
    * staple over the event stream: each purchase credits the
    * click/view touches that preceded it within a 7-day lookback,
    * under three models at once (first-touch, last-touch, linear).
    * Shape: ONE pass over each user's ordered series — the lookback
    * is a RANGE window on epoch-micros, the first/last touch are
    * conditional struct-min/max inside that frame (the q_table_diff
    * trick: struct ordering leads with the timestamp, so min/max IS
    * first/last), and the per-type touch counts for the linear split
    * are conditional sums over the same frame. No touches×purchases
    * self-join at any scale; the only shuffle is the user_id window
    * partition. Money stays in cents; the linear split is floor
    * division with the remainder credited to the last-touch model's
    * bucket, so every model's column sums to the identical total
    * (conservation is part of the contract the oracle checks).
    */
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val lookbackMicros = 604800000000L // 7 days
    val e = Tables(spark, dir).events.select(
      col("user_id"), unix_micros(col("ts")).as("tus"),
      col("event_type").as("et"),
      round(col("value") * 100).cast("long").as("cents"))
    val lb = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rangeBetween(-lookbackMicros, -1)
    val isTouch = col("et").isin("click", "view")
    val w = e
      .withColumn("lastt", max(when(isTouch, struct(col("tus"), col("et")))).over(lb))
      .withColumn("firstt", min(when(isTouch, struct(col("tus"), col("et")))).over(lb))
      .withColumn("n_click", sum(when(col("et") === "click", 1).otherwise(0)).over(lb))
      .withColumn("n_view", sum(when(col("et") === "view", 1).otherwise(0)).over(lb))
    val p = w.filter(col("et") === "purchase").select(
      col("cents"),
      coalesce(col("lastt.et"), lit("none")).as("last_et"),
      coalesce(col("firstt.et"), lit("none")).as("first_et"),
      coalesce(col("n_click"), lit(0L)).as("nc"),
      coalesce(col("n_view"), lit(0L)).as("nv"))
    val c = p.select(
      col("cents"), col("last_et"), col("first_et"),
      when(col("nc") + col("nv") === 0, 0L)
        .otherwise(expr("cents * nc div (nc + nv)")).as("lin_click"),
      when(col("nc") + col("nv") === 0, 0L)
        .otherwise(expr("cents * nv div (nc + nv)")).as("lin_view"))
    val types = spark.range(1).select(
      explode(array(lit("click"), lit("view"), lit("none"))).as("touch_type"))
    c.crossJoin(broadcast(types))
      .groupBy(col("touch_type"))
      .agg(
        coalesce(sum(when(col("last_et") === col("touch_type"), col("cents"))), lit(0L))
          .as("last_touch_cents"),
        coalesce(sum(when(col("first_et") === col("touch_type"), col("cents"))), lit(0L))
          .as("first_touch_cents"),
        coalesce(sum(
          when(col("touch_type") === "click", col("lin_click"))
            .when(col("touch_type") === "view", col("lin_view"))
            .otherwise(when(col("last_et") === "none", col("cents"))
              .otherwise(col("cents") - col("lin_click") - col("lin_view")))), lit(0L))
          .as("linear_cents"))
      .orderBy(col("touch_type"))
  }

  /** F11: CUSUM changepoint detection on daily order revenue — the
    * classic "where did the level shift" scan: S_k = Σ_{i<=k}(r_i - μ)
    * peaks at the most likely changepoint. μ is the exact integer
    * floor-mean (total div n), so every S_k is exact BIGINT cents and
    * the argmax is engine-identical. The prefix sum runs over the
    * DAILY aggregate (thousands of rows at any corpus size — same
    * frame-size argument as F2's anomaly window); the only fact-sized
    * operation is the date groupBy shuffle.
    */
  def qChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("r"))
    val m = daily.agg((sum(col("r")).cast("long")).as("tot"),
      count(lit(1)).as("n"))
      .select(expr("tot div n").as("mu"))
    val w = Window.orderBy(col("d")).rowsBetween(Window.unboundedPreceding, 0)
    val c = daily.crossJoin(broadcast(m))
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("cusum", sum(col("r")).over(w) - col("k") * col("mu"))
    val peak = c.agg(max(abs(col("cusum"))).as("peak"))
    c.crossJoin(broadcast(peak))
      .select(col("d"), col("r").as("revenue_cents"),
        col("cusum").cast("long").as("cusum_cents"),
        (abs(col("cusum")) === col("peak")).cast("long").as("is_peak"))
      .orderBy(col("d"))
  }

  /** F12: stored point-frequency sketches — per-day Count-Min grids
    * over event actors, folded into one merged grid (element-wise
    * add, so the fold is EXACT with respect to the sketch — the
    * per-day store-then-merge equals one corpus-wide build
    * bit-for-bit), then every user's activity probed against it.
    * The F8/F9 discipline for point frequency: facts aggregate once
    * into day-frame-sized 64 KiB grids; window widening or
    * re-probing never touches the facts again. The probe joins the
    * user frame against ONE broadcast sketch row. Output carries the
    * exact count and the CMS guarantee gate (overestimate, within
    * ceil(3N/width)) — the oracle checks exact counts and the gate,
    * the B9b pattern.
    */
  /** F13: horizon label generation — the supervised-training twin of
    * A27: materialize a (user, week) panel from each user's first
    * active week to the corpus end, with that week's activity
    * features and the LABEL drawn from the NEXT week (any purchase),
    * the backtesting-safe "predict t+1 from <=t" construction. Weeks
    * are pure integer epoch-µs buckets (no calendar/locale
    * divergence); the last week is right-censored out because its
    * label window is incomplete. Shape: one fact-sized groupBy to
    * the (user, week) activity frame; the panel explodes per-user
    * week RANGES (bounded by users x corpus weeks, linear); label
    * attachment is a self-join of the activity frame shifted one
    * week — all co-keyed shuffles, corpus-size-independent width.
    */
  def qChurnLabels(spark: SparkSession, dir: String): DataFrame = {
    val week = 604800000000L // 7 days in µs; ts >= epoch so div == floor
    val ev = Tables(spark, dir).events
      .select(col("user_id"), expr(s"unix_micros(ts) div ${week}L").as("wk"),
        col("event_type"))
    val act = ev.groupBy(col("user_id"), col("wk")).agg(
      count(lit(1)).as("n_events"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
    val mx = broadcast(ev.groupBy().agg(max(col("wk")).as("max_wk")))
    val panel = act.groupBy(col("user_id")).agg(min(col("wk")).as("first_wk"))
      .crossJoin(mx)
      .select(col("user_id"),
        explode(sequence(col("first_wk"), col("max_wk"))).as("wk"),
        col("max_wk"))
    val nextWk = act.select(col("user_id"), (col("wk") - 1).as("wk"),
      when(col("n_purchases") > 0, 1L).otherwise(0L).as("nxt"))
    panel
      .join(act, Seq("user_id", "wk"), "left")
      .join(nextWk, Seq("user_id", "wk"), "left")
      .filter(col("wk") < col("max_wk"))
      .select(col("user_id"), col("wk"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("nxt"), lit(0L)).as("next_week_purchase"))
      .orderBy(col("user_id"), col("wk"))
  }

  def qCmsFreq(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(to_date(col("ts")).as("d"), col("user_id"))
    val perDay = ev.groupBy(col("d"))
      .agg(graft.functions.cms_sketch(col("user_id")).as("sk"))
    val merged = perDay.agg(graft.functions.cms_union(col("sk")).as("sk"))
    val bound = ev.agg((expr("3 * count(1) div 2048") + 1L).as("bound"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    exact.crossJoin(broadcast(merged)).crossJoin(broadcast(bound))
      .select(col("user_id"), col("n_events"),
        (graft.functions.cms_query(col("sk"), col("user_id")) >= col("n_events") &&
          graft.functions.cms_query(col("sk"), col("user_id")) <=
            col("n_events") + col("bound")).as("cms_ok"))
      .orderBy(col("user_id"))
  }

  /** F15: burst segmentation — contiguous calendar runs of days whose
    * order count strictly exceeds the series' EXACT median daily
    * count (Kleinberg-flavored burst detection reduced to a robust
    * threshold + gaps-and-islands; the median, not the mean, so the
    * bursts themselves cannot drag the baseline up — G6's logic
    * applied to counts). Division-free: burst iff 2·cnt > med2x with
    * med2x the doubled rank-trick median (G4). The threshold is a
    * parameter; 1.5x-median was measured DEGENERATE on this synthetic
    * series (zero rows at sf0.1 — daily counts concentrate near the
    * median), so the gate pins the machinery at >median. Islands:
    * epoch-day − row_number over burst days — runs break on any
    * non-burst calendar day. The day frame is calendar-bounded
    * (~2.4k rows at ANY scale), so its two global windows are cheap
    * by construction; the only fact-sized work is the one
    * groupBy(day) aggregate.
    */
  def qBurstDetect(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).orders
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(count(lit(1)).as("cnt"))
    val med = daily
      .withColumn("rn", row_number().over(Window.orderBy(col("cnt"), col("d"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rn") === expr("(n + 1) div 2") || col("rn") === expr("n div 2 + 1"))
      .agg(sum(col("cnt") * when(col("n") % 2 === 1, 2L).otherwise(1L)).as("med2x"))
    val burst = daily.crossJoin(broadcast(med))
      .filter(col("cnt") * 2 > col("med2x"))
      .withColumn("grp", expr("datediff(d, DATE '1992-01-01')").cast("long") -
        row_number().over(Window.orderBy(col("d"))))
    burst.groupBy(col("grp"))
      .agg(min(col("d")).as("start_day"), max(col("d")).as("end_day"),
        count(lit(1)).as("n_days"), max(col("cnt")).as("peak_cnt"),
        sum(col("cnt")).cast("long").as("total_cnt"))
      .select(col("start_day"), col("end_day"), col("n_days"),
        col("peak_cnt"), col("total_cnt"))
      .orderBy(col("start_day"))
  }

  /** F16: Kaplan-Meier survival curve over user lifetimes — the
    * churn-analysis estimator (Kaplan & Meier 1958) under right
    * censoring: a user's lifetime is whole days between first and
    * last event; a user is CHURNED iff silent for strictly more than
    * one full day before the window's end, else CENSORED (leaves the
    * risk set without counting as churn) — the 3-day horizon first
    * tried never fires on this synthetic population (measured: every
    * user's last event is within 2 days of the window end at all 3
    * SFs), so the gate pins the estimator at the 1-day horizon; the
    * horizon is a parameter.
    * S(t) = prod_{j<=t} (n_j − d_j)/n_j held in ppm with an explicit
    * floor division at EVERY step — the fold is sequential by
    * definition, so it runs as an `aggregate()` higher-order function
    * over the array_sort'ed ≤31-row day frame (no recursion, no
    * float product whose rounding would drift between engines; the
    * oracle replays the same fold with DuckDB's list_reduce). Scale:
    * one fact-sized groupBy(user); everything after is the
    * day-bounded frame — the suffix-sum window and the 31²-element
    * prefix folds are constant work at any corpus size.
    */
  def qSurvival(spark: SparkSession, dir: String): DataFrame = {
    val day = 86400000000L
    val pu = Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi"))
    val mxw = pu.agg(max(col("hi")).as("mxw"))
    val lframe = pu.crossJoin(broadcast(mxw))
      .select(expr(s"(hi - lo) div $day").as("t"),
        (col("hi") < col("mxw") - lit(1L * day)).cast("long").as("churn"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("cnt"), sum(col("churn")).as("d"))
    val wSuffix = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val frame = lframe.withColumn("n_risk", sum(col("cnt")).over(wSuffix))
    val days = frame.agg(array_sort(collect_list(
      struct(col("t"), col("n_risk").as("n"), col("d")))).as("days"))
    frame.crossJoin(broadcast(days))
      .select(col("t"), col("n_risk"), col("d"),
        expr("""aggregate(filter(days, x -> x.t <= t),
                CAST(1000000 AS BIGINT),
                (acc, x) -> (acc * (x.n - x.d)) div x.n)""").as("surv_ppm"))
      .orderBy(col("t"))
  }

  /** F17: autocorrelation function of daily revenue at lags 1..14 —
    * the seasonality/memory diagnostic next to F4 (a weekly cycle
    * shows as an ACF peak at lag 7; white noise hovers near 0).
    * Exact integer throughout the F2 discipline: deviations are
    * multiplied through by n (dev_d = n·r_d − S, so no fractional
    * mean), products and sums ride in decimal(38,0)/HUGEINT
    * (dev² ≈ 6e24 at sf0.1 — far past long range), and
    * acf_ppm = (1e6·Σ dev_d·dev_{d+k}) div Σ dev² with BOTH engines
    * truncating toward zero on negatives (the C73 finding). Lags are
    * positional over the observed-day order (business-series ACF);
    * the 14 leads stack in ONE window pass over the calendar-bounded
    * day frame — the only fact-sized work is the day groupBy.
    */
  def qAcf(spark: SparkSession, dir: String): DataFrame = {
    val maxLag = 14
    val daily = dailyRevenue(spark, dir)
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("r")).as("s"))
    val dev = daily.crossJoin(broadcast(tot))
      .select(col("d"),
        (col("n") * col("r") - col("s")).cast("decimal(38,0)").as("dev"))
    val wd = Window.orderBy(col("d"))
    val leads = dev
      .withColumn("ls", array((1 to maxLag).map(k =>
        lead(col("dev"), k).over(wd)): _*))
      .select(col("dev"), posexplode(col("ls")).as(Seq("pos", "ldev")))
      .filter(col("ldev").isNotNull)
      .select((col("pos") + 1).cast("long").as("k"),
        (col("dev") * col("ldev")).as("prod"))
    val den = dev.agg(sum(col("dev") * col("dev")).as("den"))
    leads.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("prod")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("k"), col("n_pairs"),
        expr("CAST((num * 1000000) div den AS BIGINT)").as("acf_ppm"))
      .orderBy(col("k"))
  }

  /** F18: Theil–Sen robust trend — per event_type, the MEDIAN of all
    * pairwise day-slopes of the daily value series (the
    * outlier-immune alternative to an OLS slope: one corrupted day
    * moves OLS arbitrarily, but shifts the pairwise-slope median by
    * at most one rank). Slopes are fixed-point cents-per-day ×10⁴
    * (integer div, truncation identical on both engines — the C73
    * rule), and the median is the LOWER median picked by rank so no
    * fractional midpoint appears. The pair self-join runs WITHIN each
    * group over the daily aggregate — a calendar-bounded frame
    * (≤ days² pairs per type, independent of fact cardinality), so
    * the only fact-sized work is the first day groupBy; the rank
    * window partitions by event_type over those bounded pair sets.
    */
  def qTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
    val a = daily.select(col("event_type"), col("d").as("d1"), col("v").as("v1"))
    val b = daily.select(col("event_type"), col("d").as("d2"), col("v").as("v2"))
    val pairs = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .select(col("event_type"),
        expr("(v2 - v1) * 10000 div datediff(d2, d1)").as("s"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("s"))
    val wn = Window.partitionBy(col("event_type"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(expr("rn = (n + 1) div 2"))
      .select(col("event_type"), col("n").as("n_pairs"), col("s").as("slope_fp"))
      .orderBy(col("event_type"))
  }

  /** F20: robust STL-style decomposition of daily revenue into
    * trend + seasonal + residual — the series triage step before any
    * anomaly rule (F2/G6 flag deviations; this explains WHAT they
    * deviate from). Robust and integer-exact throughout: trend is
    * the centered 7-day windowed MEDIAN (lower median of the sorted
    * window list — medians, not means, so one spiked day never leaks
    * into its neighbours' trend), seasonal is the per-day-of-week
    * lower median of the detrended series (rank-picked, the G4
    * discipline; epoch-anchored dow — no engine dow() numbering),
    * residual the exact difference. Every window runs over the
    * calendar-bounded day frame; the only fact-sized work is the
    * day groupBy.
    */
  def qStlDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    val wt = Window.orderBy(col("d")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("tl", collect_list(col("r")).over(wt))
      .withColumn("trend",
        expr("element_at(array_sort(tl), cast((size(tl) + 1) div 2 as int))"))
      .withColumn("detr", col("r") - col("trend"))
      .withColumn("dow",
        pmod(datediff(col("d"), to_date(lit("1970-01-05"))), lit(7)).cast("long"))
    val wd = Window.partitionBy(col("dow")).orderBy(col("detr"))
    val wdn = Window.partitionBy(col("dow"))
    val seas = trended
      .withColumn("rn", row_number().over(wd))
      .withColumn("n", count(lit(1)).over(wdn))
      .filter(expr("rn = (n + 1) div 2"))
      .select(col("dow"), col("detr").as("seasonal"))
    trended.join(broadcast(seas), Seq("dow"))
      .select(col("d"), col("r").as("revenue_cents"), col("trend"),
        col("seasonal"), (col("detr") - col("seasonal")).as("residual"))
      .orderBy(col("d"))
  }

  /** F21: time-weighted average value (TWAP) per (event_type, day) —
    * the duration-weighted mean a plain AVG misstates whenever
    * observation density correlates with level (bursts of cheap
    * events drag a row-mean down; TWAP weights each value by how
    * long it REMAINED current). Weight = µs until the next same-day
    * event of the type (the day's last observation carries no
    * within-day duration and is excluded); twap_milli =
    * (Σ cents·dur)·1000 div Σ dur, products in decimal(38,0) —
    * exact. The lead() window partitions by (event_type, day):
    * calendar-bounded partitions, so the sort parallelizes across
    * type×day slices at any scale (never one partition per type).
    */
  def qTwap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("event_type"), to_date(col("ts")).as("d"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("event_type"), col("d"))
      .orderBy(col("us"), col("event_id"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    ev.withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dur", col("next_us") - col("us"))
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n_weighted"),
        sum(col("dur")).as("sum_dur_us"),
        sum(dec(col("cents")) * dec(col("dur"))).as("swv"))
      .filter(col("sum_dur_us") > 0)
      .select(col("event_type"), col("d"), col("n_weighted"), col("sum_dur_us"),
        expr("cast((swv * 1000) div sum_dur_us as bigint)").as("twap_milli"))
      .orderBy(col("event_type"), col("d"))
  }

  /** F22: recency-decayed engagement score per user — the freshness
    * weight a curation/retention stack uses to downweight stale
    * activity (half-life = 1 day). The weight is EXACTLY 2^-age in
    * q20 fixed point via an integer right shift (1048576 >> age_days,
    * 0 past 20 days) — no float pow, so both engines and any future
    * re-run agree bit-for-bit. Anchor = the corpus' max event date
    * (one global agg row, broadcast); one map pass + one per-user
    * aggregate after that.
    */
  def qDecayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val mx = ev.agg(max(col("d")).as("dmax"))
    ev.crossJoin(broadcast(mx))
      .withColumn("age", datediff(col("dmax"), col("d")).cast("long"))
      .withColumn("w_q20",
        expr("CASE WHEN age <= 20 THEN shiftright(1048576L, CAST(age AS INT)) ELSE 0L END"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("age")).as("last_age_days"),
        sum(col("w_q20")).as("score_q20"))
      .orderBy(col("user_id"))
  }

  /** F23: inter-order gap statistics per customer — the cadence
    * profile behind churn models and replenishment forecasts
    * (median inter-arrival beats mean under the bursty-buyer skew).
    * Gap sequence is pinned by a total order (o_orderdate,
    * o_orderkey) so same-day ties permute identically in both
    * engines; the median is the LOWER median picked by row_number =
    * (n+1) div 2 — integer-exact, no averaging of middle pairs.
    * Shape: one lag window + one rank window, both partitioned by
    * customer (never global), then a per-customer fold.
    */
  def qOrderGapStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_orderkey"))
    val seq0 = Window.partitionBy(col("o_custkey"))
      .orderBy(col("d"), col("o_orderkey"))
    val gaps = o.withColumn("prev", lag(col("d"), 1).over(seq0))
      .filter(col("prev").isNotNull)
      .withColumn("gap", datediff(col("d"), col("prev")).cast("long"))
    val stats = gaps.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
    val byGap = Window.partitionBy(col("o_custkey"))
      .orderBy(col("gap"), col("o_orderkey"))
    val med = gaps.withColumn("rk", row_number().over(byGap))
      .join(stats.select(col("o_custkey"), col("n_gaps")), Seq("o_custkey"))
      .filter(col("rk") === expr("(n_gaps + 1) div 2"))
      .select(col("o_custkey"), col("gap").as("med_gap"))
    stats.join(med, Seq("o_custkey"))
      .filter(col("n_gaps") >= 4L)
      .select(col("o_custkey"), (col("n_gaps") + 1L).as("n_orders"),
        col("min_gap"), col("med_gap"), col("max_gap"))
      .orderBy(col("o_custkey"))
  }

  /** F24: 7-day sliding LOWER-median of daily revenue per event
    * type — the robust trend line a monitoring stack plots instead
    * of the outlier-hostage sliding mean (F2/G6 flag the outliers;
    * this shows the level they pollute). Spark has no percentile
    * window frame, so the trailing window materializes as a
    * day-grid self-join (type×day × ≤7 rows — calendar-bounded,
    * never fact-sized) and the median is the integer rank pick
    * (n+1) div 2 under a total (cents, day) order: engine-exact, no
    * middle-pair averaging. The only fact-sized pass is the daily
    * cents aggregate.
    */
  def qSlidingMedian(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir).events
      .select(col("event_type"), to_date(col("ts")).as("d"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("d"))
      .agg(sum(col("cents")).as("day_cents"))
    val win = daily.select(col("event_type"), col("d"))
      .join(daily.select(col("event_type"), col("d").as("d2"),
        col("day_cents").as("c2")), Seq("event_type"))
      .filter(datediff(col("d"), col("d2")).between(0, 6))
    val n = win.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n_days"))
    val rk = Window.partitionBy(col("event_type"), col("d"))
      .orderBy(col("c2"), col("d2"))
    win.withColumn("rk", row_number().over(rk))
      .join(n, Seq("event_type", "d"))
      .filter(col("rk") === expr("(n_days + 1) div 2"))
      .select(col("event_type"), date_format(col("d"), "yyyy-MM-dd").as("d"),
        col("n_days"), col("c2").as("med_cents"))
      .orderBy(col("event_type"), col("d"))
  }

  /** F25: leaderboard migration — the top-20 revenue parts of the
    * calendar's first half vs its second half, with rank deltas
    * (the "what rose, what fell" churn report every seasonal-mix
    * review starts from; high migration = a shifting catalog, zero
    * = a static one). The split point is derived from the data's
    * own date span (min + span div 2 — no wall clock), revenue is
    * exact cents, ranks break ties on partkey, absent-from-a-half
    * reads rank 0. Two fact-sized half aggregates; the outer join
    * runs on two 20-row frames.
    */
  def qRankMigration(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
      .join(Tables(spark, dir).orders,
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), to_date(col("o_orderdate")).as("d"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val span = li.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      .select(col("d0"), expr("date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))").as("mid"))
    val tagged = li.crossJoin(broadcast(span))
      .withColumn("half", when(col("d") <= col("mid"), lit("a")).otherwise(lit("b")))
    // per-(half, part) revenue, part-dimension-sized. Each top(half)
    // filter pushes below the aggregate into the fact join, so the two
    // halves aggregate disjoint rows; the orders broadcast and the
    // date-span scalar are reused exchanges. No cache: a pinned frame
    // would outlive the query, and at 4 cores the unpinned form is
    // faster and runs fewer jobs.
    val byHalf = tagged.groupBy(col("half"), col("l_partkey"))
      .agg(sum(col("cents")).as("rev_cents"))
    // top-20 via distributed TakeOrdered + `row_position()` (the C75
    // template) — no single-partition window ever touches the
    // part-dimension-sized revenue frame
    def top(half: String) =
      byHalf.filter(col("half") === half)
        .orderBy(col("rev_cents").desc, col("l_partkey")).limit(20)
        .select(col("l_partkey"), col("rev_cents"), (row_position() + 1L).as("rk"))
    top("a").select(col("l_partkey"), col("rev_cents").as("rev_a"), col("rk").as("rank_a"))
      .join(top("b").select(col("l_partkey"), col("rev_cents").as("rev_b"), col("rk").as("rank_b")),
        Seq("l_partkey"), "full_outer")
      .select(col("l_partkey"),
        coalesce(col("rank_a"), lit(0)).cast("long").as("rank_a"),
        coalesce(col("rank_b"), lit(0)).cast("long").as("rank_b"),
        coalesce(col("rev_a"), lit(0L)).as("rev_a_cents"),
        coalesce(col("rev_b"), lit(0L)).as("rev_b_cents"))
      .orderBy(col("l_partkey"))
  }

  /** F28: day-of-week × hour activity heatmap — the load-profile
    * report behind capacity planning and trigger-cadence tuning.
    * Day-of-week is computed ARITHMETICALLY ((epoch_days + 3) mod 7,
    * Monday = 0) instead of either engine's dayofweek() — the two
    * disagree on week-start conventions, epoch arithmetic cannot.
    * Exact cents, share in ppm of the total (one broadcast scalar).
    * One fact pass + a ≤168-row grid aggregate.
    */
  def qTimeHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(
        expr("pmod(datediff(to_date(ts), DATE'1970-01-01') + 3, 7)")
          .cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"),
        round(col("value") * 100).cast("long").as("cents"))
    val cells = ev.groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("sum_cents"))
    val tot = cells.agg(sum(col("n_events")).as("total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("n_events"), col("sum_cents"),
        expr("n_events * 1000000 div total").as("share_ppm"))
      .orderBy(col("dow"), col("hr"))
  }

  /** F29: burstiness via the squared coefficient of variation of
    * per-user inter-event gaps (CV² = 1 ⇔ Poisson arrivals, > 1 ⇔
    * bursty, the bot/automation tell). CV² is a RATIONAL of the
    * integer gap moments — n·(n·Σx² − S²) / (S²·(n−1)) — so the ppm
    * form is engine-exact with no sqrt and no float; cross-products
    * run in decimal(38,0)/HUGEINT. Gaps in whole epoch seconds under
    * a total (ts, event_id) order; users need ≥ 5 gaps and a
    * positive gap sum. One lag window + one per-user fold.
    */
  def qBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), expr("unix_seconds(ts)").as("s"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    ev.withColumn("prev", lag(col("s"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), (col("s") - col("prev")).as("x"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .filter(col("n") >= 5L && col("sx") > 0L)
      .select(col("user_id"), col("n").as("n_gaps"), col("sx").as("sum_gap_s"),
        expr("""CAST(CAST(n AS DECIMAL(38,0)) * (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) * 1000000
               | div (CAST(sx AS DECIMAL(38,0)) * sx * (n - 1)) AS BIGINT)""".stripMargin)
          .as("cv2_ppm"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_burstiness"         -> (qBurstiness _),
    "q_time_heatmap"       -> (qTimeHeatmap _),
    "q_sliding_median"     -> (qSlidingMedian _),
    "q_rank_migration"     -> (qRankMigration _),
    "q_decay_score"        -> (qDecayScore _),
    "q_order_gap_stats"    -> (qOrderGapStats _),
    "q_twap"               -> (qTwap _),
    "q_stl_decompose"      -> (qStlDecompose _),
    "q_theil_sen"          -> (qTheilSen _),
    "q_acf"                -> (qAcf _),
    "q_survival"           -> (qSurvival _),
    "q_burst_detect"       -> (qBurstDetect _),
    "q_churn_labels"       -> (qChurnLabels _),
    "q_cms_freq"           -> (qCmsFreq _),
    "q_attribution"        -> (qAttribution _),
    "q_changepoint"        -> (qChangepoint _),
    "q_sliding_topk"       -> (qSlidingTopk _),
    "q_sliding_hll"        -> (qSlidingHll _),
    "q_gap_fill"           -> (qGapFill _),
    "q_anomaly"            -> (qAnomaly _),
    "q_ewma"               -> (qEwma _),
    "q_holt"               -> (qHolt _),
    "q_seasonality"        -> (qSeasonality _),
    "q_markov_transitions" -> (qMarkovTransitions _),
    "q_event_paths"        -> (qEventPaths _),
    "q_ab_compare"         -> (qAbCompare _),
  )

  private val ewmaWeightsSql = EwmaWeights.mkString("[", ", ", "]")

  val oracles: Map[String, String] = Map(
    "q_burstiness" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
        |    event_id FROM events),
        |g AS (SELECT user_id,
        |        s - lag(s) OVER (PARTITION BY user_id
        |          ORDER BY s, event_id) AS x
        |      FROM e),
        |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx,
        |        sum(CAST(x AS HUGEINT) * x) AS sxx
        |      FROM g WHERE x IS NOT NULL GROUP BY 1)
        |SELECT user_id, n AS n_gaps, sx AS sum_gap_s,
        |  CAST(CAST(n AS HUGEINT) * (n * sxx - CAST(sx AS HUGEINT) * sx) * 1000000
        |    // (CAST(sx AS HUGEINT) * sx * (n - 1)) AS BIGINT) AS cv2_ppm
        |FROM m WHERE n >= 5 AND sx > 0 ORDER BY user_id""".stripMargin,

    "q_time_heatmap" ->
      """WITH ev AS (SELECT
        |    (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7 AS dow,
        |    hour(CAST(ts AS TIMESTAMP)) AS hr,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |cells AS (SELECT CAST(dow AS BIGINT) AS dow, CAST(hr AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM cells)
        |SELECT dow, hr, n_events, sum_cents,
        |  CAST(n_events * 1000000 // total AS BIGINT) AS share_ppm
        |FROM cells, tot ORDER BY dow, hr""".stripMargin,

    "q_sliding_median" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM events GROUP BY 1, 2),
        |win AS (SELECT a.event_type, a.d, b.d AS d2, b.day_cents AS c2
        |        FROM daily a JOIN daily b ON a.event_type = b.event_type
        |          AND date_diff('day', b.d, a.d) BETWEEN 0 AND 6),
        |n AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n_days
        |      FROM win GROUP BY 1, 2),
        |rk AS (SELECT event_type, d, c2,
        |         row_number() OVER (PARTITION BY event_type, d
        |           ORDER BY c2, d2) AS rk
        |       FROM win)
        |SELECT rk.event_type, strftime(rk.d, '%Y-%m-%d') AS d, n.n_days,
        |  CAST(rk.c2 AS BIGINT) AS med_cents
        |FROM rk JOIN n ON rk.event_type = n.event_type AND rk.d = n.d
        |WHERE rk.rk = (n.n_days + 1) // 2
        |ORDER BY rk.event_type, rk.d""".stripMargin,

    "q_rank_migration" ->
      """WITH li AS (SELECT l_partkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |span AS (SELECT min(d) AS d0,
        |           min(d) + CAST(date_diff('day', min(d), max(d)) // 2 AS INT) AS mid
        |         FROM li),
        |tagged AS (SELECT l_partkey, cents,
        |             CASE WHEN d <= mid THEN 'a' ELSE 'b' END AS half
        |           FROM li, span),
        |ra AS (SELECT l_partkey, rev_cents, rk FROM (
        |  SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS rev_cents,
        |    row_number() OVER (ORDER BY sum(cents) DESC, l_partkey) AS rk
        |  FROM tagged WHERE half = 'a' GROUP BY 1) WHERE rk <= 20),
        |rb AS (SELECT l_partkey, rev_cents, rk FROM (
        |  SELECT l_partkey, CAST(sum(cents) AS BIGINT) AS rev_cents,
        |    row_number() OVER (ORDER BY sum(cents) DESC, l_partkey) AS rk
        |  FROM tagged WHERE half = 'b' GROUP BY 1) WHERE rk <= 20)
        |SELECT COALESCE(ra.l_partkey, rb.l_partkey) AS l_partkey,
        |  CAST(COALESCE(ra.rk, 0) AS BIGINT) AS rank_a,
        |  CAST(COALESCE(rb.rk, 0) AS BIGINT) AS rank_b,
        |  CAST(COALESCE(ra.rev_cents, 0) AS BIGINT) AS rev_a_cents,
        |  CAST(COALESCE(rb.rev_cents, 0) AS BIGINT) AS rev_b_cents
        |FROM ra FULL OUTER JOIN rb ON ra.l_partkey = rb.l_partkey
        |ORDER BY l_partkey""".stripMargin,

    "q_decay_score" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |mx AS (SELECT max(d) AS dmax FROM ev),
        |w AS (SELECT user_id,
        |        CAST(date_diff('day', d, dmax) AS BIGINT) AS age
        |      FROM ev, mx)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(min(age) AS BIGINT) AS last_age_days,
        |  CAST(sum(CASE WHEN age <= 20
        |    THEN 1048576 >> CAST(age AS INT) ELSE 0 END) AS BIGINT) AS score_q20
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_order_gap_stats" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
        |           FROM orders),
        |g AS (SELECT o_custkey, o_orderkey,
        |        CAST(date_diff('day',
        |          lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey),
        |          d) AS BIGINT) AS gap
        |      FROM o),
        |gaps AS (SELECT * FROM g WHERE gap IS NOT NULL),
        |stats AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
        |            CAST(min(gap) AS BIGINT) AS min_gap,
        |            CAST(max(gap) AS BIGINT) AS max_gap
        |          FROM gaps GROUP BY 1),
        |rk AS (SELECT o_custkey, gap,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY gap, o_orderkey) AS rk
        |       FROM gaps),
        |med AS (SELECT r.o_custkey, r.gap AS med_gap
        |        FROM rk r JOIN stats s ON r.o_custkey = s.o_custkey
        |        WHERE r.rk = (s.n_gaps + 1) // 2)
        |SELECT s.o_custkey, CAST(s.n_gaps + 1 AS BIGINT) AS n_orders,
        |  s.min_gap, m.med_gap, s.max_gap
        |FROM stats s JOIN med m ON s.o_custkey = m.o_custkey
        |WHERE s.n_gaps >= 4 ORDER BY s.o_custkey""".stripMargin,

    "q_twap" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    epoch_us(cast(ts AS timestamp)) AS us, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |ld AS (SELECT event_type, d, cents,
        |        lead(us) OVER (PARTITION BY event_type, d
        |          ORDER BY us, event_id) - us AS dur
        |       FROM ev)
        |SELECT event_type, d, CAST(count(*) AS BIGINT) AS n_weighted,
        |  CAST(sum(dur) AS BIGINT) AS sum_dur_us,
        |  CAST((sum(CAST(cents AS HUGEINT) * CAST(dur AS HUGEINT)) * 1000)
        |    // sum(dur) AS BIGINT) AS twap_milli
        |FROM ld WHERE dur IS NOT NULL
        |GROUP BY event_type, d
        |HAVING sum(dur) > 0
        |ORDER BY event_type, d""".stripMargin,

    "q_stl_decompose" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |t AS (SELECT d, r, list_sort(list(r) OVER (ORDER BY d
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS tl FROM daily),
        |tr AS (SELECT d, r, tl[(len(tl) + 1) // 2] AS trend FROM t),
        |de AS (SELECT d, r, trend, r - trend AS detr,
        |        ((date_diff('day', DATE '1970-01-05', d) % 7) + 7) % 7 AS dow
        |       FROM tr),
        |rk AS (SELECT dow, detr,
        |        row_number() OVER (PARTITION BY dow ORDER BY detr) AS rn,
        |        count(*) OVER (PARTITION BY dow) AS n FROM de),
        |se AS (SELECT dow, detr AS seasonal FROM rk WHERE rn = (n + 1) // 2)
        |SELECT d, de.r AS revenue_cents, CAST(trend AS BIGINT) AS trend,
        |  CAST(seasonal AS BIGINT) AS seasonal,
        |  CAST(detr - seasonal AS BIGINT) AS residual
        |FROM de JOIN se USING (dow) ORDER BY d""".stripMargin,

    "q_theil_sen" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |        (b.v - a.v) * 10000 // date_diff('day', a.d, b.d) AS s
        |      FROM daily a JOIN daily b
        |        ON a.event_type = b.event_type AND a.d < b.d),
        |r AS (SELECT event_type, s,
        |        row_number() OVER (PARTITION BY event_type ORDER BY s) AS rn,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM p)
        |SELECT event_type, CAST(n AS BIGINT) AS n_pairs, CAST(s AS BIGINT) AS slope_fp
        |FROM r WHERE rn = (n + 1) // 2
        |ORDER BY event_type""".stripMargin,

    // positional lags replay as a rank self-join (lead(expr, k) needs
    // a constant k in SQL); HUGEINT carries the dev products
    "q_acf" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |t AS (SELECT count(*) AS n, sum(r) AS s FROM daily),
        |dev AS (SELECT d, CAST(n * r - s AS HUGEINT) AS dev FROM daily, t),
        |rn AS (SELECT row_number() OVER (ORDER BY d) AS rn, dev FROM dev),
        |p AS (SELECT k, a.dev * b.dev AS prod
        |      FROM rn a, generate_series(1, 14) t(k)
        |      JOIN rn b ON b.rn = a.rn + k),
        |den AS (SELECT sum(dev * dev) AS den FROM rn)
        |SELECT CAST(k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST((sum(prod) * 1000000) // den AS BIGINT) AS acf_ppm
        |FROM p, den GROUP BY k, den ORDER BY k""".stripMargin,

    // the KM fold replays with list_reduce over the same sorted day
    // frame; the init rides as a prepended struct (list_reduce's acc
    // type is the element type), floor division at every step
    "q_survival" ->
      """WITH pu AS (SELECT user_id, min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
        |            FROM events GROUP BY 1),
        |mxw AS (SELECT max(hi) AS mxw FROM pu),
        |u AS (SELECT (hi - lo) // 86400000000 AS t,
        |        CASE WHEN hi < mxw - 1 * 86400000000 THEN 1 ELSE 0 END AS churn
        |      FROM pu, mxw),
        |l AS (SELECT t, count(*) AS cnt, CAST(sum(churn) AS BIGINT) AS d
        |      FROM u GROUP BY t),
        |f AS (SELECT t, d, CAST(sum(cnt) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
        |      FROM l),
        |days AS (SELECT list_sort(list(struct_pack(
        |           t := t, n := n_risk, d := d, s := CAST(0 AS BIGINT)))) AS ds
        |         FROM f)
        |SELECT f.t, f.n_risk, f.d,
        |  list_reduce(
        |    list_prepend(struct_pack(t := CAST(-1 AS BIGINT), n := CAST(0 AS BIGINT),
        |                             d := CAST(0 AS BIGINT), s := CAST(1000000 AS BIGINT)),
        |                 list_filter(ds, y -> y.t <= f.t)),
        |    (acc, y) -> struct_pack(t := y.t, n := y.n, d := y.d,
        |                            s := (acc.s * (y.n - y.d)) // y.n)).s AS surv_ppm
        |FROM f, days
        |ORDER BY f.t""".stripMargin,

    "q_burst_detect" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS cnt
        |               FROM orders GROUP BY 1),
        |r1 AS (SELECT d, cnt, row_number() OVER (ORDER BY cnt, d) AS rn,
        |              count(*) OVER () AS n FROM daily),
        |med AS (SELECT CAST(sum(cnt * CASE WHEN n % 2 = 1 THEN 2 ELSE 1 END)
        |          AS BIGINT) AS med2x
        |        FROM r1 WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1),
        |b AS (SELECT d, cnt,
        |        date_diff('day', DATE '1992-01-01', d)
        |          - row_number() OVER (ORDER BY d) AS grp
        |      FROM daily, med WHERE cnt * 2 > med2x)
        |SELECT min(d) AS start_day, max(d) AS end_day,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(max(cnt) AS BIGINT) AS peak_cnt,
        |  CAST(sum(cnt) AS BIGINT) AS total_cnt
        |FROM b GROUP BY grp ORDER BY start_day""".stripMargin,

    "q_churn_labels" ->
      """WITH ev AS (SELECT user_id,
        |    epoch_us(cast(ts AS timestamp)) // 604800000000 AS wk, event_type
        |  FROM events),
        |act AS (SELECT user_id, wk,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_purchases
        |  FROM ev GROUP BY user_id, wk),
        |mx AS (SELECT min(wk) AS min_wk, max(wk) AS max_wk FROM ev),
        |w AS (SELECT unnest(range((SELECT min_wk FROM mx),
        |                          (SELECT max_wk FROM mx) + 1)) AS wk),
        |f AS (SELECT user_id, min(wk) AS first_wk FROM act GROUP BY user_id),
        |panel AS (SELECT f.user_id, w.wk FROM f JOIN w ON w.wk >= f.first_wk
        |  WHERE w.wk < (SELECT max_wk FROM mx))
        |SELECT p.user_id, p.wk,
        |  coalesce(a.n_events, 0) AS n_events,
        |  coalesce(a.n_purchases, 0) AS n_purchases,
        |  CAST(coalesce(CASE WHEN n2.n_purchases > 0 THEN 1 ELSE 0 END, 0) AS BIGINT)
        |    AS next_week_purchase
        |FROM panel p
        |LEFT JOIN act a  ON a.user_id = p.user_id AND a.wk = p.wk
        |LEFT JOIN act n2 ON n2.user_id = p.user_id AND n2.wk = p.wk + 1
        |ORDER BY p.user_id, p.wk""".stripMargin,
    // distinct users fit the sketch capacity, so merged counts are
    // exact and err is identically 0 — the oracle replays the top-3
    // from plain counts
    "q_sliding_topk" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS d,
        |  CAST(user_id AS VARCHAR) AS item FROM events),
        |sc AS (SELECT d + CAST(g.k AS INTEGER) AS t, item
        |  FROM ev CROSS JOIN generate_series(0, 6) AS g(k)),
        |cnt AS (SELECT t, item, CAST(count(*) AS BIGINT) AS cnt
        |  FROM sc GROUP BY 1, 2),
        |ranked AS (SELECT t, item, cnt, CAST(row_number() OVER (
        |    PARTITION BY t ORDER BY cnt DESC, item) AS BIGINT) AS rank
        |  FROM cnt)
        |SELECT dd.d, r.rank, r.item, r.cnt, CAST(0 AS BIGINT) AS err
        |FROM (SELECT DISTINCT d FROM ev) dd
        |JOIN ranked r ON r.t = dd.d AND r.rank <= 3
        |ORDER BY dd.d, r.rank""".stripMargin,
    // `true` asserts the merged-sketch estimate is within 5% of exact
    "q_sliding_hll" ->
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |sc AS (SELECT d + CAST(g.k AS INTEGER) AS t, user_id
        |  FROM ev CROSS JOIN generate_series(0, 6) AS g(k)),
        |cnt AS (SELECT t, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_7d
        |  FROM sc GROUP BY t)
        |SELECT dd.d, cnt.n_users_7d, true AS hll_ok
        |FROM (SELECT DISTINCT d FROM ev) dd JOIN cnt ON cnt.t = dd.d
        |ORDER BY dd.d""".stripMargin,
    "q_gap_fill" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d, ts,
        |  CAST(round(value*100) AS BIGINT) AS cents FROM events),
        |daily AS (SELECT user_id, d, cents FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, d ORDER BY ts DESC) AS rn
        |  FROM ev) WHERE rn = 1),
        |cal AS (SELECT u.user_id, dd.d
        |  FROM (SELECT DISTINCT user_id FROM ev) u
        |  CROSS JOIN (SELECT DISTINCT d FROM ev) dd)
        |SELECT user_id, d, filled_cents FROM (
        |  SELECT cal.user_id, cal.d,
        |    last_value(daily.cents IGNORE NULLS) OVER (
        |      PARTITION BY cal.user_id ORDER BY cal.d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
        |  FROM cal LEFT JOIN daily USING (user_id, d))
        |WHERE filled_cents IS NOT NULL
        |ORDER BY user_id, d""".stripMargin,
    "q_anomaly" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |st AS (SELECT d, r,
        |  count(r)  OVER w AS n,
        |  sum(r)    OVER w AS s,
        |  sum(CAST(r AS HUGEINT) * CAST(r AS HUGEINT)) OVER w AS q
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 30 PRECEDING AND 1 PRECEDING))
        |SELECT d, r AS revenue_cents,
        |  CAST(n >= 15 AND
        |    (CAST(n AS HUGEINT)*CAST(r AS HUGEINT) - CAST(s AS HUGEINT))
        |      * (CAST(n AS HUGEINT)*CAST(r AS HUGEINT) - CAST(s AS HUGEINT))
        |    > 9 * (CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*CAST(s AS HUGEINT))
        |    AS BIGINT) AS is_anomaly
        |FROM st ORDER BY d""".stripMargin,
    "q_ewma" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |contrib AS (SELECT d + CAST(g.k AS INTEGER) AS t,
        |  ($ewmaWeightsSql)[CAST(g.k AS INTEGER) + 1] AS wt, r
        |  FROM daily CROSS JOIN generate_series(0, 9) AS g(k)),
        |gathered AS (SELECT t, CAST(sum(r * wt) AS BIGINT) AS num,
        |  CAST(sum(wt) AS BIGINT) AS wsum
        |  FROM contrib GROUP BY t)
        |SELECT d, r AS revenue_cents, num // wsum AS ewma_cents
        |FROM daily JOIN gathered ON d = t
        |ORDER BY d""".stripMargin,

    // the second pass replays the same scatter-gather over the first
    // pass's integer output; Brown's identities close the frame
    "q_holt" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |c1 AS (SELECT d + CAST(g.k AS INTEGER) AS t,
        |  ($ewmaWeightsSql)[CAST(g.k AS INTEGER) + 1] AS wt, r
        |  FROM daily CROSS JOIN generate_series(0, 9) AS g(k)),
        |g1 AS (SELECT t, CAST(sum(r * wt) AS BIGINT) AS num,
        |  CAST(sum(wt) AS BIGINT) AS wsum FROM c1 GROUP BY t),
        |s1 AS (SELECT d, r, num // wsum AS s
        |  FROM daily JOIN g1 ON d = t),
        |c2 AS (SELECT d + CAST(g.k AS INTEGER) AS t,
        |  ($ewmaWeightsSql)[CAST(g.k AS INTEGER) + 1] AS wt, s
        |  FROM s1 CROSS JOIN generate_series(0, 9) AS g(k)),
        |g2 AS (SELECT t, CAST(sum(s * wt) AS BIGINT) AS num,
        |  CAST(sum(wt) AS BIGINT) AS wsum FROM c2 GROUP BY t),
        |s2 AS (SELECT d, num // wsum AS s2 FROM s1 JOIN g2 ON d = t)
        |SELECT s1.d, s1.r AS revenue_cents,
        |  CAST(2 * s1.s - s2.s2 AS BIGINT) AS level_cents,
        |  CAST(((s1.s - s2.s2) * 1000) // 4 AS BIGINT) AS trend_milli_cents,
        |  CAST(2 * s1.s - s2.s2
        |    + ((((s1.s - s2.s2) * 1000) // 4) // 1000) AS BIGINT) AS forecast_cents
        |FROM s1 JOIN s2 ON s1.d = s2.d
        |ORDER BY s1.d""".stripMargin,
    "q_seasonality" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  sum(CAST(round(o_totalprice*100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |perdow AS (SELECT
        |  CAST(((datediff('day', DATE '1970-01-05', d) % 7) + 7) % 7 AS BIGINT) AS dow,
        |  CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(cnt) AS BIGINT) AS n_orders,
        |  CAST(sum(cents) // 100000 AS BIGINT) AS rev_k
        |  FROM daily GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_days) AS BIGINT) AS t_days,
        |  CAST(sum(n_orders) AS BIGINT) AS t_orders,
        |  CAST(sum(rev_k) AS BIGINT) AS t_rev_k FROM perdow)
        |SELECT dow, n_days, n_orders,
        |  (n_orders * t_days * 1000000) // (n_days * t_orders) AS cnt_idx_ppm,
        |  (rev_k * t_days * 1000000) // (n_days * t_rev_k) AS rev_idx_ppm
        |FROM perdow CROSS JOIN tot ORDER BY dow""".stripMargin,
    "q_markov_transitions" ->
      """WITH pairs AS (SELECT event_type AS from_et,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS to_et
        |  FROM events),
        |counts AS (SELECT from_et, to_et, CAST(count(*) AS BIGINT) AS n
        |  FROM pairs WHERE to_et IS NOT NULL GROUP BY 1, 2)
        |SELECT from_et, to_et, n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_et) AS BIGINT) AS prob_ppm
        |FROM counts ORDER BY from_et, to_et""".stripMargin,
    "q_event_paths" ->
      """WITH t AS (SELECT event_type AS e1,
        |  lead(event_type, 1) OVER w AS e2,
        |  lead(event_type, 2) OVER w AS e3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
        |SELECT e1 || '>' || e2 || '>' || e3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM t WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "q_ab_compare" ->
      """WITH pu AS (SELECT user_id,
        |  max(CASE WHEN event_type = 'purchase' AND value >= 200.0
        |      THEN 1 ELSE 0 END) AS conv,
        |  user_id % 2 AS v
        |  FROM events GROUP BY user_id),
        |agg AS (SELECT
        |  CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS c_a,
        |  CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS c_b
        |  FROM pu)
        |SELECT n_a, c_a, n_b, c_b,
        |  c_a * 1000000 // n_a AS conv_a_ppm,
        |  c_b * 1000000 // n_b AS conv_b_ppm,
        |  (c_a * 1000000 // n_a) - (c_b * 1000000 // n_b) AS lift_ppm,
        |  CAST(10000 * CAST(c_a*n_b - c_b*n_a AS HUGEINT) * CAST(c_a*n_b - c_b*n_a AS HUGEINT)
        |      * CAST(n_a + n_b AS HUGEINT)
        |    > 38415 * CAST(c_a + c_b AS HUGEINT)
        |      * CAST((n_a + n_b) - (c_a + c_b) AS HUGEINT)
        |      * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT) AS BIGINT) AS significant
        |FROM agg""".stripMargin,
    "q_cms_freq" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, true AS cms_ok
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type AS et,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (SELECT user_id, tus, et, cents,
        |  max(CASE WHEN et IN ('click','view')
        |      THEN struct_pack(tus := tus, et := et) END) OVER lb AS lastt,
        |  min(CASE WHEN et IN ('click','view')
        |      THEN struct_pack(tus := tus, et := et) END) OVER lb AS firstt,
        |  sum(CASE WHEN et = 'click' THEN 1 ELSE 0 END) OVER lb AS n_click,
        |  sum(CASE WHEN et = 'view' THEN 1 ELSE 0 END) OVER lb AS n_view
        |  FROM e WINDOW lb AS (PARTITION BY user_id ORDER BY tus
        |    RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT cents, coalesce(lastt.et, 'none') AS last_et,
        |    coalesce(firstt.et, 'none') AS first_et,
        |    coalesce(n_click, 0) AS nc, coalesce(n_view, 0) AS nv
        |  FROM w WHERE et = 'purchase'),
        |c AS (SELECT cents, last_et, first_et,
        |    CASE WHEN nc + nv = 0 THEN 0 ELSE cents * nc // (nc + nv) END AS lin_click,
        |    CASE WHEN nc + nv = 0 THEN 0 ELSE cents * nv // (nc + nv) END AS lin_view
        |  FROM p),
        |t AS (SELECT unnest(['click', 'view', 'none']) AS touch_type)
        |SELECT t.touch_type,
        |  CAST(coalesce(sum(CASE WHEN c.last_et = t.touch_type THEN c.cents END), 0)
        |    AS BIGINT) AS last_touch_cents,
        |  CAST(coalesce(sum(CASE WHEN c.first_et = t.touch_type THEN c.cents END), 0)
        |    AS BIGINT) AS first_touch_cents,
        |  CAST(coalesce(sum(CASE WHEN t.touch_type = 'click' THEN c.lin_click
        |      WHEN t.touch_type = 'view' THEN c.lin_view
        |      ELSE CASE WHEN c.last_et = 'none' THEN c.cents
        |           ELSE c.cents - c.lin_click - c.lin_view END END), 0)
        |    AS BIGINT) AS linear_cents
        |FROM t CROSS JOIN c
        |GROUP BY t.touch_type ORDER BY t.touch_type""".stripMargin,
    "q_changepoint" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS r
        |  FROM orders GROUP BY 1),
        |m AS (SELECT CAST(sum(r) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
        |  FROM daily),
        |c AS (SELECT d, r,
        |    sum(r) OVER (ORDER BY d)
        |      - (row_number() OVER (ORDER BY d)) * (SELECT mu FROM m) AS cusum
        |  FROM daily)
        |SELECT d, r AS revenue_cents, CAST(cusum AS BIGINT) AS cusum_cents,
        |  CAST(CASE WHEN abs(cusum) = (SELECT max(abs(cusum)) FROM c)
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_peak
        |FROM c ORDER BY d""".stripMargin,
  )
}
