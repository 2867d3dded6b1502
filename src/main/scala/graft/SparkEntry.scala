package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnalyticsQueries, CdcQueries, CorpusQueries, CurationQueries, DiagnosticsQueries, Extended, InterchangeQueries, PipelineQueries, Relational, StreamQueries, TimeSeriesQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 appears here as a `queries` entry;
  * SQL-expressible ones also carry a DuckDB oracle in `oracleSql`.
  * Column names are aliased identically on both sides (the driver's
  * compare sorts columns by name before hashing values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    relationalQueries ++ CdcQueries.queries ++ PipelineQueries.queries ++
      Extended.queries ++ CurationQueries.queries ++ CorpusQueries.queries ++
      StreamQueries.queries ++ AnalyticsQueries.queries ++
      TimeSeriesQueries.queries ++ DiagnosticsQueries.queries ++
      InterchangeQueries.queries

  def oracleSql: Map[String, String] =
    relationalOracles ++ CdcQueries.oracles ++ PipelineQueries.oracles ++
      Extended.oracles ++ CurationQueries.oracles ++ CorpusQueries.oracles ++
      StreamQueries.oracles ++ AnalyticsQueries.oracles ++
      TimeSeriesQueries.oracles ++ DiagnosticsQueries.oracles ++
      InterchangeQueries.oracles

  /** Queries whose BUILDER runs Spark jobs at construction time —
    * "build the frame without executing" is impossible for these, so
    * a harness that times construction separately from the first
    * action must bill them at construction (Bench and external tools
    * consult this set). Three families:
    *   - streaming gates (q_stream_*): the builder drives a real
    *     Structured Streaming pipeline to completion and returns the
    *     sink as a batch frame;
    *   - iterative / snapshot kernels (k-core, PageRank fixpoints,
    *     the running-aggregate prefix scans' per-partition offset
    *     pass): each round must materialize before the next builds on
    *     it, and generation caches release once the small result is
    *     out;
    *   - landed-artifact reads (the BPE vocab collect, the shingle
    *     df-skew stat): a tiny job per construction against a
    *     DerivedTable-landed table.
    * NOT in the set: builders that run jobs only on a COLD
    * DerivedTable cache (q_cdc_* via the lines table, q_dup_clusters
    * via the landed cluster table, q_bpe_merges via the landed
    * vocab, q_store_changes/q_store_timetravel via the landed
    * two-merge store, the interchange round-trips via their landed
    * format copies): those are idempotent cache-warming, lazy once
    * landed.
    * ContractSpec asserts this set mechanically (job-group listener
    * around every builder).
    */
  val eagerQueries: Set[String] = Set(
    "q_stream_cdc_snapshot", "q_stream_cdc_avro", "q_stream_kafka_seam",
    "q_stream_late",
    "q_stream_backfill", "q_stream_multitopic", "q_stream_ivm",
    "q_stream_forget",
    // store commit+purge/merge jobs run at construction (r14/r15)
    "q_forget_docs", "q_forget_ann", "q_ivm_denorm", "q_forget_neardup",
    "q_forget_docs_mor", "q_widen_evolution", "q_rename_evolution",
    "q_forget_audit",
    "q_stream_dedup", "q_stream_agg_table", "q_stream_ann_index",
    "q_stream_ann_pq", "q_stream_neardup", "q_stream_quality_gate",
    "q_stream_session", "q_stream_window", "q_stream_ingest",
    "q_stream_sketch", "q_stream_join", "q_stream_hll",
    "q_stream_session_tws", "q_stream_rate_limit", "q_stream_decontaminate",
    "q_stream_sync_log", "q_stream_coverage", "q_stream_drift",
    "q_stream_checksum",
    "q_kcore", "q_pagerank",
    "q_pps_sample", "q_lateness_audit", "q_tokenizer_apply",
    "q_tokenizer_fertility",
    // two-pass prefix-scan (per-partition min job at construction, r9)
    "q_pareto_front",
    "q_ngram_adaptive", "q_containment_pairs",
    // hot-bucket pre-check aggregates the band keys at construction
    // (r15 verdict task 4 guard)
    "q_dedup_minhash",
    // eager-checkpoints its result to release the barrier caches
    // it pins during the build (ADVICE r10 release-path fix)
    "q_bloom_contamination",
    // DerivedTable generations land eagerly at construction
    "q_schema_evolution",
    // iterative TextRank fixpoint (per-round materialization)
    "q_textrank",
    // iterative BFS rounds (seed scalar + per-round checkpoints)
    "q_bfs_levels", "q_bfs_levels_join",
    // min-label fixpoint with a label-sum convergence agg per round
    "q_connected_components",
    // 1-row moment collect: the corr2_ppm ratio runs in unbounded
    // BigInteger on the driver (decimal-38 headroom, r12 verdict)
    "q_assortativity",
    // r17: eager-execution contract (the qPagerank pattern) — the r16
    // term-explode cache gets a release point: the ≤40-row snapshot
    // is returned and the pin released in a finally. (q_bm25 was
    // measured with the same treatment and REVERTED: its consumers
    // read the landed posting artifact, so the pin's materialization
    // barrier cost more than the re-scans it saved at sf0.1 AND 5×.)
    "q_hybrid_search",
    // streaming drive + per-arrival optimize policy (A35)
    "q_stream_auto_optimize")
  // NOT in the set: the total-rank queries (q_curriculum_order,
  // q_rfm, q_decile_lift, q_lm_buckets, …) — `row_position()` ranks
  // inside the plan, and its partition-count job runs when the query
  // executes, not when the frame is built.
  // NOT in the set: q_store_concurrent — its two-thread CAS-retry
  // build is a cold-DerivedTable landing (idempotent cache warming,
  // like the q_cdc_* lines table); once the store directory exists
  // the builder is a lazy header read, so its steady state is lazy.

  // ---------------------------------------------------------------- B block

  // package-private so ContractSpec can include this block in the
  // shadow check (Map ++ silently drops duplicate keys)
  private[graft] def relationalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg"           -> (Relational.q1Agg _),
    "q3_join_agg"      -> (Relational.q3JoinAgg _),
    "q5_multi_join"    -> (Relational.q5MultiJoin _),
    "q_semi_anti"      -> (Relational.qSemiAnti _),
    "q_window_topk"    -> (Relational.qWindowTopk _),
    "q_running_sum"    -> (Relational.qRunningSum _),
    "q_time_bucket"    -> (Relational.qTimeBucket _),
    "q_rollup"         -> (Relational.qRollup _),
    "q_distinct_exact" -> (Relational.qDistinctExact _),
    "q_asof_join"      -> (Relational.qAsofJoin _),
    "q_asof_custom"    -> (Relational.qAsofCustom _),
    "q_range_join"     -> (Relational.qRangeJoin _),
    "q_outer_join"     -> (Relational.qOuterJoin _),
    "q_asof_forward"   -> (Relational.qAsofForward _),
    "q_asof_nearest"   -> (Relational.qAsofNearest _),
    "q_skew_salted"    -> (Relational.qSkewSalted _),
    "q_big_orders"     -> (Relational.qBigOrders _),
    "q_small_qty"      -> (Relational.qSmallQtyRevenue _),
    "q_min_cost"       -> (Relational.qMinCost _),
    "q_solo_returns"   -> (Relational.qSoloReturns _),
    "q_sessionize"     -> (Relational.qSessionize _),
    "q_session_window" -> (Relational.qSessionWindow _),
    "q_interval_merge" -> (Relational.qIntervalMerge _),
    "q_revenue_forecast"  -> (Relational.qRevenueForecast _),
    "q_volume_shipping"   -> (Relational.qVolumeShipping _),
    "q_market_share"      -> (Relational.qMarketShare _),
    "q_product_profit"    -> (Relational.qProductProfit _),
    "q_important_stock"   -> (Relational.qImportantStock _),
    "q_dominant_suppliers" -> (Relational.qDominantSuppliers _),
    "q_custdist"       -> (Relational.qCustdist _),
    "q_supplier_variety" -> (Relational.qSupplierVariety _),
    "q_idle_rich"      -> (Relational.qIdleRich _),
    "q_priority_count" -> (Relational.qPriorityCount _),
    "q_shipmode_priority" -> (Relational.qShipmodePriority _),
    "q_promo_share"    -> (Relational.qPromoShare _),
    "q_disjunctive_join" -> (Relational.qDisjunctiveJoin _),
    "q_top_supplier"   -> (Relational.qTopSupplier _),
    "q_returned_customers" -> (Relational.qReturnedCustomers _),
  )

  private def relationalOracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(cast(round(l_quantity*100) as bigint))/100.0 AS sum_qty,
        | sum(cast(round(l_extendedprice*100) as bigint))/100.0 AS sum_base_price,
        | sum(cast(round(l_extendedprice*100) as bigint) * (100 - cast(round(l_discount*100) as bigint)))/10000.0 AS sum_disc_price,
        | sum(cast(round(l_extendedprice*100) as bigint) * (100 - cast(round(l_discount*100) as bigint)) * (100 + cast(round(l_tax*100) as bigint)))/1000000.0 AS sum_charge,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join_agg" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | sum(cast(round(l_extendedprice*100) as bigint) * (100 - cast(round(l_discount*100) as bigint)))/10000.0 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_multi_join" ->
      """SELECT n_name,
        | sum(cast(round(l_extendedprice*100) as bigint) * (100 - cast(round(l_discount*100) as bigint)))/10000.0 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_custkey, 'has_urgent' AS tag FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |UNION ALL
        |SELECT c_custkey, 'no_urgent' AS tag FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey, tag""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,

    "q_running_sum" ->
      """SELECT event_id, user_id,
        | sum(cast(round(value*100) as bigint)) OVER (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)/100.0 AS running_value
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_time_bucket" ->
      """SELECT strftime(date_trunc('hour', cast(ts as timestamp)), '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
        | count(*) AS n, sum(cast(round(value*100) as bigint))/100.0 AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q_rollup" ->
      """SELECT coalesce(r_name, '(all)') AS region, coalesce(n_name, '(all)') AS nation,
        | count(*) AS n_cust, sum(cast(round(c_acctbal*100) as bigint))/100.0 AS sum_bal
        |FROM customer, nation, region
        |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin,

    "q_distinct_exact" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id,
        | (SELECT arg_max(c.event_id, strftime(cast(c.ts as timestamp), '%Y%m%d%H%M%S%f')
        |                             || lpad(cast(c.event_id as varchar), 12, '0')) FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND cast(c.ts as timestamp) <= cast(p.ts as timestamp)) AS click_id
        |FROM events p
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q_asof_custom" ->
      """SELECT p.event_id, p.user_id,
        | (SELECT arg_max(c.event_id, strftime(cast(c.ts as timestamp), '%Y%m%d%H%M%S%f')
        |                             || lpad(cast(c.event_id as varchar), 12, '0')) FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND cast(c.ts as timestamp) <= cast(p.ts as timestamp)) AS click_id
        |FROM events p
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q_asof_forward" ->
      """SELECT p.event_id, p.user_id,
        | (SELECT arg_min(c.event_id, strftime(cast(c.ts as timestamp), '%Y%m%d%H%M%S%f')
        |                             || lpad(cast(c.event_id as varchar), 12, '0')) FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click' AND cast(c.ts as timestamp) >= cast(p.ts as timestamp)) AS click_id
        |FROM events p
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    // nearest in either direction: arg_min over a composite key —
    // abs µs distance, then direction (earlier wins ties), then the
    // per-direction id rule (backward: greatest id, encoded inverted;
    // forward: smallest id)
    "q_asof_nearest" ->
      """SELECT p.event_id, p.user_id,
        | (SELECT arg_min(c.event_id,
        |    lpad(cast(abs(epoch_us(cast(c.ts as timestamp)) - epoch_us(cast(p.ts as timestamp))) as varchar), 16, '0')
        |    || CASE WHEN cast(c.ts as timestamp) <= cast(p.ts as timestamp) THEN '0' ELSE '1' END
        |    || CASE WHEN cast(c.ts as timestamp) <= cast(p.ts as timestamp)
        |         THEN lpad(cast(999999999999 - c.event_id as varchar), 12, '0')
        |         ELSE lpad(cast(c.event_id as varchar), 12, '0') END)
        |  FROM events c WHERE c.user_id = p.user_id AND c.event_type = 'click') AS click_id
        |FROM events p
        |WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""".stripMargin,

    "q_outer_join" ->
      """SELECT o_orderkey, count(l_orderkey) AS n_returned
        |FROM orders LEFT JOIN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R') r
        |  ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    "q_range_join" ->
      """SELECT o_orderkey, count(*) AS n_within_30d
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <  o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_skew_salted" ->
      """SELECT user_id, count(*) AS n_events,
        | sum(cast(round(value*100) as bigint))/100.0 AS sum_value
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | sum(cast(round(l_quantity*100) as bigint))/100.0 AS total_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(cast(round(l_quantity*100) as bigint)) > 25000)
        | AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_small_qty" ->
      """WITH th AS (SELECT l_partkey,
        |  0.2 * (CAST(sum(cast(round(l_quantity*100) as bigint)) AS DOUBLE)
        |         / count(*)) AS t100
        | FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        | sum(cast(round(l_extendedprice*100) as bigint))/100.0 AS total_price
        |FROM lineitem JOIN th USING (l_partkey)
        |WHERE CAST(round(l_quantity*100) AS BIGINT) < t100""".stripMargin,

    // correlated scalar-subquery form on purpose: the oracle checks
    // the decorrelated rewrite, not a replay of it
    "q_min_cost" ->
      """SELECT p_partkey, p_brand, s_name, l_orderkey,
        | cast(round(l_extendedprice*100) as bigint)/100.0 AS min_price
        |FROM lineitem l1
        | JOIN part ON p_partkey = l1.l_partkey
        | JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE p_brand = 'Brand#1'
        |  AND cast(round(l_extendedprice*100) as bigint) =
        |      (SELECT min(cast(round(l2.l_extendedprice*100) as bigint))
        |       FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        |ORDER BY p_partkey, s_name, l_orderkey""".stripMargin,

    // the EXISTS / NOT EXISTS form on purpose (see q_min_cost)
    "q_solo_returns" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1
        |WHERE s_suppkey = l1.l_suppkey AND l1.l_returnflag = 'R'
        | AND EXISTS (SELECT 1 FROM lineitem l2
        |   WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        | AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |   WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |     AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,

    "q_sessionize" ->
      """SELECT user_id, session_id, count(*) AS n_events,
        | strftime(min(tsx), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(tsx), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM (
        | SELECT user_id, event_id, tsx,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsx, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM (
        |  SELECT user_id, event_id, cast(ts as timestamp) AS tsx,
        |   CASE WHEN lag(epoch_us(cast(ts as timestamp))) OVER
        |          (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) IS NULL
        |     OR epoch_us(cast(ts as timestamp)) - lag(epoch_us(cast(ts as timestamp))) OVER
        |          (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) > 3600000000
        |   THEN 1 ELSE 0 END AS new_sess
        |  FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    // native session_window semantics: >= gap starts a new session,
    // end = last event + gap
    "q_session_window" ->
      """SELECT user_id,
        | strftime(min(tsx), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(tsx) + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
        | count(*) AS n_events
        |FROM (
        | SELECT user_id, event_id, tsx,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsx, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM (
        |  SELECT user_id, event_id, cast(ts as timestamp) AS tsx,
        |   CASE WHEN lag(epoch_us(cast(ts as timestamp))) OVER
        |          (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) IS NULL
        |     OR epoch_us(cast(ts as timestamp)) - lag(epoch_us(cast(ts as timestamp))) OVER
        |          (PARTITION BY user_id ORDER BY cast(ts as timestamp), event_id) >= 3600000000
        |   THEN 1 ELSE 0 END AS new_sess
        |  FROM events))
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,

    // TPC-H Q6 shape: pure scan-filter-aggregate, exact 10^-4 dollars
    "q_revenue_forecast" ->
      """SELECT CAST(sum(cast(round(l_extendedprice*100) as bigint)
        |  * cast(round(l_discount*100) as bigint)) AS BIGINT) AS rev4
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND cast(round(l_discount*100) as bigint) BETWEEN 5 AND 7
        |  AND l_quantity < 24""".stripMargin,

    // TPC-H Q7 shape: symmetric nation-pair volume by ship year
    "q_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        | year(l_shipdate) AS l_year,
        | CAST(sum(cast(round(l_extendedprice*100) as bigint)
        |   * (100 - cast(round(l_discount*100) as bigint))) AS BIGINT) AS rev4
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |    OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    // TPC-H Q8 shape: exact scaled-long numerator/denominator, one
    // final IEEE division for the share
    "q_market_share" ->
      """SELECT year(o_orderdate) AS o_year,
        | CAST(sum(CASE WHEN n1.n_name = 'NATION_1' THEN d4 ELSE 0 END) AS BIGINT) AS num4,
        | CAST(sum(d4) AS BIGINT) AS den4,
        | CAST(sum(CASE WHEN n1.n_name = 'NATION_1' THEN d4 ELSE 0 END) AS DOUBLE)
        |   / CAST(sum(d4) AS BIGINT) AS mkt_share
        |FROM (SELECT l_orderkey, l_suppkey,
        |        cast(round(l_extendedprice*100) as bigint)
        |          * (100 - cast(round(l_discount*100) as bigint)) AS d4
        |      FROM lineitem) l
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | JOIN region ON n2.n_regionkey = r_regionkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    // TPC-H Q9 shape: profit with p_retailprice as the cost proxy
    // (this schema carries no partsupp table)
    "q_product_profit" ->
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
        | CAST(sum(cast(round(l_extendedprice*100) as bigint)
        |    * (100 - cast(round(l_discount*100) as bigint))
        |  - cast(round(p_retailprice*100) as bigint) * 100
        |    * cast(round(l_quantity) as bigint)) AS BIGINT) AS profit4
        |FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE 'red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,

    // TPC-H Q11 shape: integer threshold (value*500 > total) against
    // the global scalar
    "q_important_stock" ->
      """WITH v AS (
        | SELECT l_partkey, sum(cast(round(l_extendedprice*100) as bigint)) AS value2
        | FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        | WHERE n_name = 'NATION_3' GROUP BY 1),
        |tot AS (SELECT sum(value2) AS t2 FROM v)
        |SELECT l_partkey, CAST(value2 AS BIGINT) AS value2
        |FROM v, tot WHERE value2 * 500 > t2
        |ORDER BY value2 DESC, l_partkey""".stripMargin,

    // TPC-H Q20 shape: 2*qty > total is the integer half-threshold
    "q_dominant_suppliers" ->
      """WITH q AS (
        | SELECT l_partkey, l_suppkey, sum(cast(round(l_quantity) as bigint)) AS qty
        | FROM lineitem JOIN part ON p_partkey = l_partkey
        | WHERE p_name LIKE 'small%'
        |   AND l_shipdate >= TIMESTAMP '1996-01-01'
        |   AND l_shipdate < TIMESTAMP '1997-01-01'
        | GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, sum(qty) AS tq FROM q GROUP BY 1)
        |SELECT DISTINCT s_name
        |FROM q JOIN tot USING (l_partkey)
        | JOIN supplier ON s_suppkey = l_suppkey
        |WHERE 2*qty > tq
        |ORDER BY s_name""".stripMargin,

    // gaps-and-islands: interval [s, s+300s) per event, running-max
    // coalescing; islands merge on overlap, not gap-to-previous
    "q_interval_merge" ->
      """WITH e AS (
        | SELECT user_id, event_id, epoch_us(cast(ts as timestamp)) AS s,
        |        epoch_us(cast(ts as timestamp)) + 300000000 AS en
        | FROM events),
        |m AS (
        | SELECT user_id, event_id, s, en,
        |  max(en) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        | FROM e),
        |g AS (
        | SELECT user_id, s, en,
        |  sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        | FROM m),
        |isl AS (SELECT user_id, isl, min(s) AS st, max(en) AS e2
        |        FROM g GROUP BY user_id, isl)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(e2 - st) AS BIGINT) AS covered_us
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the OUTER-JOIN-with-ON-filter form on purpose: the Spark side
    // runs the decorrelated pre-aggregated rewrite
    "q_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders
        |   ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // the NOT IN form on purpose (Spark runs the broadcast anti-join)
    "q_supplier_variety" ->
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,

    // correlated scalar-AVG + NOT EXISTS form on purpose
    "q_idle_rich" ->
      """SELECT c_mktsegment, count(*) AS numcust,
        | sum(cast(round(c_acctbal*100) as bigint))/100.0 AS totacctbal
        |FROM customer c
        |WHERE cast(cast(round(c_acctbal*100) as bigint) as double) >
        |  (SELECT cast(sum(cast(round(c_acctbal*100) as bigint)) as double) / count(*)
        |   FROM customer WHERE cast(round(c_acctbal*100) as bigint) > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // the EXISTS form on purpose (Spark runs the left-semi join)
    "q_priority_count" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_shipmode_priority" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |     THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |     THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM orders, lineitem
        |WHERE o_orderkey = l_orderkey AND l_returnflag = 'R'
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,

    "q_promo_share" ->
      """SELECT
        | sum(CASE WHEN p_type = 'PROMO' THEN d4 ELSE 0 END)/10000.0 AS promo_rev,
        | sum(d4)/10000.0 AS total_rev,
        | 100.0 * sum(CASE WHEN p_type = 'PROMO' THEN d4 ELSE 0 END)
        |   / sum(d4) AS promo_share
        |FROM (SELECT l_partkey,
        |  cast(round(l_extendedprice*100) as bigint)
        |    * (100 - cast(round(l_discount*100) as bigint)) AS d4
        | FROM lineitem) l JOIN part ON p_partkey = l_partkey""".stripMargin,

    "q_disjunctive_join" ->
      """SELECT
        | sum(cast(round(l_extendedprice*100) as bigint)
        |   * (100 - cast(round(l_discount*100) as bigint)))/10000.0 AS revenue,
        | count(*) AS n_lines
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |  (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20) OR
        |  (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30) OR
        |  (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40))""".stripMargin,

    // correlated "= (SELECT max(...))" form on purpose — the Spark
    // side runs the one-row broadcast join-back rewrite
    "q_top_supplier" ->
      """WITH rev AS (
        | SELECT l_suppkey,
        |  sum(cast(round(l_extendedprice*100) as bigint)
        |    * (100 - cast(round(l_discount*100) as bigint))) AS rev4
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |   AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rev4/10000.0 AS total_rev
        |FROM supplier JOIN rev ON s_suppkey = l_suppkey
        |WHERE rev4 = (SELECT max(rev4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q_returned_customers" ->
      """SELECT c_custkey, c_name, n_name,
        | cast(round(c_acctbal*100) as bigint)/100.0 AS c_acctbal,
        | sum(cast(round(l_extendedprice*100) as bigint)
        |   * (100 - cast(round(l_discount*100) as bigint)))/10000.0 AS revenue
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, n_name, c_acctbal
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
  )
}
