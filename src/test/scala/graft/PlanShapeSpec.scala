package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcOps, ChangeModel}
import graft.operators.Relational
import graft.sources.Tables
import graft.streaming.KafkaCdcSource

/** Scale contracts as assertions: the physical plans SURVEY.md §5
  * promises (pushdown, pruning, broadcasts, no accidental cartesian
  * products) are pinned here so a regression shows up as a red test,
  * not as a 100 TB incident.
  */
class PlanShapeSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "plan-spec")

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("global windows: every empty-partition Window sits on an allowlisted bounded frame") {
    // A Window with no partitionSpec runs on ONE task — a scale-killer
    // if the frame is fact-sized. Every current occurrence is over a
    // provably bounded frame (audited r6): day-calendar aggregates
    // (q_anomaly/q_changepoint/q_robust_anomaly order by day; the
    // robust ranks order a day-count frame) and q_revenue_share's
    // 25-row nation aggregate. The pareto front's distinct-price
    // frame — the one data-bounded frame — moved to the two-pass
    // prefix-scan template in r9 and is window-free now. A NEW
    // global window failing this list
    // is exactly the regression this test exists to catch — either
    // rewrite it as a sort + `row_position()` total rank or prove its
    // frame bounded and allowlist it here with the proof.
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val allowed: Map[String, Set[String]] = Map(
      "q_anomaly"        -> Set("d"),           // day calendar
      "q_changepoint"    -> Set("d"),           // day calendar
      "q_robust_anomaly" -> Set("", "dev2x,d", "r,d"), // day-count frames
      "q_burst_detect"   -> Set("", "cnt,d", "d"), // day-count frames (F15)
      "q_survival"       -> Set("t"),           // <=31-row lifetime frame (F16)
      "q_acf"            -> Set("d"),           // day calendar (F17)
      "q_stl_decompose"  -> Set("d"),           // day calendar (F20)
      // global-ECDF cumsum over the DISTINCT doc-length grid —
      // bounded by the value domain (~hundreds of lengths), never
      // corpus size (G9)
      "q_ks_drift"       -> Set("n_chars"),
      // lag over the rank-octave frame: octave = floor(log2(rank))
      // and rank < 2^63, so <= 64 octave rows (C75)
      "q_zipf_octaves"   -> Set("octave"),
      "q_revenue_share"  -> Set(""))            // 25-row nation frame
    val found = scala.collection.mutable.Map
      .empty[String, Set[String]].withDefaultValue(Set.empty)
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, b) =>
      // eager builders run real pipelines at construction; their
      // results are sink reads / local snapshots with no windows —
      // excluded to keep this test plan-only and cheap
      if (!SparkEntry.eagerQueries(name)) {
        b(spark, sf).queryExecution.optimizedPlan.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            val sig = w.orderSpec.map(_.sql.split(" ").head).mkString(",")
            found(name) = found(name) + sig
          case _ =>
        }
      }
    }
    val illegal = found.toSeq.flatMap { case (n, sigs) =>
      (sigs -- allowed.getOrElse(n, Set.empty)).map(s => s"$n[$s]")
    }.sorted
    assert(illegal.isEmpty,
      s"unallowlisted single-partition windows: ${illegal.mkString(", ")}")
    val stale = allowed.toSeq.flatMap { case (n, sigs) =>
      (sigs -- found(n)).map(s => s"$n[$s]")
    }.sorted
    assert(stale.isEmpty, s"stale allowlist entries (clean up): ${stale.mkString(", ")}")
  }

  test("every nested-loop-shaped join has a provably bounded side") {
    // The 170 committed plans carry 138 BroadcastNestedLoopJoins and
    // every one is a <=1-row (or bounded-agg) scalar broadcast — the
    // r12 judge audited that by hand; this pins it mechanically so a
    // future change can't silently introduce a real cartesian. A
    // join PLANS nested-loop when its condition has no equi-conjunct
    // (or no condition at all); such a join is a 100 TB incident
    // unless one input is bounded: a global aggregate (1 row), a
    // limit, a literal local relation, or a composition of those.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, EqualNullSafe}
    def bounded(p: LogicalPlan): Boolean = p match {
      case a: Aggregate  => a.groupingExpressions.isEmpty // global agg = 1 row
      case _: GlobalLimit => true
      case l: LocalRelation => l.data.size <= 1000
      case _: OneRowRelation => true
      case r: Range => r.numElements.isValidInt && r.numElements.toInt <= 1000
      case j: Join => bounded(j.left) && bounded(j.right)
      case u: UnaryNode => bounded(u.child) // cardinality-preserving wrap
      case _ => false
    }
    def hasEquiConjunct(j: Join): Boolean = j.condition.exists(c =>
      c.collect {
        case EqualTo(l, r)
          if l.references.subsetOf(j.left.outputSet) &&
             r.references.subsetOf(j.right.outputSet) => true
        case EqualTo(l, r)
          if r.references.subsetOf(j.left.outputSet) &&
             l.references.subsetOf(j.right.outputSet) => true
        case _: EqualNullSafe => true
      }.nonEmpty)
    // NLJ joins whose bounded side the predicate above CANNOT prove
    // but a human audit has: each entry names the bound. Adding a
    // query here requires writing its proof; a stale entry fails.
    val allowed: Map[String, String] = Map(
      "q_ann_eval"      -> "landed truth/centroid frames: k<=16 lists, q<=20",
      "q_ann_ivf"       -> "k-means centroid frame: k<=16 rows, broadcast",
      "q_ann_pq"        -> "PQ codebook frame: m*256 rows, broadcast ADC",
      "q_ann_ivfpq"     -> "centroids + codebooks: k<=16 and m*256 rows",
      "q_dedup_embedding" -> ("DELIBERATE all-pairs exact-recall eval twin " +
        "(judge-accepted); production path is the LSH sign-bucket join"),
      "q_embedding_outliers" -> "centroid frame: k<=16 rows, broadcast",
      "q_semantic_dedup" -> "IVF centroid frame: k<=16 rows, broadcast",
      "q_gap_fill"      -> ("day-calendar grid: sequence() over one agg row " +
        "per event_type (<=5 types x bounded days)"),
      "q_ks_drift"      -> "per-source counts: <=20 sources (domain-bounded)",
      "q_rbo_sources"   -> ("distinct-source pair grid: <=20 sources, " +
        "<=190 pairs (domain-bounded)"),
      "q_chi2_contingency" -> ("margin cross product: <=20 sources x <=5 " +
        "langs (domain-bounded contingency grid)"),
      "q_psi_drift" -> ("source x n_chars-bucket grid: <=20 sources x " +
        "value-domain buckets (domain-bounded)"),
      "q_t_closeness" -> ("QI-group x sensitive-band grid: bands = " +
        "acctbal cents div 100000 over [-999.99, 9999.99] (<=12 rows, " +
        "value-domain-bounded), broadcast"))
    val found = scala.collection.mutable.Set.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, b) =>
      if (!SparkEntry.eagerQueries(name)) {
        b(spark, sf).queryExecution.optimizedPlan.foreach {
          case j: Join if !hasEquiConjunct(j) =>
            if (!bounded(j.left) && !bounded(j.right)) found += name
          case _ =>
        }
      }
    }
    val offenders = (found -- allowed.keySet).toSeq.sorted
    assert(offenders.isEmpty,
      "nested-loop joins with NO bounded side (unbounded cartesian " +
        s"at scale) and no audited allowlist proof: ${offenders.mkString(", ")}")
    val stale = (allowed.keySet -- found --
      SparkEntry.eagerQueries).toSeq.sorted
    assert(stale.isEmpty,
      s"stale NLJ allowlist entries (clean up): ${stale.mkString(", ")}")
  }

  test("lateness audit: prefix scan runs over ONE materialized partitioning") {
    // qLatenessAudit's two phases (per-partition max, offset-seeded
    // scan) must see the SAME partitioning. Since round 8 that holds
    // by construction — both phases are jobs over one frozen RDD
    // lineage (.rdd plans the range exchange once; map-output reuse
    // serves both jobs), so the final plan must contain NO range
    // exchange left for a planner to (mis)reuse: the result reads the
    // pre-scanned RDD directly. This pin replaced the round-7
    // ReuseExchange tripwire, which fired (6 distinct range exchanges
    // where the two-branch form needed planner dedup to stay correct).
    val df = graft.operators.DiagnosticsQueries.qLatenessAudit(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString.toLowerCase
    // the only permissible range exchange is the final 5-row bucket
    // sort; any range partitioning on the event-order key means the
    // scan left the frozen RDD lineage
    assert(!p.contains("rangepartitioning(user_id"),
      s"lateness-audit result plan re-partitions the events by range — the " +
        s"prefix scan is no longer over one materialized partitioning:\n${p.take(2000)}")
    assert(p.contains("scan[obj") || p.contains("existingrdd"),
      s"lateness-audit result does not read the pre-scanned RDD:\n${p.take(2000)}")
  }

  test("q1: shipdate filter is pushed to the parquet scan, schema pruned") {
    val p = plan(Relational.q1Agg(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), p)
    // only the 7 needed columns are read, not all 11
    assert(!p.contains("l_orderkey"), "pruned column still in scan:\n" + p)
  }

  test("q3/q5: dimension sides broadcast — fact table never shuffles for the join") {
    val p3 = plan(Relational.q3JoinAgg(spark, sf))
    assert(p3.contains("BroadcastHashJoin"), p3)
    assert(p3.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"), p3)
    val p5 = plan(Relational.q5MultiJoin(spark, sf))
    assert(p5.contains("BroadcastHashJoin"), p5)
    assert(!p5.contains("CartesianProduct"), p5)
  }

  test("as-of join compiles to one shuffle (window), not a range self-join") {
    val p = plan(Relational.qAsofJoin(spark, sf))
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("nearest as-of: both direction windows share ONE user_id exchange") {
    val p = plan(Relational.qAsofNearest(spark, sf))
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 user_id exchange, got $exchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cdc snapshot: single hash exchange on the upsert key") {
    val parsed = CdcOps.parse(ChangeModel.changeLines(Tables(spark, sf).events))
    val p = plan(CdcOps.snapshot(parsed, col("user_id")))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$p")
  }

  test("pack_sequences: groupBy reuses the shard window partitioning (one hash exchange)") {
    val p = plan(graft.operators.CurationQueries.qPackSequences(spark, sf))
    // the (shard, bin) aggregation must NOT re-shuffle: bin is derived
    // within shard, so the window's hash partitioning covers it
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange (shard window), got $exchanges:\n$p")
  }

  test("cdc compaction: window exchanges feed the merge join directly (no extra shuffle)") {
    val parsed = CdcOps.parse(ChangeModel.changeLines(Tables(spark, sf).events))
    import org.apache.spark.sql.functions.pmod
    val base = CdcOps.snapshot(parsed.filter(pmod(col("id"), lit(3)) =!= 0), col("user_id"))
    val p = plan(CdcOps.compactSnapshot(base, parsed.filter(pmod(col("id"), lit(3)) === 0), "user_id"))
    // one hash exchange per side's snapshot window; the full-outer
    // sort-merge join must reuse that partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 hash exchanges (one per side), got $exchanges:\n$p")
    assert(p.contains("FullOuter"), p)
  }

  test("cdc compaction over a bucketed base shuffles ONLY the delta side") {
    // CdcOps.compactSnapshot's 100 TB contract: when the base snapshot
    // is stored bucketed on the merge key, folding a delta costs one
    // delta-sized exchange — the (huge) base is never re-shuffled.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8") // match bucket count
    try {
      val parsed = CdcOps.parse(ChangeModel.changeLines(Tables(spark, sf).events))
      val base = CdcOps.snapshot(parsed.filter(pmod(col("id"), lit(3)) =!= 0), col("user_id"))
      base.write.bucketBy(8, "user_id").sortBy("user_id")
        .mode("overwrite").saveAsTable("cdc_base_b")
      val delta = parsed.filter(pmod(col("id"), lit(3)) === 0)
      val merged = CdcOps.compactSnapshot(spark.table("cdc_base_b"), delta, "user_id")
      val p = plan(merged)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"expected 1 exchange (delta only), got $exchanges:\n$p")
      assert(!p.contains("Exchange hashpartitioning(b_user_id"),
        "base side of the merge must not shuffle:\n" + p)
      assert(p.contains("FullOuter"), p)
      // and the result is still the correct full-log snapshot
      val expected = CdcOps.snapshot(parsed, col("user_id"))
      assert(merged.exceptAll(expected).count() == 0 &&
        expected.exceptAll(merged).count() == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS cdc_base_b")
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("store CDC merge: ONE range exchange on the key over base ∪ delta, no join, no staging") {
    // the copy-on-write merge folds inside the range exchange that
    // clusters its output files: the written plan shuffles base ∪ delta
    // once, with no hash exchange for a join and no cached fold
    val store = new graft.store.SnapshotStore(spark,
      tempDir("graft-plan").toString, "user_id")
    val parsed = CdcOps.parse(ChangeModel.changeLines(Tables(spark, sf).events))
    store.merge(parsed.filter(pmod(col("id"), lit(3)) =!= 0))
    val (_, rec) = SparkEvents.record(spark)(
      store.merge(parsed.filter(pmod(col("id"), lit(3)) === 0)))
    val writes = rec.plans.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
    assert(writes.size == 1, s"expected one data-file write, got ${writes.size}")
    // AQE prints the final plan, then the initial one: pin the final
    val p = writes.head.split("== Initial Plan ==").head
    val ranges = "Exchange rangepartitioning\\(user_id".r.findAllIn(p).length
    assert(ranges == 1, s"expected 1 range exchange on the key, got $ranges:\n$p")
    assert("Exchange ".r.findAllIn(p).length == 1, s"the fold must add no exchange:\n$p")
    assert(!p.contains("hashpartitioning(b_user_id") && !p.contains("FullOuter"), p)
    assert(!p.contains("InMemoryRelation") && !p.contains("InMemoryTableScan"),
      s"the fold must not be staged:\n$p")
    assert(p.contains("Union") && p.contains("Window"), p)
  }

  test("TPC-H shapes: anti/semi joins broadcast, custdist pre-aggregates before the outer join") {
    // Q16: NOT IN decorrelates to a BROADCAST anti-join (excluded set
    // is tiny); no correlated per-row probe survives to the plan
    val p16 = plan(Relational.qSupplierVariety(spark, sf))
    assert(p16.contains("BroadcastHashJoin") && p16.contains("LeftAnti"), p16)
    assert(!p16.contains("CartesianProduct") && !p16.contains("BroadcastNestedLoopJoin"), p16)
    // Q22: the scalar-AVG threshold is a one-row broadcast, the NOT
    // EXISTS a left anti — never a nested-loop over customers
    val p22 = plan(Relational.qIdleRich(spark, sf))
    assert(p22.contains("LeftAnti"), p22)
    assert(!p22.contains("CartesianProduct"), p22)
    // Q4: EXISTS is a semi join (dedup happens inside the join, no
    // distinct aggregate materializes the returned-order set)
    val p4 = plan(Relational.qPriorityCount(spark, sf))
    assert(p4.contains("LeftSemi"), p4)
    // Q13: orders collapse to per-customer counts BEFORE the outer
    // join — the join reads an aggregate, not the raw fact table
    val q13 = Relational.qCustdist(spark, sf)
    val lp = q13.queryExecution.optimizedPlan.toString
    val joinIdx = lp.indexOf("Join LeftOuter")
    val aggBelowJoin = lp.indexOf("Aggregate", joinIdx)
    assert(joinIdx >= 0 && aggBelowJoin > joinIdx,
      s"orders must pre-aggregate below the outer join:\n$lp")
  }

  test("disjunctive join: single-table disjuncts push into the scans") {
    val p = plan(Relational.qDisjunctiveJoin(spark, sf))
    // the part scan receives the brand/size OR; the lineitem scan the
    // quantity envelope — neither side scans unfiltered
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), Or("), p)
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") ||
      p.contains("Or(And(GreaterThanOrEqual(l_quantity"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top supplier: global max is a one-row broadcast over the CACHED revenue frame") {
    val df = Relational.qTopSupplier(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    // both consumers (global max + join-back) read the pinned
    // per-supplier aggregate — the fact table materializes the cache
    // once, it never scans twice (AQE exchange reuse can't unify the
    // lineages here; the cache is the explicit barrier). FileScan
    // lines inside the InMemoryRelation description are the cache's
    // stored BUILD plan, not extra executions.
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2, p)
  }

  test("seg_boilerplate: posting rows shuffle 8-byte hashes, not segment strings") {
    val p = plan(graft.operators.CorpusQueries.qSegBoilerplate(spark, sf))
    // the df-count exchange and join-back key on the xxhash64 value;
    // no exchange carries the segment string itself
    val exchanges = "Exchange hashpartitioning\\(([a-z_#0-9L]+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(exchanges.nonEmpty, p)
    assert(!exchanges.exists(_.startsWith("seg")),
      s"segment strings must not be a shuffle key: $exchanges\n$p")
  }

  test("custom expressions stay inside whole-stage codegen") {
    import graft.functions.{dot_double, rolling_hash64}
    val emb = Tables(spark, sf).embeddings
    val p = plan(emb.select(dot_double(col("embedding"), col("embedding")).as("d")))
    assert(p.contains("*(1) Project"), p)
    val docs = Tables(spark, sf).documents
    val p2 = plan(docs.select(rolling_hash64(col("text")).as("h")))
    assert(p2.contains("*(1) Project"), p2)
  }

  test("bloom prefilter probes inside codegen; blob side broadcasts") {
    import graft.functions.{bloom_agg, bloom_might_contain, rolling_hash64}
    val docs = Tables(spark, sf).documents
    val blob = docs.filter(col("source") === "src0")
      .agg(bloom_agg(rolling_hash64(col("text")), numBits = 1 << 12).as("bf"))
    val probed = docs.crossJoin(org.apache.spark.sql.functions.broadcast(blob))
      .filter(bloom_might_contain(col("bf"), rolling_hash64(col("text"))))
      .select(col("doc_id"))
    // the blob behaves: members always probe true (fpp at this load
    // is ~1e-8, so non-member hits are effectively impossible) —
    // collect() (not count(): that builds a separate execution)
    // also finalizes THIS DataFrame's adaptive plan
    assert(probed.collect().length ==
      docs.filter(col("source") === "src0").count())
    // the corpus side must flow
    // through a single broadcast join (blob side broadcast, corpus
    // side never shuffles) inside a codegen'd stage — the 100 TB
    // prefilter is a map-only pass
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert("\\*\\(\\d+\\)".r.findFirstIn(p).isDefined, p)
    // the CONTRACT query must keep the probe BELOW the confirm
    // semi-join (PushDownLeftSemiAntiJoin would sink the semi under
    // the probe; the cache barrier pins prefilter-then-confirm)
    try {
      // inspect the PRE-checkpoint frames: the contract query now
      // eager-checkpoints its result to release the barrier caches
      // (ADVICE r10), so its returned plan is a checkpoint scan
      val (q, _, _) =
        graft.operators.CorpusQueries.bloomContaminationFrames(spark, sf)
      val cp = q.queryExecution.optimizedPlan.toString
      val semiAt = cp.indexOf("LeftSemi")
      val memAt = cp.indexOf("InMemoryRelation")
      assert(semiAt >= 0 && memAt > semiAt,
        s"semi-join must consume the cached prefilter:\n$cp")
    } finally spark.catalog.clearCache()
  }

  test("dead-letter quarantine: corrupt lines are kept, valid lines parse") {
    import spark.implicits._
    val good = ChangeModel.changeLines(Tables(spark, sf).events).select("line").limit(10)
    val bad = Seq("{not json at all", """{"table":null,"op_type":"U"}""", "")
      .toDF("line")
    val out = CdcOps.parseWithQuarantine(good.unionByName(bad))
    assert(out.filter(col("is_valid")).count() == 10)
    val quarantined = out.filter(!col("is_valid"))
    assert(quarantined.count() == 3)
    // raw lines survive for replay
    assert(quarantined.select("line").as[String].collect().contains("{not json at all"))
  }

  test("bucketed tables co-locate the fact-fact join: zero exchanges") {
    // (warehouse dir is a static conf; tables land in ./spark-warehouse,
    // dropped below and gitignored)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val t = Tables(spark, sf)
      t.orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      t.lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val p = plan(joined)
      // the join itself needs no shuffle: both sides pre-bucketed on the key
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("gate queries: bucketed join shuffles neither side; partitioned scan prunes") {
    // q_bucketed_join's MERGE hint must ride the bucket layout (no
    // exchange on either join key), and q_partitioned_scan's date
    // filter must reach the scan as PartitionFilters — otherwise the
    // gates still pass on values but the layouts under test are dead.
    val pb = plan(graft.operators.InterchangeQueries.qBucketedJoin(spark, sf))
    assert(pb.contains("SortMergeJoin"), pb)
    assert(!pb.contains("Exchange hashpartitioning(o_custkey"), pb)
    assert(!pb.contains("Exchange hashpartitioning(c_custkey"), pb)
    val ps = plan(graft.operators.InterchangeQueries.qPartitionedScan(spark, sf))
    assert(ps.contains("PartitionFilters: ["), ps)
    assert(ps.contains("event_date"), ps)
  }

  test("AQE splits the skewed partition of a hot-key sort-merge join") {
    // SURVEY §5 claims "AQE skew-join on" — this pins that the claim
    // actually ENGAGES. One hot key owns ~95% of the left side; with
    // broadcast off (both sides "too big" at 100 TB) the SMJ's hot
    // partition is a straggler unless OptimizeSkewedJoin splits it.
    // Thresholds are lowered to make MB-scale test data look like the
    // TB-scale case; the mechanism is identical.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    try {
      // left: 190k rows on key 0, the rest unique; right: one row per key
      val left = spark.range(0L, 200000L)
        .select(when(col("id") < 190000L, 0L).otherwise(col("id")).as("k"),
          col("id").as("va"))
      val right = spark.range(0L, 200000L)
        .select(col("id").as("k"), (col("id") * 2).as("vb"))
      // sum over BOTH payloads so neither side's value column prunes
      // away (the skewed partition must carry real bytes)
      val j = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(col("va") + col("vb")).as("s"))
      val row = j.collect().head // execute: AQE finalizes the plan
      assert(row.getLong(0) == 200000L, s"join lost rows: ${row.getLong(0)}")
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "OptimizeSkewedJoin did not engage:\n" + p.take(4000))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("date-partitioned writes prune partitions on read") {
    val out = tempDir("graft-part")
    graft.sources.Writers.writeEventsByDay(Tables(spark, sf).events, out.toString)
    val read = spark.read.parquet(out.toString)
      .filter(col("event_date") === "2024-01-05")
    val p = plan(read)
    assert(p.contains("PartitionFilters: [isnotnull(event_date"), p)
    // pruned scan reads only the one day
    val days = Tables(spark, sf).events
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05").count()
    assert(read.count() == days && days > 0)
  }

  test("kafka offset-log lines map to startingOffsets JSON (reference format)") {
    // exact lines from the reference's files/offset.log
    val lines = Seq("tt,3,107,107", "tt,4,94,95", "tt,1,30,30", "tt,2,40,40", "tt,0,39,39")
    val json = KafkaCdcSource.offsetLogToStartingOffsets(lines)
    assert(json == """{"tt": {"0": 39, "1": 30, "2": 40, "3": 107, "4": 95}}""", json)
  }

  // --- round-10 shapes ---

  test("memorization: only (doc_id, text) read; gram shuffles are 8-byte hashes") {
    val p = plan(graft.operators.CorpusQueries.queries("q_memorization")(spark, sf))
    // column pruning: the documents scan must not read the unused cols
    assert(!p.contains("n_chars"), "pruned column still in scan:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the run-length window is per-doc, never an empty partitionSpec
    assert(!"windowspecdefinition\\(i".r.findFirstIn(p).isDefined, p)
  }

  test("solo returns: ONE fact exchange on l_orderkey; supplier broadcasts") {
    val p = plan(Relational.qSoloReturns(spark, sf))
    val factEx = "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).length
    assert(factEx == 1, s"expected 1 l_orderkey exchange, got $factEx:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    // the old shape re-shuffled the pair frame for the stats join
    assert(!"Exchange hashpartitioning\\(l_orderkey#\\d+L, l_suppkey".r
      .findFirstIn(p).isDefined, "pair-frame re-shuffle is back:\n" + p)
  }

  test("robust stats: one event_type shuffle into the single-pass group kernel") {
    val p = plan(graft.operators.DiagnosticsQueries.queries("q_robust_stats")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 hash exchange, got $hashEx:\n$p")
    assert(p.contains("MapGroups"), p)
    assert(!p.contains("Window"), "window chain is back:\n" + p)
  }

  test("substring dup: one gram-hash exchange, one doc pivot exchange, no join-back") {
    val p = plan(graft.operators.CorpusQueries.queries("q_substring_dup")(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    // spread round-robin + h + doc_id are the only hash-family
    // exchanges; the old agg+join form planned 7 exchanges total
    assert(hashEx <= 2, s"expected <=2 hash exchanges, got $hashEx:\n$p")
    assert(!p.contains("SortMergeJoin"), "join-back is back:\n" + p)
  }
}
