package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.row_position
import graft.sources.Tables
import graft.text.TextAnalysis

/** C-block extensions: corpus-curation operators (SURVEY.md §2
  * C13-C16) — the steps between "deduped text" and "training set".
  */
object CurationQueries {

  /** C13: deterministic train/val/test split. The split key is an
    * affine hash of the doc id in small-int space (exact in any
    * engine, no RNG, stable across reruns/backfills — the property
    * that matters when a 100 TB corpus is re-materialized).
    */
  def qSampleSplit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("h", ((col("doc_id") % 100003L) * 31L + 7L) % 100L)
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("split"))

  /** C14: dedup keep-best — among exact duplicates keep the highest
    * quality doc (longest, then smallest id), not blindly the first.
    */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables(spark, dir).documents
      .withColumn("rk", row_number().over(w))
      .select(col("doc_id"), (col("rk") === 1).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** C15: corpus composition stats per (lang, source) — the numbers a
    * data-mixture design reads off.
    */
  def qCorpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("n_tokens", size(TextAnalysis.tokens(col("text"))))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy(col("lang"), col("source"))

  /** C16: benchmark contamination — which "training" docs share a
    * 5-gram with the held-out set (source src0 stands in for the
    * benchmark)? Inverted-index join on hashed 5-grams: linear in
    * corpus size, the shape that survives 100 TB.
    */
  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // source rides along the posting rows (no docs join); shingle
    // hashing is a cheap codegen'd pass now, so computing the posting
    // list once per branch beats paying a cache materialization
    val grams = docs.select(col("doc_id"), col("source"),
        explode(graft.functions.shingle_hashes(split(col("text"), " "), 5)).as("gh"))
    val eval = grams.filter(col("source") === "src0")
      .select(col("gh"), col("doc_id").as("eval_id"))
    val train = grams.filter(col("source") =!= "src0")
      .select(col("gh"), col("doc_id").as("train_id"))
    train.join(eval, Seq("gh"))
      .groupBy(col("train_id"))
      .agg(countDistinct(col("eval_id")).as("n_eval_docs"),
        count(lit(1)).as("n_shared_grams"))
      .orderBy(col("train_id"))
  }

  /** C17: intra-document repetition (Gopher-style quality rule) — the
    * most frequent word trigram's share of all trigram positions.
    * High values flag boilerplate/spam.
    */
  def qRepetition(spark: SparkSession, dir: String): DataFrame = {
    // Repetition is an intra-document statistic, so the whole
    // count/max/total runs inside ONE codegen'd projection
    // (RepetitionStats expression) — no shuffle at all. The previous
    // shape (explode every trigram occurrence, (doc,gram) groupBy,
    // doc groupBy) paid two aggregation exchanges over the corpus'
    // full trigram stream and string group keys; at 100 TB that is
    // the difference between a map-only pass and the biggest shuffle
    // in the pipeline. Docs with < 3 tokens have no trigrams and are
    // excluded (same as the unnest-based oracle).
    Tables(spark, dir).documents
      .select(col("doc_id"),
        graft.functions.repetition_stats(split(col("text"), " "), 3).as("rs"))
      .select(col("doc_id"),
        col("rs").getItem(0).as("max_tri"), col("rs").getItem(1).as("n_tri"))
      .filter(col("n_tri") > 0)
      .withColumn("rep_ratio", col("max_tri").cast("double") / col("n_tri"))
      .orderBy(col("doc_id"))
  }

  /** C18: composite quality filter (Gopher-rule shape): word count,
    * mean word length, and stopword-presence bounds -> keep flag.
    */
  def qQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityFeatures(Tables(spark, dir).documents)
    q.select(col("doc_id"),
        (col("n_words").between(20, 100000) &&
         col("mean_word_len").between(2.0, 10.0) &&
         col("n_stopwords") >= 1).cast("int").as("keep"),
        col("n_words"), col("n_stopwords"))
      .orderBy(col("doc_id"))
  }

  /** C21: per-stratum deterministic sampling at DIFFERENT rates — the
    * mixture-rebalancing primitive (upweight rare languages, downsample
    * dominant sources). The keep decision is an affine hash of doc_id
    * in percent space, so any engine reproduces it and re-materializing
    * a 100 TB corpus keeps the identical sample.
    */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val pct = ((col("doc_id") % 100003L) * 31L + 7L) % 100L
    val rate = when(col("lang") === "en", 25)
      .when(col("lang") === "de", 50)
      .otherwise(100)
    Tables(spark, dir).documents
      .withColumn("keep", (pct < rate).cast("int"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        sum(when(col("keep") === 1, col("n_chars")).otherwise(0L)).cast("long")
          .as("kept_chars"))
      .orderBy(col("lang"))
  }

  /** C22: token-budget mixture plan — given per-(lang, source) target
    * weights and a global token budget, the per-group sampling rate
    * that hits the budget: rate_g = min(1, budget * w_g / tokens_g).
    * This is the table a data-mixture design feeds back into C21;
    * computing it is one aggregation over the corpus (the 100 TB
    * version reads precomputed corpus stats instead).
    */
  def qMixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val budget = 200000L
    val d = Tables(spark, dir).documents
      .withColumn("n_tok", size(split(col("text"), " ")))
    val stats = d.groupBy(col("lang"))
      .agg(sum(col("n_tok")).cast("long").as("tokens"))
    // equal weight per language (the design input; any weights work)
    val nLangs = lit(4)
    stats
      .withColumn("target_tokens", lit(budget) / nLangs)
      .withColumn("rate",
        least(lit(1.0), col("target_tokens").cast("double") / col("tokens")))
      .withColumn("planned_tokens",
        least(col("target_tokens"), col("tokens")).cast("long"))
      .select(col("lang"), col("tokens"), col("rate"), col("planned_tokens"))
      .orderBy(col("lang"))
  }

  /** C20: sequence packing — greedily pack documents into fixed-size
    * training context windows (2048 tokens), sharded so the packing
    * window never becomes a global sort: shard = affine hash of
    * doc_id (8 shards), docs packed in doc_id order WITHIN a shard.
    * At 100 TB each shard's running sum is an independent partition
    * of the window shuffle — no single-partition bottleneck — and
    * shard count scales with the cluster.
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    val ctx = 2048
    val d = Tables(spark, dir).documents
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("shard", ((col("doc_id") % 97L) * 13L + 5L) % 8L)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(ctx.toDouble)).cast("long"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("bin"))
  }

  /** C82: packing-efficiency audit — the padding/overflow cost
    * report on top of C20's greedy shard packing: per shard, how
    * many tokens a ctx=2048 trainer pays as PADDING (under-full
    * bins) and how many SPILL past the boundary (bins a whole doc
    * pushed over) — the two numbers that decide whether to re-pack
    * with document splitting or a smarter bin heuristic (padding is
    * pure wasted FLOPs at training time; at 100 TB a few percent of
    * pad is a material GPU bill). Same single shard-partitioned
    * window as C20 plus two bounded aggregates; integer ppm.
    */
  def qPackEval(spark: SparkSession, dir: String): DataFrame = {
    val ctx = 2048L
    val d = Tables(spark, dir).documents
      .withColumn("n_tok", size(split(col("text"), " ")))
      .withColumn("shard", ((col("doc_id") % 97L) * 13L + 5L) % 8L)
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bins = d.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / lit(ctx.toDouble)).cast("long"))
      .groupBy(col("shard"), col("bin"))
      .agg(sum(col("n_tok")).cast("long").as("bin_tokens"))
    bins.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("bin_tokens")).as("total_tokens"),
        sum(when(col("bin_tokens") < ctx, lit(ctx) - col("bin_tokens"))
          .otherwise(0L)).as("pad_tokens"),
        sum(when(col("bin_tokens") > ctx, col("bin_tokens") - lit(ctx))
          .otherwise(0L)).as("overflow_tokens"))
      .select(col("shard"), col("n_bins"), col("total_tokens"),
        col("pad_tokens"), col("overflow_tokens"),
        expr(s"pad_tokens * 1000000 div (n_bins * $ctx)").as("pad_ppm"))
      .orderBy(col("shard"))
  }

  /** C22b: APPLY the mixture plan — join each doc to its language's
    * computed sampling rate (broadcast: the plan is nLangs rows) and
    * keep by the same deterministic percent-hash as C21; reports the
    * achieved per-language mixture. Budget 20000 so the dominant
    * language actually downsamples at test scale. The full loop a
    * mixture designer runs: stats -> rates -> materialized sample,
    * all engine-reproducible.
    */
  def qMixtureApply(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .withColumn("n_tok", size(split(col("text"), " ")))
    val plan = d.groupBy(col("lang"))
      .agg(sum(col("n_tok")).cast("long").as("tokens"))
      .withColumn("rate",
        least(lit(1.0), lit(20000.0 / 4) / col("tokens").cast("double")))
      .select(col("lang"), col("rate"))
    val pct = ((col("doc_id") % 100003L) * 31L + 7L) % 100L
    d.join(broadcast(plan), "lang")
      .withColumn("keep", (pct.cast("double") < col("rate") * 100.0).cast("int"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep")).cast("long").as("n_kept"),
        sum(col("keep") * col("n_tok")).cast("long").as("kept_tokens"))
      .orderBy(col("lang"))
  }

  /** C30: curriculum ordering — global training order by quality tier
    * (word-count bucket, easy-to-hard) with a deterministic shuffle
    * WITHIN each tier (md5 priority, like C27). Position assignment
    * is range-sort + `row_position()`, never a single-partition window.
    */
  def qCurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .withColumn("tier",
        least(lit(3L), floor(size(split(col("text"), " ")) / lit(50.0)).cast("long")))
    val key = md5(concat(lit("graft-curr-1:"), col("doc_id").cast("string")))
    d.select(col("doc_id"), col("tier"), key.as("k"))
      .orderBy(col("tier"), col("k"), col("doc_id"))
      .select(col("doc_id"), col("tier"), (row_position() + 1L).as("pos"))
      .orderBy(col("doc_id"))
  }

  /** C31: corpus-informed rarity score — each word's global frequency
    * RANK (dense corpus statistic), per-doc mean rank as the quality
    * signal (high = rare-word-heavy). All integer math (counts,
    * ranks, scaled mean), so the score is bit-reproducible anywhere —
    * the trap this sidesteps is summing per-word log-probs in
    * doubles, whose aggregation order drifts across partitionings.
    * Vocab ranking is sort + `row_position()` (no single-partition
    * window); the doc-side join shuffles on the word key.
    */
  def qRarityScore(spark: SparkSession, dir: String): DataFrame = {
    val w = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val freq = w.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val rk = freq.orderBy(col("cnt").desc, col("word"))
      .select(col("word"), (row_position() + 1L).as("rank"))
    w.join(rk, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("rank")).cast("long").as("rank_sum"),
        floor(sum(col("rank")) * lit(1000.0) / count(lit(1))).cast("long")
          .as("rarity_score"))
      .orderBy(col("doc_id"))
  }

  /** C45: weighted systematic (PPS — probability proportional to
    * size) sampling: a fixed grid of k points over the cumulative
    * weight axis; a doc is picked once per grid point falling in its
    * weight interval (long docs can be picked twice — by design, PPS
    * with replacement). Everything is integer: grid step = total div
    * k, pick count = floor-division difference — bit-identical in
    * any engine, unlike u^(1/w) priority sampling whose pow/log
    * floats drift.
    *
    * The global cumulative weight uses the distributed two-pass
    * prefix sum — range-partition by doc_id, per-partition totals
    * (ONE long per partition to the driver), offset-seeded
    * in-partition scan — NOT a single-partition window; the scan
    * stays parallel at any corpus size. The RDD hop is deliberate:
    * an order-sensitive running scan is genuine per-partition
    * imperative logic.
    */
  def qPpsSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 50L
    val base = Tables(spark, dir).documents
      .select(col("doc_id").cast("long").as("doc_id"),
        col("n_chars").cast("long").as("w"))
    val parts = base.repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .as[(Long, Long)].rdd
    val partTotals = parts.mapPartitionsWithIndex { (i, it) =>
      var s = 0L; it.foreach(s += _._2); Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(0L)(_ + _)
    val total = offsets.last
    require(total >= k, s"total weight $total < k=$k: step would be 0")
    val bcOff = spark.sparkContext.broadcast(offsets)
    val cum = parts.mapPartitionsWithIndex { (i, it) =>
      var acc = bcOff.value(i)
      it.map { case (id, wt) => acc += wt; (id, wt, acc) }
    }.toDF("doc_id", "w", "cw")
    val step = total / k
    val o = step / 2
    // picks in (cw-w, cw]: count of grid points o + j*step inside —
    // the +step shift keeps numerators positive so div == floor in
    // both engines
    val nPicks = expr(
      s"((cw - 1 - $o + $step) div $step) - ((cw - w - 1 - $o + $step) div $step)")
    cum.withColumn("n_picks", nPicks)
      .filter(col("n_picks") >= 1L)
      .select(col("doc_id"), col("n_picks"))
      .orderBy(col("doc_id"))
  }

  /** C59: k-anonymity audit — the release-gate privacy screen a
    * training-data pipeline runs before publishing tabular splits:
    * group by the quasi-identifier tuple (segment, nation, $1000
    * account-balance band), flag groups smaller than k=5, and report
    * how many rows suppression would cost. Two hash aggregates (the
    * QI group-size frame, then a one-row summary) — both map-side
    * partial, both linear; at 100 TB the QI frame is
    * cardinality-bounded by the QI domain, not the fact table.
    * All-integer output (ppm discipline), so the oracle replays
    * exactly.
    */
  def qKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val k = 5L
    val qi = Tables(spark, dir).customer
      .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
        // +1e6 shift keeps the band numerator positive: Spark `div`
        // truncates toward zero while DuckDB `//` floors, and they
        // only agree on non-negative operands (acctbal can be < 0)
        expr("(cast(round(c_acctbal * 100) as long) + 1000000L) div 100000L")
          .as("bal_band"))
    val groups = qi.groupBy(col("seg"), col("nat"), col("bal_band"))
      .agg(count(lit(1)).as("n"))
    groups.agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_viol_groups"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_viol_rows"))
      .select(col("n_rows"), col("n_groups"), col("n_viol_groups"),
        col("n_viol_rows"),
        expr("n_viol_rows * 1000000 div n_rows").as("suppressed_ppm"))
  }

  /** C60: referential-integrity audit — the data-quality gate over
    * every foreign-key edge of the star schema: per edge, child row
    * count and orphan count (children whose key has no parent).
    * Shape: ONE scan per CHILD table, all of that child's edges
    * checked in the same pass — each parent's key set joins in as a
    * left probe join (hint forced only for domain-bounded parents;
    * fact-scaled parents are AQE-decided), orphans counted as
    * conditional sums over the null probe columns, and the one-row
    * aggregate unpivots (array+explode, never a re-read) into the
    * per-edge rows. The previous per-edge form ran a separate
    * count + anti-join pair per edge: 14 jobs and six lineitem scans
    * for the seven-edge report (measured 1.28s); fused it is three
    * fact scans total. At 100 TB each child pass stays one linear
    * scan with broadcast probes.
    */
  def qFkAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // bcast: force the hint ONLY for domain-bounded parents (nation,
    // region — fixed-cardinality at any SF). Fact-scaled parents
    // (orders ~ N/4 of lineitem, part, customer, supplier) are left
    // to AQE: at benchmarked SFs it still picks broadcast from
    // runtime stats, and at 100 TB it degrades to a shuffle join
    // instead of a forced driver/executor OOM.
    def audit(child: DataFrame,
              fks: Seq[(String, String, DataFrame, String, Boolean)]): DataFrame = {
      var df = child.select(fks.map(f => col(f._2)): _*)
      for ((name, ck, parent, pk, bcast) <- fks) {
        val tag = name.replace('.', '_')
        val keys = parent.select(col(pk).as(s"__p_$tag"))
        df = df.join(if (bcast) broadcast(keys) else keys,
          col(ck) === col(s"__p_$tag"), "left")
      }
      val aggCols = count(lit(1)).as("n_child") +:
        fks.map { f =>
          val tag = f._1.replace('.', '_')
          sum(when(col(s"__p_$tag").isNull, 1L).otherwise(0L)).as(s"__o_$tag")
        }
      df.agg(aggCols.head, aggCols.tail: _*)
        .select(explode(array(fks.map { f =>
          val tag = f._1.replace('.', '_')
          struct(lit(f._1).as("fk_edge"), col("n_child"),
            col(s"__o_$tag").as("n_orphan"))
        }: _*)).as("e"))
        .select(col("e.fk_edge").as("fk_edge"), col("e.n_child").as("n_child"),
          col("e.n_orphan").as("n_orphan"))
    }
    Seq(
      audit(t.customer, Seq(("customer.nation", "c_nationkey", t.nation, "n_nationkey", true))),
      audit(t.lineitem, Seq(
        ("lineitem.orders", "l_orderkey", t.orders, "o_orderkey", false),
        ("lineitem.part", "l_partkey", t.part, "p_partkey", false),
        ("lineitem.supplier", "l_suppkey", t.supplier, "s_suppkey", false))),
      audit(t.nation, Seq(("nation.region", "n_regionkey", t.region, "r_regionkey", true))),
      audit(t.orders, Seq(("orders.customer", "o_custkey", t.customer, "c_custkey", false))),
      audit(t.supplier, Seq(("supplier.nation", "s_nationkey", t.nation, "n_nationkey", true))))
      .reduce(_ unionAll _)
      .orderBy(col("fk_edge"))
  }

  /** C54: winsorization — robust normalization before outlier-
    * sensitive training statistics: clip order totals to the exact
    * [p01, p99] rank thresholds and report the clipped mass. The
    * thresholds are EXACT order statistics (rank n div 100 + 1 and
    * n - n div 100 over (cents, orderkey) — a total order, so both
    * engines agree), found by the C30/E6 distributed-total-rank
    * pattern: range-partitioned sort + `row_position()`, never a
    * single-partition window. The two threshold rows broadcast back
    * against the fact scan for the clip aggregate.
    */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables(spark, dir).orders
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderkey"))
    val nF = broadcast(cents.agg(count(lit(1)).as("n")))
    val ranked = cents.orderBy(col("cents"), col("o_orderkey"))
      .select(col("cents"), (row_position() + 1L).as("r"))
    // BOTH thresholds picked in ONE pass over the ranked frame: two
    // separate lo and hi filters would rank the sorted frame twice
    val thresholds = ranked.crossJoin(nF)
      .filter(col("r") === expr("n div 100 + 1") ||
        col("r") === expr("n - n div 100"))
      .agg(
        min(when(col("r") === expr("n div 100 + 1"), col("cents")))
          .as("lo_cents"),
        max(when(col("r") === expr("n - n div 100"), col("cents")))
          .as("hi_cents"))
    cents.crossJoin(broadcast(thresholds))
      .groupBy(col("lo_cents"), col("hi_cents"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cents") < col("lo_cents"), 1L).otherwise(0L)).as("n_clip_low"),
        sum(when(col("cents") > col("hi_cents"), 1L).otherwise(0L)).as("n_clip_high"),
        sum(col("cents")).as("sum_cents"),
        sum(least(greatest(col("cents"), col("lo_cents")), col("hi_cents")))
          .as("sum_winsorized"))
      .select(col("n_rows"), col("lo_cents"), col("hi_cents"),
        col("n_clip_low"), col("n_clip_high"), col("sum_cents"),
        col("sum_winsorized"))
  }

  /** C56: split-leakage audit — the eval-integrity gate on top of
    * C13's hash split: a text with an exact duplicate on both sides
    * of the train/test (or train/val) cut leaks evaluation data into
    * training. Group texts by 64-bit content hash (the C38
    * discipline: the string never shuffles, counts agree with the
    * string-grouping oracle absent 2⁻⁶⁴ collisions), count members
    * per split, then one summary row. Two linear aggregates; at
    * 100 TB this runs as a by-product of the C1 exact-dedup pass.
    */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .withColumn("h", ((col("doc_id") % 100003L) * 31L + 7L) % 100L)
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
    val g = d.groupBy(xxhash64(col("text")).as("th"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_tr"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_va"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_te"))
    g.agg(count(lit(1)).as("n_text_groups"),
      sum(when(col("n_tr") > 0 && col("n_te") > 0, 1L).otherwise(0L))
        .as("n_leaky_train_test"),
      sum(when(col("n_tr") > 0 && col("n_te") > 0, col("n_te")).otherwise(0L))
        .as("n_test_rows_leaked"),
      sum(when(col("n_tr") > 0 && col("n_va") > 0, 1L).otherwise(0L))
        .as("n_leaky_train_val"),
      sum(when(col("n_tr") > 0 && col("n_va") > 0, col("n_va")).otherwise(0L))
        .as("n_val_rows_leaked"))
  }

  /** C61: deterministic negative sampling — the recommender/ranking
    * training-set counterpart of C13: for every customer with at
    * least one purchased part, K=6 candidate "negative" parts are
    * drawn by a seeded md5 slot hash over the part-key domain, then
    * actual positives are removed with an anti-join. No RNG state:
    * the same (customer, slot) always yields the same candidate, so
    * backfills and re-materializations of a 100 TB training set
    * reproduce bit-identically. Shape: ONE aggregate owns both
    * consumers of the positives — the user universe IS the grouped
    * key set, and each user's positive parts ride along as a
    * collect_set — so the former three-shuffle plan (distinct pairs,
    * distinct users, composite-key anti-join; 13 scheduled jobs,
    * 1.59s standalone at sf0.1) fuses into join + one groupBy and
    * the anti-join becomes a map-side array_contains filter over the
    * exploded candidates. Per-user set size is catalog-bounded (the
    * parts one customer ever bought — the standard recommender
    * positives-list shape), so the grouped state is skew-safe at any
    * corpus size. The part-domain max arrives via a broadcast scalar
    * frame — no driver collect, no hard-coded domain.
    */
  def qNegativeSample(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val posSets = t.lineitem.select(col("l_orderkey"), col("l_partkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("cust"))
      .agg(collect_set(col("l_partkey").cast("long")).as("pos_parts"))
    val mx = t.part.agg(max(col("p_partkey")).cast("long").as("maxpk"))
    // re-widen after the collect_set aggregate: AQE coalesces the
    // small grouped frame (~MBs of part-arrays) to one partition,
    // which would serialize the x6 explode + per-candidate md5 —
    // this query's whole compute — onto one core. Round-robin, not
    // range: a range exchange's sampling pass re-executes the
    // unmaterialized join+collect_set lineage a second time
    // (measured +0.2s), and no downstream consumer needs an order —
    // a materialized training set is row-order-free by contract
    // (the correctness gate compares sorted rows), so the former
    // trailing orderBy (whose sampler re-evaluated the md5 chain) is
    // dropped rather than preserved as presentation sugar.
    val width = math.min(32, spark.sparkContext.defaultParallelism)
    posSets.repartition(width)
      .crossJoin(broadcast(mx))
      .select(col("cust"), col("pos_parts"),
        explode(sequence(lit(0), lit(5))).as("slot"), col("maxpk"))
      .withColumn("h",
        conv(substring(md5(concat(lit("graft-neg:"), col("cust"), lit(":"), col("slot"))), 1, 14), 16, 10)
          .cast("long"))
      .withColumn("partkey", (pmod(col("h"), col("maxpk")) + lit(1L)).cast("long"))
      .filter(!array_contains(col("pos_parts"), col("partkey")))
      .select(col("cust").as("custkey"), col("slot").cast("long").as("slot"), col("partkey"))
  }

  /** C62: split drift audit — after C13 assigns splits, verify the
    * test split is distributionally representative of train: per
    * `source`, counts and exact-ppm rates in each split plus the
    * absolute ppm gap. All-integer arithmetic (the C43 discipline),
    * two linear aggregates and a broadcast totals frame — the shape
    * survives any corpus size because the grouped frame is
    * category-bounded, not document-bounded.
    */
  def qSplitDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .withColumn("h", ((col("doc_id") % 100003L) * 31L + 7L) % 100L)
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
      .filter(col("split") =!= "val")
    val byCat = d.groupBy(col("source")).agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
    val tot = d.groupBy().agg(
      sum(when(col("split") === "train", 1L).otherwise(0L)).as("t_train"),
      sum(when(col("split") === "test", 1L).otherwise(0L)).as("t_test"))
    byCat.crossJoin(broadcast(tot))
      .select(col("source"), col("n_train"), col("n_test"),
        expr("n_train * 1000000 div t_train").as("train_ppm"),
        expr("n_test * 1000000 div t_test").as("test_ppm"),
        abs(expr("n_train * 1000000 div t_train") -
          expr("n_test * 1000000 div t_test")).as("delta_ppm"))
      .orderBy(col("source"))
  }

  /** C86: l-diversity audit — the privacy check BEYOND C59's
    * k-anonymity: a quasi-identifier group can be large (k-anonymous)
    * yet expose its members if the SENSITIVE attribute is uniform
    * within it (homogeneity attack). Per QI group
    * (nation, mktsegment): group size, count of DISTINCT sensitive
    * values (account balance in $1000 buckets — integer truncating
    * division, identical on both engines), and the violation flag
    * against l = 5. One aggregate over the dimension-sized table;
    * at 100 TB the QI-group count is bounded by the attribute
    * domain, so the audit is one shuffle of group-sized partials.
    */
  def qLDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("sb"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("grp_n"),
        countDistinct(col("sb")).as("l_distinct"))
      .withColumn("violates_l5",
        when(col("l_distinct") < 5, 1L).otherwise(0L))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  /** C107 (r16): t-CLOSENESS audit — the third rung of the privacy
    * ladder (C59 k-anonymity → C86 l-diversity → t-closeness): a QI
    * group can be large AND sensitive-diverse yet still leak if its
    * sensitive-value DISTRIBUTION deviates from the corpus-wide one
    * (skewness attack — "this group is 90% low-balance" is a
    * disclosure even with 5 distinct bands present). Per QI group
    * (nation, mktsegment): total-variation distance to the global
    * band distribution, exact in scaled integers —
    * tv_ppm = 10⁶·Σ_s|n_gs·N − n_s·n_g| div (2·n_g·N) — and the
    * violation flag against t = 0.3. The group×band domain frame is
    * a broadcast cross join of two attribute-bounded aggregates
    * (absent bands contribute their full global mass — the part a
    * naive inner join silently drops), so the audit is one shuffle
    * of group-sized partials at any corpus size. Long arithmetic
    * holds to ~10⁹ rows × 10⁷-row groups; past that the num lane
    * promotes to decimal(38,0) like the checksum gates.
    */
  def qTCloseness(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).customer
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("sb"))
    val global = base.groupBy(col("sb")).agg(count(lit(1)).as("n_s"))
    val nTotal = base.agg(count(lit(1)).as("n_total"))
    val grp = base.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_g"))
    val cell = base.groupBy(col("c_nationkey"), col("c_mktsegment"), col("sb"))
      .agg(count(lit(1)).as("n_gs"))
    grp.crossJoin(broadcast(global)).crossJoin(broadcast(nTotal))
      .join(cell, Seq("c_nationkey", "c_mktsegment", "sb"), "left")
      .na.fill(0L, Seq("n_gs"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(max(col("n_g")).as("grp_n"),
        sum(abs(col("n_gs") * col("n_total") - col("n_s") * col("n_g")))
          .as("num"),
        max(col("n_total")).as("nt"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("grp_n"),
        expr("1000000 * num div (2 * grp_n * nt)").as("tv_ppm"))
      .withColumn("violates_t03",
        when(col("tv_ppm") > 300000L, 1L).otherwise(0L))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  /** C87: temporal split with an EMBARGO gap — the time-series ML
    * split hygiene step: train is everything before the boundary,
    * test starts only after a purge window (3 days) so that
    * look-ahead leakage through windowed features (a trailing-3-day
    * rolling feature computed at the first test day would read train
    * rows) is structurally impossible. The boundary is data-derived
    * (70% of the observed day span — exact integer arithmetic on
    * day counts). Output: per-split row/user counts and date range.
    * One pass + a broadcast two-value bound frame — linear at any
    * scale.
    */
  def qEmbargoSplit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val bounds = broadcast(ev.agg(
      min(col("d")).as("d_lo"), max(col("d")).as("d_hi")))
    ev.crossJoin(bounds)
      .withColumn("cut", expr(
        "date_add(d_lo, cast((datediff(d_hi, d_lo) + 1) * 7 div 10 as int))"))
      .withColumn("split",
        when(col("d") < col("cut"), "train")
          .when(col("d") < expr("date_add(cut, 3)"), "embargo")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        date_format(min(col("d")), "yyyy-MM-dd").as("min_d"),
        date_format(max(col("d")), "yyyy-MM-dd").as("max_d"))
      .orderBy(col("split"))
  }

  /** C89: per-domain frequency capping — the pretraining-mix rule
    * that no single source may contribute more than K documents
    * (Common-Crawl-style domain caps): rank each source's docs by
    * quality proxy (longest first, then smallest id — the C14
    * keep-best key) and keep the top K. One hash exchange on
    * `source` + a per-source rank; at 100 TB the same shape holds —
    * the window sorts WITHIN each source's partitions, and a hot
    * source is exactly the case the cap exists for (its excess is
    * dropped, not shuffled onward).
    */
  def qDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val k = 40
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables(spark, dir).documents
      .select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= k, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= k, col("n_chars")).otherwise(0L)).as("kept_chars"),
        max(when(col("rn") > k, 1L).otherwise(0L)).as("cap_hit"))
      .orderBy(col("source"))
  }

  /** C90: seeded per-group reservoir sample — k docs per language,
    * selected by md5 order over a tagged key, so the "reservoir" is
    * a pure function of (seed, doc_id): rerunning, backfilling or
    * resharding the corpus reproduces the identical sample (the
    * property an actual Vitter reservoir loses the moment partition
    * order changes). Equivalent to uniform-without-replacement under
    * the hash's uniformity. One exchange on lang + per-group rank.
    */
  def qReservoirSample(spark: SparkSession, dir: String): DataFrame = {
    val k = 25
    val h = md5(concat(lit("rsv1:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables(spark, dir).documents
      .select(col("lang"), col("doc_id"), h.as("h"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= k, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= k, col("doc_id")).otherwise(0L)).as("kept_id_sum"),
        min(when(col("rn") === 1, col("doc_id"))).as("first_pick"))
      .orderBy(col("lang"))
  }

  /** C101: differentially-private release counts — per-event-type
    * counts with seeded two-sided geometric noise (the integer
    * mechanism of Ghosh et al. 2009; sensitivity-1 counts, tail
    * P(|noise| = k) ∝ 2^-k). The draw is derived, not sampled: the
    * md5 of a salted key gives 60 uniform bits, the noise magnitude
    * is the leading-zero-bit count (= floor(-log2 u), exactly
    * geometric) and the sign is one further hash bit — so a 100 TB
    * re-release reproduces the same noise with NO RNG state, and
    * both engines agree bit-for-bit because the whole mechanism is
    * hex-string inspection (leading-'0' run + one character class),
    * never float log. n_dp clamps at 0 (counts are nonnegative in
    * the release contract). Plan: one corpus-linear count, then
    * map-only noise columns on the tiny grouped frame.
    */
  def qDpCounts(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_true"))
      .withColumn("hx", md5(concat(lit("graft-dp:"), col("event_type"))))
      .withColumn("t", substring(col("hx"), 1, 15))
      .withColumn("z", length(regexp_extract(col("t"), "^0*", 0)).cast("long"))
      .withColumn("fnz", expr("substring(t, CAST(z + 1 AS INT), 1)"))
      .withColumn("mag", col("z") * 4L + expr(
        """CASE WHEN fnz = '1' THEN 3 WHEN fnz IN ('2','3') THEN 2
          |     WHEN fnz IN ('4','5','6','7') THEN 1 ELSE 0 END""".stripMargin))
      .withColumn("noise", expr(
        "CASE WHEN substring(hx, 16, 1) IN ('0','1','2','3','4','5','6','7') " +
          "THEN mag ELSE -mag END"))
      .select(col("event_type"), col("n_true"), col("noise"),
        greatest(lit(0L), col("n_true") + col("noise")).as("n_dp"))
      .orderBy(col("event_type"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dp_counts"     -> (qDpCounts _),
    "q_domain_cap"    -> (qDomainCap _),
    "q_reservoir_sample" -> (qReservoirSample _),
    "q_l_diversity"   -> (qLDiversity _),
    "q_t_closeness"   -> (qTCloseness _),
    "q_embargo_split" -> (qEmbargoSplit _),
    "q_negative_sample" -> (qNegativeSample _),
    "q_split_drift"     -> (qSplitDrift _),
    "q_split_leakage"   -> (qSplitLeakage _),
    "q_kanonymity"      -> (qKAnonymity _),
    "q_fk_audit"        -> (qFkAudit _),
    "q_winsorize"       -> (qWinsorize _),
    "q_rarity_score"    -> (qRarityScore _),
    "q_mixture_apply"   -> (qMixtureApply _),
    "q_curriculum_order" -> (qCurriculumOrder _),
    "q_pack_sequences"  -> (qPackSequences _),
    "q_pack_eval"       -> (qPackEval _),
    "q_sample_split"    -> (qSampleSplit _),
    "q_dedup_keepbest"  -> (qDedupKeepBest _),
    "q_corpus_stats"    -> (qCorpusStats _),
    "q_contamination"   -> (qContamination _),
    "q_repetition"      -> (qRepetition _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_mixture_plan"    -> (qMixturePlan _),
    "q_quality_filter"  -> (qQualityFilter _),
    "q_pps_sample"      -> (qPpsSample _),
  )

  val oracles: Map[String, String] = Map(
    "q_dp_counts" ->
      """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
        |           FROM events GROUP BY 1),
        |h AS (SELECT event_type, n_true,
        |        md5('graft-dp:' || event_type) AS hx FROM c),
        |m AS (SELECT event_type, n_true, hx,
        |        substring(hx, 1, 15) AS t,
        |        CAST(length(regexp_extract(substring(hx, 1, 15), '^0*', 0))
        |          AS BIGINT) AS z
        |      FROM h),
        |n AS (SELECT event_type, n_true, hx,
        |        z * 4 + CASE WHEN substring(t, CAST(z + 1 AS INT), 1) = '1' THEN 3
        |                     WHEN substring(t, CAST(z + 1 AS INT), 1) IN ('2','3') THEN 2
        |                     WHEN substring(t, CAST(z + 1 AS INT), 1) IN ('4','5','6','7') THEN 1
        |                     ELSE 0 END AS mag
        |      FROM m)
        |SELECT event_type, n_true,
        |  CAST(CASE WHEN substring(hx, 16, 1) IN ('0','1','2','3','4','5','6','7')
        |       THEN mag ELSE -mag END AS BIGINT) AS noise,
        |  CAST(greatest(0, n_true + CASE WHEN substring(hx, 16, 1)
        |         IN ('0','1','2','3','4','5','6','7') THEN mag ELSE -mag END)
        |    AS BIGINT) AS n_dp
        |FROM n ORDER BY event_type""".stripMargin,

    "q_domain_cap" ->
      """WITH rk AS (SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN rn <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn <= 40 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        |  CAST(max(CASE WHEN rn > 40 THEN 1 ELSE 0 END) AS BIGINT) AS cap_hit
        |FROM rk GROUP BY source ORDER BY source""".stripMargin,

    "q_reservoir_sample" ->
      """WITH rk AS (SELECT lang, doc_id,
        |  md5('rsv1:' || CAST(doc_id AS VARCHAR)) AS h,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('rsv1:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN rn <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn <= 25 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
        |  CAST(min(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS first_pick
        |FROM rk GROUP BY lang ORDER BY lang""".stripMargin,

    "q_l_diversity" ->
      """SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS grp_n,
        | CAST(count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000)
        |   AS BIGINT) AS l_distinct,
        | CAST(CASE WHEN count(DISTINCT CAST(round(c_acctbal * 100) AS BIGINT) // 100000) < 5
        |   THEN 1 ELSE 0 END AS BIGINT) AS violates_l5
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q_t_closeness" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |      CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS sb
        |    FROM customer),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
        |gsn AS (SELECT sb, CAST(count(*) AS BIGINT) AS n_s FROM b GROUP BY sb),
        |grp AS (SELECT c_nationkey, c_mktsegment,
        |          CAST(count(*) AS BIGINT) AS n_g FROM b GROUP BY 1, 2),
        |cell AS (SELECT c_nationkey, c_mktsegment, sb,
        |          CAST(count(*) AS BIGINT) AS n_gs FROM b GROUP BY 1, 2, 3),
        |j AS (SELECT g.c_nationkey, g.c_mktsegment, g.n_g, s.sb, s.n_s,
        |        coalesce(c.n_gs, 0) AS n_gs, t.n_total
        |      FROM grp g CROSS JOIN gsn s CROSS JOIN tot t
        |      LEFT JOIN cell c ON c.c_nationkey = g.c_nationkey
        |        AND c.c_mktsegment = g.c_mktsegment AND c.sb = s.sb)
        |SELECT c_nationkey, c_mktsegment,
        |  CAST(max(n_g) AS BIGINT) AS grp_n,
        |  CAST(1000000 * sum(abs(n_gs * n_total - n_s * n_g))
        |    // (2 * max(n_g) * max(n_total)) AS BIGINT) AS tv_ppm,
        |  CAST(CASE WHEN 1000000 * sum(abs(n_gs * n_total - n_s * n_g))
        |    // (2 * max(n_g) * max(n_total)) > 300000
        |    THEN 1 ELSE 0 END AS BIGINT) AS violates_t03
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_embargo_split" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |b AS (SELECT min(d) AS d_lo, max(d) AS d_hi FROM ev),
        |lab AS (SELECT user_id, d,
        |    d_lo + CAST((date_diff('day', d_lo, d_hi) + 1) * 7 // 10 AS INTEGER) AS cut
        |  FROM ev, b),
        |s AS (SELECT user_id, d,
        |        CASE WHEN d < cut THEN 'train'
        |             WHEN d < cut + 3 THEN 'embargo'
        |             ELSE 'test' END AS split
        |      FROM lab)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  strftime(min(d), '%Y-%m-%d') AS min_d,
        |  strftime(max(d), '%Y-%m-%d') AS max_d
        |FROM s GROUP BY split ORDER BY split""".stripMargin,

    // md5 slot hash replayed exactly: 14 hex chars -> 56-bit int via
    // the '0x' cast; % on non-negative operands matches Spark pmod
    "q_negative_sample" ->
      """WITH pos AS (SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        |    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |mx AS (SELECT CAST(max(p_partkey) AS BIGINT) AS maxpk FROM part),
        |cand AS (SELECT u.cust, s.slot,
        |    CAST(1 + (CAST(('0x' || substr(md5('graft-neg:' || CAST(u.cust AS VARCHAR)
        |            || ':' || CAST(s.slot AS VARCHAR)), 1, 14)) AS BIGINT)
        |         % mx.maxpk) AS BIGINT) AS partkey
        |  FROM (SELECT DISTINCT cust FROM pos) u, mx,
        |       (SELECT unnest(range(6)) AS slot) s)
        |SELECT c.cust AS custkey, CAST(c.slot AS BIGINT) AS slot, c.partkey
        |FROM cand c LEFT JOIN pos p ON p.cust = c.cust AND p.part = c.partkey
        |WHERE p.cust IS NULL
        |ORDER BY custkey, slot""".stripMargin,

    "q_split_drift" ->
      """WITH d AS (SELECT source,
        |    CASE WHEN ((doc_id % 100003) * 31 + 7) % 100 < 80 THEN 'train'
        |         WHEN ((doc_id % 100003) * 31 + 7) % 100 < 90 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |f AS (SELECT * FROM d WHERE split <> 'val'),
        |a AS (SELECT source,
        |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
        |  FROM f GROUP BY source),
        |t AS (SELECT CAST(sum(n_train) AS BIGINT) AS t_train,
        |             CAST(sum(n_test) AS BIGINT) AS t_test FROM a)
        |SELECT a.source, a.n_train, a.n_test,
        |  a.n_train * 1000000 // t.t_train AS train_ppm,
        |  a.n_test * 1000000 // t.t_test AS test_ppm,
        |  abs(a.n_train * 1000000 // t.t_train - a.n_test * 1000000 // t.t_test) AS delta_ppm
        |FROM a, t ORDER BY a.source""".stripMargin,

    "q_split_leakage" ->
      """WITH d AS (SELECT text,
        |  CASE WHEN ((doc_id % 100003) * 31 + 7) % 100 < 80 THEN 'train'
        |       WHEN ((doc_id % 100003) * 31 + 7) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents),
        |g AS (SELECT text,
        |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
        |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_va,
        |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_te
        |  FROM d GROUP BY text)
        |SELECT CAST(count(*) AS BIGINT) AS n_text_groups,
        | CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_leaky_train_test,
        | CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 THEN n_te ELSE 0 END) AS BIGINT)
        |   AS n_test_rows_leaked,
        | CAST(sum(CASE WHEN n_tr > 0 AND n_va > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_leaky_train_val,
        | CAST(sum(CASE WHEN n_tr > 0 AND n_va > 0 THEN n_va ELSE 0 END) AS BIGINT)
        |   AS n_val_rows_leaked
        |FROM g""".stripMargin,

    "q_kanonymity" ->
      """WITH qi AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
        |  (CAST(round(c_acctbal*100) AS BIGINT) + 1000000) // 100000 AS bal_band
        |  FROM customer),
        |g AS (SELECT seg, nat, bal_band, CAST(count(*) AS BIGINT) AS n
        |      FROM qi GROUP BY 1, 2, 3)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        | CAST(count(*) AS BIGINT) AS n_groups,
        | CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_groups,
        | CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_viol_rows,
        | CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) * 1000000
        |   // CAST(sum(n) AS BIGINT) AS suppressed_ppm
        |FROM g""".stripMargin,

    "q_fk_audit" ->
      """SELECT * FROM (
        |SELECT 'customer.nation' AS fk_edge,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_child,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer
        |   WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphan
        |UNION ALL
        |SELECT 'lineitem.orders',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |UNION ALL
        |SELECT 'lineitem.part',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        |UNION ALL
        |SELECT 'lineitem.supplier',
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |   WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        |UNION ALL
        |SELECT 'nation.region',
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation),
        |  (SELECT CAST(count(*) AS BIGINT) FROM nation
        |   WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
        |UNION ALL
        |SELECT 'orders.customer',
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |  (SELECT CAST(count(*) AS BIGINT) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
        |UNION ALL
        |SELECT 'supplier.nation',
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier),
        |  (SELECT CAST(count(*) AS BIGINT) FROM supplier
        |   WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)))
        |ORDER BY fk_edge""".stripMargin,

    "q_winsorize" ->
      """WITH c AS (SELECT CAST(round(o_totalprice*100) AS BIGINT) AS cents,
        |  o_orderkey FROM orders),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |rk AS (SELECT cents,
        |  CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS r
        |  FROM c),
        |lo AS (SELECT cents AS lo_cents FROM rk, n WHERE r = n // 100 + 1),
        |hi AS (SELECT cents AS hi_cents FROM rk, n WHERE r = n - n // 100)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows, lo_cents, hi_cents,
        | CAST(sum(CASE WHEN cents < lo_cents THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_clip_low,
        | CAST(sum(CASE WHEN cents > hi_cents THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_clip_high,
        | CAST(sum(cents) AS BIGINT) AS sum_cents,
        | CAST(sum(least(greatest(cents, lo_cents), hi_cents)) AS BIGINT)
        |   AS sum_winsorized
        |FROM c CROSS JOIN lo CROSS JOIN hi
        |GROUP BY lo_cents, hi_cents""".stripMargin,

    "q_rarity_score" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents),
        |freq AS (SELECT word, count(*) AS cnt FROM w GROUP BY word),
        |rk AS (SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank
        |       FROM freq)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        | CAST(sum(rank) AS BIGINT) AS rank_sum,
        | CAST(floor(sum(rank)*1000.0/count(*)) AS BIGINT) AS rarity_score
        |FROM w JOIN rk USING (word) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_mixture_apply" ->
      """WITH d AS (SELECT lang, doc_id, len(string_split(text,' ')) AS n_tok FROM documents),
        |p AS (SELECT lang, least(1.0, (20000/4)/CAST(sum(n_tok) AS BIGINT)) AS rate
        |      FROM d GROUP BY lang)
        |SELECT d.lang, count(*) AS n_docs,
        | CAST(sum(CASE WHEN ((d.doc_id % 100003)*31 + 7) % 100 < p.rate*100
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN ((d.doc_id % 100003)*31 + 7) % 100 < p.rate*100
        |   THEN d.n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
        |FROM d JOIN p USING (lang) GROUP BY d.lang ORDER BY d.lang""".stripMargin,

    "q_curriculum_order" ->
      """WITH d AS (SELECT doc_id,
        |  least(3, CAST(floor(len(string_split(text,' '))/50) AS BIGINT)) AS tier
        | FROM documents)
        |SELECT doc_id, tier, CAST(row_number() OVER (
        |  ORDER BY tier, md5('graft-curr-1:' || CAST(doc_id AS VARCHAR)), doc_id)
        |  AS BIGINT) AS pos
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        | SELECT doc_id, len(string_split(text,' ')) AS n_tok,
        |  ((doc_id % 97) * 13 + 5) % 8 AS shard
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tok, shard,
        |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        | FROM d)
        |SELECT shard, CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin,
        | count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // C82: same window CTEs as the C20 oracle, then the per-shard
    // pad/overflow aggregates (all operands positive, // == div)
    "q_pack_eval" ->
      """WITH d AS (
        | SELECT doc_id, len(string_split(text,' ')) AS n_tok,
        |  ((doc_id % 97) * 13 + 5) % 8 AS shard
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tok, shard,
        |  CAST(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        | FROM d),
        |bins AS (
        | SELECT shard, CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS bin,
        |  CAST(sum(n_tok) AS BIGINT) AS bin_tokens
        | FROM c GROUP BY 1, 2)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_bins,
        | CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
        | CAST(sum(CASE WHEN bin_tokens < 2048 THEN 2048 - bin_tokens ELSE 0 END) AS BIGINT) AS pad_tokens,
        | CAST(sum(CASE WHEN bin_tokens > 2048 THEN bin_tokens - 2048 ELSE 0 END) AS BIGINT) AS overflow_tokens,
        | CAST(sum(CASE WHEN bin_tokens < 2048 THEN 2048 - bin_tokens ELSE 0 END) * 1000000
        |      // (count(*) * 2048) AS BIGINT) AS pad_ppm
        |FROM bins GROUP BY shard ORDER BY shard""".stripMargin,

    "q_sample_split" ->
      """SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM (SELECT ((doc_id % 100003) * 31 + 7) % 100 AS h, n_chars FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_keepbest" ->
      """SELECT doc_id, CAST(rk = 1 AS int) AS keep FROM (
        | SELECT doc_id, row_number() OVER (PARTITION BY text
        |   ORDER BY n_chars DESC, doc_id) AS rk FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars,
        | max(len(string_split(text,' '))) AS max_tokens
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q_repetition" ->
      """WITH tri AS (
        | SELECT doc_id, unnest([w[i]||' '||w[i+1]||' '||w[i+2]
        |   for i in generate_series(1, len(w)-2)]) AS g
        | FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)),
        |cnts AS (SELECT doc_id, g, count(*) AS cnt FROM tri GROUP BY 1, 2)
        |SELECT doc_id, max(cnt) AS max_tri, CAST(sum(cnt) AS BIGINT) AS n_tri,
        | CAST(max(cnt) AS double) / sum(cnt) AS rep_ratio
        |FROM cnts GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(keep) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM (
        | SELECT lang, n_chars,
        |  CAST(((doc_id % 100003) * 31 + 7) % 100 <
        |    CASE WHEN lang = 'en' THEN 25 WHEN lang = 'de' THEN 50 ELSE 100 END
        |    AS int) AS keep
        | FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // replay of the integer PPS grid: step/offset from the total,
    // pick counts by floor-division difference (// == div on the
    // positive-shifted numerators)
    "q_pps_sample" ->
      """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
        |c AS (SELECT doc_id, w,
        |  sum(w) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw FROM d),
        |t AS (SELECT sum(w) AS tw FROM d),
        |p AS (SELECT doc_id, w, cw, tw // 50 AS step, (tw // 50) // 2 AS o
        |      FROM c, t)
        |SELECT doc_id,
        | CAST(((cw - 1 - o + step) // step)
        |   - ((cw - w - 1 - o + step) // step) AS BIGINT) AS n_picks
        |FROM p
        |WHERE ((cw - 1 - o + step) // step)
        |   - ((cw - w - 1 - o + step) // step) >= 1
        |ORDER BY doc_id""".stripMargin,

    "q_mixture_plan" ->
      """SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tokens,
        | least(1.0, (200000 / 4) / CAST(sum(n_tok) AS BIGINT)) AS rate,
        | CAST(least(200000 / 4, CAST(sum(n_tok) AS BIGINT)) AS BIGINT) AS planned_tokens
        |FROM (SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality_filter" ->
      """SELECT doc_id,
        | CAST(n_words BETWEEN 20 AND 100000
        |   AND mean_word_len BETWEEN 2.0 AND 10.0
        |   AND n_stopwords >= 1 AS int) AS keep,
        | n_words, n_stopwords
        |FROM (SELECT doc_id, len(string_split(text,' ')) AS n_words,
        |  len(list_filter(string_split(text,' '),
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS n_stopwords,
        |  list_sum(list_transform(string_split(text,' '), t -> length(t))) * 1.0
        |    / len(string_split(text,' ')) AS mean_word_len
        | FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_contamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
        |grams AS (SELECT doc_id, source,
        |  unnest(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |                        for i in generate_series(1, len(w)-4)])) AS g FROM toks)
        |SELECT t.doc_id AS train_id,
        | count(DISTINCT e.doc_id) AS n_eval_docs, count(*) AS n_shared_grams
        |FROM grams t JOIN grams e USING (g)
        |WHERE t.source != 'src0' AND e.source = 'src0'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
