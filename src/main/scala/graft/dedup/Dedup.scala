package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{cosine_double, hamming64, simhash64}

/** C1-C5: deduplication operators for LLM-corpus curation.
  *
  * Scale notes (100 TB): every family below is expressed as
  * "compute a small key per document, shuffle once on that key,
  * verify only within buckets" — candidate generation is linear in
  * corpus size, never a cross join. The only exhaustive path is
  * `embeddingNearDups`, kept for oracle-exactness at test scale; its
  * production twin is the LSH-bucketed `Ann.lshTopK`.
  */
object Dedup {

  /** C1: exact-duplicate classes. Group key is the text itself (the
    * shuffle key Spark derives is its hash, so equal work to hashing
    * ourselves, with zero collision risk).
    */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("text"))
    docs.select(col("doc_id"),
        min(col("doc_id")).over(w).as("canonical_id"),
        count(lit(1)).over(w).as("group_size"))
      .withColumn("is_canonical", (col("doc_id") === col("canonical_id")).cast("int"))
  }

  /** Distinct word-k-shingles per doc. The token array is projected
    * once before the shingle lambda — inlining `split` there would
    * re-split the text on every element access (O(len^2) per doc).
    */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        // guard: sequence(0, n) DESCENDS when n < 0 (docs with < k
        // tokens), fabricating partial shingles from null-padded
        // indices — such docs have zero k-shingles by definition
        when(size(col("w")) >= k,
          array_distinct(
            transform(sequence(lit(0), size(col("w")) - k),
              i => concat_ws(" ", (0 until k).map(j => col("w").getItem(i + j)): _*))))
          .otherwise(array().cast("array<string>"))
          .as("sh"))

  /** C4: n-gram Jaccard over the inverted shingle index: candidate
    * pairs are docs sharing >=1 shingle (one shuffle on the shingle),
    * intersections counted by the join itself, unions from per-doc
    * counts. Blocking: |len diff| <= `lenBand` chars (near-dups keep
    * near-identical length; lang labels are unreliable for dups).
    */
  def ngramJaccard(docs: DataFrame, minJaccard: Double, lenBand: Int = 20): DataFrame =
    ngramJaccardPairs(docs, minJaccard, lenBand)
      .orderBy(col("id_a"), col("id_b"))

  /** The unsorted pair set — consumers that aggregate further (e.g.
    * connected components) use this: EliminateSorts does NOT strip a
    * buried orderBy, so the sorted variant would pay a useless global
    * range exchange inside their lineage.
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double, lenBand: Int = 20): DataFrame = {
    // Inverted index on 8-byte shingle hashes (fixed-width join keys;
    // collision odds over ~1e6 shingles ~1e-7, and any would surface
    // in the oracle compare). Length-banding the index key was tried
    // and measured SLOWER here: the 3x probe-side explosion costs
    // more than the pair reduction saves on corpora whose trigram
    // doc-frequency is moderate. Revisit only if bucket pair counts
    // blow up (giant corpora with heavy-tailed shingle frequency).
    //
    // The per-doc shingle count and n_chars ride ALONG the exploded
    // posting rows (a few extra bytes each) instead of being joined
    // back per pair — that removes three join shuffles from the
    // round-1 shape (docs⋈shingles, pairs⋈cnt_a, pairs⋈cnt_b).
    // spread a one-split corpus scan before the shingle kernel — the
    // per-row hash explode is the fact-sized compute and a single
    // parquet file serializes it onto one core (r16; no-op at cluster
    // scale where scans have many splits)
    val tri = graft.sources.Tables.spreadIfOneSplit(docs)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.shingle_hashes(split(col("text"), " "), 3).as("shh"))
      .select(col("doc_id"), col("n_chars"), size(col("shh")).as("c"),
        explode(col("shh")).as("gh"))
    val a = tri.select(col("gh"), col("doc_id").as("id_a"),
      col("n_chars").as("nc_a"), col("c").as("ca"))
    val b = tri.select(col("gh"), col("doc_id").as("id_b"),
      col("n_chars").as("nc_b"), col("c").as("cb"))
    a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("nc_a") - col("nc_b")) <= lenBand)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), max(col("ca")).as("ca"), max(col("cb")).as("cb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("ca") + col("cb") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The raw (id_a, id_b, inter, ca, cb) pair statistics behind
    * [[ngramJaccardPairs]] — consumers that need the similarity at
    * several thresholds (the C77 sweep) take the counts and derive
    * integer-ppm Jaccard themselves, paying the inverted-index pass
    * ONCE.
    */
  def ngramPairStats(docs: DataFrame, lenBand: Int = 20): DataFrame = {
    // spread a one-split corpus scan before the shingle kernel — the
    // per-row hash explode is the fact-sized compute and a single
    // parquet file serializes it onto one core (r16; no-op at cluster
    // scale where scans have many splits)
    val tri = graft.sources.Tables.spreadIfOneSplit(docs)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.shingle_hashes(split(col("text"), " "), 3).as("shh"))
      .select(col("doc_id"), col("n_chars"), size(col("shh")).as("c"),
        explode(col("shh")).as("gh"))
    val a = tri.select(col("gh"), col("doc_id").as("id_a"),
      col("n_chars").as("nc_a"), col("c").as("ca"))
    val b = tri.select(col("gh"), col("doc_id").as("id_b"),
      col("n_chars").as("nc_b"), col("c").as("cb"))
    a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("nc_a") - col("nc_b")) <= lenBand)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"), max(col("ca")).as("ca"), max(col("cb")).as("cb"))
  }

  /** Fuzzy cross-split decontamination: n-gram Jaccard near-dups
    * BETWEEN two corpora (eval benchmark vs training corpus) — the
    * asymmetric sibling of [[ngramJaccardPairs]]. Exact by
    * construction (inverted index, not LSH: banded MinHash recall at
    * J=0.5 is only ~65%, unacceptable for a contamination gate).
    * The eval side's posting list is BROADCAST — a benchmark suite
    * is tiny relative to a 100 TB training corpus, so the corpus
    * never shuffles: one scan, map-side join, one aggregate on the
    * (eval, train) pair key. Drop the hint if the eval set is itself
    * corpus-sized. No length band: contamination can be an eval doc
    * embedded in a longer training doc.
    */
  def crossNearDups(evalDocs: DataFrame, trainDocs: DataFrame,
                    minJaccard: Double): DataFrame = {
    def postings(d: DataFrame, idName: String, cName: String) =
      d.select(col("doc_id"),
          graft.functions.shingle_hashes(split(col("text"), " "), 3).as("shh"))
        .select(col("doc_id").as(idName), size(col("shh")).as(cName),
          explode(col("shh")).as("gh"))
    val e = postings(evalDocs, "eval_id", "ce")
    // spread only the TRAIN side (the corpus-sized one; the eval side
    // is broadcast-tiny and an exchange there is pure overhead)
    val t = postings(graft.sources.Tables.spreadIfOneSplit(trainDocs),
      "train_id", "ct")
    t.join(broadcast(e), Seq("gh"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("inter"),
        max(col("ce")).as("ce"), max(col("ct")).as("ct"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("ce") + col("ct") - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("eval_id"), col("train_id"), col("jaccard"))
  }

  /** Hashed distinct shingle sets per doc (8-byte elements), one
    * codegen'd pass (ShingleHashes expression).
    */
  def hashedShingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.shingle_hashes(split(col("text"), " "), k).as("shh"))

  /** Shingle document-frequency skew: (sum df^2 / sum df) — the df of
    * the average POSTING, i.e. how hot the list a random posting sits
    * on is — divided by the mean df (sum df / #distinct shingles).
    * ~1 on uniform corpora; >> 1 under a Zipfian tail, where the
    * candidate-pair bound sum(df^2) explodes and prefix filtering
    * starts to pay. One small stats job (two linear shuffles over
    * 8-byte keys) — the adaptive-dispatch analogue of AQE's runtime
    * statistics.
    *
    * `sampleBits` > 0 estimates the skew on a hash-sample of the
    * SHINGLE KEY SPACE (keep gh where its low bits are zero): each
    * kept shingle's df is still EXACT (every posting of a kept key is
    * kept), and sum(df), sum(df^2), #shingles all scale by the same
    * 2^-sampleBits in expectation, so their ratio is an unbiased
    * skew estimate at 1/2^sampleBits of the aggregation cost. The
    * shingle hash is uniform, so the sample hits the Zipf head with
    * probability 2^-sampleBits per hot key — with thousands of
    * head keys the estimate is stable (spec'd on both corpus shapes).
    */
  def shingleDfSkew(docs: DataFrame, k: Int = 3, sampleBits: Int = 4): Double =
    shingleStats(docs, k, sampleBits).skew

  /** Both runtime statistics the adaptive dispatchers need, from the
    * ONE sampled stats job [[shingleDfSkew]] describes: the df skew
    * (which path) and the estimated CANDIDATE MASS sum(df^2) (whether
    * the plain path is affordable at all). The sample keeps
    * 1/2^sampleBits of the shingle key space with exact dfs, so the
    * full-corpus sum(df^2) estimate is the sampled sum scaled by
    * 2^sampleBits (unbiased: each key is kept independently by a
    * uniform hash).
    */
  final case class ShingleStats(skew: Double, estPairMass: Double)

  def shingleStats(docs: DataFrame, k: Int = 3, sampleBits: Int = 4): ShingleStats = {
    val mask = (1L << sampleBits) - 1L
    val df = hashedShingles(graft.sources.Tables.spreadIfOneSplit(docs), k)
      .select(explode(col("shh")).as("gh"))
      .filter(col("gh").bitwiseAND(lit(mask)) === 0L)
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val r = df.agg(
      coalesce(sum(col("df")), lit(0L)).as("p"),
      coalesce(sum(col("df").cast("double") * col("df").cast("double")), lit(0.0)).as("s2"),
      count(lit(1)).as("g")).first()
    val (p, s2, g) = (r.getLong(0).toDouble, r.getDouble(1), r.getLong(2).toDouble)
    val skew = if (p == 0.0) 0.0 else (s2 / p) / (p / g)
    ShingleStats(skew, s2 * (1L << sampleBits).toDouble)
  }

  /** [[shingleStats]] LANDED through the DerivedTable seam: the stat
    * is corpus-level and deterministic, so repeat runs of the
    * adaptive dispatchers (q_ngram_adaptive, q_containment_pairs)
    * read a 1-row parquet instead of re-paying the sampled stats job
    * every time — the same land-once discipline as the pair-count
    * and CDC-lines tables. Fingerprint-keyed on documents.parquet,
    * so a changed corpus rebuilds.
    */
  def shingleStatsCached(spark: org.apache.spark.sql.SparkSession,
                         dir: String, k: Int = 3,
                         sampleBits: Int = 4): ShingleStats = {
    val t = graft.sources.DerivedTable.readOrBuild(
      spark, "shingle-stats", dir, Seq("documents"), s"k$k-b$sampleBits") {
      val s = shingleStats(graft.sources.Tables(spark, dir).documents, k, sampleBits)
      import spark.implicits._
      Seq((s.skew, s.estPairMass)).toDF("skew", "est_pair_mass")
    }
    val r = t.first()
    ShingleStats(r.getDouble(0), r.getDouble(1))
  }

  /** C4c: shingle CONTAINMENT pairs — |A ∩ B| / |A| >= t, the
    * asymmetric cousin of Jaccard: catches a document EMBEDDED in a
    * larger one (quotes, concatenations, page wrappers), which
    * symmetric Jaccard misses because the big doc's union term
    * swamps it. Same single-shuffle inverted-index shape as
    * [[ngramJaccardPairs]]; no length band (the whole point is
    * size-asymmetric pairs). Emits (id_small, id_big, containment).
    */
  def containmentPairs(docs: DataFrame, minContainment: Double): DataFrame = {
    // spread a one-split scan before the shingle kernel (see
    // ngramJaccardPairs)
    val tri = graft.sources.Tables.spreadIfOneSplit(docs)
      .select(col("doc_id"),
        graft.functions.shingle_hashes(split(col("text"), " "), 3).as("shh"))
      .select(col("doc_id"), size(col("shh")).as("c"), explode(col("shh")).as("gh"))
    val a = tri.select(col("gh"), col("doc_id").as("id_x"), col("c").as("cx"))
    val b = tri.select(col("gh"), col("doc_id").as("id_y"), col("c").as("cy"))
    // aggregate each UNORDERED pair once (id_x < id_y) and emit the
    // two orientations from the single shared intersection count —
    // halves the pair-join output and the aggregation shuffle vs
    // aggregating (A,B) and (B,A) separately (measured 2.65s -> ~1.4s
    // at sf0.1: the agg's input rows are the whole cost, since with
    // near-unique groups map-side partials reduce nothing)
    a.join(b, Seq("gh"))
      .filter(col("id_x") < col("id_y"))
      .groupBy(col("id_x"), col("id_y"))
      .agg(count(lit(1)).as("inter"), max(col("cx")).as("cx"), max(col("cy")).as("cy"))
      .select(explode(array(
        struct(col("id_x").as("id_a"), col("id_y").as("id_b"),
          (col("inter").cast("double") / col("cx")).as("containment")),
        struct(col("id_y").as("id_a"), col("id_x").as("id_b"),
          (col("inter").cast("double") / col("cy")).as("containment")))).as("o"))
      .select(col("o.id_a").as("id_a"), col("o.id_b").as("id_b"),
        col("o.containment").as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** C4c under a Zipfian tail: ASYMMETRIC prefix filtering, exact.
    * Containment |A∩B|/|A| >= t bounds only A's side: with A's
    * shingles in canonical rarest-first order (global df, then hash),
    * a qualifying pair must share a shingle within A's first
    * ca - ceil(t*ca) + 1 shingles — if every shared shingle sat in
    * the last ceil(t*ca) - 1 positions, |A∩B| < ceil(t*ca) <= the
    * required overlap. So posting lists are built on A-PREFIXES ONLY
    * and joined against B's FULL postings (B has no prefix bound —
    * containment says nothing about where the overlap falls in B).
    * Hot tail-end shingles get cut from every A-prefix, so a hot
    * list pairs d_g x (few prefix hits) instead of d_g^2. The exact
    * size prune cb >= t*ca still applies. Candidates are verified
    * with one set intersection on the full shingle arrays.
    */
  def containmentPairsPrefix(docs: DataFrame, minContainment: Double): DataFrame = {
    // spread a one-split scan before the shingle kernel (see
    // ngramJaccardPairs)
    val sh = graft.sources.Tables.spreadIfOneSplit(docs)
      .select(col("doc_id"),
        graft.functions.shingle_hashes(split(col("text"), " "), 3).as("shh"))
      .withColumn("c", size(col("shh")))
    val posting = sh.select(col("doc_id"), col("c"), explode(col("shh")).as("gh"))
    val dfTab = posting.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gh"))
    val prefixA = posting.join(dfTab, "gh")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("c") - ceil(col("c") * lit(minContainment)) + 1)
      .select(col("gh"), col("doc_id").as("id_a"), col("c").as("ca"))
    val full = posting.select(col("gh"), col("doc_id").as("id_b"), col("c").as("cb"))
    val cand = prefixA.join(full, Seq("gh"))
      .filter(col("id_a") =!= col("id_b") &&
        col("cb").cast("double") >= col("ca") * minContainment)
      .select(col("id_a"), col("id_b")).distinct()
    val sets = sh.select(col("doc_id"), col("shh"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("shh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("shh").as("sh_b")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Skew-adaptive containment pairs: same dispatch rule as
    * [[ngramJaccardAdaptive]] — one small df-skew stats job picks the
    * plain inverted-index aggregation (flat corpora: fewer passes
    * wins) or the asymmetric prefix-filtered join (Zipfian corpora:
    * hot posting lists never pair). Both paths are exact, so the
    * dispatch changes the physical plan, never the result.
    *
    * BUDGET GUARD: the plain path's join output is sum(df^2) rows by
    * construction, and a UNIFORM-df corpus — exactly the regime the
    * skew rule dispatches to the plain path — is also where that
    * mass can explode (every doc shares some shingle with many
    * others, no Zipf head for prefix filtering to cut). The same
    * stats job estimates sum(df^2) up front; over `pairMassBudget`
    * the dispatch REFUSES with the estimate in the message instead
    * of launching a silent multi-hour job. (Prefix filtering is no
    * rescue on uniform df — it trims candidate mass by only the
    * constant factor (1 - t), so a refused corpus needs minhashLsh /
    * semanticDedup, a sharper threshold, or an explicit budget.)
    * Default budget: measured sum(df^2) is ~2.8e6 at sf0.1 and
    * ~2.8e8 at the 10x stress replication (df scales linearly with
    * replication, so mass scales quadratically); 1e10 gives the
    * legitimate stress runs ~35x headroom while refusing the 100x+
    * adversarial regime, where the candidate shuffle alone is
    * hundreds of GB.
    */
  def containmentPairsAdaptive(docs: DataFrame, minContainment: Double,
                               skewThreshold: Double = 8.0,
                               pairMassBudget: Double = 1e10,
                               precomputed: Option[ShingleStats] = None): DataFrame = {
    val stats = precomputed.getOrElse(shingleStats(docs))
    if (stats.skew >= skewThreshold) containmentPairsPrefix(docs, minContainment)
    else if (stats.estPairMass > pairMassBudget)
      throw new IllegalStateException(
        f"containment candidate mass ~${stats.estPairMass}%.3g candidate rows " +
          f"exceeds pairMassBudget ${pairMassBudget}%.3g, and the corpus df is " +
          f"uniform (skew ${stats.skew}%.1f < $skewThreshold%.1f) so prefix " +
          "filtering cannot bound it. Raise pairMassBudget explicitly, raise " +
          "minContainment, or use minhashLsh/semanticDedup for this corpus.")
    else containmentPairs(docs, minContainment)
  }

  /** C4 under a Zipfian tail: PPJoin-style prefix filtering, exact.
    * Shingles are canonically ordered rarest-first (global df, then
    * hash); a pair with Jaccard >= t must share a shingle within each
    * doc's first c - ceil(t*c) + 1 shingles (if all shared shingles
    * sat in the last ceil(t*c) - 1 positions, the overlap would be
    * < t*c <= |a ∩ b| — contradiction), so posting lists are built
    * on prefixes only and the hot tail-end shingles never join.
    * Costs two extra linear passes (df + rank window); wins when
    * sum(df^2) is df-skew-dominated, loses on flat corpora — use
    * [[ngramJaccardAdaptive]] to dispatch on the measured skew.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, minJaccard: Double,
                              lenBand: Int = 20): DataFrame = {
    // spread a one-split scan before the shingle kernel (see
    // ngramJaccardPairs)
    val sh = graft.sources.Tables.spreadIfOneSplit(docs)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.shingle_hashes(split(col("text"), " "), 3).as("shh"))
      .withColumn("c", size(col("shh")))
    val posting = sh.select(col("doc_id"), col("n_chars"), col("c"),
      explode(col("shh")).as("gh"))
    val dfTab = posting.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gh"))
    val prefix = posting.join(dfTab, "gh")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("c") - ceil(col("c") * lit(minJaccard)) + 1)
      .select(col("gh"), col("doc_id"), col("n_chars"))
    val a = prefix.select(col("gh"), col("doc_id").as("id_a"), col("n_chars").as("nc_a"))
    val b = prefix.select(col("gh"), col("doc_id").as("id_b"), col("n_chars").as("nc_b"))
    val cand = a.join(b, Seq("gh"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("nc_a") - col("nc_b")) <= lenBand)
      .select(col("id_a"), col("id_b")).distinct()
    val sets = sh.select(col("doc_id"), col("shh"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("shh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("shh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Skew-adaptive n-gram Jaccard: measure the shingle df skew with a
    * small stats job, then run the plain inverted-index join (flat
    * corpora — fewer passes wins) or the prefix-filtered join
    * (Zipfian corpora — hot posting lists never pair). Both paths are
    * exact; the threshold default sits well above flat-corpus skew
    * (~1-2 measured) and well below Zipfian skew (>100 measured).
    */
  def ngramJaccardAdaptive(docs: DataFrame, minJaccard: Double, lenBand: Int = 20,
                           skewThreshold: Double = 8.0,
                           precomputed: Option[ShingleStats] = None): DataFrame = {
    val pairs =
      if (precomputed.getOrElse(shingleStats(docs)).skew > skewThreshold)
        ngramJaccardPairsPrefix(docs, minJaccard, lenBand)
      else ngramJaccardPairs(docs, minJaccard, lenBand)
    pairs.orderBy(col("id_a"), col("id_b"))
  }

  /** MinHash signature per doc: a single codegen'd pass over the
    * hashed shingle set (MinHashSig expression) — no explode, no
    * aggregation shuffle; signatures are a pure projection. The 64
    * permutations are 31-bit affine maps (exact long math under
    * ANSI mode).
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    hashedShingles(docs).select(col("doc_id"),
      graft.functions.minhash_sig(col("shh")).as("sig"))

  /** C2: MinHash + banded LSH (16 bands x 4 rows) -> candidate pairs
    * sharing a band -> exact-Jaccard verification. Probability a pair
    * with true Jaccard s becomes a candidate: 1-(1-s^4)^16 (>=99.98%
    * at s=0.8).
    */
  /** The 16x4 band hashes of a 64-slot minhash signature column —
    * ONE definition shared by [[minhashLsh]] and the streaming index
    * ([[graft.streaming.NearDupStream]]) so the banding cannot
    * diverge between the batch and incremental paths.
    */
  def bandStructs(sig: Column): Seq[Column] = (0 until 16).map { k =>
    struct(lit(k).as("band"),
      xxhash64((0 until 4).map(r => sig.getItem(4 * k + r)) :+ lit(k): _*).as("bh"))
  }

  /** Banded signature rows (doc_id, band, bh) for the C2 LSH. */
  def minhashBands(docs: DataFrame): DataFrame = {
    val withSig = hashedShingles(docs).select(col("doc_id"),
      graft.functions.minhash_sig(col("shh")).as("sig"))
    withSig.select(col("doc_id"), explode(array(bandStructs(col("sig")): _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** HOT-BUCKET GUARD (r15 verdict task 4): a degenerate band bucket —
    * near-empty docs, templated boilerplate, a replicated corpus —
    * puts b docs behind one (band, bh) key and the candidate join
    * emits b² rows from it; at corpus scale that single bucket is a
    * quadratic plan the rest of the banding can't dilute. The guard
    * measures max bucket occupancy up front (one aggregation on the
    * SAME key the join would shuffle on) and refuses with remediation
    * instead of launching the blowup — the same fail-fast discipline
    * as [[containmentPairsAdaptive]]'s pairMassBudget. The per-bucket
    * cap (not total mass) is the right knob here: legitimate near-dup
    * corpora have small buckets (clusters of a handful of docs; 25x
    * stress replication multiplies them 25x, still thousands under
    * the default), while the failure mode is one bucket with 10^4+
    * members. `maxBucketDocs <= 0` disables the pre-check for callers
    * that have already bounded the corpus.
    */
  private[graft] def assertBucketsBounded(cand: DataFrame,
                                          maxBucketDocs: Int): Unit = {
    if (maxBucketDocs <= 0) return
    val hot = cand.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > maxBucketDocs)
      .agg(coalesce(max(col("cnt")), lit(0L)).as("worst"),
        count(lit(1)).as("n_hot"))
      .head()
    if (hot.getLong(1) > 0)
      throw new IllegalStateException(
        s"minhash-LSH hot bucket: ${hot.getLong(1)} band bucket(s) exceed " +
          s"maxBucketDocs=$maxBucketDocs (worst ${hot.getLong(0)} docs — " +
          "~" + (hot.getLong(0) * hot.getLong(0)) + " candidate pairs from " +
          "ONE bucket). This is a templated/boilerplate or near-empty-doc " +
          "flood: dedupExact byte-identical docs first, cluster with " +
          "dupClusters (linear output) instead of pair enumeration, or " +
          "raise maxBucketDocs explicitly.")
  }

  def minhashLsh(docs: DataFrame, minJaccard: Double = 0.8,
                 maxBucketDocs: Int = 5000): DataFrame = {
    // spread a one-split scan before the shingle+signature kernels
    // (see ngramJaccardPairs); the streaming path (NearDupStream)
    // shingles its own micro-batches and is untouched
    val withSig = hashedShingles(graft.sources.Tables.spreadIfOneSplit(docs))
      .select(col("doc_id"), col("shh"),
        graft.functions.minhash_sig(col("shh")).as("sig"))
    val bands = bandStructs(col("sig"))
    val cand = withSig.select(col("doc_id"), explode(array(bands: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    assertBucketsBounded(cand, maxBucketDocs)
    val pairs = cand.alias("x").join(cand.alias("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // verify candidates with exact hashed-shingle Jaccard
    val sh = withSig.select(col("doc_id"), col("shh"))
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("shh").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shh").as("sh_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** C3: SimHash near-dups — 64-bit signature (custom codegen
    * expression), bucketed by its four 16-bit chunks (hamming<=3
    * guarantees at least one equal chunk — pigeonhole), verified by
    * exact hamming distance.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // spread a one-split scan before the signature kernel (see
    // ngramJaccardPairs)
    val sig = graft.sources.Tables.spreadIfOneSplit(docs)
      .select(col("doc_id"), simhash64(split(col("text"), " ")).as("sig"))
    val expl = sig.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col("sig"), 16 * c).bitwiseAND(lit(0xffffL)).as("ck"))): _*))
        .as("b"))
      .select(col("doc_id"), col("sig"), col("b.chunk").as("chunk"), col("b.ck").as("ck"))
    // hamming filters BEFORE the pair distinct (a pure function of
    // the joined row), so the distinct's shuffle carries only the
    // surviving near-dup pairs, never the banded candidate mass
    expl.alias("x").join(expl.alias("y"), Seq("chunk", "ck"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .withColumn("hamming", hamming64(col("x.sig"), col("y.sig")))
      .filter(col("hamming") <= maxHamming)
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("hamming"))
      .distinct()
      .orderBy(col("id_a"), col("id_b"))
  }

  /** C5: embedding near-dup pairs above a cosine threshold. Exhaustive
    * (broadcast nested loop) — exact by construction, used as the
    * oracle-checkable twin; production-scale candidate generation is
    * LSH (graft.ann.Ann).
    */
  /** Rounds the last [[connectedComponents]] star loop ran —
    * spec-visible so the O(log n) bound is pinned by a test.
    */
  @volatile private[graft] var lastCcRounds: Int = 0

  /** One large-star step over a canonical (u > v) edge frame: every
    * node u connects its strictly-larger neighbors to the minimum of
    * its closed neighborhood. Output stays canonical (d > s >= m).
    */
  private def largeStarStep(e: DataFrame): DataFrame = {
    val bidir = e.select(explode(array(
        struct(col("u").as("s"), col("v").as("d")),
        struct(col("v").as("s"), col("u").as("d")))).as("x"))
      .select(col("x.s").as("s"), col("x.d").as("d"))
    val mins = bidir.groupBy(col("s")).agg(min(col("d")).as("mn"))
      .select(col("s"), least(col("mn"), col("s")).as("m"))
    bidir.join(mins, "s").filter(col("d") > col("s"))
      .select(col("d").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** One small-star step: every node u connects its smaller neighbors
    * (and itself) to the minimum of that neighborhood. Canonical in,
    * canonical out.
    */
  private def smallStarStep(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
    e.join(mins, "u").select(col("v").as("x"), col("m"))
      .unionAll(mins.select(col("u").as("x"), col("m")))
      .filter(col("x") =!= col("m"))
      .select(col("x").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Dup-cluster formation: connected components over a near-dup pair
    * graph by LARGE-STAR/SMALL-STAR alternation (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * public algorithm behind every production-scale CC). Round count
    * is O(log n) in component size instead of the O(diameter) of
    * min-label propagation (r15 verdict task 5): on a chain-shaped
    * component the old hash-min loop paid one full-graph shuffle PER
    * HOP and its 50-round safety cap silently returned unconverged
    * labels past diameter 50 — the star alternation converges a
    * 2^50-node component inside the same cap, and the cap now throws
    * instead of silently mislabeling.
    *
    * Returns (id, cluster_id = min doc id reachable). The frame reads
    * local checkpoints (the edge list, the final labels), which
    * Spark's context cleaner frees once the frame is unreferenced, so
    * there is no cache for the caller to release.
    *
    * `driverFormAt` (r16 optimization): below this EDGE-COUNT bound
    * the kernel runs union-find on the driver instead of the star
    * loop — the [[graft.operators.AnalyticsQueries.bfsLevels]]
    * driver-form/join-form discipline applied to CC. The star loop's
    * per-round cost at a small edge count is pure scheduling floor
    * (measured sf0.1: 3,572 edges, 4 rounds, ~0.7 s/round, 53
    * AQE-stage jobs ≈ 3.5 s wall for a graph that union-finds in
    * microseconds); a dup/co-purchase graph is typically orders of
    * magnitude smaller than its corpus, so the bound is hit by real
    * pipelines, not just test SFs. 2²⁰ edges ≈ 16 MB of collected
    * longs — the same driver-memory class as the SnapshotStore's
    * maxPlannedBroadcast and the BFS InSet frontier. The edge count
    * is already computed (loop-parallelism sizing), so the dispatch
    * adds no job. PipelineSpec pins both forms to identical labels
    * and forces `driverFormAt = 0` to exercise the star loop.
    */
  def connectedComponents(pairs: DataFrame, vertices: DataFrame,
                          driverFormAt: Long = 1L << 20): DataFrame = {
    // canonical undirected edge list (u > v, no self-loops) — the
    // eager localCheckpoint evaluates the (possibly expensive)
    // candidate-generation lineage exactly once; every loop round
    // starts from materialized blocks
    // LAZY checkpoint + count (r17, verdict item 5): the count below
    // is the first action, so it materializes the checkpoint blocks
    // AND returns the edge count in ONE job — the eager form paid a
    // materialization job and then a second block-reading count job.
    val edges0 = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    // the loop is eager by nature (a convergence check every round),
    // so counting the edges here is not an extra pass — and it lets
    // loop parallelism follow the DUP GRAPH's size, not the session's
    // shuffle width: a near-dup graph is typically orders of
    // magnitude smaller than the corpus, and running its tiny
    // per-round joins at full width bills fixed task overhead 32x per
    // stage. ~100k edges per partition; at a billion edges this keeps
    // full width.
    val nEdges = edges0.count()
    if (nEdges <= driverFormAt) {
      // DRIVER FORM: bounded collect (≤ driverFormAt edges of two
      // longs), classic union-find (path compression + union by
      // rank), then one relabel pass so every node gets its
      // component's MINIMUM id — the exact contract of the star
      // loop's fixpoint. One collect job + one parallelized label
      // frame instead of ~5 shuffle-stage jobs per star round.
      lastCcRounds = 0
      val spark = pairs.sparkSession
      val rows = edges0.select(col("u"), col("v")).collect()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      val rank = scala.collection.mutable.LongMap.empty[Int]
      def find(x0: Long): Long = {
        var root = x0
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var x = x0
        while (parent.getOrElse(x, x) != x) {
          val nxt = parent(x); parent(x) = root; x = nxt
        }
        root
      }
      rows.foreach { r =>
        val ra = find(r.getLong(0)); val rb = find(r.getLong(1))
        if (ra != rb) {
          val (ka, kb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
          if (ka < kb) parent(ra) = rb
          else if (kb < ka) parent(rb) = ra
          else { parent(rb) = ra; rank(ra) = ka + 1 }
        }
      }
      val minOf = scala.collection.mutable.LongMap.empty[Long]
      val nodes = scala.collection.mutable.LongMap.empty[Unit]
      rows.foreach { r =>
        nodes(r.getLong(0)) = (); nodes(r.getLong(1)) = ()
      }
      nodes.foreachKey { n =>
        val root = find(n)
        if (n < minOf.getOrElse(root, Long.MaxValue)) minOf(root) = n
      }
      val labelRows = nodes.keysIterator
        .map(n => org.apache.spark.sql.Row(n, minOf(find(n)))).toSeq
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val labels = spark.createDataFrame(
        spark.sparkContext.parallelize(labelRows,
          math.max(1, labelRows.length / 500000)), schema)
      val singletons = vertices.join(labels, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster_id"))
      return labels.unionAll(singletons)
    }
    val loopParts = math.max(1, math.min(
      edges0.rdd.getNumPartitions, (nEdges / 100000L).toInt + 1))
    // only vertices incident to an edge participate in the loop; the
    // untouched singletons are unioned back at the end — the loop's
    // joins scale with the DUP graph, not the corpus
    val active = edges0.select(col("u").as("id"))
      .unionAll(edges0.select(col("v").as("id")))
      .distinct().localCheckpoint(true)
    // Large-star/small-star alternation to the edge-set fixpoint (a
    // set of stars rooted at each component's minimum id). Each
    // round's edge frame is an EAGER localCheckpoint — lineage is
    // truncated, so round r+1's plan starts from round r's blocks
    // (the cache/count/unpersist chain recompiled dependents and went
    // exponential; see r13 history). Convergence is the edge-set
    // invariant (count, decimal-sum of per-edge hashes): stars are
    // the alternation's only fixpoints, so two identical consecutive
    // rounds == converged. The decimal(38,0) sum keeps the check
    // exact at any edge count.
    def stats(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var edges = edges0.coalesce(loopParts)
    var prev: (Long, java.math.BigDecimal) = null
    var cur = stats(edges)
    var rounds = 0
    while (cur._1 > 0 &&
      (prev == null || prev._1 != cur._1 || prev._2.compareTo(cur._2) != 0)) {
      if (rounds >= 64)
        throw new IllegalStateException(
          "connected components did not converge in 64 star rounds — " +
            "O(log n) bounds this at well beyond any real graph; the " +
            "edge frame is non-deterministic across evaluations")
      // LAZY checkpoint (r17, verdict item 5): the convergence stats
      // aggregate is the round's first action, so one job both
      // computes the round's edges (persisting the blocks — local
      // checkpointing rides the computing job) and returns the
      // invariant; the eager form ran a materialization job and then
      // a separate stats job re-reading the fresh blocks. Lineage is
      // truncated identically (the Dataset wraps the checkpointed
      // RDD), so round r+1 still plans from round r's blocks.
      edges = smallStarStep(largeStarStep(edges)).localCheckpoint(false)
      prev = cur
      cur = stats(edges)
      rounds += 1
    }
    lastCcRounds = rounds
    // at the fixpoint every non-root node appears exactly once as u
    // with its component's minimum as v; roots and (defensively) any
    // unmapped active node label themselves
    val labels = active
      .join(edges.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("cluster_id"))
      .localCheckpoint(true)
    // anti-join against the (checkpointed) final labels, NOT against
    // intermediates — referencing them from this lazily-evaluated
    // result would re-run the whole lineage at the caller's action
    val singletons = vertices.join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    labels.unionAll(singletons)
  }

  /** C19/C36 shared lineage: the PERSISTED cluster map. Real curation
    * pipelines run connected components once and persist the
    * (id, cluster_id) table; every downstream report (keep/drop
    * decisions, size distributions, canonical picks) reads that
    * table instead of re-running CC. This lands the trigram-Jaccard
    * dup-cluster map as a [[graft.store.SnapshotStore]] through
    * [[graft.sources.DerivedTable]], keyed by a fingerprint of the
    * corpus files (path/size/mtime) and the clustering parameters — a
    * corpus or parameter change invalidates the key and triggers a
    * fresh build; otherwise every caller in this session reads the
    * same committed snapshot.
    *
    * At 100 TB this is the difference between paying the CC rounds
    * once per pipeline run vs once per report.
    */
  def clustersTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                    docs: => DataFrame, minJaccard: Double = 0.5,
                    lenBand: Int = 20): DataFrame =
    graft.sources.DerivedTable.readOrBuildAs(spark, "cluster-store", dir,
      Seq("documents"), clusterParams(minJaccard, lenBand))(tmp => {
      val d = docs
      val pairs = ngramJaccardPairs(d, minJaccard = minJaccard, lenBand = lenBand)
        .select("id_a", "id_b")
      new graft.store.SnapshotStore(spark, tmp, keyCol = "id")
        .commit(connectedComponents(pairs, d.select(col("doc_id").as("id"))))
    })(root => new graft.store.SnapshotStore(spark, root, keyCol = "id").read()
      .getOrElse(throw new IllegalStateException(s"cluster table commit failed under $root")))

  private def clusterParams(minJaccard: Double, lenBand: Int): String =
    s"j=$minJaccard,b=$lenBand"

  /** [[clustersTable]]'s store location — package-visible so specs
    * can open the same store and assert version behavior. */
  private[graft] def clusterStoreRoot(dir: String, minJaccard: Double,
                                      lenBand: Int): String =
    graft.sources.DerivedTable.rootFor("cluster-store", dir,
      Seq("documents"), clusterParams(minJaccard, lenBand))

  /** C5 at scale: LSH-bucketed near-dup candidates — pairs only form
    * within a random-hyperplane sign bucket, so work is
    * sum(bucket^2) ~ n^2/2^bits instead of n^2/2. Approximate (a pair
    * split across buckets is missed; multi-probe narrows that);
    * recall vs the exhaustive twin is spec-measured.
    */
  /** Verification strategies for [[embeddingNearDupsLsh]]:
    * - `"broadcast"` — candidates are NOT deduped before verification:
    *   on cluster-structured corpora the candidate set is tens of
    *   millions of rows, and the dedup shuffle (measured 24s of a 22s
    *   query at 10k x 5-dup vectors) costs far more than re-verifying
    *   the ~2x duplicated candidates through broadcast joins (no
    *   shuffle) + a codegen'd dot product; only the thresholded
    *   output — orders of magnitude smaller — is deduped. Requires
    *   the (vec_id, embedding, norm) corpus to fit in one executor.
    * - `"shuffle"` — billion-vector path: distinct the candidate ids
    *   FIRST (pay one dedup exchange to halve the verify work), then
    *   fetch embeddings through partitioned hash joins. No driver or
    *   single-executor memory requirement; everything shuffles on
    *   vec_id.
    */
  def embeddingNearDupsLsh(emb: DataFrame, threshold: Double, bits: Int = -1,
                           tables: Int = 4,
                           verify: String = "broadcast"): DataFrame = {
    require(verify == "broadcast" || verify == "shuffle",
      s"verify must be 'broadcast' or 'shuffle', got '$verify'")
    // bits sizes the bucket space: too few buckets degenerates to
    // within-bucket quadratic blowup (measured: 6 bits on a 10k-vector
    // 5x-duplicated corpus -> 43M candidate pairs, a 33s distinct).
    // Auto mode targets ~16 vectors per bucket — true near-dups
    // (cos ~ 1) collide at ANY bits, so recall loss concentrates on
    // borderline pairs, which multi-table probing recovers. The row
    // count comes from Catalyst statistics (exact when available,
    // else plan sizeInBytes over the schema's row width) — NEVER a
    // driver-side count() action: that would scan the full corpus a
    // second time before the query even runs.
    val b = if (bits > 0) bits else {
      val stats = emb.queryExecution.optimizedPlan.stats
      val estRows: Double = stats.rowCount match {
        case Some(rc) => rc.toDouble
        case None =>
          // sizeInBytes for a parquet scan is the ON-DISK (compressed)
          // size, so rows/width underestimates by the compression
          // ratio — and underestimating biases bits LOW, toward
          // exactly the within-bucket quadratic blowup this sizing
          // exists to avoid. Apply a 4x decompression fudge: an
          // OVER-estimate only adds buckets (recall loss on borderline
          // pairs, recovered by multi-table probing) — the cheap
          // direction to be wrong in. Exact CBO rowCount (ANALYZE /
          // spark.sql.statistics) is preferred above when present;
          // benchmarked queries pin bits explicitly.
          val width = math.max(1, emb.schema.defaultSize)
          (stats.sizeInBytes / width).toDouble * 4.0
      }
      math.min(12, math.max(4,
        (math.log(math.max(1.0, estRows / 16.0)) / math.log(2.0)).ceil.toInt))
    }
    // L independent hash tables: a pair is a candidate if it collides
    // in ANY table (recall 1-(1-p)^L); each table's buckets are
    // disjoint keys via the table id, so one exploded join serves all.
    val keyed = (0 until tables).map { t =>
      graft.ann.Ann.lshBucketTable(emb, b, t)
        .select(col("vec_id"), struct(lit(t).as("t"), col("bucket").as("b")).as("tb"))
    }.reduce(_ unionAll _)
    val rawPairs = keyed.alias("x").join(keyed.alias("y"), Seq("tb"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
    val normed = emb.select(col("vec_id"), col("embedding"),
      graft.functions.norm_double(col("embedding")).as("nrm"))
    val na = normed.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      col("nrm").as("na"))
    val nb = normed.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("nrm").as("nb"))
    val verified = verify match {
      case "broadcast" =>
        rawPairs.join(broadcast(na), "id_a").join(broadcast(nb), "id_b")
      case "shuffle" =>
        rawPairs.distinct().join(na, "id_a").join(nb, "id_b")
    }
    val out = verified
      .withColumn("cos",
        graft.functions.dot_double(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
    // broadcast path re-verifies duplicated candidates, so its (small)
    // output still needs the dedup; the shuffle path deduped up front
    (if (verify == "broadcast") out.distinct() else out)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** C28: semantic (cluster-granular) dedup — partition the corpus by
    * the deterministic IVF coarse quantizer ([[graft.ann.Ann.ivfAssign]])
    * and keep ONE representative per cluster (min vec_id; swap in a
    * quality rank when one exists). Coarser than pairwise near-dup:
    * this is the "drop semantically redundant mass" pass a mixture
    * designer runs before token budgeting. Scale shape: the corpus
    * never pair-shuffles — one broadcast-join assignment pass, an
    * nLists-row aggregate, and a broadcast join back.
    */
  def semanticDedup(emb: DataFrame, nLists: Int = 8): DataFrame = {
    val assign = graft.ann.Ann.ivfAssign(emb, nLists)
    val stats = assign.groupBy(col("list_id"))
      .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("cluster_size"))
    assign.join(broadcast(stats), "list_id")
      .select(col("vec_id"), col("list_id").cast("long").as("cluster_id"),
        col("keep_id"),
        (col("vec_id") === col("keep_id")).cast("int").as("is_kept"),
        col("cluster_size"))
  }

  def embeddingNearDups(emb: DataFrame, threshold: Double): DataFrame = {
    // Norms are computed once per vector up front (not once per PAIR —
    // an O(n) vs O(n^2) difference in norm work); the pair loop is
    // then a single codegen'd dot product.
    val normed = emb.select(col("vec_id"), col("embedding"),
      graft.functions.norm_double(col("embedding")).as("nrm"))
    // the broadcast NLJ's parallelism IS the streamed side's partition
    // count, and its per-partition work is QUADRATIC (n·|part| dot
    // products) — a 1-2 split embeddings scan serializes the whole
    // pair loop onto 1-2 cores (measured sf0.1: 4 tasks, 2.3 s).
    // Widening the streamed side ships each vector once (n rows, ~0.5
    // KB each) to buy n²/width-way parallel dot products — the §2.3
    // "shuffle a few bytes to place heavy compute" trade, and a no-op
    // where the scan already has ≥ cores splits.
    val width = math.min(64, emb.sparkSession.sparkContext.defaultParallelism)
    val a0 = normed.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val a = if (a0.rdd.getNumPartitions < width) a0.repartition(width) else a0
    val b = normed.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("cos",
        graft.functions.dot_double(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
