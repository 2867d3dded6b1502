package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.row_position
import graft.sources.Tables

/** C-block extensions, round 4: corpus-scale ingest/curation
  * operators — PII redaction, Bloom-prefiltered decontamination,
  * incremental (new-batch-vs-corpus) dedup, and deterministic
  * training-order shuffle.
  */
object CorpusQueries {

  private def spreadIfOneSplit(df: DataFrame): DataFrame =
    Tables.spreadIfOneSplit(df)

  // PII patterns — plain character-class regexes, identical semantics
  // under Java regex (Spark) and RE2 (DuckDB): no lookaround, no
  // backreferences, greedy quantifiers only.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "(\\+1-)?555-[0-9]{4}"

  /** The synthetic-PII text column: the corpus' documents carry no
    * PII-shaped strings, so both engines append a deterministic
    * email + phone (and a second phone on every third doc) derived
    * from doc_id — every row then exercises real redaction.
    */
  private def augmented: org.apache.spark.sql.Column =
    concat(
      col("text"), lit(" contact u"), col("doc_id").cast("string"),
      lit("@ex"), pmod(col("doc_id"), lit(7L)).cast("string"),
      lit(".org or call +1-555-"),
      lpad(pmod(col("doc_id") * 37L, lit(10000L)).cast("string"), 4, "0"),
      when(pmod(col("doc_id"), lit(3L)) === 0L,
        concat(lit(" alt 555-"),
          lpad(pmod(col("doc_id") * 91L, lit(10000L)).cast("string"), 4, "0")))
        .otherwise(lit("")))

  /** C24: PII redaction — scrub emails/phones to typed placeholder
    * tokens and count what was scrubbed. One codegen'd projection
    * per row, no shuffle: the 100 TB shape is a map-only pass.
    * The scrub is ONE fused byte scan ([[graft.functions.PiiScrub]])
    * replacing the previous 3x regexp_replace + 2x
    * regexp_extract_all (five full Java-regex passes per document,
    * 19.8x the single-node baseline); PiiScrubSpec pins the fused
    * scanner byte-identical to the regex composition it replaces,
    * including the local-part-swallows-phone and
    * adjacent-match-boundary cases.
    */
  def qPiiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .withColumn("t", augmented)
      .select(col("doc_id"), graft.functions.pii_scrub(col("t")).as("p"))
      .select(col("doc_id"), col("p.red_text").as("red_text"),
        col("p.n_emails").as("n_emails"), col("p.n_phones").as("n_phones"))
      .orderBy(col("doc_id"))

  /** C25: Bloom-prefiltered benchmark decontamination — q_contamination's
    * semantics (does a training doc share a 5-gram with the held-out
    * src0 set?) with the 100 TB plan: the benchmark's 5-gram set is
    * aggregated into ONE broadcastable Bloom blob, the corpus posting
    * stream is prefiltered by a codegen'd membership probe BEFORE any
    * shuffle, and a small exact semi-join on the surviving grams
    * removes Bloom false positives — the result is EXACT, but the
    * corpus-sized join shuffle is gone (only near-certain hits move).
    */
  def qBloomContamination(spark: SparkSession, dir: String): DataFrame = {
    val (out, eval, prefiltered) = bloomContaminationFrames(spark, dir)
    // eager-checkpoint the (tiny) contaminated-id result, then
    // RELEASE both barrier caches (ADVICE r10): they are optimizer
    // barriers, not artifacts, and must not outlive the query call
    val checkpointed = out.localCheckpoint(true)
    eval.unpersist(blocking = false)
    prefiltered.unpersist(blocking = false)
    checkpointed
  }

  /** The C25 frames BEFORE the release-path checkpoint — the
    * optimizer-plan surface PlanShapeSpec asserts on (the contract
    * query's returned plan is a checkpoint scan): (result, eval
    * cache, prefilter cache).
    */
  private[graft] def bloomContaminationFrames(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    // (no one-split spread here: shingle_hashes is a cheap codegen
    // kernel, not string-concat gram work — the exchange measured as
    // a net loss, 1.01 -> 1.12s at sf0.1)
    val docs = Tables(spark, dir).documents
    val grams = docs.select(col("doc_id"), col("source"),
      explode(graft.functions.shingle_hashes(split(col("text"), " "), 5)).as("gh"))
    // benchmark gram set: small by construction (the held-out split),
    // and read twice — by the blob build and by the exact confirm
    // semi-join. Caching it saves a full re-shingle of the eval
    // split per read.
    val eval = grams.filter(col("source") === "src0")
      .select(col("gh")).distinct()
      .cache()
    // one-row blob; numBits pinned (driver-derived sizing would make
    // the plan depend on stats — fixed 2^17 bits ≈ 16 KB holds the
    // benchmark's ~10k grams at ~2% fpp, and fpp only costs verify
    // work, never correctness)
    val blob = eval.agg(graft.functions.bloom_agg(col("gh"), numBits = 1 << 17).as("bf"))
    val train = grams.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("gh"))
    val prefiltered = train.crossJoin(broadcast(blob))
      .filter(graft.functions.bloom_might_contain(col("bf"), col("gh")))
      .select(col("doc_id"), col("gh"))
      // pin the stage order by MATERIALIZING the prefiltered stream:
      // PushDownLeftSemiAntiJoin is not cost-based — it would always
      // sink the confirm semi-join below the bloom probe (harmless
      // while the eval set broadcasts, but at the scale where it must
      // shuffle-join, the corpus would shuffle BEFORE the prefilter —
      // the exact cost the bloom removes). The cache is an optimizer
      // barrier, and what it holds is small by design: only
      // bloom-surviving postings (~hit rate + fpp of the corpus).
      .cache()
    val out = prefiltered.join(eval, Seq("gh"), "left_semi")
      .select(col("doc_id")).distinct()
      .orderBy(col("doc_id"))
    (out, eval, prefiltered)
  }

  /** C26: incremental dedup — the ingest-time form of exact dedup: a
    * new batch (fresh src1 docs + a deterministic re-delivery of
    * every 7th corpus doc under a new id) is anti-joined against the
    * existing corpus, so re-ingested content is dropped and only
    * genuinely-new documents survive. The join runs on the 8-byte
    * rolling-hash fingerprint (equal iff texts equal at these scales;
    * [[graft.functions.rolling_hash64]] separation is spec'd), so at
    * 100 TB the shuffle moves fingerprints, never document bodies.
    */
  def qIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val fp = graft.functions.rolling_hash64(col("text"))
    val corpus = docs.filter(col("source") =!= "src1")
      .select(col("doc_id"), fp.as("fp"))
    val resent = docs.filter(col("source") =!= "src1" && pmod(col("doc_id"), lit(7L)) === 0L)
      .select((col("doc_id") + 10000000L).as("doc_id"), fp.as("fp"))
    val batch = docs.filter(col("source") === "src1")
      .select(col("doc_id"), fp.as("fp"))
      .unionAll(resent)
    batch.join(corpus.select(col("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** C27: deterministic global shuffle — the training-order pass: a
    * total order by md5(seed || doc_id) is uniform (no hot range),
    * reproducible in any engine, and re-materializing the corpus
    * yields the identical order. The position is assigned by
    * range-partitioned sort + `row_position()` (per-partition counts
    * -> cumulative offsets -> local ranks, inside the plan), NOT a
    * global row_number window — the window's empty partition spec
    * would collapse the whole corpus into ONE task. Seed pinned
    * ("graft-shuffle-42").
    */
  def qGlobalShuffle(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat(lit("graft-shuffle-42:"), col("doc_id").cast("string")))
    Tables(spark, dir).documents
      .select(col("doc_id"), key.as("k"))
      .orderBy(col("k"), col("doc_id")) // range partition + in-partition sort
      .select(col("doc_id"), (row_position() + 1L).as("pos"))
      .orderBy(col("doc_id"))
  }

  /** C29: deterministic per-group uniform sample via the bottom-k
    * (KMV) sketch — k smallest md5(seed||id) per source. Mergeable
    * map-side partials move k rows per group per partition instead
    * of shuffling whole groups; the hash priority makes the sample
    * identical on any engine/partitioning (oracle replays it).
    */
  /** C59: sharded export manifest — the "write the training set as N
    * balanced shards" step (WebDataset/TFRecord style): documents
    * laid out in the C27 deterministic global-shuffle order, dealt
    * round-robin into 16 shards (sizes differ by at most one; each
    * shard is an unbiased sample — the property the downstream
    * dataloader relies on), manifest = per-shard doc count, char
    * volume, and an id-sum checksum the loader can verify against.
    * Same scan shape as C27 (range sort on the md5 key +
    * `row_position()`, no single-partition window); the 16-row
    * manifest aggregate is free. A real export would
    * partitionBy(shard_id) on write — the manifest is what's
    * checkable cross-engine.
    */
  def qExportShards(spark: SparkSession, dir: String): DataFrame = {
    val key = md5(concat(lit("graft-shard-13:"), col("doc_id").cast("string")))
    Tables(spark, dir).documents
      .select(col("doc_id"), col("n_chars"), key.as("k"))
      .orderBy(col("k"), col("doc_id"))
      .select((row_position() % 16L).as("shard_id"), col("doc_id"), col("n_chars"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("shard_id"))
  }

  /** C65: leave-one-out source ablation — the table a mixture
    * designer reads before dropping a source: per source, its doc/
    * token mass, what remains without it (totals minus group — no
    * per-ablation corpus pass), its token share in exact ppm, and the
    * UNIQUE VOCABULARY AT RISK: distinct tokens appearing in no other
    * source (one inverted-index pass: per-(token, source) distinct,
    * token source-counts, df==1 tokens credited to their only
    * source). Shapes: one fact aggregate + a broadcast totals frame +
    * one token-keyed aggregate pair — all linear, no per-source
    * rescan, the way ablation bookkeeping must work at 100 TB.
    */
  def qSourceAblation(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(col("source"), col("text"))
    val per = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val tot = broadcast(per.agg(sum(col("n_docs")).as("tot_docs"),
      sum(col("n_tokens")).as("tot_tokens")))
    val ts = d.select(col("source"),
        explode(split(col("text"), " ")).as("tok")).distinct()
    val solo = ts.join(
        ts.groupBy(col("tok")).agg(count(lit(1)).as("nsrc"))
          .filter(col("nsrc") === 1).select(col("tok")),
        "tok")
      .groupBy(col("source")).agg(count(lit(1)).as("unique_vocab"))
    per.crossJoin(tot)
      .join(solo, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("tot_docs") - col("n_docs")).as("rest_docs"),
        (col("tot_tokens") - col("n_tokens")).as("rest_tokens"),
        expr("n_tokens * 1000000 div tot_tokens").as("token_share_ppm"),
        coalesce(col("unique_vocab"), lit(0L)).as("unique_vocab"))
      .orderBy(col("source"))
  }

  /** C66: dataset card — the per-language datasheet row a corpus
    * release ships: doc/token mass, exact-duplicate docs (text
    * appearing more than once anywhere in the corpus — the honest
    * headline number, counted via one text-keyed aggregate), short
    * docs (< 20 words), and the dominant source with its share in
    * exact ppm (per-(lang, source) counts, row_number argmax with a
    * total tiebreak). Every input is one linear aggregate; the card
    * assembles on language-sized frames.
    */
  def qDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(col("lang"), col("source"), col("text"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    val dupTexts = d.groupBy(col("text")).agg(count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1).select(col("text"))
    val base = d.join(dupTexts.withColumn("is_dup", lit(1L)), Seq("text"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(coalesce(col("is_dup"), lit(0L))).as("dup_docs"),
        sum(when(col("n_tok") < 20, 1L).otherwise(0L)).as("short_docs"))
    val topSource = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("source"))))
      .filter(col("rk") === 1)
      .select(col("lang"), col("source").as("top_source"),
        col("n").as("top_source_docs"))
    base.join(topSource, "lang")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("dup_docs"),
        col("short_docs"), col("top_source"),
        expr("top_source_docs * 1000000 div n_docs").as("top_source_ppm"))
      .orderBy(col("lang"))
  }

  def qBottomkSample(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(col("source"))
      .agg(graft.functions.bottomk_sample(col("doc_id"), 5, "graft-sample-7").as("ids"))
      .select(col("source"), explode(col("ids")).as("doc_id"))
      .orderBy(col("source"), col("doc_id"))

  /** C33: segment-level boilerplate detection — the line-dedup pass of
    * C4/RefinedWeb-style curation, re-expressed over pseudo-sentence
    * segments (consecutive 8-token windows; the synthetic corpus has
    * no newlines). A segment appearing in >= 3 DISTINCT documents is
    * boilerplate; the output reports per-doc segment/boilerplate
    * counts. Scale shape: the posting rows that shuffle are
    * (doc_id, 8-byte xxhash64) — full segment strings never leave the
    * map side; document-frequency is one hash-keyed aggregate joined
    * back on the same 8-byte key. Tokens are materialized BEFORE the
    * transform lambda (an inlined split() re-evaluates per element).
    */
  /** The ONE segmentation rule C33 detection and C33b cleaning share
    * (8-token pseudo-sentence windows) — a one-sided edit here can't
    * make the detector flag segments the cleaner doesn't drop.
    */
  private val SegExpr =
    "transform(sequence(0, cast(ceil(size(w)/8.0) as int) - 1)," +
      " i -> array_join(slice(w, i*8+1, 8), ' '))"
  private val BoilerplateMinDocs = 3L

  def qSegBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val segs = toks.select(col("doc_id"), explode(expr(SegExpr)).as("seg"))
    val posts = segs.select(col("doc_id"), xxhash64(col("seg")).as("h"))
    val dfreq = posts.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("dfn"))
    posts.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("dfn") >= BoilerplateMinDocs, 1L).otherwise(0L)).as("n_boiler"))
      .orderBy(col("doc_id"))
  }

  /** C33b: the boilerplate CLEANING transform — C33's detection
    * applied: boilerplate segments (>= 3 distinct docs) are dropped
    * and each document's text reassembled from its surviving
    * segments in order. Same two hash-keyed shuffles as C33 plus a
    * per-doc sort_array re-join (segment lists are per-document
    * small); docs whose every segment is boilerplate survive with
    * empty text — the downstream quality filter's job, not silent
    * row loss.
    */
  def qSegClean(spark: SparkSession, dir: String): DataFrame = {
    // spread the one-split scan BEFORE segmenting: the whole
    // clean-and-rejoin pipeline otherwise runs one task per stage
    // (8 jobs x 1 task measured) because the doc frame's tiny
    // shuffles AQE-coalesce back to one partition
    val toks = spreadIfOneSplit(Tables(spark, dir).documents
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val segs = toks.select(col("doc_id"), posexplode(expr(SegExpr)))
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
    val posts = segs.select(col("doc_id"), col("seg_idx"), col("seg"),
      xxhash64(col("seg")).as("h"))
    val dfreq = posts.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("dfn"))
    val cleaned = posts.join(dfreq, Seq("h"))
      .filter(col("dfn") < BoilerplateMinDocs)
      .groupBy(col("doc_id"))
      .agg(array_join(transform(sort_array(collect_list(
        struct(col("seg_idx"), col("seg")))), s => s.getField("seg")), " ")
        .as("clean_text"))
    // left join back onto the doc list: a doc whose EVERY segment is
    // boilerplate must survive as an empty-text row, not vanish
    toks.select(col("doc_id"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .withColumn("n_words",
        when(length(col("clean_text")) === 0, 0L)
          .otherwise(size(split(col("clean_text"), " ")).cast("long")))
      .orderBy(col("doc_id"))
  }

  /** C37: overlapping-window chunking — the RAG/embedding-pipeline
    * splitter: each doc becomes size-64 token windows at stride 48
    * (16-token overlap so no boundary loses context), emitted with
    * stable chunk ids. Pure map-side array math (one transform per
    * row, no shuffle before the sink); the chunk COUNT formula
    * ceil(max(0, n-64)/48)+1 is mirrored in the oracle. Tokens are
    * materialized before the lambda (inlined split() re-evaluates
    * per element).
    */
  def qChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val winSize = 64
    val stride = 48
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    toks.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, cast(ceil(greatest(size(w) - $winSize, 0) / $stride.0) as int))," +
          s" i -> array_join(slice(w, i*$stride + 1, $winSize), ' '))")))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** C34: per-document keyword extraction — the TF-IDF shape with
    * integer-exact ordering: the top distinguishing term is max tf,
    * then MIN document frequency, then lexicographic word. No float
    * idf logs (whose aggregation order drifts); the selection is a
    * `min_by` over an integer struct key, so partial aggregation is
    * map-side mergeable — no per-doc window sort. df is derived from
    * the (doc, word) tf frame (already distinct), saving a
    * countDistinct pass.
    */
  def qDocKeywords(spark: SparkSession, dir: String): DataFrame = {
    // tf comes from the LANDED shared (doc, term, tf) artifact
    // ([[docTermFreq]]) — the keyword pick, TF-IDF and collocation
    // unigrams all read one landed corpus pass instead of three
    // explode+aggregate re-derivations
    val tf = docTermFreq(spark, dir)
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("dfn"))
    tf.join(dfreq, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(min_by(struct(col("w"), col("tf"), col("dfn")),
        struct((-col("tf")).as("nt"), col("dfn"), col("w"))).as("kw"))
      .select(col("doc_id"), col("kw.w").as("keyword"),
        col("kw.tf").as("tf"), col("kw.dfn").as("dfn"))
      .orderBy(col("doc_id"))
  }

  /** C35: corpus-wide adjacent-pair counts — the first merge step of
    * BPE vocabulary induction (and the raw material of PMI
    * co-occurrence scoring). Pair generation is a map-side array
    * transform (zero pre-shuffle cost beyond the scan); the only
    * exchange is the (w1, w2) count aggregate with map-side partials,
    * and the top-30 is a TakeOrdered, not a global sort.
    */
  def qWordPairs(spark: SparkSession, dir: String): DataFrame =
    // the LANDED shared adjacency artifact ([[wordPairCounts]]) IS
    // this query's aggregate; the report is a TakeOrdered over it
    wordPairCounts(spark, dir)
      .select(col("w1"), col("w2"), col("n12").as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2"))
      .limit(30)

  /** C69: fixed-point n-gram LM quality scoring — the KenLM-ish
    * "how predictable is this document under a corpus LM" signal
    * real curation stacks run next to C9 quality and C31 rarity: a
    * bigram model trained on the corpus itself scores each document
    * by its mean per-bigram -log2 P(w2|w1). The log is FIXED-POINT
    * in eighth-bits — elog(n) = 8*floor(log2 n) + next-3-mantissa-
    * bits (the standard piecewise-linear log2 approximation),
    * computed with length(bin(n)) and integer shifts only, so both
    * engines evaluate it bit-identically (a float log's 1-ulp
    * licence would flip rounded boundaries). Per-bigram deficit =
    * elog(n1) - elog(n12) >= 0 (monotone, n12 <= n1); per-doc
    * perplexity proxy = (1000 * sum_deficit) div n_bigrams — all
    * integers end to end.
    *
    * Scale shape: the pair-count table (the C35 product) LANDS once
    * per corpus via the DerivedTable seam — vocab²-bounded, tiny
    * next to the corpus — and the unigram frame derives from it
    * (sum over w2), not from a second corpus pass. The corpus-sized
    * work is one bigram explode joined against the (broadcastable)
    * count tables: map-heavy, single aggregation by doc_id.
    */
  def qLmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreFrame(spark, dir).orderBy(col("doc_id"))

  /** C78: stupid-backoff LM scoring (Brants et al. 2007) — C69's
    * bigram deficit, but an UNSEEN bigram backs off to w2's unigram
    * probability with a fixed alpha = 0.5 penalty, i.e. exactly +8
    * eighth-bits, so the whole score stays integer (a float alpha
    * would break engine-exactness). Per bigram instance:
    *   seen:   deficit = elog(n1)  - elog(n12)
    *   unseen: deficit = 8 + elog(T) - elog(nu(w2))   (T = corpus tokens)
    * Unlike C69's skip-on-unknown, EVERY bigram instance scores
    * (when the scored corpus is the model corpus, w2 always has a
    * unigram count), so documents made of novel word SEQUENCES over
    * known vocabulary — the repetition-vs-novelty axis a curation
    * stack wants next to C74 — separate from documents the bigram
    * table already covers. Scale shape: both model tables derive
    * from LANDED artifacts (word-pairs, doc-term-freq) and broadcast
    * (vocab²- and vocab-bounded); the corpus-sized work is one
    * bigram explode + map-side joins + one per-doc aggregate.
    */
  def qLmBackoff(spark: SparkSession, dir: String): DataFrame = {
    val pairs = wordPairCounts(spark, dir)
    val heads = pairs.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    // heads is vocab-bounded — broadcast it so the deficit table
    // derives map-side over the landed pairs (no vocab² shuffle)
    val d12 = pairs.join(broadcast(heads), Seq("w1"))
      .select(col("w1"), col("w2"),
        expr(s"${sparkElog("n1")} - ${sparkElog("n12")}").as("d12"))
    val uni = docTermFreq(spark, dir)
      .groupBy(col("w").as("w2")).agg(sum(col("tf")).as("nu"))
    val tot = uni.agg(sum(col("nu")).as("tt"))
    lmBigrams(Tables(spark, dir).documents)
      .join(broadcast(d12), Seq("w1", "w2"), "left")
      .join(broadcast(uni), Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        coalesce(col("d12"),
          expr(s"8 + ${sparkElog("tt")} - ${sparkElog("nu")}")).as("deficit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("deficit")).as("sum_deficit_ebits"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_deficit_ebits"),
        expr("sum_deficit_ebits * 1000 div n_bigrams").as("ppl_milli_ebits"))
      .orderBy(col("doc_id"))
  }

  /** C79: span-corruption masking plan (the T5 denoising objective's
    * preprocessing, Raffel et al. 2020): ~15% of tokens selected as
    * 3-token mask spans, placed by a seeded md5 draw INSIDE each
    * 20-token block — block-local placement (start offset <= 17)
    * makes spans non-overlapping BY CONSTRUCTION, with no RNG state,
    * so re-materializing a 100 TB training set reproduces the same
    * masking plan bit-identically (the resumable-preprocessing
    * property; T5's own spans are iid draws that need overlap
    * repair). Map-only: one per-doc block explode, no shuffle
    * before the sink. Docs under one full block emit no spans.
    */
  def qSpanMask(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 20)
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(0, size(w) div 20 - 1)")).as("blk"))
      .withColumn("h",
        conv(substring(md5(concat(lit("graft-span:"), col("doc_id"), lit(":"), col("blk"))), 1, 14), 16, 10)
          .cast("long"))
      .withColumn("start_tok", col("blk") * 20 + pmod(col("h"), lit(18L)) + 1)
      .select(col("doc_id"), col("blk").cast("long").as("span_idx"),
        col("start_tok").cast("long").as("start_tok"),
        lit(3L).as("span_len"),
        array_join(slice(col("w"), col("start_tok").cast("int"), lit(3)), " ")
          .as("masked_text"))
      .orderBy(col("doc_id"), col("span_idx"))

  /** C80: eval-set n-gram coverage — the decontamination REPORT next
    * to C16/C25's match detectors: for every held-out document, what
    * fraction of its distinct 5-grams the training split already
    * contains (coverage 1e6 ppm = the eval doc is entirely
    * reconstructible from training n-grams; ~0 = genuinely novel
    * text). The exact counterpart of the Bloom screen: one
    * distinct-gram semi-join on 8-byte hashes (strings never
    * shuffle), per-doc totals from the already-distinct shingle set.
    */
  def qNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        explode(graft.functions.shingle_hashes(split(col("text"), " "), 5)).as("gh"))
    val eval = grams.filter(col("source") === "src0")
      .select(col("doc_id").as("eval_id"), col("gh"))
    val train = grams.filter(col("source") =!= "src0").select(col("gh"))
    val tot = eval.groupBy(col("eval_id")).agg(count(lit(1)).as("n_grams"))
    val cov = eval.join(train, Seq("gh"), "left_semi")
      .groupBy(col("eval_id")).agg(count(lit(1)).as("n_covered"))
    tot.join(cov, Seq("eval_id"), "left")
      .select(col("eval_id"), col("n_grams"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        expr("coalesce(n_covered, 0) * 1000000 div n_grams").as("coverage_ppm"))
      .orderBy(col("eval_id"))
  }

  /** The unsorted C69 score frame, shared by q_lm_score and the C72
    * bucketing pass so the two cannot drift.
    */
  private[graft] def lmScoreFrame(spark: SparkSession, dir: String): DataFrame =
    lmScoreAgainst(Tables(spark, dir).documents, lmDeficits(spark, dir))

  /** The corpus word-adjacency table (w1, w2, n12) — distinct
    * adjacent bigram with occurrence count — LANDED once per corpus
    * via the DerivedTable seam and shared by every consumer of token
    * adjacency: the C69 LM deficits, the C35 pair report, the C43
    * collocation lift, and the C44 TextRank edge set (which reads
    * just the vocab²-bounded keys, not the corpus). One corpus pass
    * owns the explode+aggregate; everything downstream is a parquet
    * read of a frame that is tiny next to the corpus.
    */
  private[graft] def wordPairCounts(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DerivedTable.readOrBuild(spark, "word-pairs",
      dir, Seq("documents"), "bigram-counts-v1") {
      lmBigrams(Tables(spark, dir).documents)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    }

  /** The (doc_id, w, tf) term-frequency table, LANDED once per
    * corpus (the word-pairs discipline) and shared by TF-IDF, the
    * C34 keyword pick, and the C43 unigram totals — the single
    * corpus explode+aggregate every bag-of-words consumer needs.
    */
  private[graft] def docTermFreq(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DerivedTable.readOrBuild(spark, "doc-term-freq",
      dir, Seq("documents"), "tf-counts-v1") {
      Tables(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    }

  /** (doc_id, w1, w2) bigram instances of a document frame. */
  private[graft] def lmBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] as w1, w[i+1] as w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** The frozen corpus LM: per distinct bigram, the fixed-point
    * -log2 P(w2|w1) deficit, derived from the LANDED word-pairs
    * artifact. Each DISTINCT pair is scored once (the deficit frame
    * is vocab²-bounded — broadcastable far beyond this corpus; past
    * broadcast size it shuffle-joins on the pair key, still linear).
    * A doc×pair pre-aggregation was measured WORSE at 25x (6.6s vs
    * 1.9s): it trades the map-only broadcast join for a
    * doc×pair-cardinality hash aggregate.
    */
  private[graft] def lmDeficits(spark: SparkSession, dir: String): DataFrame = {
    val pairs = wordPairCounts(spark, dir)
    val uni = pairs.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    pairs.join(uni, Seq("w1"))
      .select(col("w1"), col("w2"),
        expr(s"${sparkElog("n1")} - ${sparkElog("n12")}").as("deficit"))
  }

  /** Score a document frame against a (frozen) deficit table:
    * ONE instance-level broadcast join feeds the single per-doc
    * aggregation shuffle with map-side partials. Bigrams absent from
    * the model are skipped (backoff-to-skip: only known bigrams
    * count toward n_bigrams); a doc with NO known bigram gets no
    * row. The explicit broadcast matters: deficits' lineage
    * (landed-pairs ⋈ derived unigrams) hides its true
    * vocab²-bounded size from the size estimator, which otherwise
    * plans a corpus-wide sort-merge join (measured 5.7s vs 1.6s at
    * 25x).
    */
  private[graft] def lmScoreAgainst(docs: DataFrame, deficits: DataFrame): DataFrame =
    lmBigrams(docs).join(broadcast(deficits), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("deficit")).as("sum_deficit_ebits"))
      .withColumn("ppl_milli_ebits",
        expr("(sum_deficit_ebits * 1000) div n_bigrams"))

  /** C72: CCNet-style per-language perplexity bucketing — the
    * head/middle/tail split Wenzek et al. run after LM scoring:
    * within each language, documents are ranked by the C69 score
    * (ascending — low perplexity first), and the rank terciles
    * become the quality buckets a mixture policy samples from.
    * Boundaries are pure integer rank arithmetic (3*r <= n, <= 2n),
    * ties broken by doc_id, so both engines replay the split
    * bit-identically — no percentile interpolation, no floats.
    *
    * Scale shape: the per-language rank does NOT use a per-lang
    * window (a hot language would collapse into one task). It is the
    * C27/C30 pattern — ONE range-partitioned global sort on
    * (lang, score, doc_id) + `row_position()` — and per-language
    * ranks fall out by subtracting each language's first global
    * position, a #langs-row broadcast. Corpus-sized data crosses
    * exactly one range exchange beyond the C69 scoring passes; the
    * offset aggregate and the rank join read it through one reused
    * exchange.
    */
  def qLmBuckets(spark: SparkSession, dir: String): DataFrame = {
    val ranked = lmScoreFrame(spark, dir)
      .select(col("doc_id"), col("ppl_milli_ebits"))
      .join(Tables(spark, dir).documents.select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .orderBy(col("lang"), col("ppl_milli_ebits"), col("doc_id"))
      .select(col("lang"), col("ppl_milli_ebits"), col("doc_id"),
        (row_position() + 1L).as("gpos"))
    val offs = ranked.groupBy(col("lang"))
      .agg(min(col("gpos")).as("off"), count(lit(1)).as("n"))
    ranked.join(broadcast(offs), Seq("lang"))
      .withColumn("lang_rank", col("gpos") - col("off") + lit(1L))
      .withColumn("bucket",
        when(col("lang_rank") * 3 <= col("n"), lit("head"))
          .when(col("lang_rank") * 3 <= col("n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .select(col("doc_id"), col("lang"), col("ppl_milli_ebits"),
        col("lang_rank"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** C81: quality-signal calibration — the CCNet-style cross-check
    * between the HEURISTIC quality gate (C18: length / word-shape /
    * stopword rules) and the MODEL-BASED perplexity terciles (C72):
    * a (bucket × keep) contingency table with exact ppm shares. Two
    * quality signals that agree validate each other; a systematic
    * disagreement (heuristic-kept docs piling into the tail bucket)
    * is the first sign a filter is miscalibrated for a corpus —
    * the report a curation stack runs before trusting either signal
    * alone. Docs with no scorable bigram (no LM score) are outside
    * the comparison, like C72 itself. Both inputs are per-doc
    * frames; the table is one doc-keyed join + a 6-row aggregate.
    */
  def qQualityConfusion(spark: SparkSession, dir: String): DataFrame = {
    val keep = graft.operators.CurationQueries.qQualityFilter(spark, dir)
      .select(col("doc_id"), col("keep").cast("long").as("keep"))
    val buckets = qLmBuckets(spark, dir).select(col("doc_id"), col("bucket"))
    val cells = buckets.join(keep, Seq("doc_id"))
      .groupBy(col("bucket"), col("keep")).agg(count(lit(1)).as("n_docs"))
    val tot = cells.agg(sum(col("n_docs")).as("t"))
    cells.crossJoin(broadcast(tot))
      .select(col("bucket"), col("keep"), col("n_docs"),
        expr("n_docs * 1000000 div t").as("share_ppm"))
      .orderBy(col("bucket"), col("keep"))
  }

  /** C50: BPE merge training — the tokenizer-training loop at corpus
    * scale: 5 rounds of (count adjacent pairs → take the most
    * frequent → merge every leftmost non-overlapping occurrence),
    * exactly the Sennrich et al. byte-pair-encoding step run over
    * word sequences (learning multi-word expressions; the same plan
    * shape trains subword vocab when tokens are characters). Per
    * round: ONE map-side pair explode + count shuffle, a TakeOrdered
    * argmax (total order: n desc, l, r), and a map-only merge pass —
    * a size-fold (`aggregate` HOF) per document that replays
    * leftmost-non-overlapping semantics, including the repeated-token
    * case (a a a → (a_a) a). The only driver traffic is ONE 3-field
    * row per round (the winning pair — same discipline as the CC
    * convergence counter); corpus generations are cached
    * materialize-then-unpersist, so exactly one generation is pinned
    * at a time (at 100 TB: checkpoint generations instead). Oracle:
    * the identical 5 rounds unrolled as MATERIALIZED CTEs with a
    * list_reduce fold.
    */
  /** One BPE merge applied to token array `w`: every leftmost
    * non-overlapping (l, r) adjacency becomes the single token
    * `l_r`.
    *
    * Two regimes. When l != r, two matches can never be adjacent
    * (positions i and i+1 both matching would force l = r), so
    * leftmost-non-overlapping selection degenerates to "merge every
    * match": an O(n) map over indices (mark matches, drop the token
    * after each match, substitute the merged token) — no sequential
    * fold, no per-step array copy. The previous formulation was an
    * `aggregate` fold building the output via concat per token:
    * O(n²) copying per document per round, the dominant cost of the
    * whole query. Only the rare l == r winner (a repeated-token pair,
    * where "a a a" must become "(a_a) a" — a genuinely sequential
    * parity decision) keeps the exact fold; the Scala side branches
    * on the winning pair, so the hot path is always the O(n) form.
    * CASE arms evaluate lazily, so element_at never sees an empty
    * array (ANSI-safe).
    */
  private[graft] def applyMerge(l: String, r: String): org.apache.spark.sql.Column = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val (le, re) = (esc(l), esc(r))
    if (l == r)
      expr(
        s"""aggregate(w, cast(array() as array<string>), (acc, t) ->
           |  CASE WHEN size(acc) = 0 THEN array(t)
           |       WHEN element_at(acc, -1) = '$le' AND t = '$re'
           |         THEN concat(slice(acc, 1, size(acc) - 1), array('${le}_$re'))
           |       ELSE concat(acc, array(t)) END)""".stripMargin)
    else
      expr(
        s"""transform(
           |  filter(sequence(0, size(w) - 1), i ->
           |    i = 0 OR NOT (w[i - 1] = '$le' AND w[i] = '$re')),
           |  i -> IF(i < size(w) - 1 AND w[i] = '$le' AND w[i + 1] = '$re',
           |          '${le}_$re', w[i]))""".stripMargin)
  }

  /** The shared 5-round trainer: returns the merge table. The final
    * round's WINNING PAIR comes from its pair count alone — applying
    * merge 5 and materializing a sixth corpus generation would feed
    * nothing (the encode step reads the landed merge table and
    * replays all merges in one `bpe_apply` pass over the RAW corpus),
    * so the loop applies merges only between rounds: 4 merge
    * applications and 5 checkpoints, not 5 and 6. One generation
    * pinned at a time.
    */
  private def bpeLoop(spark: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] = {
    // LAZY localCheckpoint per generation (r17, verdict item 5),
    // fused with the round's pair-count collect: the collect is each
    // generation's first action, so one job computes + persists the
    // generation AND returns the winning pair — the eager form paid a
    // materialization job plus the collect per round. Still
    // checkpoints, never cache/count/unpersist: dropping generation
    // k-1's cache invalidates generation k's entry (the CC lesson —
    // dependents recompute their full lineage); checkpointed
    // generations are freed by the ContextCleaner as their frames go
    // out of scope
    var corpus = Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (k <- 1 to 5) {
      val best = corpus.select(explode(expr(
          "transform(sequence(0, size(w) - 2), i -> struct(w[i] as l, w[i+1] as r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()(0)
      val (l, r, n) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((k.toLong, l, r, n))
      if (k < 5)
        corpus = corpus.select(col("doc_id"), applyMerge(l, r).as("w"))
          .localCheckpoint(false)
    }
    merges.toSeq
  }

  // the BUILDER query always re-derives (its bench row bills the real
  // training cost); the landed merge table is what the encode step reads
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesTable(spark, dir).orderBy(col("merge_rank"))

  /** The learned merge table LANDED once per corpus (the DerivedTable
    * lineage-sharing seam): train once, apply everywhere — exactly how
    * a tokenizer ships (the vocab is an artifact, not something every
    * encode job re-trains). qBpeMerges itself reads this table, so a
    * warm-cache call is a lazy 5-row scan; only the first call per
    * corpus pays the training loop.
    */
  private def bpeMergesTable(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DerivedTable.readOrBuild(
      spark, "bpe-merges", dir, Seq("documents"), "rounds=5") {
      import spark.implicits._
      bpeLoop(spark, dir).toDF("merge_rank", "l", "r", "n")
    }

  /** C55: tokenizer application — the encode step that follows C50's
    * training, with the trained vocab as a FIXED artifact: read the
    * landed 5-row merge table and apply all merges in ONE codegen'd
    * map pass (`bpe_apply`, a custom Expression — composing per-merge
    * `transform`/`filter` HOFs lets the optimizer inline each layer
    * into the next ~6x over, exploding evaluation ~6^5 per row; the
    * imperative loop is O(tokens x merges)). Zero shuffles until the
    * final vocabulary count — at 100 TB the encode step is map-only,
    * bounded by scan bandwidth, exactly how a shipped tokenizer runs.
    */
  def qTokenizerApply(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesTable(spark, dir)
      .orderBy(col("merge_rank")).collect() // 5-row vocab artifact
      .map(m => (m.getString(1), m.getString(2))).toSeq
    Tables(spark, dir).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(graft.functions.bpe_apply(col("w"), merges)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(20)
  }

  /** C84: tokenizer fertility/compression QA — tokens-per-word by
    * language under the C50-trained BPE vocab, in integer ppm: the
    * tokenizer-equity report run before committing a vocabulary
    * (a language whose fertility stays near 1e6 ppm — no merges
    * firing — is under-allocated in the vocab and will pay more
    * sequence length per sentence at training time). This word-merge
    * BPE compresses (tokens <= words), so lower ppm = better vocab
    * coverage; the cross-language DELTA is the signal. One map pass
    * with the merges inlined in the codegen'd bpe_apply kernel +
    * a lang-bounded aggregate — no shuffle before the 4-row report.
    */
  def qTokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeMergesTable(spark, dir)
      .orderBy(col("merge_rank")).collect() // 5-row vocab artifact
      .map(m => (m.getString(1), m.getString(2))).toSeq
    Tables(spark, dir).documents
      .select(col("lang"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("lang"), size(col("w")).cast("long").as("nw"),
        size(graft.functions.bpe_apply(col("w"), merges)).cast("long").as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("nt")).as("n_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("n_tokens * 1000000 div n_words").as("fertility_ppm"))
      .orderBy(col("lang"))
  }

  /** C38: repeated-substring span detection — the distributed shape
    * of suffix-array exact-substring dedup (find every W-token span
    * that appears in more than one document, then score each doc by
    * how much of it is duplicated material). Spans are W-token
    * shingles with their positions; the dup set is one groupBy on the
    * shingle key; the per-doc score is a semi-join-shaped left join
    * back. At 100 TB the shuffle key is the 8-byte xxhash64 of the
    * span — the span STRING never shuffles (the oracle groups by the
    * string; counts agree absent 64-bit collisions, ~n²/2⁶⁴).
    */
  def qSubstringDup(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    val sh = spreadIfOneSplit(
      Tables(spark, dir).documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= W)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${W - 1}), i -> array_join(slice(w, i, $W), ' '))"))
        .as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
    // ONE explode, ONE shuffle of the gram stream: collapse positions
    // to (h, doc_id, c) on an EXPLICIT h-only partitioning (h is a
    // subset of the group key, so the aggregate accepts it), then the
    // distinct-doc count per gram is a count(*) window over the SAME
    // h partitioning — sort-only, no exchange, no join back to the
    // position stream (the old agg + left-join form ran the explode
    // twice and planned 7 exchanges; this plans 3).
    sh.repartition(col("h"))
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("c"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_shingles"),
        coalesce(sum(when(col("nd") >= 2, col("c"))), lit(0L)).as("n_dup_pos"))
      .orderBy(col("doc_id"))
  }

  /** C74: corpus novelty curve — how much NEW 8-gram material each
    * decile of the corpus (in doc_id ingest order) contributes. Every
    * distinct (gram, doc) pair is attributed to the gram's FIRST
    * document (min doc_id corpus-wide); a decile's novelty is the ppm
    * share of its gram-pairs that are first occurrences. This is the
    * acquisition-planning signal behind dedup-aware crawling: a flat
    * curve means new data still adds n-grams; a collapsing tail means
    * the source is mined out. Scale shape: ONE gram explode + ONE
    * shuffle of 8-byte xxhash64 keys (the C38 discipline — the gram
    * STRING never shuffles); first-doc attribution is a min() window
    * over the SAME h partitioning (sort-only, no second exchange);
    * the decile cut is map-side arithmetic against a broadcast
    * one-row max(doc_id), never a global sort; the final aggregate
    * has 10 groups (map-side combined). The oracle replays it on the
    * gram strings — identical absent 64-bit collisions (~n²/2⁶⁴).
    */
  def qNoveltyCurve(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    val docs = Tables(spark, dir).documents
    val mx = docs.agg(max(col("doc_id")).as("mx_doc"))
    val bucketOf = expr("least(9L, doc_id * 10 div (mx_doc + 1))")
    val pairs = spreadIfOneSplit(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= W)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${W - 1}), i -> array_join(slice(w, i, $W), ' '))"))
        .as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .repartition(col("h"))
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("c"))
      .withColumn("mindoc", min(col("doc_id")).over(Window.partitionBy(col("h"))))
    val db = docs.select(col("doc_id")).crossJoin(broadcast(mx))
      .select(col("doc_id"), bucketOf.as("bucket"))
    val nd = db.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val g = pairs.crossJoin(broadcast(mx))
      .withColumn("bucket", bucketOf)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("mindoc"), 1L).otherwise(0L)).as("n_novel"))
    nd.join(g, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        expr("coalesce(n_novel, 0L) * 1000000 div greatest(coalesce(n_grams, 0L), 1L)")
          .as("novelty_ppm"))
      .orderBy(col("bucket"))
  }

  /** C75: Zipf octave profile — the vocabulary's rank-frequency decay
    * summarized in rank octaves [2^k, 2^(k+1)): per octave the type
    * count, total token mass, corpus-mass ppm, and the octave-over-
    * octave mass decay ratio in ppm. A Zipfian corpus (freq ∝ 1/rank)
    * has near-constant octave mass, so decay_ppm hovers near 1e6; a
    * template-collapsed or generated corpus shows up immediately as a
    * fat head (decay ≪ 1e6) or truncated tail — the corpus-health
    * twin of C31's rarity score, exact-integer end to end. Vocab rank
    * is the C31 discipline (distributed sort + `row_position()`, never
    * a single-partition window); octave assignment is exact map-side
    * bit arithmetic — length(bin(rank)) − 1 IS floor(log2) for
    * positive integers on both engines, no range join, no float log;
    * the decay lag is a single-partition window over the octave
    * frame, which has ≤ 64 rows because rank < 2^63 (≤ 40 at any
    * real vocabulary). At 100 TB the vocabulary (~1e9 types ≪ 2^40)
    * is the only post-aggregate frame and it range-sorts in parallel.
    */
  def qZipfOctaves(spark: SparkSession, dir: String): DataFrame = {
    val freq = spreadIfOneSplit(Tables(spark, dir).documents.select(col("text")))
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val rk = freq.orderBy(col("cnt").desc, col("tok"))
      .select((row_position() + 1L).as("rank"), col("cnt"))
    val byOct = rk
      .withColumn("octave", (length(expr("bin(rank)")) - 1).cast("long"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).cast("long").as("mass"))
    val tot = byOct.agg(sum(col("mass")).cast("long").as("total_mass"))
    byOct.crossJoin(broadcast(tot))
      .withColumn("lo_rank", expr("shiftleft(1L, CAST(octave AS INT))"))
      .withColumn("prev_mass", lag(col("mass"), 1).over(Window.orderBy(col("octave"))))
      .select(col("octave"), col("lo_rank"), col("n_types"), col("mass"),
        expr("mass * 1000000 div total_mass").as("mass_ppm"),
        coalesce(expr("mass * 1000000 div prev_mass"), lit(-1L)).as("decay_ppm"))
      .orderBy(col("octave"))
  }

  /** C70: memorization / novelty audit — per EVAL document, the
    * longest contiguous token span that also appears verbatim in the
    * TRAINING remainder (the Lee et al. 2022 memorization metric,
    * the generation-side contamination check next to C16/C41/C56).
    * Resolution is the C38 span machinery: a span "appears in
    * training" iff every one of its W-token windows does, so the
    * longest memorized span = (longest run of consecutive matching
    * W-gram positions) + W-1, and spans shorter than W read as 0 —
    * the same W-gram floor every suffix-array-free implementation
    * uses. Pipeline: training W-gram hash set (distinct on the
    * 8-byte xxhash64 — the span STRING never shuffles), eval grams
    * semi-joined against it, then a per-doc gaps-and-islands run
    * length (i - row_number, doc-bounded window). The oracle replays
    * it on the strings themselves (counts agree absent 64-bit
    * collisions, ~n²/2⁶⁴ — the C38 discipline).
    */
  def qMemorization(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    // spread the RAW text (pre-split — the token array serializes
    // several times bigger) before the ~Wx gram explode
    val toks = spreadIfOneSplit(
      Tables(spark, dir).documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val isEval = col("doc_id") % 10 === 0
    def grams(df: DataFrame): DataFrame = df.filter(size(col("w")) >= W)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${W - 1}), " +
          s"i -> struct(i AS i, xxhash64(array_join(slice(w, i, $W), ' ')) AS h))"))
        .as("sh"))
      .select(col("doc_id"), col("sh.i").as("i"), col("sh.h").as("h"))
    // no .distinct() on the training side: left_semi dedups its
    // build side by construction — an explicit distinct would be a
    // second full shuffle of the gram stream for nothing
    val trainSet = grams(toks.filter(!isEval)).select(col("h"))
    val hits = grams(toks.filter(isEval)).join(trainSet, Seq("h"), "left_semi")
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val longest = hits
      .withColumn("grp", col("i") - row_number().over(wOrd))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("k"))
      .groupBy(col("doc_id"))
      .agg((max(col("k")) + lit(W - 1).cast("long")).as("longest_span"))
    toks.filter(isEval)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
      .join(longest, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      .orderBy(col("doc_id"))
  }

  /** C38b: substring EXCISION — the dedup ACTION the C38 detector
    * feeds (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": remove the repeated span itself, keep
    * the rest of the document). Every word-8-gram seen in >= 2
    * documents marks its position interval [i, i+7]; per doc the
    * overlapping intervals MERGE (the q_interval_merge running-max
    * scan over a per-doc window) and the report is words covered /
    * words surviving — the numbers a curation pipeline uses to
    * decide rewrite-vs-drop. All integer; the oracle replays the
    * same interval union on the span STRINGS while only 8-byte
    * hashes ever shuffle here (the C38 discipline).
    */
  def qSubstringExcise(spark: SparkSession, dir: String): DataFrame = {
    val W = 8
    val toks = spreadIfOneSplit(
      Tables(spark, dir).documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val base = toks.select(col("doc_id"), size(col("w")).cast("long").as("n_words"))
    val sh = toks.filter(size(col("w")) >= W)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(w) - ${W - 1}), " +
          s"i -> struct(i AS i, xxhash64(array_join(slice(w, i, $W), ' ')) AS h))"))
        .as("sh"))
      .select(col("doc_id"), col("sh.i").as("i"), col("sh.h").as("h"))
    // ONE explode, ONE shuffle of the position stream: "this gram
    // appears in >= 2 distinct docs" is min(doc) != max(doc) over an
    // h window on an explicit h repartition — the old groupBy +
    // semi-join form ran the explode twice (the q_substring_dup
    // restructure, kept exact)
    val wH = Window.partitionBy(col("h"))
    val iv = sh.repartition(col("h"))
      .withColumn("dmin", min(col("doc_id")).over(wH))
      .withColumn("dmax", max(col("doc_id")).over(wH))
      .filter(col("dmin") =!= col("dmax"))
      .select(col("doc_id"), col("i").cast("long").as("st"),
        (col("i") + (W - 1)).cast("long").as("en"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val exc = iv.withColumn("pmax", max(col("en")).over(wPrev))
      .select(col("doc_id"),
        greatest(lit(0L), col("en") -
          greatest(col("st"), coalesce(col("pmax") + 1, col("st"))) + 1)
          .as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_excised"))
    base.join(exc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_excised"), lit(0L)).as("n_excised_words"),
        (col("n_words") - coalesce(col("n_excised"), lit(0L))).as("n_kept_words"))
      .orderBy(col("doc_id"))
  }

  /** C39: cross-source vocabulary overlap via KMV (bottom-k) sketches
    * — the sketch-tier answer to "how much do these corpus slices
    * share?" without an all-pairs token join. Each source keeps its k
    * smallest token hashes; a pair's Jaccard estimate is membership
    * counting inside the k-truncated union sketch. Output carries the
    * EXACT intersection/union counts plus a boolean asserting the
    * sketch landed within tolerance (the q_hll_distinct pattern: the
    * oracle verifies estimator accuracy, not just that it ran). At
    * scale the exact pair join disappears and only the k-row sketches
    * move — the estimate is the product.
    */
  def qSketchOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    // ONE distinct pass over the token stream, cached: the exact pair
    // join (test-scale oracle anchor), the per-source counts and the
    // sketches all read it — without the pin each consumer re-runs
    // explode+distinct over the corpus. Cache lifetime ends at the
    // session's next clearCache (Bench clears between iterations).
    val tok = Tables(spark, dir).documents
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .distinct().cache()
    val inter = tok.alias("a")
      .join(tok.alias("b"),
        col("a.t") === col("b.t") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    // count + KMV sketch in one mergeable aggregate pass: min_k
    // partials move k longs per source per partition — at 100 TB the
    // sketch side never shuffles the vocabulary (a row_number window
    // would sort every distinct token within each source)
    val stats = tok.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        graft.functions.min_k(xxhash64(col("t")), k).as("sk"))
    inter
      .join(stats.select(col("source").as("src_a"), col("n").as("na"),
        col("sk").as("ska")), "src_a")
      .join(stats.select(col("source").as("src_b"), col("n").as("nb"),
        col("sk").as("skb")), "src_b")
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      // k-truncated union sketch; denominator is its actual size so
      // sub-k sources degrade to the exact Jaccard
      .withColumn("uk", slice(array_sort(array_union(col("ska"), col("skb"))), 1, k))
      .withColumn("est",
        size(array_intersect(array_intersect(col("uk"), col("ska")), col("skb")))
          .cast("double") / size(col("uk")))
      .select(col("src_a"), col("src_b"), col("n_inter"), col("n_union"),
        (abs(col("est") - col("n_inter").cast("double") / col("n_union")) <= 0.12)
          .as("kmv_ok"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** C43: collocation mining — adjacent pairs ranked by PMI-style
    * lift. PMI = log(npair·N²/(Np·n1·n2)); since N and Np are
    * constant across rows and log is monotone, the ORDER is exactly
    * that of npair/(n1·n2) — one IEEE division of exact BIGINTs
    * (correctly rounded, so the ranking replays bit-identically in
    * any engine, unlike log-PMI float sums). Only integer counts are
    * output; the lift ratio orders the top-30. Min support 3 keeps
    * one-off juxtapositions out.
    */
  def qCollocations(spark: SparkSession, dir: String): DataFrame = {
    // both inputs read LANDED shared artifacts: pair counts from
    // [[wordPairCounts]] (filter, no corpus pass), unigram totals as
    // a sum over [[docTermFreq]] (vocab-sized aggregate) — the lift
    // report never touches the corpus once the artifacts exist
    val uni = docTermFreq(spark, dir)
      .groupBy(col("w").as("t")).agg(sum(col("tf")).as("n1c"))
    val pairs = wordPairCounts(spark, dir)
      .select(col("w1"), col("w2"), col("n12").as("npair"))
      .filter(col("npair") >= 3)
    pairs
      .join(uni.select(col("t").as("w1"), col("n1c").as("n1")), "w1")
      .join(uni.select(col("t").as("w2"), col("n1c").as("n2")), "w2")
      .withColumn("lift",
        col("npair").cast("double") / (col("n1") * col("n2")).cast("double"))
      .select(col("w1"), col("w2"), col("npair"), col("n1"), col("n2"),
        col("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(30)
      .select(col("w1"), col("w2"), col("npair"), col("n1"), col("n2"))
  }

  /** C46: TF-IDF term scoring — top-3 terms per document. The IDF is
    * the scaled rational (N * 1e6) div df rather than ln(N/df): the
    * ranking it induces is the same monotone order in df, and integer
    * division makes the score engine-exact (a float log would hash-
    * drift between libm builds). Shape: one (doc, term) aggregate
    * (fact-sized, map-side partials), a term-level df aggregate over
    * the *distinct-pairs* frame, a broadcast one-row corpus count,
    * and a per-doc top-3 window — the window partitions by doc_id,
    * so it parallelizes across documents.
    */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // the (doc, term, tf) table LANDS once per corpus via the
    // DerivedTable seam ([[docTermFreq]], shared with C34/C43): both
    // consumers — the score join and the document-frequency
    // aggregate — read the landed parquet, instead of each
    // recomputing the corpus explode+aggregate (column pruning makes
    // the two tf subtrees differ, so ReusedExchange cannot fire on
    // the inline form). sf0.1: 1.06s inline -> 1.01s landed — the
    // residual is the local[32] per-job floor across this shape's
    // 6 AQE stages, not compute; the scan saved is what matters at
    // corpus scale.
    val tf = docTermFreq(spark, dir)
    val dfreq = tf.groupBy(col("w")).agg(count(lit(1)).as("dfn"))
    val nd = docs.agg(count(lit(1)).as("nd"))
    val scored = tf.join(dfreq, Seq("w")).crossJoin(broadcast(nd))
      .withColumn("score", expr("tf * ((nd * 1000000) div dfn)"))
    // per-doc top-3 as a hash aggregate (sort the per-doc term list,
    // slice 3), not a row_number window: measured equal on the
    // window form (Spark 4's WindowGroupLimit already bounds the
    // rank filter map-side), kept for one hash aggregate with
    // map-side partials instead of two sort+limit passes around the
    // doc exchange. Order matches (score desc, term asc) via the
    // (-score, term) struct sort.
    scored.groupBy(col("doc_id"))
      .agg(slice(sort_array(collect_list(
        struct((-col("score")).as("ns"), col("w"))), asc = true), 1, 3).as("t"))
      .select(col("doc_id"), explode(col("t")).as("t"))
      .select(col("doc_id"), col("t.w").as("term"), (-col("t.ns")).as("score"))
      .orderBy(col("doc_id"), col("term"))
  }

  /** C47: table profiling — per-column row/null/distinct counts and
    * min/max rendered as strings, the standard data-quality summary a
    * curation pipeline runs before ingestion. One aggregate PER
    * COLUMN, unioned — on a columnar store each branch scans exactly
    * its one column (column pruning makes the five passes cost about
    * one pass over five columns) and each exact-distinct is a
    * single-column two-stage aggregate. The all-in-one-aggregate
    * alternative plans a width-5 Expand (5x the row volume through
    * one shuffle) and measured ~50x slower at sf0.1 (6.9s vs 0.13s).
    * Typed min/max
    * are cast to ISO strings AFTER aggregation, so both engines
    * render identically and numerics never compare as text.
    */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir).lineitem
    def prof(name: String, v: org.apache.spark.sql.Column): DataFrame =
      li.select(v.as("v"))
        .agg(count(lit(1)).as("n_rows"), count(col("v")).as("cnt"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).cast("string").as("min_s"),
          max(col("v")).cast("string").as("max_s"))
        .select(lit(name).as("col_name"), col("n_rows"),
          (col("n_rows") - col("cnt")).as("n_null"), col("n_distinct"),
          col("min_s"), col("max_s"))
    Seq(
      prof("l_orderkey", col("l_orderkey")),
      prof("l_partkey", col("l_partkey")),
      prof("l_returnflag", col("l_returnflag")),
      prof("l_linestatus", col("l_linestatus")),
      prof("l_shipdate", to_date(col("l_shipdate"))))
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"))
  }

  /** C63: feature hashing (the "hashing trick" vectorizer) — each
    * document becomes sparse bag-of-words features in a FIXED
    * 64-bucket space: token -> md5 slot hash -> bucket, tf per
    * (doc, bucket). The fixed-width space is what makes the feature
    * matrix schema corpus-independent (no vocab to ship, no OOV at
    * serve time). One explode + one hash-keyed aggregate — linear,
    * map-side combinable. Same md5->56-bit-int replay as C61, so
    * the oracle is exact.
    */
  def qFeatureHash(spark: SparkSession, dir: String): DataFrame =
    featureHashTable(spark, dir).orderBy(col("doc_id"), col("bucket"))

  /** The C63 (doc_id, bucket, tf) table, LANDED once per corpus via
    * the DerivedTable seam and shared by q_feature_hash and the C73
    * importance weights so the two can't drift. The fixed 64-bucket
    * space keeps the table schema corpus-independent.
    */
  private[graft] def featureHashTable(spark: SparkSession, dir: String): DataFrame =
    graft.sources.DerivedTable.readOrBuild(spark, "doc-bucket-tf",
      dir, Seq("documents"), "feature-hash-v1") {
      Tables(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .withColumn("bucket",
          pmod(conv(substring(md5(col("tok")), 1, 14), 16, 10).cast("long"), lit(64L)))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("tf"))
    }

  /** C73: DSIR-style importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every RAW-pool document by how target-like its hashed n-gram
    * feature profile is — log p_target(doc) - log p_raw(doc) under
    * bucket-unigram models of the two pools — so a later pass can
    * resample the raw corpus toward the target distribution (the
    * C45 PPS machinery takes these weights directly). The target
    * pool is the held-out src0 split (the same convention as the
    * C16/C25 contamination gates); features are the C63 64-bucket
    * hash space; the log is the C69 fixed-point eighth-bit log2, and
    * +1 Laplace smoothing keeps every bucket finite — all integer,
    * engine-exact.
    *
    * Scale shape: bucket statistics are ONE tiny aggregate over the
    * landed C63 table (64 rows out); the per-bucket weight table
    * broadcasts; scoring is a map-only broadcast join over the
    * landed features plus one per-doc aggregation — the corpus text
    * is never re-read. Per-token normalization uses explicit
    * FLOOR division ((a - pmod(a, n)) div n) so negative totals
    * round identically to the oracle's floor semantics.
    */
  def qDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val feats = featureHashTable(spark, dir)
    val side = Tables(spark, dir).documents
      .select(col("doc_id"), (col("source") === "src0").cast("int").as("is_tgt"))
    val tagged = feats.join(side, Seq("doc_id"))
    val bucketCounts = tagged.groupBy(col("bucket"))
      .agg(sum(when(col("is_tgt") === 1, col("tf")).otherwise(0L)).as("t"),
        sum(when(col("is_tgt") === 0, col("tf")).otherwise(0L)).as("r"))
    val wtab = bucketCounts.select(col("bucket"),
      expr(s"${sparkElog("(t + 1)")} - ${sparkElog("(r + 1)")}").as("s_b"))
    tagged.filter(col("is_tgt") === 0)
      .join(broadcast(wtab), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"),
        sum(col("tf") * col("s_b")).as("imp_ebits"))
      .withColumn("imp_milli_per_tok",
        expr("(imp_ebits * 1000 - pmod(imp_ebits * 1000, n_tok)) div n_tok"))
      .orderBy(col("doc_id"))
  }

  /** C64: out-of-vocabulary rate — the corpus-quality feature a
    * tokenizer/quality pipeline scores before training: vocab = the
    * top-500 tokens by document frequency (ties broken by token, a
    * total order both engines replay), then per document the exact
    * token and OOV counts and the ppm OOV rate. The vocab is a
    * TakeOrdered over the token-df aggregate (no global sort
    * materialization) and joins back as a broadcast — the corpus
    * shuffles once for the df aggregate and once per doc rollup.
    */
  def qOovRate(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir).documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val vocab = toks.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(500)
      .select(col("tok").as("vtok"))
    toks.join(broadcast(vocab), col("tok") === col("vtok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("vtok").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** C88: per-document unigram-entropy quality signal — the
    * "gibberish / templated-text" detector corpus-filtering pipelines
    * run next to C9's surface ratios: a document whose token
    * distribution has abnormally LOW entropy is repeated boilerplate
    * (one token dominates), abnormally HIGH entropy at short length
    * is hash-like noise. Entropy in fixed-point eighth-bits via the
    * C69 elog kernel: H8 = elog(T) − (Σ c_w·elog(c_w)) div T (exact
    * integer identity of H = log2 T − (1/T)Σc·log2 c under the
    * piecewise-linear log; truncating div, identical both engines).
    * Output: docs histogrammed per (lang, whole-bit bucket) — the
    * per-language entropy profile a threshold is calibrated on.
    * Shape: explode → (doc, token) count → per-doc fold → bounded
    * histogram; both shuffles carry 8-byte keys + counts, map-side
    * combined, linear at any corpus size.
    */
  def qTokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tc = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("t"),
        sum(col("c") * expr(sparkElog("c"))).as("sl"))
      .select(col("lang"),
        (expr(sparkElog("t")) - expr("sl div t")).as("h8"))
      .groupBy(col("lang"), expr("h8 div 8").as("h_bits"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("h_bits"))
  }

  /** C91: ROUGE-2 overlap between adjacent documents of a source —
    * the summarization-eval statistic repurposed as a corpus
    * diagnostic: how much distinct-bigram recall does each doc share
    * with its source-successor (high = templated/boilerplate feed,
    * near-zero = independent docs). Pairing is deterministic
    * (doc_id → next doc_id within source). Shape: one distinct
    * bigram posting table, re-joined to itself THROUGH the pair list
    * on (cand doc, bigram) — candidate mass is pair-local, the join
    * keys are (doc, bigram), nothing is corpus². Recall in exact ppm.
    */
  def qRougeOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    // bigrams as 8-byte xxhash64 shingles (the C38/C80 discipline):
    // the distinct and both postings joins shuffle LONGS, never the
    // bigram strings — counts agree absent 64-bit collisions
    // (~n²/2⁶⁴), and the string-concat transform disappears from the
    // hot path entirely
    // spread the one-split scan before the bigram-hash explode — the
    // per-row shingle kernel is the fact-sized compute here and a
    // single-file corpus serializes it onto one core (r16)
    val big = spreadIfOneSplit(docs.select(
        col("source"), col("doc_id"), col("text")))
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("source"), col("doc_id"),
        explode(graft.functions.shingle_hashes(split(col("text"), " "), 2)).as("bg"))
      .distinct()
    val w = Window.partitionBy(col("source")).orderBy(col("ref"))
    val pairs = docs.select(col("source"), col("doc_id").as("ref"))
      .withColumn("cand", lead(col("ref"), 1).over(w))
      .filter(col("cand").isNotNull)
    val refN = big.groupBy(col("doc_id").as("ref"))
      .agg(count(lit(1)).as("n_ref"))
    val inter = pairs
      .join(big.select(col("doc_id").as("ref"), col("bg")), Seq("ref"))
      .join(big.select(col("doc_id").as("cand"), col("bg")), Seq("cand", "bg"))
      .groupBy(col("source"), col("ref")).agg(count(lit(1)).as("n_inter"))
    pairs.join(refN, Seq("ref"))
      .join(inter, Seq("source", "ref"), "left")
      .select(col("source"),
        (coalesce(col("n_inter"), lit(0L)) * 1000000L).as("num"), col("n_ref"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("num div n_ref")).as("sum_rouge_ppm"))
      .select(col("source"), col("n_pairs"),
        expr("sum_rouge_ppm div n_pairs").as("mean_rouge_ppm"))
      .orderBy(col("source"))
  }

  /** C92: hapax-legomena rate per source — the vocabulary-health
    * diagnostic (a source whose hapax share collapses is templated
    * or deduplicated into boilerplate; one whose share explodes is
    * OCR noise or encoding damage). One (source, token) count — the
    * corpus-linear pass — then a source-grid rollup.
    */
  def qHapaxRate(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("hapax"),
        expr("hapax * 1000000 div vocab").as("hapax_ppm"))
      .orderBy(col("source"))

  /** C95: canonicalization + canonical-form dedup accounting — the
    * normalize step every text pipeline runs before exact dedup
    * (lowercase, strip non-alphanumerics, collapse whitespace), with
    * per-source counts of how many docs survive as distinct
    * canonical forms. Pure character-class regexes (identical under
    * Java regex and RE2); the dup accounting groups on md5 of the
    * canonical form, never shuffling the text itself.
    */
  def qTextNormalize(spark: SparkSession, dir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    val perForm = Tables(spark, dir).documents
      .select(col("source"), md5(canon).as("ch"))
      .groupBy(col("source"), col("ch")).agg(count(lit(1)).as("n"))
    perForm.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_canon"),
        sum(when(col("n") > 1L, col("n")).otherwise(0L)).as("dup_docs"))
      .select(col("source"), col("n_docs"), col("n_canon"), col("dup_docs"),
        expr("dup_docs * 1000000 div n_docs").as("dup_ppm"))
      .orderBy(col("source"))
  }

  /** C96: Simpson concentration / diversity index per language —
    * the "how dominated is this language by a few sources" audit a
    * mixture designer reads next to the Gini (E8) and HHI views.
    * Simpson's lambda = P(two random docs share a source) =
    * sum n_i(n_i-1) / (N(N-1)) — an exact RATIONAL, so the ppm form
    * is engine-exact with no float ever materializing. Products run
    * in decimal(38,0) (HUGEINT on the oracle side): at 100 TB a
    * language can hold 1e12 docs and N(N-1) ~ 1e24 overflows BIGINT
    * long before the inputs do. One corpus-linear (lang, source)
    * count, then a lang-grid rollup — no shuffle beyond the count.
    */
  def qSimpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sources"), sum(col("n")).as("n_docs"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).as("pairs_same"))
      .filter(col("n_docs") >= 2L)
      .select(col("lang"), col("n_sources"), col("n_docs"),
        expr("CAST(pairs_same * 1000000 div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) AS BIGINT)")
          .as("simpson_ppm"))
      .withColumn("diversity_ppm", lit(1000000L) - col("simpson_ppm"))
      .orderBy(col("lang"))

  // C97 policy lexicon — fixed at build time (a real deployment
  // broadcasts a curated list; the screen's shape is identical).
  // "password" is deliberately absent from the synthetic vocabulary
  // so the zero-hit path is exercised alongside live terms.
  private val PolicyLexicon = Seq("merge", "password", "stream", "vector")

  /** C97: policy-lexicon screen — per (source, term), how many docs
    * contain the term as a whole token (the compliance / targeted-
    * removal precursor: before deleting or reweighting, measure).
    * Map-only per-doc membership flags (one split, k boolean
    * columns), one per-source aggregate, then a stack() to the long
    * (source, term) form — NO join against the lexicon, so the plan
    * has no build side at all and scales as a single corpus pass
    * regardless of lexicon size up to the stack-width limit.
    */
  def qLexiconFlags(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("source"), split(col("text"), " ").as("w"))
    val flagged = docs.select(
      col("source") +:
        PolicyLexicon.map(t => array_contains(col("w"), t).cast("long").as(s"h_$t")): _*)
    val agg = flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        PolicyLexicon.map(t => sum(col(s"h_$t")).as(s"h_$t")): _*)
    val stackExpr = PolicyLexicon.map(t => s"'$t', h_$t").mkString(", ")
    agg.select(col("source"), col("n_docs"),
      expr(s"stack(${PolicyLexicon.size}, $stackExpr)").as(Seq("term", "n_hit")))
      .select(col("source"), col("term"), col("n_docs"), col("n_hit"),
        expr("n_hit * 1000000 div n_docs").as("hit_ppm"))
      .orderBy(col("source"), col("term"))
  }

  // C98 truncated-weight RBO: W(m) = sum_{d=m..10} (1e6 * 0.1 *
  // 0.9^(d-1) / d) with each depth's weight floored to an integer
  // ppm BEFORE summing — computed once here in exact Long
  // arithmetic and inlined as the SAME literals into both engines'
  // expressions, so no division ever runs cross-engine.
  private val RboDepth = 10
  private val rboW: IndexedSeq[Long] = {
    val perDepth = (1 to RboDepth).map { d =>
      var p9 = 1L; var p10 = 10L
      (2 to d).foreach { _ => p9 *= 9L; p10 *= 10L }
      1000000L * p9 / (p10 * d)
    }
    (1 to RboDepth).map(m => perDepth.drop(m - 1).sum)
  }

  /** C98: rank-biased overlap (Webber et al. 2010, truncated at
    * depth 10, p=0.9) between every source pair's top-term
    * rankings — the "are these two crawls the same corpus wearing
    * different labels" fingerprint, robust to tail noise in a way
    * raw Jaccard is not. A token shared by pair (a,b) at ranks
    * (r_a, r_b) contributes to every depth d >= max(r_a, r_b), so
    * its total weight is the precomputed suffix sum W(max) — the
    * whole metric reduces to ONE equi-join on token over two
    * 10-row-per-source rank frames plus a pair grid for the
    * zero-overlap rows. Corpus-linear term counting; everything
    * after is vocab-top-k-bounded (sources² × 10 rows).
    */
  def qRboSources(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables(spark, dir).documents
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("tok"))
    val top = freq.withColumn("r", row_number().over(w))
      .filter(col("r") <= RboDepth)
      .select(col("source"), col("tok"), col("r"))
    val wCase = (1 to RboDepth)
      .map(m => s"WHEN m = $m THEN ${rboW(m - 1)}L").mkString(" ")
    val matched = top.select(col("source").as("src_a"), col("tok"), col("r").as("r_a"))
      .join(top.select(col("source").as("src_b"), col("tok"), col("r").as("r_b")), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .withColumn("m", greatest(col("r_a"), col("r_b")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_overlap10"),
        sum(expr(s"CASE $wCase END")).as("rbo_ppm"))
    val srcs = Tables(spark, dir).documents.select(col("source")).distinct()
    val pairGrid = srcs.select(col("source").as("src_a"))
      .join(broadcast(srcs.select(col("source").as("src_b"))),
        col("src_a") < col("src_b"))
    pairGrid.join(matched, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("n_overlap10"), lit(0L)).as("n_overlap10"),
        coalesce(col("rbo_ppm"), lit(0L)).as("rbo_ppm"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** C102: trailing-boilerplate audit — per source, how many docs
    * share their LAST five tokens with another doc (the signature /
    * footer / unsubscribe-tail twin of C33's repeated-line
    * boilerplate, which looks at bodies, not tails). Grouping runs
    * on md5 of the tail fingerprint so the text never shuffles; docs
    * under five tokens are out of scope by construction. One map
    * pass + two source-grid aggregates.
    */
  def qTailBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val perTail = Tables(spark, dir).documents
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
      .select(col("source"),
        md5(array_join(slice(col("w"), -5, 5), " ")).as("th"))
      .groupBy(col("source"), col("th")).agg(count(lit(1)).as("n"))
    perTail.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_tails"),
        sum(when(col("n") > 1L, col("n")).otherwise(0L)).as("dup_tail_docs"),
        max(col("n")).as("max_tail_share"))
      .select(col("source"), col("n_docs"), col("n_tails"),
        col("dup_tail_docs"), col("max_tail_share"),
        expr("dup_tail_docs * 1000000 div n_docs").as("dup_tail_ppm"))
      .orderBy(col("source"))
  }

  /** C103: distance-weighted window co-occurrence — the GloVe
    * X_ij table (Pennington et al. 2014): for every unordered token
    * pair within a ±5-token window, the count and the
    * 1/distance-weighted mass (integer ppm: 1e6 div d, so the decay
    * is engine-exact — GloVe's own 1/d weighting with no float).
    * C35/C43 count ADJACENT pairs; embeddings training wants the
    * windowed table. Pair generation is MAP-ONLY: the window never
    * leaves a document, so each row emits its own (i, j), j-i ∈
    * [1,5] pairs directly — ≤5 per token, window-bounded at ANY
    * document length (the same bound the earlier block-bucketed
    * self-join enforced, minus that join's two token-table shuffles).
    * One aggregate, top-40 via distributed TakeOrdered.
    */
  def qWindowCooccur(spark: SparkSession, dir: String): DataFrame = {
    // r16 (guide §2.4): the window is DOC-LOCAL, so the pair stream
    // needs no join at all — the old shape exploded the token table
    // twice and shuffled both sides on (doc_id, blk) just to pair
    // positions the row already had side by side. The only exchange
    // left is the final (w1, w2) aggregate, with map-side partials.
    //
    // r17 (ADVICE r16, medium): the r16 single-shot generator built
    // the WHOLE ~5×doc-length pair-struct array (with copied token
    // strings) per document row before explode — output cardinality
    // was window-bounded, but PEAK MEMORY was O(doc_len), so one
    // multi-MB document could OOM an executor where the old block
    // join streamed. Pair generation is now CHUNKED: the token array
    // is sliced into C-token chunks carrying a 5-token overlap
    // (exploded first), and pairs are emitted per chunk — each global
    // start position i is OWNED by exactly one chunk and every
    // j ≤ i+5 lies inside that chunk's overlap, so the pair multiset
    // is identical while per-row peak memory is O(C). A doc with
    // ≤ C+5 tokens is exactly one chunk (the r16 plan plus one
    // single-element explode). Pair set, weights and tie-breaks are
    // value-identical: least/greatest on the same tokens, the same
    // integer `div` weight.
    val C = 512
    val pairs = spreadIfOneSplit(
      Tables(spark, dir).documents.select(col("text")))
      .select(split(col("text"), " ").as("w"))
      // outer sequence stops at the last owned start and the inner at
      // least(i+5, size-1), so neither can DESCEND (sequence(a, b)
      // counts down when a > b, fabricating null-token pairs); the
      // last chunk always has ≥ 2 tokens ((size-2) div C floors)
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        s"transform(sequence(0, (size(w) - 2) div $C), k -> " +
          s"slice(w, k * $C + 1, $C + 5))")).as("c"))
      .select(explode(expr(
        s"""flatten(transform(sequence(0, least($C, size(c) - 1) - 1), i ->
          |  transform(sequence(i + 1, least(i + 5, size(c) - 1)), j ->
          |    struct(least(c[i], c[j]) AS w1, greatest(c[i], c[j]) AS w2,
          |           1000000 div (j - i) AS wt))))""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"), col("p.wt").as("wt"))
    pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("wt")).as("weight_ppm"))
      .orderBy(col("weight_ppm").desc, col("w1"), col("w2"))
      .limit(40)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_window_cooccur"    -> (qWindowCooccur _),
    "q_tail_boilerplate"  -> (qTailBoilerplate _),
    "q_simpson_diversity" -> (qSimpsonDiversity _),
    "q_lexicon_flags"     -> (qLexiconFlags _),
    "q_rbo_sources"       -> (qRboSources _),
    "q_rouge_overlap"   -> (qRougeOverlap _),
    "q_hapax_rate"      -> (qHapaxRate _),
    "q_text_normalize"  -> (qTextNormalize _),
    "q_token_entropy"   -> (qTokenEntropy _),
    "q_feature_hash"    -> (qFeatureHash _),
    "q_dsir_weights"    -> (qDsirWeights _),
    "q_oov_rate"        -> (qOovRate _),
    "q_tfidf"               -> (qTfidf _),
    "q_profile"             -> (qProfile _),
    "q_pii_redact"          -> (qPiiRedact _),
    "q_lm_score"            -> (qLmScore _),
    "q_lm_backoff"          -> (qLmBackoff _),
    "q_quality_confusion"   -> (qQualityConfusion _),
    "q_tokenizer_fertility" -> (qTokenizerFertility _),
    "q_span_mask"           -> (qSpanMask _),
    "q_ngram_coverage"      -> (qNgramCoverage _),
    "q_lm_buckets"          -> (qLmBuckets _),
    "q_bloom_contamination" -> (qBloomContamination _),
    "q_incremental_dedup"   -> (qIncrementalDedup _),
    "q_global_shuffle"      -> (qGlobalShuffle _),
    "q_export_shards"       -> (qExportShards _),
    "q_source_ablation"     -> (qSourceAblation _),
    "q_dataset_card"        -> (qDatasetCard _),
    "q_bottomk_sample"      -> (qBottomkSample _),
    "q_seg_boilerplate"     -> (qSegBoilerplate _),
    "q_seg_clean"           -> (qSegClean _),
    "q_chunk_overlap"       -> (qChunkOverlap _),
    "q_doc_keywords"        -> (qDocKeywords _),
    "q_word_pairs"          -> (qWordPairs _),
    "q_bpe_merges"          -> (qBpeMerges _),
    "q_tokenizer_apply"     -> (qTokenizerApply _),
    "q_substring_dup"       -> (qSubstringDup _),
    "q_memorization"        -> (qMemorization _),
    "q_novelty_curve"       -> (qNoveltyCurve _),
    "q_zipf_octaves"        -> (qZipfOctaves _),
    "q_substring_excise"    -> (qSubstringExcise _),
    "q_sketch_overlap"      -> (qSketchOverlap _),
    "q_collocations"        -> (qCollocations _),
  )

  /** Shared CTE chain of the C50/C55 oracles: c0 = tokenized corpus,
    * bK = round-K winning pair, cK = corpus after merge K (list_reduce
    * replays the leftmost-non-overlapping fold). Pre-stripped, so the
    * outer template's stripMargin leaves its lines alone (none start
    * with whitespace-then-pipe).
    */
  private val bpeOracleCtes: String = {
    def layer(k: Int): String =
      s"""p$k AS (SELECT unnest([struct_pack(a := w[i], b := w[i+1])
         |    for i in generate_series(1, len(w)-1)]) AS p FROM c${k - 1}),
         |b$k AS MATERIALIZED (SELECT p.a AS l, p.b AS r, CAST(count(*) AS BIGINT) AS n
         |  FROM p$k GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
         |c$k AS MATERIALIZED (
         |  SELECT doc_id, list_reduce(
         |    list_transform(w, t -> [t]),
         |    (acc, y) -> CASE WHEN acc[-1] = b.l AND y[1] = b.r
         |                THEN list_append(list_slice(acc, 1, len(acc)-1), b.l || '_' || b.r)
         |                ELSE list_concat(acc, y) END) AS w
         |  FROM c${k - 1}, b$k b)""".stripMargin
    s"""WITH c0 AS MATERIALIZED (SELECT doc_id, string_split(text,' ') AS w
       |  FROM documents WHERE len(string_split(text,' ')) >= 2),
       |${(1 to 5).map(layer).mkString(",\n")}""".stripMargin
  }

  // NOTE: no line may start with '||' — this string is interpolated
  // into a template whose stripMargin would eat the first pipe
  private val augSql =
    "text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '.org or call +1-555-' || " +
      "lpad(CAST((doc_id*37) % 10000 AS VARCHAR), 4, '0') || " +
      "CASE WHEN doc_id % 3 = 0 " +
      "THEN ' alt 555-' || lpad(CAST((doc_id*91) % 10000 AS VARCHAR), 4, '0') " +
      "ELSE '' END"

  /** Fixed-point eighth-bit log2, Spark SQL form: 8*floor(log2 c) +
    * next-3-mantissa-bits, integer shifts only — engine-exact (see
    * the C69 Scaladoc). [[duckElog]] is the DuckDB twin.
    */
  private[graft] def sparkElog(c: String): String =
    s"""(8 * (length(bin($c)) - 1)
       | + (CASE WHEN length(bin($c)) - 1 >= 3
       |    THEN shiftright($c, length(bin($c)) - 4)
       |    ELSE shiftleft($c, 4 - length(bin($c))) END) - 8)""".stripMargin

  /** DuckDB twin of [[sparkElog]] (>>/<< instead of shiftright/left). */
  private[graft] def duckElog(c: String): String =
    s"""(8 * (length(bin($c)) - 1)
       | + (CASE WHEN length(bin($c)) - 1 >= 3
       |    THEN $c >> (length(bin($c)) - 4)
       |    ELSE $c << (4 - length(bin($c))) END) - 8)""".stripMargin

  /** Shared CTE chain for the C69/C72 oracles: bigram instances,
    * pair/unigram counts, and the per-instance fixed-point deficit.
    */
  private val lmScoreCtes: String = {
    def elog(c: String): String = duckElog(c)
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |inst AS (SELECT doc_id, unnest([struct_pack(a := w[i], b := w[i+1])
       |                                for i in generate_series(1, len(w)-1)]) AS p
       |         FROM toks WHERE len(w) >= 2),
       |pi AS (SELECT doc_id, p.a AS w1, p.b AS w2 FROM inst),
       |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n12 FROM pi GROUP BY 1, 2),
       |uc AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM pc GROUP BY 1),
       |scored AS (
       | SELECT doc_id, ${elog("n1")} - ${elog("n12")} AS deficit
       | FROM pi JOIN pc USING (w1, w2) JOIN uc USING (w1))""".stripMargin
  }

  // C97/C98 oracle fragments generated from the SAME Scala constants
  // the Spark side uses (lexicon terms, RBO suffix weights) — no
  // numeric literal is ever derived twice.
  private def lexiconOracle: String = {
    val flags = PolicyLexicon.map(t =>
      s"""  CAST(sum(CASE WHEN list_contains(w, '$t') THEN 1 ELSE 0 END) AS BIGINT) AS h_$t""")
      .mkString(",\n")
    val arms = PolicyLexicon.map(t =>
      s"""SELECT source, '$t' AS term, n_docs, h_$t AS n_hit FROM a""")
      .mkString("\n  UNION ALL ")
    s"""WITH d AS (SELECT source, string_split(text, ' ') AS w FROM documents),
       |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |$flags
       | FROM d GROUP BY source)
       |SELECT source, term, n_docs, n_hit,
       |  CAST(n_hit * 1000000 // n_docs AS BIGINT) AS hit_ppm
       |FROM ($arms)
       |ORDER BY source, term""".stripMargin
  }

  private def rboOracle: String = {
    val wCase = (1 to RboDepth)
      .map(m => s"WHEN greatest(a.r, b.r) = $m THEN ${rboW(m - 1)}").mkString(" ")
    s"""WITH f AS (SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt
       |      FROM f GROUP BY 1, 2),
       |t AS (SELECT source, tok, r FROM (
       |  SELECT source, tok,
       |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok) AS r
       |  FROM c) WHERE r <= $RboDepth),
       |m AS (SELECT a.source AS src_a, b.source AS src_b,
       |  CAST(count(*) AS BIGINT) AS n_overlap10,
       |  CAST(sum(CASE $wCase END) AS BIGINT) AS rbo_ppm
       | FROM t a JOIN t b ON a.tok = b.tok AND a.source < b.source
       | GROUP BY 1, 2),
       |s AS (SELECT DISTINCT source FROM documents),
       |grid AS (SELECT a.source AS src_a, b.source AS src_b
       |         FROM s a JOIN s b ON a.source < b.source)
       |SELECT grid.src_a, grid.src_b,
       |  CAST(COALESCE(m.n_overlap10, 0) AS BIGINT) AS n_overlap10,
       |  CAST(COALESCE(m.rbo_ppm, 0) AS BIGINT) AS rbo_ppm
       |FROM grid LEFT JOIN m ON m.src_a = grid.src_a AND m.src_b = grid.src_b
       |ORDER BY grid.src_a, grid.src_b""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_window_cooccur" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS w,
        |    CAST(unnest(range(0, len(string_split(text, ' ')))) AS BIGINT) AS pos
        |  FROM documents),
        |p AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2,
        |        1000000 // (b.pos - a.pos) AS wt
        |      FROM toks a JOIN toks b ON a.doc_id = b.doc_id
        |        AND b.pos - a.pos BETWEEN 1 AND 5)
        |SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(wt) AS BIGINT) AS weight_ppm
        |FROM p GROUP BY 1, 2
        |ORDER BY weight_ppm DESC, w1, w2 LIMIT 40""".stripMargin,

    "q_tail_boilerplate" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS w
        |           FROM documents),
        |t AS (SELECT source,
        |        md5(array_to_string(list_slice(w, len(w) - 4, len(w)), ' ')) AS th
        |      FROM w WHERE len(w) >= 5),
        |pt AS (SELECT source, th, CAST(count(*) AS BIGINT) AS n
        |       FROM t GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_tails,
        |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_tail_docs,
        |  CAST(max(n) AS BIGINT) AS max_tail_share,
        |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 1000000
        |    // sum(n) AS BIGINT) AS dup_tail_ppm
        |FROM pt GROUP BY source ORDER BY source""".stripMargin,

    "q_simpson_diversity" ->
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |        CAST(sum(n) AS BIGINT) AS n_docs,
        |        sum(CAST(n AS HUGEINT) * (n - 1)) AS pairs_same
        |      FROM c GROUP BY lang)
        |SELECT lang, n_sources, n_docs,
        |  CAST(pairs_same * 1000000
        |    // (CAST(n_docs AS HUGEINT) * (n_docs - 1)) AS BIGINT) AS simpson_ppm,
        |  CAST(1000000 - pairs_same * 1000000
        |    // (CAST(n_docs AS HUGEINT) * (n_docs - 1)) AS BIGINT) AS diversity_ppm
        |FROM a WHERE n_docs >= 2 ORDER BY lang""".stripMargin,
    "q_lexicon_flags" -> lexiconOracle,
    "q_rbo_sources"   -> rboOracle,
    "q_rouge_overlap" ->
      """WITH big AS (
        |  SELECT DISTINCT doc_id, source, bg FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(1, len(string_split(text, ' '))),
        |        i -> string_split(text, ' ')[i] || ' '
        |          || string_split(text, ' ')[i + 1])) AS bg
        |    FROM documents WHERE len(string_split(text, ' ')) >= 2)),
        |pairs AS (SELECT source, doc_id AS ref,
        |            lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS cand
        |          FROM documents),
        |p AS (SELECT * FROM pairs WHERE cand IS NOT NULL),
        |refn AS (SELECT doc_id AS ref, CAST(count(*) AS BIGINT) AS n_ref
        |         FROM big GROUP BY 1),
        |inter AS (SELECT p.source, p.ref, CAST(count(*) AS BIGINT) AS n_inter
        |          FROM p JOIN big r ON r.doc_id = p.ref
        |                JOIN big c ON c.doc_id = p.cand AND c.bg = r.bg
        |          GROUP BY 1, 2),
        |per AS (SELECT p.source,
        |          coalesce(i.n_inter, 0) * 1000000 // rn.n_ref AS rppm
        |        FROM p JOIN refn rn USING (ref)
        |          LEFT JOIN inter i ON i.source = p.source AND i.ref = p.ref)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(rppm) // count(*) AS BIGINT) AS mean_rouge_ppm
        |FROM per GROUP BY source ORDER BY source""".stripMargin,

    "q_hapax_rate" ->
      """WITH tc AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        |      FROM tc GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS hapax_ppm
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q_text_normalize" ->
      """WITH pf AS (
        |  SELECT source,
        |    md5(trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS ch,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_canon,
        |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS dup_docs,
        |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) * 1000000
        |    // sum(n) AS BIGINT) AS dup_ppm
        |FROM pf GROUP BY source ORDER BY source""".stripMargin,

    "q_token_entropy" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tc AS (SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS c
         |       FROM toks GROUP BY 1, 2, 3),
         |d AS (SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS t,
         |        CAST(sum(c * ${duckElog("c")}) AS BIGINT) AS sl
         |      FROM tc GROUP BY 1, 2),
         |h AS (SELECT lang, ${duckElog("t")} - sl // t AS h8 FROM d)
         |SELECT lang, CAST(h8 // 8 AS BIGINT) AS h_bits,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM h GROUP BY 1, 2 ORDER BY lang, h_bits""".stripMargin,

    "q_feature_hash" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) % 64 AS bucket,
        |  CAST(count(*) AS BIGINT) AS tf
        |FROM toks GROUP BY 1, 2
        |ORDER BY doc_id, bucket""".stripMargin,

    // C63 bucket replay + the fixed-point log-ratio. DuckDB's //
    // truncates toward zero on negatives (measured), so the floor
    // division is spelled with an explicit positive-mod on BOTH
    // sides (Spark: pmod; here: ((a % n) + n) % n)
    "q_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |f AS (SELECT doc_id, source,
         |    CAST(('0x' || substr(md5(tok), 1, 14)) AS BIGINT) % 64 AS bucket,
         |    CAST(count(*) AS BIGINT) AS tf
         |  FROM toks GROUP BY 1, 2, 3),
         |bc AS (SELECT bucket,
         |    CAST(sum(CASE WHEN source = 'src0' THEN tf ELSE 0 END) AS BIGINT) AS t,
         |    CAST(sum(CASE WHEN source != 'src0' THEN tf ELSE 0 END) AS BIGINT) AS r
         |  FROM f GROUP BY 1),
         |w AS (SELECT bucket, ${duckElog("(t + 1)")} - ${duckElog("(r + 1)")} AS s_b
         |  FROM bc)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
         |  CAST(sum(tf * s_b) AS BIGINT) AS imp_ebits,
         |  CAST((sum(tf * s_b) * 1000
         |        - ((sum(tf * s_b) * 1000 % sum(tf)) + sum(tf)) % sum(tf))
         |       // sum(tf) AS BIGINT) AS imp_milli_per_tok
         |FROM f JOIN w USING (bucket) WHERE source != 'src0'
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_oov_rate" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |vocab AS (SELECT tok FROM (
        |    SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok)
        |  ORDER BY df DESC, tok LIMIT 500)
        |SELECT t.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // CAST(count(*) AS BIGINT) AS oov_ppm
        |FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    "q_tfidf" ->
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM words GROUP BY 1, 2),
        |dfreq AS (SELECT w, CAST(count(*) AS BIGINT) AS dfn FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
        |scored AS (SELECT doc_id, w,
        |  tf * ((nd.nd * 1000000) // dfn) AS score
        |  FROM tf JOIN dfreq USING (w) CROSS JOIN nd)
        |SELECT doc_id, w AS term, score FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, w) AS rn FROM scored)
        |WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin,
    "q_profile" ->
      """SELECT 'l_orderkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_null,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |  CAST(min(l_orderkey) AS VARCHAR) AS min_s,
        |  CAST(max(l_orderkey) AS VARCHAR) AS max_s FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(l_partkey) AS BIGINT),
        |  CAST(count(DISTINCT l_partkey) AS BIGINT),
        |  CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR)
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(l_returnflag) AS BIGINT),
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |  CAST(min(l_returnflag) AS VARCHAR), CAST(max(l_returnflag) AS VARCHAR)
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(l_linestatus) AS BIGINT),
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT),
        |  CAST(min(l_linestatus) AS VARCHAR), CAST(max(l_linestatus) AS VARCHAR)
        |  FROM lineitem
        |UNION ALL
        |SELECT 'l_shipdate', CAST(count(*) AS BIGINT),
        |  CAST(count(*) - count(l_shipdate) AS BIGINT),
        |  CAST(count(DISTINCT CAST(l_shipdate AS DATE)) AS BIGINT),
        |  CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR),
        |  CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR)
        |  FROM lineitem
        |ORDER BY col_name""".stripMargin,
    "q_pii_redact" ->
      s"""WITH aug AS (SELECT doc_id, $augSql AS t FROM documents)
         |SELECT doc_id,
         | regexp_replace(regexp_replace(t,
         |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |   '(\\+1-)?555-[0-9]{4}', '<PHONE>', 'g') AS red_text,
         | CAST(len(regexp_extract_all(t,
         |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(t,
         |   '(\\+1-)?555-[0-9]{4}')) AS BIGINT) AS n_phones
         |FROM aug ORDER BY doc_id""".stripMargin,

    // the fixed-point eighth-bit log2 replays with length(bin())
    // and integer shifts — no float log anywhere, so the scores are
    // engine-exact
    "q_lm_score" ->
      s"""WITH $lmScoreCtes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         | CAST(sum(deficit) AS BIGINT) AS sum_deficit_ebits,
         | CAST((sum(deficit) * 1000) // count(*) AS BIGINT) AS ppl_milli_ebits
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C78: reuses the C69 CTE chain for the seen-bigram deficit;
    // the backoff branch replays 8 + elog(T) - elog(nu) with the
    // same eighth-bit log, all operands positive so // == div
    "q_lm_backoff" ->
      s"""WITH $lmScoreCtes,
         |d12 AS (SELECT w1, w2, ${duckElog("n1")} - ${duckElog("n12")} AS d12
         |        FROM pc JOIN uc USING (w1)),
         |alltok AS (SELECT unnest(w) AS t FROM toks),
         |nu AS (SELECT t AS w2, CAST(count(*) AS BIGINT) AS nu
         |       FROM alltok GROUP BY 1),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM alltok),
         |sc AS (SELECT pi.doc_id,
         |   coalesce(d.d12, 8 + ${duckElog("t.tt")} - ${duckElog("u.nu")}) AS deficit
         | FROM pi LEFT JOIN d12 d ON pi.w1 = d.w1 AND pi.w2 = d.w2
         | JOIN nu u ON pi.w2 = u.w2 CROSS JOIN tt t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         | CAST(sum(deficit) AS BIGINT) AS sum_deficit_ebits,
         | CAST((sum(deficit) * 1000) // count(*) AS BIGINT) AS ppl_milli_ebits
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // C81: C72's bucket chain x C18's heuristic predicate, joined on
    // doc_id into the 6-cell contingency with exact ppm shares
    "q_quality_confusion" ->
      s"""WITH $lmScoreCtes,
         |sdoc AS (SELECT doc_id,
         |   CAST((sum(deficit) * 1000) // count(*) AS BIGINT) AS ppl_milli_ebits
         | FROM scored GROUP BY doc_id),
         |j AS (SELECT d.doc_id, d.lang, s.ppl_milli_ebits
         |      FROM sdoc s JOIN documents d USING (doc_id)),
         |rk AS (SELECT doc_id, ppl_milli_ebits,
         |   CAST(row_number() OVER (
         |     PARTITION BY lang ORDER BY ppl_milli_ebits, doc_id) AS BIGINT)
         |     AS lang_rank,
         |   count(*) OVER (PARTITION BY lang) AS n FROM j),
         |bk AS (SELECT doc_id,
         |   CASE WHEN lang_rank*3 <= n THEN 'head'
         |        WHEN lang_rank*3 <= n*2 THEN 'middle'
         |        ELSE 'tail' END AS bucket FROM rk),
         |q AS (SELECT doc_id,
         |   CAST(n_words BETWEEN 20 AND 100000
         |     AND mean_word_len BETWEEN 2.0 AND 10.0
         |     AND n_stopwords >= 1 AS BIGINT) AS keep
         | FROM (SELECT doc_id, len(string_split(text,' ')) AS n_words,
         |    len(list_filter(string_split(text,' '),
         |        t -> t IN ('the','a','of','and','to','in','is'))) AS n_stopwords,
         |    list_sum(list_transform(string_split(text,' '), t -> length(t))) * 1.0
         |      / len(string_split(text,' ')) AS mean_word_len
         |   FROM documents)),
         |cell AS (SELECT b.bucket, q.keep, CAST(count(*) AS BIGINT) AS n_docs
         |         FROM bk b JOIN q USING (doc_id) GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM cell)
         |SELECT c.bucket, c.keep, c.n_docs,
         | CAST(c.n_docs * 1000000 // t.t AS BIGINT) AS share_ppm
         |FROM cell c CROSS JOIN t ORDER BY bucket, keep""".stripMargin,

    // C79: md5 slot replay as in C61/C63; block-local starts keep
    // spans in-bounds so list_slice never clips
    "q_span_mask" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, w,
        |   unnest(generate_series(0, len(w) // 20 - 1)) AS blk
        | FROM toks WHERE len(w) >= 20),
        |s AS (SELECT doc_id, w, blk,
        |   blk * 20 + (CAST(('0x' || substr(md5('graft-span:'
        |     || CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR)), 1, 14))
        |     AS BIGINT) % 18) + 1 AS start_tok
        | FROM b)
        |SELECT doc_id, CAST(blk AS BIGINT) AS span_idx,
        | CAST(start_tok AS BIGINT) AS start_tok,
        | CAST(3 AS BIGINT) AS span_len,
        | array_to_string(list_slice(w, start_tok, start_tok + 2), ' ') AS masked_text
        |FROM s ORDER BY doc_id, span_idx""".stripMargin,

    // C80: same distinct-5-gram derivation as the C16 oracle
    "q_ngram_coverage" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS w FROM documents),
        |grams AS (SELECT doc_id, source,
        |  unnest(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |                        for i in generate_series(1, len(w)-4)])) AS g FROM toks),
        |ev AS (SELECT doc_id, g FROM grams WHERE source = 'src0'),
        |tr AS (SELECT DISTINCT g FROM grams WHERE source != 'src0'),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM ev GROUP BY 1),
        |cov AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_covered
        |        FROM ev e JOIN tr USING (g) GROUP BY 1)
        |SELECT t.doc_id AS eval_id, t.n_grams,
        | CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
        | CAST(coalesce(c.n_covered, 0) * 1000000 // t.n_grams AS BIGINT) AS coverage_ppm
        |FROM tot t LEFT JOIN cov c USING (doc_id) ORDER BY 1""".stripMargin,

    // same CTE chain as q_lm_score; the bucket split is pure integer
    // rank arithmetic (3r<=n / 3r<=2n) so the tercile boundaries are
    // engine-exact even on tied scores (doc_id tiebreak)
    "q_lm_buckets" ->
      s"""WITH $lmScoreCtes,
         |sdoc AS (SELECT doc_id,
         |   CAST((sum(deficit) * 1000) // count(*) AS BIGINT) AS ppl_milli_ebits
         | FROM scored GROUP BY doc_id),
         |j AS (SELECT d.doc_id, d.lang, s.ppl_milli_ebits
         |      FROM sdoc s JOIN documents d USING (doc_id)),
         |rk AS (SELECT doc_id, lang, ppl_milli_ebits,
         |   CAST(row_number() OVER (
         |     PARTITION BY lang ORDER BY ppl_milli_ebits, doc_id) AS BIGINT)
         |     AS lang_rank,
         |   count(*) OVER (PARTITION BY lang) AS n FROM j)
         |SELECT doc_id, lang, ppl_milli_ebits, lang_rank,
         | CASE WHEN lang_rank*3 <= n THEN 'head'
         |      WHEN lang_rank*3 <= n*2 THEN 'middle'
         |      ELSE 'tail' END AS bucket
         |FROM rk ORDER BY doc_id""".stripMargin,

    // the A30 streamed gate (QualityGateStream, query registered in
    // StreamQueries) must equal the one-shot batch admission over
    // the whole corpus for any arrival split: the C69 score CTE
    // filtered at the shared fixed threshold, joined with the
    // per-source admission counters — BOTH maintained tables replay
    "q_stream_quality_gate" ->
      s"""WITH $lmScoreCtes,
         |sdoc AS (SELECT doc_id,
         |   CAST((sum(deficit) * 1000) // count(*) AS BIGINT) AS ppl_milli_ebits
         | FROM scored GROUP BY doc_id),
         |thr AS (SELECT max(ppl_milli_ebits) AS t
         | FROM (SELECT ppl_milli_ebits,
         |         row_number() OVER (ORDER BY ppl_milli_ebits) AS rn
         |       FROM sdoc)
         | WHERE rn <= (SELECT (count(*) + 1) // 2 FROM sdoc)),
         |adm AS (SELECT d.doc_id, d.lang, d.source, d.n_chars, s.ppl_milli_ebits
         |  FROM sdoc s JOIN documents d USING (doc_id)
         |  WHERE s.ppl_milli_ebits <= (SELECT t FROM thr)),
         |st AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_seen,
         |   CAST(sum(CASE WHEN s.ppl_milli_ebits <= (SELECT t FROM thr)
         |     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         | FROM documents d LEFT JOIN sdoc s USING (doc_id)
         | GROUP BY d.source)
         |SELECT a.doc_id, a.lang, a.source, a.n_chars, a.ppl_milli_ebits,
         |  st.n_seen, st.n_kept
         |FROM adm a JOIN st USING (source) ORDER BY a.doc_id""".stripMargin,

    // the Bloom prefilter is plan-level only (exactness restored by
    // the confirm join): the oracle is the plain distinct semi-join
    "q_bloom_contamination" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |g5 AS (SELECT doc_id, source,
        |  unnest(list_distinct([w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]
        |                        for i in generate_series(1, len(w)-4)])) AS g FROM toks)
        |SELECT DISTINCT t.doc_id
        |FROM g5 t SEMI JOIN (SELECT g FROM g5 WHERE source = 'src0') e ON t.g = e.g
        |WHERE t.source != 'src0'
        |ORDER BY t.doc_id""".stripMargin,

    "q_incremental_dedup" ->
      """WITH corpus AS (SELECT * FROM documents WHERE source != 'src1'),
        |resent AS (SELECT doc_id + 10000000 AS doc_id, text
        |           FROM corpus WHERE doc_id % 7 = 0),
        |batch AS (SELECT doc_id, text FROM documents WHERE source = 'src1'
        |          UNION ALL SELECT * FROM resent)
        |SELECT b.doc_id FROM batch b ANTI JOIN corpus c ON b.text = c.text
        |ORDER BY b.doc_id""".stripMargin,

    "q_global_shuffle" ->
      """SELECT doc_id,
        | CAST(row_number() OVER (
        |   ORDER BY md5('graft-shuffle-42:' || CAST(doc_id AS VARCHAR)), doc_id)
        |   AS BIGINT) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dataset_card" ->
      """WITH d AS (SELECT lang, source, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |dup AS (SELECT text FROM d GROUP BY text HAVING count(*) > 1),
        |base AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN dup.text IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS dup_docs,
        |    CAST(sum(CASE WHEN n_tok < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS short_docs
        |  FROM d LEFT JOIN dup ON d.text = dup.text
        |  GROUP BY lang),
        |src AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, source) AS rk
        |  FROM d GROUP BY lang, source)
        |SELECT base.lang, base.n_docs, base.n_tokens, base.dup_docs,
        |  base.short_docs, src.source AS top_source,
        |  src.n * 1000000 // base.n_docs AS top_source_ppm
        |FROM base JOIN src ON base.lang = src.lang AND src.rk = 1
        |ORDER BY base.lang""".stripMargin,

    "q_source_ablation" ->
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per),
        |ts AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |solo AS (SELECT source, CAST(count(*) AS BIGINT) AS unique_vocab
        |  FROM ts WHERE tok IN (
        |    SELECT tok FROM ts GROUP BY tok HAVING count(*) = 1)
        |  GROUP BY source)
        |SELECT per.source, per.n_docs, per.n_tokens,
        |  tot.tot_docs - per.n_docs AS rest_docs,
        |  tot.tot_tokens - per.n_tokens AS rest_tokens,
        |  per.n_tokens * 1000000 // tot.tot_tokens AS token_share_ppm,
        |  coalesce(solo.unique_vocab, 0) AS unique_vocab
        |FROM per CROSS JOIN tot LEFT JOIN solo ON per.source = solo.source
        |ORDER BY per.source""".stripMargin,

    "q_export_shards" ->
      """WITH p AS (SELECT doc_id, n_chars,
        |  row_number() OVER (
        |    ORDER BY md5('graft-shard-13:' || CAST(doc_id AS VARCHAR)), doc_id)
        |    - 1 AS pos
        | FROM documents)
        |SELECT pos % 16 AS shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bottomk_sample" ->
      """SELECT source, doc_id FROM (
        | SELECT source, doc_id, row_number() OVER (
        |   PARTITION BY source
        |   ORDER BY md5('graft-sample-7:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) WHERE rn <= 5
        |ORDER BY source, doc_id""".stripMargin,

    // the Spark side groups on xxhash64(seg) — equality of hashes
    // stands in for equality of segments (collision-free at any
    // realistic corpus: 64-bit keys, verified exact here by parity
    // with this string-keyed oracle)
    "q_seg_boilerplate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |segs AS (SELECT doc_id,
        |  unnest([array_to_string(w[8*i+1 : 8*i+8], ' ')
        |          for i in generate_series(0, CAST(ceil(len(w)/8.0) AS INT) - 1)]) AS seg
        | FROM toks),
        |dfreq AS (SELECT seg, count(DISTINCT doc_id) AS dfn FROM segs GROUP BY seg)
        |SELECT s.doc_id, count(*) AS n_segments,
        | CAST(sum(CASE WHEN d.dfn >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        |FROM segs s JOIN dfreq d ON s.seg = d.seg
        |GROUP BY s.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "q_seg_clean" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |segs0 AS (SELECT doc_id,
        |  unnest([struct_pack(si := i, sv := array_to_string(w[8*i+1 : 8*i+8], ' '))
        |    for i in generate_series(0, CAST(ceil(len(w)/8.0) AS INT) - 1)]) AS u FROM toks),
        |segs AS (SELECT doc_id, u.si AS seg_idx, u.sv AS seg FROM segs0),
        |dfreq AS (SELECT seg, count(DISTINCT doc_id) AS dfn FROM segs GROUP BY seg),
        |surv AS (SELECT s.doc_id, s.seg_idx, s.seg
        |         FROM segs s JOIN dfreq d ON s.seg = d.seg WHERE d.dfn < 3),
        |agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
        |        FROM surv GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
        | CAST(CASE WHEN coalesce(a.clean_text, '') = '' THEN 0
        |      ELSE len(string_split(a.clean_text, ' ')) END AS BIGINT) AS n_words
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_chunk_overlap" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ch0 AS (SELECT doc_id,
        |  unnest([struct_pack(ci := i, cv := array_to_string(w[i*48+1 : i*48+64], ' '))
        |    for i in generate_series(0,
        |      CAST(ceil(greatest(len(w) - 64, 0) / 48.0) AS INT))]) AS u
        | FROM toks)
        |SELECT doc_id, CAST(u.ci AS BIGINT) AS chunk_idx, u.cv AS chunk,
        | CAST(len(string_split(u.cv, ' ')) AS BIGINT) AS n_tokens
        |FROM ch0
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_doc_keywords" ->
      """WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
        |dfreq AS (SELECT w, count(*) AS dfn FROM tf GROUP BY w)
        |SELECT doc_id, w AS keyword, tf, dfn FROM (
        | SELECT doc_id, tf.w, tf.tf, dfreq.dfn,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tf.tf DESC, dfreq.dfn ASC, tf.w) AS rn
        | FROM tf JOIN dfreq USING (w))
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "q_bpe_merges" ->
      s"""$bpeOracleCtes
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS merge_rank, l, r, n FROM b1
         |  UNION ALL SELECT 2, l, r, n FROM b2
         |  UNION ALL SELECT 3, l, r, n FROM b3
         |  UNION ALL SELECT 4, l, r, n FROM b4
         |  UNION ALL SELECT 5, l, r, n FROM b5)
         |ORDER BY merge_rank""".stripMargin,

    "q_tokenizer_apply" ->
      s"""$bpeOracleCtes
         |SELECT t AS token, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest(w) AS t FROM c5)
         |GROUP BY 1 ORDER BY n DESC, token LIMIT 20""".stripMargin,

    // C84: the C50 tokenize chain per doc, word counts from the raw
    // text, lang-grouped ppm ratio (positive operands, // == div)
    "q_tokenizer_fertility" ->
      s"""$bpeOracleCtes
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_words,
         | CAST(sum(len(c.w)) AS BIGINT) AS n_tokens,
         | CAST(sum(len(c.w)) * 1000000
         |      // sum(len(string_split(d.text, ' '))) AS BIGINT) AS fertility_ppm
         |FROM c5 c JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_word_pairs" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |pairs AS (SELECT unnest([struct_pack(a := w[i], b := w[i+1])
        |                         for i in generate_series(1, len(w)-1)]) AS p
        |          FROM toks WHERE len(w) >= 2)
        |SELECT p.a AS w1, p.b AS w2, count(*) AS n
        |FROM pairs GROUP BY 1, 2
        |ORDER BY n DESC, w1, w2
        |LIMIT 30""".stripMargin,

    // the eval/train split and the W-gram run replayed on the span
    // STRINGS; the engine shuffles 8-byte hashes (the C38 discipline)
    "q_memorization" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tg AS (SELECT DISTINCT g FROM (
        |  SELECT unnest([array_to_string(w[i:i+7], ' ')
        |                 for i in generate_series(1, len(w)-7)]) AS g
        |  FROM toks WHERE doc_id % 10 <> 0 AND len(w) >= 8)),
        |eg0 AS (SELECT doc_id, unnest([{'i': i, 'g': array_to_string(w[i:i+7], ' ')}
        |                               for i in generate_series(1, len(w)-7)]) AS u
        |        FROM toks WHERE doc_id % 10 = 0 AND len(w) >= 8),
        |eg AS (SELECT doc_id, u.i AS i, u.g AS g FROM eg0),
        |hit AS (SELECT doc_id, i FROM eg WHERE g IN (SELECT g FROM tg)),
        |runs AS (SELECT doc_id, grp, count(*) AS k FROM (
        |  SELECT doc_id,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM hit) GROUP BY doc_id, grp),
        |lng AS (SELECT doc_id, max(k) AS mk FROM runs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
        |  CAST(coalesce(lng.mk + 7, 0) AS BIGINT) AS longest_span
        |FROM documents d LEFT JOIN lng USING (doc_id)
        |WHERE d.doc_id % 10 = 0
        |ORDER BY d.doc_id""".stripMargin,

    // the oracle groups by the span STRING; the engine shuffles its
    // 8-byte hash — identical counts absent 64-bit collisions
    "q_substring_dup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, unnest([array_to_string(w[i:i+7], ' ')
        |                              for i in generate_series(1, len(w)-7)]) AS s
        |       FROM toks WHERE len(w) >= 8),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2)
        |SELECT h.doc_id, count(*) AS n_shingles,
        |  CAST(count(d.s) AS BIGINT) AS n_dup_pos
        |FROM sh h LEFT JOIN dup d ON h.s = d.s
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,

    // same 8-gram dup rule as q_substring_dup, then the interval
    // union replayed on span strings
    "q_substring_excise" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |base AS (SELECT doc_id, len(w) AS n_words FROM toks),
        |sh0 AS (SELECT doc_id, unnest([{'i': i, 's': array_to_string(w[i:i+7], ' ')}
        |                               for i in generate_series(1, len(w)-7)]) AS u
        |        FROM toks WHERE len(w) >= 8),
        |sh AS (SELECT doc_id, u.i AS i, u.s AS s FROM sh0),
        |dup AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2),
        |iv AS (SELECT doc_id, i AS st, i + 7 AS en FROM sh JOIN dup USING (s)),
        |m AS (SELECT doc_id, st, en,
        |        max(en) OVER (PARTITION BY doc_id ORDER BY st
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |      FROM iv),
        |exc AS (SELECT doc_id,
        |          CAST(sum(greatest(0, en - greatest(st, coalesce(pmax + 1, st)) + 1))
        |            AS BIGINT) AS n_excised
        |        FROM m GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.n_words AS BIGINT) AS n_words,
        |  CAST(coalesce(e.n_excised, 0) AS BIGINT) AS n_excised_words,
        |  CAST(b.n_words - coalesce(e.n_excised, 0) AS BIGINT) AS n_kept_words
        |FROM base b LEFT JOIN exc e USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // exact counts + accuracy gate; the KMV estimate itself is
    // hash-derived and can't replay in SQL (the q_hll_distinct pattern)
    "q_sketch_overlap" ->
      """WITH raw AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
        |tok AS (SELECT DISTINCT source, t FROM raw),
        |n AS (SELECT source, count(*) AS n FROM tok GROUP BY source),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |      FROM tok a JOIN tok b ON a.t = b.t AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT src_a, src_b, n_inter,
        |  na.n + nb.n - n_inter AS n_union, true AS kmv_ok
        |FROM i JOIN n na ON na.source = src_a JOIN n nb ON nb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "q_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT t, count(*) AS n1c FROM
        |         (SELECT unnest(w) AS t FROM toks) GROUP BY t),
        |pairs AS (SELECT p.a AS w1, p.b AS w2, count(*) AS npair FROM
        |           (SELECT unnest([struct_pack(a := w[i], b := w[i+1])
        |                           for i in generate_series(1, len(w)-1)]) AS p
        |            FROM toks WHERE len(w) >= 2)
        |          GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT w1, w2, npair, u1.n1c AS n1, u2.n1c AS n2
        |FROM pairs JOIN uni u1 ON u1.t = w1 JOIN uni u2 ON u2.t = w2
        |ORDER BY CAST(npair AS DOUBLE) / (u1.n1c * u2.n1c) DESC, w1, w2
        |LIMIT 30""".stripMargin,

    // the oracle attributes first occurrence on the gram STRING; the
    // engine shuffles its 8-byte hash (the C38 discipline)
    "q_novelty_curve" ->
      """WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest([array_to_string(w[i:i+7], ' ')
        |                               for i in generate_series(1, len(w)-7)]) AS s
        |        FROM toks WHERE len(w) >= 8),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |fst AS (SELECT doc_id, s, min(doc_id) OVER (PARTITION BY s) AS mindoc FROM sh),
        |db AS (SELECT d.doc_id,
        |         CAST(least(9, d.doc_id * 10 // (mx.mx + 1)) AS BIGINT) AS bucket
        |       FROM documents d, mx),
        |g AS (SELECT b.bucket, count(*) AS n_grams,
        |        sum(CASE WHEN f.doc_id = f.mindoc THEN 1 ELSE 0 END) AS n_novel
        |      FROM fst f JOIN db b USING (doc_id) GROUP BY 1),
        |nd AS (SELECT bucket, count(*) AS n_docs FROM db GROUP BY 1)
        |SELECT nd.bucket, CAST(nd.n_docs AS BIGINT) AS n_docs,
        |  CAST(coalesce(g.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(g.n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST(coalesce(g.n_novel, 0) * 1000000
        |       // greatest(coalesce(g.n_grams, 0), 1) AS BIGINT) AS novelty_ppm
        |FROM nd LEFT JOIN g USING (bucket)
        |ORDER BY nd.bucket""".stripMargin,

    // length(bin(rank)) - 1 IS floor(log2(rank)) for positive ints —
    // exact on both engines, no float log anywhere
    "q_zipf_octaves" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |rk AS (SELECT row_number() OVER (ORDER BY cnt DESC, tok) AS rank, cnt FROM freq),
        |byo AS (SELECT CAST(length(bin(rank)) - 1 AS BIGINT) AS octave,
        |          count(*) AS n_types, CAST(sum(cnt) AS BIGINT) AS mass
        |        FROM rk GROUP BY 1),
        |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS total_mass FROM byo)
        |SELECT octave, CAST(1::BIGINT << octave AS BIGINT) AS lo_rank,
        |  CAST(n_types AS BIGINT) AS n_types, mass,
        |  CAST(mass * 1000000 // total_mass AS BIGINT) AS mass_ppm,
        |  CAST(coalesce(mass * 1000000 // lag(mass) OVER (ORDER BY octave), -1)
        |    AS BIGINT) AS decay_ppm
        |FROM byo, tot
        |ORDER BY octave""".stripMargin,
  )
}
