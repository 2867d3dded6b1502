package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-level function surface of the engine. */
package object functions {

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}

  /** C11: 64-bit rolling-hash fingerprint of a string column. */
  def rolling_hash64(c: Column): Column = toCol(RollingHash64(toExpr(c)))

  /** C3: SimHash-64 of an array<string> token column. */
  def simhash64(c: Column): Column = toCol(SimHash64(toExpr(c)))

  /** C24: one-pass PII scrub — struct(red_text, n_emails, n_phones);
    * byte-identical to the sequential regexp composition it fuses.
    */
  def pii_scrub(c: Column): Column = toCol(PiiScrub(toExpr(c)))

  /** C2: 64-long MinHash signature of an array<bigint> hashed-shingle
    * column, one codegen'd pass.
    */
  def minhash_sig(c: Column): Column = toCol(MinHashSig(toExpr(c)))

  /** C2/C4/C16: distinct xxhash64'd k-shingles of an array<string>
    * token column, one codegen'd pass (values match
    * `xxhash64(shingle)`); < k tokens => empty array.
    */
  def shingle_hashes(c: Column, k: Int): Column = toCol(ShingleHashes(toExpr(c), k))

  /** C55: apply an ordered merge list to a token array in one
    * codegen'd pass (see BpeApply for why this is not a composition
    * of `transform`/`filter` higher-order functions).
    */
  def bpe_apply(c: Column, merges: Seq[(String, String)]): Column =
    toCol(BpeApply(toExpr(c), merges))

  /** C17: [max_count, total_count] of a document's k-shingle multiset
    * in one codegen'd pass — repetition is intra-document, so no
    * shuffle is ever needed to compute it.
    */
  def repetition_stats(c: Column, k: Int): Column =
    toCol(RepetitionStats(toExpr(c), k))

  /** D5: Morton/Z-order interleave of two long columns (low 21 bits
    * each) — the 2-D clustering key. Inputs are cast to long.
    */
  def z_interleave(a: Column, b: Column): Column =
    toCol(ZInterleave(toExpr(a.cast("long")), toExpr(b.cast("long"))))

  /** Mergeable Bloom filter over a LONG key column — emits the
    * serialized blob; probe with [[bloom_might_contain]]. The
    * broadcastable decontamination prefilter.
    */
  def bloom_agg(c: Column, numBits: Int = 1 << 20, k: Int = 5): Column =
    toCol(BloomFilterAgg(toExpr(c), numBits, k).toAggregateExpression())

  /** Codegen'd membership probe of a [[bloom_agg]] blob. */
  def bloom_might_contain(blob: Column, v: Column): Column =
    toCol(BloomMightContain(toExpr(blob), toExpr(v)))

  /** Deterministic bottom-k uniform sample of a LONG id column per
    * group (KMV construction, mergeable, engine-reproducible).
    */
  def bottomk_sample(c: Column, k: Int, seed: String): Column =
    toCol(BottomKSample(toExpr(c), k, seed).toAggregateExpression())

  /** k smallest distinct values of a LONG column, ascending — the
    * raw KMV sketch when fed a hash (mergeable, deterministic).
    */
  def min_k(c: Column, k: Int): Column =
    toCol(MinKLongs(toExpr(c), k).toAggregateExpression())

  /** Space-saving top-k heavy hitters of a string column: mergeable
    * bounded-memory sketch (TypedImperativeAggregate).
    */
  def topk_freq(c: Column, k: Int, capacity: Int = 4096): Column =
    toCol(SpaceSavingTopK(toExpr(c), k, capacity).toAggregateExpression())

  /** Space-saving state as a storable binary — pre-aggregate a
    * segment once, re-merge later with [[topk_merge]].
    */
  def topk_sketch(c: Column, capacity: Int = 4096): Column =
    toCol(SpaceSavingSketchAgg(toExpr(c), capacity).toAggregateExpression())

  /** Merge [[topk_sketch]] binaries and emit the top-k (same shape
    * and ordering as [[topk_freq]]).
    */
  def topk_merge(c: Column, k: Int, capacity: Int = 4096): Column =
    toCol(SpaceSavingMergeTopK(toExpr(c), k, capacity).toAggregateExpression())

  /** HyperLogLog approximate COUNT(DISTINCT): 2^p-byte mergeable
    * sketch per group (TypedImperativeAggregate), std err
    * ~1.04/sqrt(2^p).
    */
  def hll_distinct(c: Column, p: Int = 12): Column =
    toCol(HllDistinct(toExpr(c), p).toAggregateExpression())

  /** HLL register file as a storable binary value — pre-aggregate a
    * segment (day, shard) once, re-merge with [[hll_merge]] later.
    */
  def hll_sketch(c: Column, p: Int = 12): Column =
    toCol(HllSketchAgg(toExpr(c), p).toAggregateExpression())

  /** Merge [[hll_sketch]] binaries back into one distinct estimate. */
  def hll_merge(c: Column, p: Int = 12): Column =
    toCol(HllMergeEstimate(toExpr(c), p).toAggregateExpression())

  /** Union [[hll_sketch]] binaries into one merged SKETCH (binary) —
    * the fold step of an incrementally-maintained sketch table.
    */
  def hll_union(c: Column, p: Int = 12): Column =
    toCol(HllUnionSketch(toExpr(c), p).toAggregateExpression())

  /** Count-Min grid as a storable binary value — per-segment point
    * frequencies; re-merge with [[cms_union]], probe with
    * [[cms_query]].
    */
  def cms_sketch(c: Column, depth: Int = 4, widthLog2: Int = 11): Column =
    toCol(CmsSketchAgg(toExpr(c), depth, widthLog2).toAggregateExpression())

  /** Fold [[cms_sketch]] binaries into one merged grid (element-wise
    * add — exact with respect to the sketch, any fold order).
    */
  def cms_union(c: Column, depth: Int = 4, widthLog2: Int = 11): Column =
    toCol(CmsUnionSketch(toExpr(c), depth, widthLog2).toAggregateExpression())

  /** Point-frequency probe into a stored CMS binary (overestimate,
    * within e/width * N w.h.p.).
    */
  def cms_query(sketch: Column, key: Column): Column =
    toCol(CmsQuery(toExpr(sketch), toExpr(key)))

  /** Join-cardinality estimate from two stored CMS binaries: min over
    * rows of the counter dot product — always >= the exact join size,
    * expected overshoot N_A*N_B/width per row.
    */
  def cms_inner(a: Column, b: Column): Column =
    toCol(CmsInnerProduct(toExpr(a), toExpr(b)))

  /** Per-language marker counts over a token array in ONE codegen
    * pass (language order = the marker list's order).
    */
  def lang_scores(tokens: Column, markers: Seq[(String, Seq[String])]): Column =
    toCol(LangScores(toExpr(tokens), markers))

  /** Mergeable approximate quantile (weighted-compactor sketch,
    * TypedImperativeAggregate): fixed memory per group, rank error
    * ~collapses/capacity (~1% at the default 2048).
    */
  def approx_quantile(c: Column, q: Double, capacity: Int = 2048): Column =
    toCol(ApproxQuantile(toExpr(c), q, capacity).toAggregateExpression())

  /** Mergeable t-digest quantile (TypedImperativeAggregate): k1-scale
    * centroid sizing concentrates resolution at the tails — rank
    * error O(q(1-q)/compression), the sketch to reach for at p99.
    */
  def tdigest_quantile(c: Column, q: Double, compression: Double = 100.0): Column =
    tdigest_quantiles(c, Seq(q), compression).getItem(0)

  /** Several quantile points from ONE t-digest build — N probes cost
    * one 600k-insert digest, not N (use this over repeated
    * [[tdigest_quantile]] calls on the same column).
    */
  def tdigest_quantiles(c: Column, qs: Seq[Double],
      compression: Double = 100.0): Column =
    toCol(TDigestQuantile(toExpr(c), qs, compression).toAggregateExpression())

  /** Hamming distance between two 64-bit signatures (composed from
    * codegen'd built-ins — no custom expression needed).
    */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Dot product of two float/double-array columns, accumulated
    * left-to-right in double — the summation order is part of the
    * contract (bit reproducibility across engines and partitionings).
    * Custom codegen expression: the equivalent aggregate/zip_with HOF
    * chain is interpreted and ~10x slower on hot pair loops.
    */
  def dot_double(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  /** L2 norm (double). */
  def norm_double(a: Column): Column = sqrt(dot_double(a, a))

  /** Cosine similarity of two float-array columns in double math. */
  def cosine_double(a: Column, b: Column): Column =
    dot_double(a, b) / (norm_double(a) * norm_double(b))

  /** 0-based position of each row in its input's order — the
    * distributed total rank. Select it directly above an
    * `orderBy(total key)`: Spark's `AttachDistributedSequence` node
    * numbers the sorted partitions in order (per-partition counts,
    * then offsets), so no single-partition window is involved and the
    * count job runs when the query executes, not when the frame is
    * built. Pinned by RowPositionSpec.
    */
  def row_position(): Column =
    toCol(org.apache.spark.sql.catalyst.expressions.DistributedSequenceID())

  /** Register SQL names for ALL custom expressions on an
    * already-built session (`getOrCreate()` silently ignores
    * `.withExtensions` when a session exists) — the same function
    * table the extensions path injects, so the two can't drift.
    */
  def registerAll(spark: SparkSession): Unit =
    graft.GraftExtensions.builders.foreach { case (name, _, builder) =>
      org.apache.spark.sql.graftbridge.Bridge.registerFunction(spark, name, builder)
    }
}
