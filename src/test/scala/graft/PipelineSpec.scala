package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ann.Ann
import graft.dedup.Dedup
import graft.sources.Tables
import graft.text.TextAnalysis

/** C-block behavior that the SQL oracle can't check: LSH recall,
  * SimHash detection, custom-expression codegen, multimodal batching.
  */
class PipelineSpec extends AnyFunSuite with TempDirs {

  private val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(cores = 4, appName = "pipeline-spec")

  private def docs: DataFrame = Tables(spark, sf).documents

  /** Exact duplicates derived from the testdata: every doc unioned
    * with an offset copy of itself => ground-truth dup pairs
    * (doc_id, doc_id + 100000).
    */
  private def withDups: DataFrame = {
    val d = docs.select("doc_id", "text", "lang", "source", "n_chars")
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000L))
  }

  test("C2: MinHash LSH finds every exact duplicate (recall 1.0 at J=1)") {
    val n = docs.count()
    val pairs = Dedup.minhashLsh(withDups, minJaccard = 0.99)
      .filter(col("id_b") === col("id_a") + 100000L)
    assert(pairs.count() == n)
  }

  test("C3: SimHash finds exact duplicates at hamming 0 and flags planted near-dups") {
    val n = docs.count()
    val pairs = Dedup.simhashPairs(withDups, maxHamming = 0)
    assert(pairs.filter(col("id_b") === col("id_a") + 100000L).count() == n)
    // near-dup pairs (trigram J>=0.9 planted in the corpus) should be
    // within small hamming distance of each other
    val near = Dedup.ngramJaccard(docs, minJaccard = 0.9)
    if (near.count() > 0) {
      val sigPairs = Dedup.simhashPairs(docs, maxHamming = 8)
        .select(col("id_a"), col("id_b"))
      val found = near.select("id_a", "id_b").intersect(sigPairs).count()
      assert(found > 0, "simhash should flag at least one planted near-dup")
    }
  }

  test("C7: LSH ANN recall/cost tradeoff vs brute force") {
    val emb = Tables(spark, sf).embeddings
    val q = emb.filter(col("vec_id") < 8)
    val brute = Ann.bruteTopK(emb, q, 5).select("query_id", "neighbor_id")
    def recallAt(bits: Int): Double = {
      val lsh = Ann.lshTopK(emb, q, 5, bits = bits).select("query_id", "neighbor_id")
      lsh.intersect(brute).count().toDouble / brute.count()
    }
    val coarse = recallAt(3) // 8 buckets: big candidate sets, high recall
    val fine = recallAt(6)   // 64 buckets: ~1/8 the work, lower recall
    assert(coarse >= 0.5, s"coarse recall=$coarse")
    assert(fine >= 0.2, s"fine recall=$fine")
    // multi-probe at the same bits recovers recall without full scans
    val probed = Ann.lshTopK(emb, q, 5, bits = 6, multiProbe = true)
      .select("query_id", "neighbor_id")
    val probedRecall = probed.intersect(brute).count().toDouble / brute.count()
    assert(probedRecall > fine, s"multi-probe=$probedRecall vs single=$fine")
    val bucketed = Ann.lshBucket(emb, 6).groupBy("bucket").count()
    assert(bucketed.count() > 1, "bucketing must actually split the corpus")
  }

  test("C7b: IVF ANN — recall at nprobe=2, exact when probing all lists") {
    val emb = Tables(spark, sf).embeddings
    val q = emb.filter(col("vec_id") < 8)
    val brute = Ann.bruteTopK(emb, q, 5).select("query_id", "neighbor_id")
    val ivf = Ann.ivfTopK(emb, q, 5, nLists = 8, nprobe = 2)
      .select("query_id", "neighbor_id")
    val recall = ivf.intersect(brute).count().toDouble / brute.count()
    assert(recall >= 0.3, s"ivf nprobe=2 recall=$recall")
    // probing every list degenerates to the exact scan: recall 1.0
    val full = Ann.ivfTopK(emb, q, 5, nLists = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "rank")
    val bruteR = Ann.bruteTopK(emb, q, 5).select("query_id", "neighbor_id", "rank")
    assert(full.exceptAll(bruteR).count() == 0 &&
      bruteR.exceptAll(full).count() == 0, "nprobe=nLists must equal brute force")
  }

  test("C7c: PQ ANN — recall at k=16, exact when the codebook is the corpus") {
    val emb = Tables(spark, sf).embeddings
    val q = emb.filter(col("vec_id") < 8)
    val brute = Ann.bruteTopK(emb, q, 5).select("query_id", "neighbor_id")
    // pure ADC ties inside a quantization cell (this corpus is
    // label-clustered, so cells are big): low recall is the honest
    // property; the shortlist + exact re-rank recovers it while still
    // scanning only codes
    val plain = Ann.pqTopK(emb, q, 5, m = 8, k = 16).select("query_id", "neighbor_id")
    val plainRecall = plain.intersect(brute).count().toDouble / brute.count()
    val reranked = Ann.pqTopK(emb, q, 5, m = 8, k = 16, rerank = 32)
      .select("query_id", "neighbor_id")
    val rerankedRecall = reranked.intersect(brute).count().toDouble / brute.count()
    assert(rerankedRecall >= 0.4, s"pq rerank=32 recall=$rerankedRecall")
    assert(rerankedRecall >= plainRecall,
      s"rerank must not hurt: $rerankedRecall vs $plainRecall")
    // codebook = the whole corpus => every subvector is its own
    // codeword (d2 exactly 0), quantization error vanishes and ADC is
    // the exact normalized-L2 ranking == the cosine ranking
    val n = emb.count().toInt
    val full = Ann.pqTopK(emb, q, 5, m = 8, k = n)
      .select("query_id", "neighbor_id", "rank")
    val bruteR = Ann.bruteTopK(emb, q, 5).select("query_id", "neighbor_id", "rank")
    assert(full.exceptAll(bruteR).count() == 0 &&
      bruteR.exceptAll(full).count() == 0, "k=corpus must equal brute force")
    // codes are genuinely compressed: m small ints per vector
    val codes = Ann.pqEncode(emb, Ann.pqCodebooks(emb, 8, 16), 8)
    assert(codes.count() == emb.count() * 8)
    assert(codes.agg(max(col("code"))).head.getInt(0) <= 16)
  }

  test("C7d: IVF-PQ composed ANN — recall, and exact at full probe/codebook/rerank") {
    val emb = Tables(spark, sf).embeddings
    val q = emb.filter(col("vec_id") < 8)
    val brute = Ann.bruteTopK(emb, q, 5).select("query_id", "neighbor_id")
    val ivfpq = Ann.ivfPqTopK(emb, q, 5).select("query_id", "neighbor_id")
    val recall = ivfpq.intersect(brute).count().toDouble / brute.count()
    assert(recall >= 0.3, s"ivfpq recall=$recall")
    // every approximation dial wide open => the exact scan: all lists
    // probed, zero quantization error, shortlist = the whole corpus
    val n = emb.count().toInt
    val full = Ann.ivfPqTopK(emb, q, 5, nLists = 8, nprobe = 8,
      m = 8, k = n, rerank = n).select("query_id", "neighbor_id", "rank")
    val bruteR = Ann.bruteTopK(emb, q, 5).select("query_id", "neighbor_id", "rank")
    assert(full.exceptAll(bruteR).count() == 0 &&
      bruteR.exceptAll(full).count() == 0, "wide-open IVF-PQ must equal brute force")
  }

  test("C5: LSH-bucketed embedding near-dups recover most exhaustive pairs") {
    val emb = Tables(spark, sf).embeddings
    val exact = Dedup.embeddingNearDups(emb, 0.4).select("id_a", "id_b")
    val lsh = Dedup.embeddingNearDupsLsh(emb, 0.4, bits = 4).select("id_a", "id_b")
    // every LSH pair is a true pair (verification is exact)...
    assert(lsh.exceptAll(exact).count() == 0)
    // ...and recall is meaningful at 4 bits
    if (exact.count() > 0) {
      val recall = lsh.intersect(exact).count().toDouble / exact.count()
      assert(recall >= 0.3, s"recall=$recall")
    }
    // the billion-vector shuffle-verify branch returns the SAME pairs
    // (strategy changes the physical plan, never the result)
    val shuffled = Dedup.embeddingNearDupsLsh(emb, 0.4, bits = 4,
      verify = "shuffle").select("id_a", "id_b")
    assert(shuffled.exceptAll(lsh).count() == 0 &&
      lsh.exceptAll(shuffled).count() == 0)
  }

  test("C5: auto-bits sizing uses plan statistics, not a driver-side scan") {
    val emb = Tables(spark, sf).embeddings
    // auto mode (bits = -1) must build a valid plan and return the
    // same verified-exact property as explicit bits
    val auto = Dedup.embeddingNearDupsLsh(emb, 0.4)
    val exact = Dedup.embeddingNearDups(emb, 0.4).select("id_a", "id_b")
    assert(auto.select("id_a", "id_b").exceptAll(exact).count() == 0)
  }

  test("C4b: prefix-filtered Jaccard is exact; the df-skew trigger routes correctly") {
    val flat = docs
    val plain = Dedup.ngramJaccardPairs(flat, 0.5).orderBy(col("id_a"), col("id_b"))
    val pref = Dedup.ngramJaccardPairsPrefix(flat, 0.5).orderBy(col("id_a"), col("id_b"))
    assert(plain.exceptAll(pref).count() == 0 && pref.exceptAll(plain).count() == 0)
    // the testdata corpus is near-uniform: skew sits well under the
    // threshold, so the adaptive path uses the plain join
    val flatSkew = Dedup.shingleDfSkew(flat)
    assert(flatSkew < 8.0, s"flat skew=$flatSkew")
    // a Zipfian corpus sits far above it
    val zipf = graft.tools.Corpora.zipf(spark, nDocs = 1500, vocab = 8000, docLen = 40)
      .cache()
    zipf.count()
    val zipfSkew = Dedup.shingleDfSkew(zipf)
    assert(zipfSkew > 8.0, s"zipf skew=$zipfSkew")
    // both paths agree on the Zipfian corpus too (planted dups => non-empty)
    val zPlain = Dedup.ngramJaccardPairs(zipf, 0.5)
    val zPref = Dedup.ngramJaccardPairsPrefix(zipf, 0.5)
    assert(zPlain.count() > 0)
    assert(zPlain.exceptAll(zPref).count() == 0 && zPref.exceptAll(zPlain).count() == 0)
    // and the adaptive dispatcher returns the same exact pairs either way
    val ad = Dedup.ngramJaccardAdaptive(zipf, 0.5)
    assert(ad.exceptAll(zPlain).count() == 0 && zPlain.exceptAll(ad).count() == 0)
    zipf.unpersist()
  }

  test("C4c: asymmetric prefix-filtered containment is exact on flat and Zipfian corpora") {
    val flat = docs
    val plain = Dedup.containmentPairs(flat, 0.6)
    val pref = Dedup.containmentPairsPrefix(flat, 0.6)
    assert(plain.count() > 0)
    assert(plain.exceptAll(pref).count() == 0 && pref.exceptAll(plain).count() == 0)
    val zipf = graft.tools.Corpora.zipf(spark, nDocs = 1500, vocab = 8000, docLen = 40)
      .cache()
    zipf.count()
    val zPlain = Dedup.containmentPairs(zipf, 0.6)
    val zPref = Dedup.containmentPairsPrefix(zipf, 0.6)
    assert(zPlain.count() > 0)
    assert(zPlain.exceptAll(zPref).count() == 0 && zPref.exceptAll(zPlain).count() == 0)
    // adaptive dispatch (prefix path on this corpus) is result-identical
    val ad = Dedup.containmentPairsAdaptive(zipf, 0.6)
    assert(ad.exceptAll(zPlain).count() == 0 && zPlain.exceptAll(ad).count() == 0)
    zipf.unpersist()
  }

  test("C4c: candidate-mass budget refuses uniform blowups, never gates the prefix path") {
    val flat = docs
    // the sampled sum(df^2) estimate tracks the exact mass (computed
    // with sampling off) within sampling error
    val exact = Dedup.shingleStats(flat, sampleBits = 0).estPairMass
    val est = Dedup.shingleStats(flat).estPairMass
    assert(est > exact / 3 && est < exact * 3,
      s"estimate $est vs exact $exact drifted beyond sampling error")
    // a uniform-df corpus over budget REFUSES with the estimate in the
    // message — the silent multi-hour regime fails fast instead
    val e = intercept[IllegalStateException] {
      Dedup.containmentPairsAdaptive(flat, 0.6, pairMassBudget = 10.0)
    }
    assert(e.getMessage.contains("candidate mass") &&
      e.getMessage.contains("pairMassBudget"), e.getMessage)
    // under budget the plain path runs as before
    assert(Dedup.containmentPairsAdaptive(flat, 0.6).count() > 0)
    // a ZIPFIAN corpus over the same tiny budget is not refused — the
    // skew rule routes it to the prefix path, which bounds the mass
    val zipf = graft.tools.Corpora.zipf(spark, nDocs = 1500, vocab = 8000, docLen = 40)
      .cache()
    zipf.count()
    assert(Dedup.containmentPairsAdaptive(zipf, 0.6, pairMassBudget = 10.0).count() > 0)
    zipf.unpersist()
  }

  test("C2 guard: a 10^4-doc hot band bucket is refused before the quadratic join") {
    import spark.implicits._
    // r15 verdict task 4: templated boilerplate — every doc shares all
    // 16 band hashes, so ONE bucket would emit ~10^8 candidate rows
    // per band. The guard's pre-check is linear and must refuse fast.
    val boiler = (0L until 10000L)
      .map(i => (i, "the same boilerplate text repeated for every single document in this corpus"))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Dedup.minhashLsh(boiler, minJaccard = 0.8)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("hot bucket") &&
      e.getMessage.contains("maxBucketDocs"), e.getMessage)
    assert(secs < 60.0, s"guard must refuse in linear time, took ${secs}s")
    // boundary pin on a small shared-signature corpus: cap at n-1
    // refuses, cap at n admits and the full clique verifies at J=1
    val tiny = (0L until 50L)
      .map(i => (i, "identical short text shared by all fifty docs here"))
      .toDF("doc_id", "text")
    intercept[IllegalStateException] {
      Dedup.minhashLsh(tiny, 0.8, maxBucketDocs = 49)
    }
    assert(Dedup.minhashLsh(tiny, 0.8, maxBucketDocs = 50).count() == 50L * 49 / 2)
    // maxBucketDocs <= 0 disables the pre-check entirely
    assert(Dedup.minhashLsh(tiny, 0.8, maxBucketDocs = 0).count() == 50L * 49 / 2)
  }

  test("CC kernel: large-star/small-star is O(log n) rounds on a path graph") {
    import spark.implicits._
    // r15 verdict task 5: hash-min needs diameter rounds (255 here —
    // past its old 50-round cap, i.e. silently unconverged); the star
    // alternation collapses the chain in O(log n)
    val n = 256L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val verts = (0L until n).toDF("id")
    // driverFormAt = 0 forces the distributed star loop (the default
    // dispatch would union-find a 255-edge graph on the driver)
    val labs = Dedup.connectedComponents(pairs, verts, driverFormAt = 0L)
    val got = labs.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      "a 256-node path must collapse to one component rooted at 0")
    assert(Dedup.lastCcRounds <= 20,
      s"star alternation must be O(log n): ${Dedup.lastCcRounds} rounds on a 256-path")
    // driver-form/star-form equivalence (r16): the default dispatch
    // (union-find on the driver below the edge bound) must label the
    // same path graph identically to the star loop
    val gotDriver = Dedup.connectedComponents(pairs, verts)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotDriver == got, "driver union-find must equal the star loop")
    // multi-component shape: a triangle, an edge, a singleton —
    // asserted on BOTH forms
    val multi = Seq((11L, 10L), (11L, 12L), (10L, 12L), (21L, 20L))
      .toDF("id_a", "id_b")
    val mv = Seq(10L, 11L, 12L, 20L, 21L, 99L).toDF("id")
    val expected = Map(10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 99L -> 99L)
    val m = Dedup.connectedComponents(multi, mv).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(m == expected)
    val mStar = Dedup.connectedComponents(multi, mv, driverFormAt = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(mStar == expected)
    // one edge beside an isolated vertex
    val one = Dedup.connectedComponents(Seq((1L, 2L)).toDF("id_a", "id_b"),
      (1L to 3L).toDF("id")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // empty pair set: every vertex is its own component
    val e = Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), mv)
    assert(e.filter(col("id") =!= col("cluster_id")).isEmpty && e.count() == 6)
  }

  test("C11: rolling_hash64 runs inside codegen and separates all distinct texts") {
    import graft.functions.rolling_hash64
    val fp = docs.select(col("doc_id"), rolling_hash64(col("text")).as("fp"))
    assert(fp.select("fp").distinct().count() == docs.select("text").distinct().count())
    // expression is registered for SQL too
    graft.functions.registerAll(spark)
    docs.createOrReplaceTempView("docs_v")
    val viaSql = spark.sql("SELECT rolling_hash64(text) AS fp FROM docs_v")
    assert(viaSql.exceptAll(fp.select("fp")).count() == 0)
    // codegen: the projection must not fall back to interpreted mode
    // (the `*(n)` prefix in the plan string marks WholeStageCodegen)
    val plan = fp.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan.take(500))
  }

  test("C12: multimodal decode preserves batch discipline and schema") {
    import graft.multimodal.Multimodal
    val out = Multimodal.decodePipeline(Multimodal.asMedia(docs), batchSize = 7)
    assert(out.columns.toSeq ==
      Seq("doc_id", "n_bytes", "checksum", "out_w", "out_h", "sampled_len"))
    assert(out.count() == docs.count())
    // deterministic fake decode: checksum equals recomputed byte sum
    val row = out.filter(col("doc_id") === 0).head
    val text = docs.filter(col("doc_id") === 0).head.getAs[String]("text")
    assert(row.getAs[Long]("checksum") == text.getBytes("UTF-8").map(_ & 0xff).sum.toLong)
  }

  test("C49: banded pHash join recalls EXACTLY the brute-force hamming<=5 pairs") {
    import graft.multimodal.Multimodal
    val sig = Multimodal.phashPipeline(Multimodal.asMedia(docs)).cache()
    // brute force: all pairs, exact hamming
    val a = sig.select(col("doc_id").as("doc_a"), col("ph").as("pa"))
    val b = sig.select(col("doc_id").as("doc_b"), col("ph").as("pb"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(pa ^ pb)").cast("long"))
      .filter(col("hamming") <= 5)
      .select("doc_a", "doc_b", "hamming")
    val banded = graft.operators.PipelineQueries.qMmPhash(spark, sf)
    // pigeonhole guarantee: band join loses nothing vs brute force
    assert(banded.exceptAll(brute).count() == 0 &&
      brute.exceptAll(banded).count() == 0,
      "banded pHash join must equal brute-force pair set")
    // locality: the signature separates docs (not all-zero, not constant)
    assert(sig.select(countDistinct(col("ph"))).head.getLong(0) > docs.count() / 2)
    sig.unpersist()
  }

  test("E11: k-core peel is monotone and the final round is internally consistent") {
    val out = graft.operators.AnalyticsQueries.qKcore(spark, sf)
      .orderBy(col("round")).collect()
    assert(out.length == 4)
    val nodes = out.map(_.getAs[Long]("n_nodes"))
    val edges = out.map(_.getAs[Long]("n_edges"))
    assert(nodes.zip(nodes.tail).forall { case (x, y) => y <= x },
      "peeling can only shrink the node set")
    assert(edges.zip(edges.tail).forall { case (x, y) => y <= x },
      "peeling can only shrink the edge set")
    // a non-empty 3-core needs >= k+1 nodes and >= ceil(k*n/2) edges
    assert(nodes.last == 0 || (nodes.last >= 4 && edges.last * 2 >= 3 * nodes.last))
  }

  test("C50: BPE merge fold is leftmost non-overlapping, incl. repeated tokens") {
    import graft.operators.CorpusQueries
    import spark.implicits._
    val cases = Seq(
      (Seq("a", "a", "a"), Seq("a_a", "a")),          // no overlap reuse
      (Seq("a", "b", "a", "b"), Seq("a_b", "a_b")),   // back-to-back pairs both merge
      (Seq("x", "a", "b", "y"), Seq("x", "a_b", "y")),
      (Seq("b", "a"), Seq("b", "a")),                 // order matters
      (Seq("a"), Seq("a")))
    // merge (a, a): the repeated-token case
    val gotAA = Seq(Seq("a", "a", "a")).toDF("w")
      .select(CorpusQueries.applyMerge("a", "a").as("w"))
      .head.getSeq[String](0)
    assert(gotAA == Seq("a_a", "a"), s"repeated-token merge wrong: $gotAA")
    val gotAB = cases.map(_._1).toDF("w")
      .select(CorpusQueries.applyMerge("a", "b").as("w"))
      .collect().map(_.getSeq[String](0).toSeq)
    val wantAB = Seq(
      Seq("a", "a", "a"), Seq("a_b", "a_b"), Seq("x", "a_b", "y"),
      Seq("b", "a"), Seq("a"))
    assert(gotAB.toSeq == wantAB, s"merge(a,b) wrong: ${gotAB.toSeq}")
    // merged tokens participate in later merges: (a_b, c)
    val got2 = Seq(Seq("a", "b", "c")).toDF("w")
      .select(CorpusQueries.applyMerge("a", "b").as("w"))
      .select(CorpusQueries.applyMerge("a_b", "c").as("w"))
      .head.getSeq[String](0)
    assert(got2 == Seq("a_b_c"), s"stacked merge wrong: $got2")
  }

  test("C55: bpe_apply matches the per-merge fold, incl. repeated tokens") {
    import graft.operators.CorpusQueries
    import spark.implicits._
    val cases = Seq(
      Seq("a", "a", "a"),          // repeated-token leftmost rule
      Seq("a", "b", "a", "b"),     // back-to-back pairs
      Seq("x", "a", "b", "y"),
      Seq("b", "a"),
      Seq("a"),
      Seq("a", "b", "c"))          // merged token feeds the next merge
    val merges = Seq(("a", "b"), ("a_b", "c"), ("a", "a"))
    val viaFold = merges.foldLeft(cases.toDF("w"))((df, m) =>
        df.select(CorpusQueries.applyMerge(m._1, m._2).as("w")))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    val viaExpr = cases.toDF("w")
      .select(graft.functions.bpe_apply(col("w"), merges).as("w"))
      .collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(viaExpr == viaFold, s"bpe_apply != fold: $viaExpr vs $viaFold")
    assert(viaExpr.head == Seq("a_a", "a"))
    assert(viaExpr(5) == Seq("a_b_c"))
  }

  test("C8: langId is deterministic and total (every doc classified)") {
    val out = TextAnalysis.langId(docs)
    assert(out.count() == docs.count())
    assert(out.filter(col("lang_pred").isNull).count() == 0)
    val again = TextAnalysis.langId(docs)
    assert(out.exceptAll(again).count() == 0)
  }

  test("dup clusters: connected components closes transitive chains") {
    import spark.implicits._
    // chain 1-2-3-4 plus isolated 5: one cluster {1,2,3,4} labeled 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val verts = (1L to 5L).toDF("id")
    val got = Dedup.connectedComponents(pairs, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L))
  }

  test("dup clusters: empty pair set yields all singletons (no NPE)") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val verts = (1L to 3L).toDF("id")
    val got = Dedup.connectedComponents(pairs, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("dup clusters: clustersTable persists once and is shared across callers") {
    // first call builds + commits the cluster snapshot; the second
    // must read the SAME committed version (no CC re-run, no new
    // commit) and agree with a freshly-computed CC on the corpus
    val first = Dedup.clustersTable(spark, sf, docs)
    val store = new graft.store.SnapshotStore(spark,
      Dedup.clusterStoreRoot(sf, 0.5, 20), keyCol = "id")
    val v0 = store.currentVersion
    assert(v0.isDefined, "first clustersTable call must commit a snapshot")
    val second = Dedup.clustersTable(spark, sf, docs)
    assert(store.currentVersion == v0,
      "second call must reuse the committed snapshot, not re-commit")
    val a = first.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = second.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    val direct = {
      val pairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.5, lenBand = 20)
        .select("id_a", "id_b")
      Dedup.connectedComponents(pairs, docs.select(col("doc_id").as("id")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(a == direct, "persisted cluster map must equal a direct CC run")
  }

  test("sketch: space-saving top-k matches exact counts when under capacity") {
    import graft.functions.topk_freq
    val ev = Tables(spark, sf).events.repartition(7) // force partial+merge
    val got = ev.agg(topk_freq(col("event_type"), 3).as("top")).head
      .getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    val want = ev.groupBy(col("event_type")).count()
      .orderBy(col("count").desc, col("event_type"))
      .collect().take(3).map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("sketch: over-capacity estimates respect space-saving error bounds") {
    import graft.functions.topk_freq
    val words = Tables(spark, sf).documents
      .select(explode(split(col("text"), " ")).as("w")).repartition(5)
    // capacity 8 over a ~30-word near-uniform vocabulary: identity of
    // the top item is NOT guaranteed (no skew), but the bounds are:
    // cnt overestimates (cnt - err <= true <= cnt) and the sketch max
    // dominates the true max.
    val top = words.agg(topk_freq(col("w"), 1, capacity = 8).as("top")).head
      .getSeq[org.apache.spark.sql.Row](0).head
    val (item, cnt, err) = (top.getString(0), top.getLong(1), top.getLong(2))
    val exact = words.groupBy(col("w")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cnt >= exact.values.max, s"sketch max $cnt < true max ${exact.values.max}")
    assert(cnt - err <= exact(item), s"lower bound ${cnt - err} > true ${exact(item)}")
  }

  test("B9: HLL approx distinct within 5% of exact") {
    val li = Tables(spark, sf).lineitem
    val both = li.agg(
      countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey"), 0.02).as("approx")).head
    val exact = both.getAs[Long]("exact").toDouble
    val approx = both.getAs[Long]("approx").toDouble
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("ANN index persistence: saved+loaded IVF-PQ answers queries identically") {
    val emb = Tables(spark, sf).embeddings
    val queries = emb.limit(8)
    val direct = Ann.ivfPqTopK(emb, queries, topK = 5).collect().toSeq
    val idxDir = tempDir("graft-annidx").toString
    Ann.saveIvfPqIndex(Ann.buildIvfPqIndex(emb), idxDir)
    val loaded = Ann.loadIvfPqIndex(spark, idxDir)
    // the loaded index must reproduce the direct composition exactly
    // (both quantizers are deterministic, so parquet round-tripping
    // the artifacts changes nothing)
    // excludeSelf: these query batches are corpus vectors, so mirror
    // ivfPqTopK's self-exclusion for the equality to hold
    val viaIndex = Ann.queryIvfPq(loaded, queries, topK = 5, excludeSelf = true)
      .collect().toSeq
    assert(viaIndex == direct)
    // a SECOND query batch reuses the same artifacts — the production
    // build-once/query-many pattern (no corpus re-quantization)
    val more = emb.orderBy(col("vec_id").desc).limit(4)
    val viaIndex2 = Ann.queryIvfPq(loaded, more, topK = 5, excludeSelf = true)
      .collect().toSeq
    assert(viaIndex2 == Ann.ivfPqTopK(emb, more, topK = 5).collect().toSeq)
    // an EXTERNAL batch (ids colliding with corpus ids on purpose, but
    // vectors that are NOT those corpus rows) must not lose neighbors
    // to accidental id equality: the collided neighbor stays eligible
    val external = emb.limit(2).withColumn("vec_id", col("vec_id") + 1L)
    val extRes = Ann.queryIvfPq(loaded, external, topK = 5)
    assert(extRes.filter(col("query_id") === col("neighbor_id")).count() >= 0) // runs
    assert(extRes.groupBy("query_id").count().filter(col("count") =!= 5L).count() == 0)
    // release() drops the pinned build-side frames and is a safe
    // no-op on a parquet-backed loaded index
    val built = Ann.buildIvfPqIndex(emb)
    built.release()
    assert(built.cents.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(built.codebooks.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    loaded.release() // no cache held: must not throw
  }

  test("interchange: CSV and JSON round-trips are lossless; PERMISSIVE quarantines bad lines") {
    import graft.sources.Writers
    val tmp = tempDir("graft-io")
    def same(a: DataFrame, b: DataFrame): Unit = {
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
        "round-trip not lossless")
    }
    // strings + longs (documents) and a timestamp column (events)
    // through both formats — the pinned UTC timestamp format makes
    // the round-trip bit-stable
    val d = docs
    Writers.writeCsv(d, s"$tmp/d_csv")
    same(d, Writers.readCsv(spark, d.schema, s"$tmp/d_csv"))
    Writers.writeJson(d, s"$tmp/d_json")
    same(d, Writers.readJson(spark, d.schema, s"$tmp/d_json"))
    val ev = Tables(spark, sf).events.select("event_id", "ts", "user_id", "event_type")
    Writers.writeCsv(ev, s"$tmp/ev_csv")
    same(ev, Writers.readCsv(spark, ev.schema, s"$tmp/ev_csv"))
    Writers.writeJson(ev, s"$tmp/ev_json")
    same(ev, Writers.readJson(spark, ev.schema, s"$tmp/ev_json"))
    // ORC: binary columnar round-trip (timestamps carried natively,
    // no format pinning needed) through Spark's vectorized reader
    Writers.writeOrc(d, s"$tmp/d_orc")
    same(d, Writers.readOrc(spark, d.schema, s"$tmp/d_orc"))
    Writers.writeOrc(ev, s"$tmp/ev_orc")
    same(ev, Writers.readOrc(spark, ev.schema, s"$tmp/ev_orc"))
    // line-mode CSV read (multiLine=false) on newline-free data stays
    // lossless while keeping files splittable
    val flat = d.withColumn("text", regexp_replace(col("text"), "\n", " "))
    Writers.writeCsv(flat, s"$tmp/flat_csv")
    same(flat, Writers.readCsv(spark, flat.schema, s"$tmp/flat_csv", multiLine = false))
    // embedded newlines: the writer quotes them; multiLine on the
    // reader keeps the round-trip lossless (a reader without it
    // FAILFASTs on data the writer itself produced)
    import spark.implicits._
    val nl = Seq((1L, "line one\nline two", "x"), (2L, "plain", "y\r\nz"))
      .toDF("id", "a", "b")
    Writers.writeCsv(nl, s"$tmp/nl_csv")
    same(nl, Writers.readCsv(spark, nl.schema, s"$tmp/nl_csv"))
    Writers.writeJson(nl, s"$tmp/nl_json")
    same(nl, Writers.readJson(spark, nl.schema, s"$tmp/nl_json"))
    // dirty input: FAILFAST throws, PERMISSIVE quarantines the bad
    // line in _corrupt_record (the batch twin of the CDC dead letter)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/bad.json"),
      """{"doc_id": 1, "text": "ok"}""" + "\n" + """{"doc_id": not-json""" + "\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    intercept[org.apache.spark.SparkException] {
      Writers.readJson(spark, schema, s"$tmp/bad.json").collect()
    }
    // Spark disallows queries touching ONLY _corrupt_record on a raw
    // file scan — cache the parsed frame first (the documented idiom)
    val perm = Writers.readJson(spark, schema, s"$tmp/bad.json", mode = "PERMISSIVE").cache()
    try {
      assert(perm.filter(col("_corrupt_record").isNotNull).count() == 1)
      assert(perm.filter(col("doc_id") === 1L && col("text") === "ok").count() == 1)
    } finally perm.unpersist()
  }

  test("B9b: approx percentile (GK sketch) brackets the exact median") {
    val li = Tables(spark, sf).lineitem
    val r = li.agg(
      percentile(col("l_extendedprice"), lit(0.5)).as("exact"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("approx")).head
    val (exact, approx) = (r.getAs[Double]("exact"), r.getAs[Double]("approx"))
    assert(math.abs(approx - exact) / exact < 0.02, s"approx=$approx exact=$exact")
  }
}
