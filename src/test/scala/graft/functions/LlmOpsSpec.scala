package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sf)
  lazy val emb = Tables.embeddings(spark, sf)

  test("exactDedup collapses identical texts to the lowest id") {
    val copies = docs.filter($"doc_id" % 10 === 0)
      .withColumn("doc_id", $"doc_id" + 1000000)
    val out = DedupOps.exactDedup(docs.unionByName(copies), "text", "doc_id")
    assert(out.count() == docs.count()) // one group per distinct text
    assert(out.filter($"n_copies" === 2).count() == copies.count())
    assert(out.filter($"keep_id" >= 1000000).count() == 0, "original id must win")
  }

  test("ngram Jaccard and MinHash-LSH agree on the planted near-dups") {
    val exact = DedupOps.ngramJaccardPairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashLshPairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-duplicates")
    assert(lsh.subsetOf(exact), "LSH-verified pairs are a subset of exact pairs")
    // 0.99-Jaccard pairs pass 4x4 LSH bands with overwhelming probability
    assert(lsh == exact, s"LSH missed pairs: ${exact diff lsh}")
  }

  test("candidate verification: shuffle fallback returns identical pairs to broadcast") {
    val viaBroadcast = DedupOps.ngramJaccardPairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // gate 0 → every candidate set exceeds it → shuffle-join verification;
    // auto-broadcast disabled so the fallback actually executes as shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val viaShuffle =
      try DedupOps.ngramJaccardPairs(docs, "text", "doc_id",
          maxBroadcastCandidates = 0L)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L << 20)
    assert(viaBroadcast.nonEmpty)
    assert(viaShuffle == viaBroadcast, "fallback path must not change results")
  }

  test("decontamination shuffle fallback matches the broadcast path") {
    val eval = docs.filter($"doc_id" % 7 === 0)
    val train = docs.filter($"doc_id" % 7 =!= 0)
    val a = DedupOps.crossCorpusOverlap(train, eval, "text", "doc_id")
      .select("eval_id", "train_id").as[(Long, Long)].collect().toSet
    val b = DedupOps.crossCorpusOverlap(train, eval, "text", "doc_id",
        maxBroadcastCandidates = 0L)
      .select("eval_id", "train_id").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("bloom-prefiltered decontamination is byte-identical to the exact path") {
    val eval = docs.filter($"doc_id" % 7 === 0)
    val train = docs.filter($"doc_id" % 7 =!= 0)
    val exact = DedupOps.crossCorpusOverlap(train, eval, "text", "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    val bloomed = DedupOps.bloomDecontamination(train, eval, "text", "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted contamination")
    assert(bloomed == exact, "bloom prefilter must be lossless")
    // a deliberately tiny/saturated filter still cannot lose results —
    // false positives only add candidates for verification to kill
    val saturated = DedupOps.bloomDecontamination(train, eval, "text", "doc_id",
        expectedEvalShingles = 16L, fpp = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(saturated == exact)
  }

  test("LSH decontamination: precise subset of exact, catches planted contamination") {
    val eval = docs.filter($"doc_id" % 7 === 0)
    val train = docs.filter($"doc_id" % 7 =!= 0)
    val exact = DedupOps.crossCorpusOverlap(train, eval, "text", "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    val lsh = DedupOps.lshDecontamination(train, eval, "text", "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted contamination")
    // precision 1 by construction (exact verification); identical overlap
    // values because both verify against the same shingle sets
    assert(lsh.subsetOf(exact), s"LSH reported non-pairs: ${lsh diff exact}")
    // the planted contamination sits at j≈0.99 where 4x4 bands miss with
    // probability (1-j^4)^4 ≈ 1e-6 — expect full recall on the fixture
    assert(lsh == exact, s"LSH missed: ${exact diff lsh}")
    // shuffle-fallback verification returns the same pairs
    val fallback = DedupOps.lshDecontamination(train, eval, "text", "doc_id",
        maxBroadcastCandidates = 0L)
      .as[(Long, Long, Double)].collect().toSet
    assert(fallback == lsh)
  }

  test("segment dedup rewrite drops shared segments and keeps unique docs whole") {
    val out = DedupOps.segmentDedupRewrite(docs, "text", "doc_id").cache()
    assert(out.count() == docs.count(), "one row per input document")
    // near-dup pairs share aligned segments → some docs lose segments
    val touched = out.filter($"kept_segments" < $"n_segments")
    assert(touched.count() > 0, "planted near-dups should lose shared segments")
    // documents keeping everything rewrite to their own text verbatim
    val whole = out.filter($"kept_segments" === $"n_segments")
    assert(whole.count() > 0, "most of the corpus is not boilerplate")
    // the rewrite is deterministic under repartition (order reconstruction
    // rides seg_idx, not partition order)
    val again = DedupOps.segmentDedupRewrite(
      docs.repartition(7), "text", "doc_id")
    assert(again.collect().toSet == out.collect().toSet)
    out.unpersist()
    graft.CacheScope.drain(spark)
  }

  test("BloomOps probe: no false negatives, rejects most absent keys") {
    val present = (0L until 1000L).map(i => s"key-$i").toDF("k")
    val bloom = present.agg(BloomOps.bloomAgg($"k", 1000L, 0.01).as("bf"))
    val probed = (0L until 2000L).map(i => s"key-$i").toDF("k")
      .filter(BloomOps.mightContain(bloom.scalar(), $"k"))
      .select("k").as[String].collect().toSet
    assert((0L until 1000L).map(i => s"key-$i").toSet.subsetOf(probed),
      "a present key must never be rejected")
    val falsePos = probed.size - 1000
    assert(falsePos <= 100, s"fpp=0.01 filter rejected too little: $falsePos/1000 escaped")
  }

  test("document-frequency cap drops stop-shingle candidates, keeps rare-shingle pairs") {
    // 12 identical docs sharing only ubiquitous shingles (df=12) + one
    // isolated identical pair with its own rare shingles (df=2)
    val hotText = (1 to 40).map(_ => "common phrase words repeat here").mkString(" ")
    val rareText = (1 to 50).map(i => s"unique$i token$i").mkString(" ")
    val corpus = ((1 to 12).map(i => (i.toLong, hotText)) ++
      Seq((21L, rareText), (22L, rareText))).toDF("doc_id", "text")
    val capped = DedupOps.ngramJaccardPairs(corpus, "text", "doc_id",
        maxShingleDf = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((21L, 22L)),
      s"df>10 shingles must not generate candidates, got $capped")
    val uncapped = DedupOps.ngramJaccardPairs(corpus, "text", "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size == 12 * 11 / 2 + 1, "default cap must not fire here")
  }

  test("q22 min-shingle fingerprint: codegen agg form equals the HOF reference form") {
    val viaAgg = graft.LlmQueries.fingerprints(spark, sf)
      .select("doc_id", "min_shingle_fp")
      .as[(Long, Option[String])].collect().toMap
    val viaHof = docs.select($"doc_id",
        TextAnalysis.minShingleFingerprint(TextAnalysis.tokens($"text"), 5))
      .as[(Long, Option[String])].collect().toMap
    assert(viaAgg == viaHof)
  }

  test("topK aggregation ranks exactly like the row_number window form") {
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter($"vec_id" < 6)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val viaAgg = SimilarityOps.bruteForceTopK(q, emb, 7)
      .select("query_id", "rank", "neighbor_id", "sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    val scored = emb.crossJoin(broadcast(q))
      .filter($"query_id" =!= $"vec_id")
      .withColumn("sim", round(SimilarityOps.cosine($"query_vec", $"embedding"), 4))
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"vec_id")
    val viaWindow = scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 7)
      .select($"query_id", $"rank".cast("long"), $"vec_id", $"sim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaAgg == viaWindow)
    // the whole point: ranking must be an aggregation, not a window
    val plan = SimilarityOps.bruteForceTopK(q, emb, 7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no window operator allowed:\n$plan")
  }

  test("k=1 struct-max fast path matches TopK on unscored (NaN-sim) candidates") {
    // a zero vector makes cosine 0/0 = NaN; TopK DROPS unscored
    // candidates (TopK.scala:46) while Spark's double ordering ranks
    // NaN above every real value — the k=1 max(struct) path must
    // filter them or it elects the zero vector as everyone's nearest
    val dim = emb.select($"embedding").head().getSeq[Float](0).length
    val zeroed = emb.filter($"vec_id" < 20)
      .unionByName(emb.limit(1).select(
        lit(999L).as("vec_id"),
        array_repeat(lit(0.0f), dim).as("embedding"),
        $"label"))
    val q = zeroed.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val top1 = SimilarityOps.bruteForceTopK(q, zeroed, 1)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toMap
    val top2 = SimilarityOps.bruteForceTopK(q, zeroed, 2)
      .filter($"rank" === 1)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toMap
    assert(top1 == top2, "k=1 fast path diverged from the TopK rank-1 row")
    assert(!top1.values.exists(_ == 999L), "unscored candidate was ranked")
  }

  test("mrrFirstRelevant ignores unscored (NaN-sim) candidates") {
    // zero vector → cosine NaN; Spark orders NaN above every real, so
    // unfiltered it would be elected "first relevant" (sharing the
    // label) AND counted as a strictly-better neighbor for other
    // queries — the exact hazard bruteForceTopK filters
    val q = Seq((0L, Seq(1.0f, 0.0f), 1L))
      .toDF("query_id", "query_vec", "query_label")
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f), 1L),   // the query itself: excluded
      (1L, Seq(1.0f, 0.0f), 1L),   // the true first relevant, sim 1.0
      (2L, Seq(0.0f, 0.0f), 1L))   // zero vector: sim NaN, same label
      .toDF("vec_id", "embedding", "label")
    val out = SimilarityOps.mrrFirstRelevant(q, corpus)
      .select("first_rel_rank").as[Long].head()
    assert(out == 1L, s"NaN candidate perturbed the rank: got $out")
  }

  test("ppjoin stays lossless at an exact threshold boundary (0.07, sz 100)") {
    // J(A, B) = 7/100 = 0.07 exactly, with A ⊂ B: the raw-double form
    // computed ceil(100 * 0.07) = ceil(7.000000000000001) = 8 and the
    // length filter silently dropped the qualifying pair; the ppm-exact
    // arithmetic must emit it
    val a = (1 to 7).map(i => f"e$i%02d")
    val b = a ++ (1 to 93).map(i => f"f$i%02d")
    val sh = Seq((1L, a), (2L, b)).toDF("doc_id", "sh")
    val cands = DedupOps.ppjoinCandidates(sh, 0.07)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)),
      "exact-boundary pair missing from ppjoin candidates")
  }

  test("kmeansCentroids keeps an emptied cluster at its previous centroid") {
    // duplicate seed vectors: every point ties to the lower seed_id, so
    // seed 1's cluster empties in round 1 — it must keep its previous
    // centroid (kmeansCore behavior), not vanish and shrink the IVF
    // bucket count
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val cents = SimilarityOps.kmeansCentroids(e, k = 2, iters = 2)
    assert(cents.count() == 2L, "empty cluster was dropped")
  }

  test("simhash near-dup pairs overlap heavily with exact Jaccard pairs") {
    val sim = DedupOps.simhashPairs(
      DedupOps.simhashSignatures(docs, "text", "doc_id"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val exact = DedupOps.ngramJaccardPairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(sim.nonEmpty)
    assert((sim intersect exact).size.toDouble / exact.size > 0.5)
  }

  test("cosine self-similarity is 1; scaled copies detected as near-dups") {
    val self = emb.limit(5)
      .select(round(SimilarityOps.cosine($"embedding", $"embedding"), 4))
      .as[Double].collect()
    assert(self.forall(_ == 1.0))
    val copies = emb.filter($"vec_id" % 100 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"),
        transform($"embedding", x => x * lit(2.0f)).as("embedding"))
    val pairs = SimilarityOps.nearDupPairs(
      emb.select("vec_id", "embedding").unionByName(copies))
    val found = pairs.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val expected = copies.select($"vec_id" - 1000000).as[Long].collect()
      .map(id => (id, id + 1000000)).toSet
    assert(expected.subsetOf(found), "every scaled copy must be detected")
  }

  test("semantic dedup: planted copies flagged in-cluster, representatives kept") {
    val base = emb.select("vec_id", "embedding")
    val copies = base.filter($"vec_id" % 50 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"),
        transform($"embedding", x => x * lit(0.5f)).as("embedding"))
    val seeds = base.filter($"vec_id" < 8)
      .select($"vec_id".as("seed_id"), $"embedding".as("seed_vec"))
    val out = SimilarityOps.semanticDedup(base.unionByName(copies), seeds)
    val n = base.count(); val nc = copies.count()
    assert(out.count() == n + nc, "one verdict row per input vector")
    // every planted copy is a dup; its lower-id original is the keeper
    assert(out.filter($"vec_id" >= 1000000 && $"is_dup" === 0).count() == 0)
    assert(out.filter($"vec_id" < 1000000 && $"vec_id" % 50 === 0)
      .filter($"is_dup" === 1).count() == 0, "originals must be kept")
    // copy and original land in the same cluster (cosine scale-invariance)
    val mismatched = out.filter($"vec_id" >= 1000000).as("c")
      .join(out.filter($"vec_id" < 1000000).as("o"),
        $"c.vec_id" - 1000000 === $"o.vec_id")
      .filter($"c.bucket" =!= $"o.bucket")
    assert(mismatched.count() == 0, "scaled copy must share its original's cluster")
    // layout-independence
    val again = SimilarityOps.semanticDedup(
      base.unionByName(copies).repartition(13), seeds)
      .collect().map(_.toString).sorted
    assert(out.collect().map(_.toString).sorted.sameElements(again))
  }

  test("brute-force topK is deterministic and self-excluding") {
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val tk = SimilarityOps.bruteForceTopK(q, emb, 5)
    assert(tk.count() == 15)
    assert(tk.filter($"query_id" === $"neighbor_id").count() == 0)
    val ranks = tk.groupBy("query_id").agg(collect_list("rank")).count()
    assert(ranks == 3)
  }

  test("truncated topK at full width equals brute-force; narrow widths stay ranked") {
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    // dims = 64 is the whole vector: the slice is the identity, so the
    // Matryoshka scorer must reproduce bruteForceTopK bit-for-bit
    val full = SimilarityOps.bruteForceTopK(q, emb, 5)
      .orderBy("query_id", "rank").collect().map(_.toString)
    val trunc = SimilarityOps.truncatedTopK(q, emb, 5, dims = 64)
      .orderBy("query_id", "rank").collect().map(_.toString)
    assert(trunc.sameElements(full))
    val narrow = SimilarityOps.truncatedTopK(q, emb, 5, dims = 8)
    assert(narrow.count() == 15)
    assert(narrow.filter($"query_id" === $"neighbor_id").count() == 0)
    // ranks are contiguous 1..5 per query
    val perQ = narrow.groupBy("query_id")
      .agg(sort_array(collect_list("rank")).as("rs"))
      .collect().map(_.getSeq[Long](1))
    assert(perQ.forall(_ == Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("PQ: codes in range, encode deterministic under repartition, ADC self-consistent") {
    val cb = SimilarityOps.pqCodebook(emb, m = 8, subDim = 8, kCodes = 16)
    assert(cb.count() == 8 * 16)
    val enc = SimilarityOps.pqEncode(emb, cb, m = 8, subDim = 8)
    assert(enc.filter($"code" < 0 || $"code" >= 16).count() == 0)
    assert(enc.count() == emb.count() * 8, "m codes per vector")
    val enc2 = SimilarityOps.pqEncode(emb.repartition(7), cb, m = 8, subDim = 8)
    assert(enc.exceptAll(enc2).isEmpty && enc2.exceptAll(enc).isEmpty,
      "encoding must not depend on partitioning")
    // a seed vector's best centroid in every subspace is itself (d2 = 0)
    assert(enc.filter($"vec_id" < 16 && $"code" =!= $"vec_id").count() == 0,
      "seed vectors must encode to their own codes")
    val q = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val tk = SimilarityOps.pqTopK(emb, cb, q, k = 5, m = 8, subDim = 8)
    assert(tk.count() == 10)
    assert(tk.filter($"query_id" === $"neighbor_id").count() == 0)
    assert(tk.filter($"pq_dist" < 0).count() == 0, "squared distances are nonnegative")
  }

  test("ppjoin prefix filtering returns exactly the df-capped inverted-index pairs") {
    val viaIndex = DedupOps.ngramJaccardPairs(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    val viaPrefix = DedupOps.ppjoinPairs(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().toSet
    assert(viaPrefix.nonEmpty)
    assert(viaPrefix == viaIndex,
      "prefix filtering is lossless — identical verified pairs expected")
  }

  test("ppjoin positional filter prunes a candidate the length filter passes, losslessly") {
    // Constructed shingle sets at t=0.6: docs 1 and 2 both have 10
    // shingles (length filter passes either way) and share EXACTLY one
    // shingle h1, which the global df order puts at position 5 (the last
    // prefix slot) of doc 1 but position 1 of doc 2. Overlap bound
    // B = min(5,1) + min(10-5, 10-1) = 6 < ceil(0.375*20) = 8, so the
    // positional filter kills the candidate; without it the pair
    // collides and survives to (and is rejected by) verification.
    // Filler docs 10-14 shape the document frequencies: h* and k* at
    // df=3, a* at df=1, so doc 1 sorts a1..a4 before h1 and doc 2 sorts
    // h1 before every k*.
    val a = (1 to 4).map(i => s"a$i")
    val h = (1 to 6).map(i => s"h$i")
    val k = (1 to 9).map(i => s"k$i")
    val sets = Seq(
      1L -> (a ++ h),
      2L -> (Seq("h1") ++ k),
      10L -> h.drop(1), 11L -> h.drop(1), // h2..h6 -> df 3
      12L -> Seq("h1"),                   // h1 -> df 3
      13L -> k, 14L -> k)                 // k* -> df 3
    val sh = sets.toDF("doc_id", "sh")
    def cands(positional: Boolean): Set[(Long, Long)] =
      DedupOps.ppjoinCandidates(sh, 0.6, positional)
        .as[(Long, Long)].collect().toSet
    val without = cands(positional = false)
    val withPos = cands(positional = true)
    assert(without.contains((1L, 2L)),
      "prefix+length filters alone must emit the planted candidate")
    assert(!withPos.contains((1L, 2L)),
      "the positional overlap bound must prune it before verification")
    // losslessness: every truly-qualifying pair still collides. The only
    // J >= 0.6 pairs in the fixture are the identical filler twins.
    assert(Set((10L, 11L), (13L, 14L)).subsetOf(withPos))
    assert(withPos.subsetOf(without))
  }

  test("kmeans centroids: deterministic, right shape, improve the assignment objective") {
    val c1 = SimilarityOps.kmeansCentroids(emb, k = 8, iters = 2)
    val c2 = SimilarityOps.kmeansCentroids(emb, k = 8, iters = 2)
    assert(c1.count() == 8)
    assert(c1.exceptAll(c2).isEmpty, "same data must train the same centroids")
    assert(c1.select(size($"seed_vec")).as[Int].collect().forall(_ == 64))
    // the mean best-cosine objective must not degrade vs the raw seeds
    def objective(cent: org.apache.spark.sql.DataFrame): Double =
      emb.crossJoin(broadcast(cent))
        .groupBy($"vec_id")
        .agg(max(SimilarityOps.cosine($"embedding", $"seed_vec")).as("best"))
        .agg(avg($"best")).as[Double].collect()(0)
    val seeds = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("seed_id"), $"embedding".cast("array<double>").as("seed_vec"))
    assert(objective(c1) >= objective(seeds),
      "trained centroids must fit at least as well as the raw seed vectors")
  }

  test("BPE merge round: greedy left-to-right merge on constructed runs") {
    // corpus of "ababa" tokens: top non-self pair is (a,b) by the
    // lexicographic tie-break over (a,b) and (b,a); greedy merge gives
    // [ab, ab, a], so the recount must see (ab,ab) and (ab,a) twice each
    val corpus = Seq("ababa ababa").toDF("text")
    val out = graft.LlmQueries.bpeMergeRoundOn(corpus)
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("ab", "ab", 2L), ("ab", "a", 2L)),
      s"got $out")
  }

  test("containment flags an excerpt its Jaccard score would ship") {
    val base = docs.select($"doc_id", $"text").filter($"doc_id" < 50)
    val long = base.filter(length($"text") > 400).limit(1)
    val toks = org.apache.spark.sql.functions.split(lower($"text"), "\\s+")
    val excerpt = long.select(lit(999999L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1),
        floor(size(toks) / 2).cast("int"))).as("text"))
    val feed = base.unionByName(excerpt)
    val cont = DedupOps.containmentPairs(feed, "text", "doc_id")
      .filter($"doc_b" === 999999L)
      .select($"containment_ppm").as[Long].collect()
    assert(cont.nonEmpty && cont.max >= 900000L,
      s"half-length excerpt must show containment ~1, got ${cont.toSeq}")
    val jac = DedupOps.ngramJaccardPairs(feed, "text", "doc_id")
      .filter($"doc_b" === 999999L).count()
    assert(jac == 0,
      "the same pair must be invisible to a 0.6-Jaccard near-dup pass")
  }

  test("exact kmeans: partition-invariant, partitions the corpus, converges") {
    val total = emb.count()
    val r1 = SimilarityOps.kmeansExactStats(emb, k = 8, dims = 64, iters = 2)
    val r2 = SimilarityOps.kmeansExactStats(
      emb.repartition(7, $"label"), k = 8, dims = 64, iters = 2)
    val rows1 = r1.as[(Long, Long, Long, Long)].collect().toSeq
    assert(rows1 == r2.as[(Long, Long, Long, Long)].collect().toSeq,
      "integer kmeans must be bit-identical under any partitioning")
    assert(rows1.map(_._2).sum == total,
      "every vector is assigned to exactly one cluster")
    assert(rows1.nonEmpty && rows1.size <= 8)
    // Lloyd monotonicity: total inertia after 2 rounds <= after 1 round
    val i1 = SimilarityOps.kmeansExactStats(emb, k = 8, dims = 64, iters = 1)
      .agg(sum($"inertia")).as[Long].collect()(0)
    val i2 = rows1.map(_._3).sum
    assert(i2 <= i1, s"inertia must not increase across Lloyd rounds ($i1 -> $i2)")
  }

  test("IVF-PQ: partition-invariant, ranked per query, neighbors only from probed buckets") {
    val q = emb.filter($"vec_id" % 200 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    def run(c: org.apache.spark.sql.DataFrame) =
      SimilarityOps.ivfPqTopK(c, q, k = 3, kCoarse = 4, probes = 2,
        m = 8, subDim = 8, kCodes = 16)
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val r1 = run(emb)
    assert(r1 == run(emb.repartition(5, $"label")),
      "seeded IVF-PQ must be bit-identical under any partitioning")
    assert(r1.nonEmpty)
    // ranks are 1..n per query, distances non-decreasing with rank
    r1.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2) == (1L to byRank.size).toSeq)
      assert(byRank.map(_._4) == byRank.map(_._4).sorted)
    }
    // probing ALL buckets can only add candidates: the 2-probe result's
    // neighbor set per query is a subset of the 4-probe result's
    val all = SimilarityOps.ivfPqTopK(emb, q, k = 500, kCoarse = 4,
      probes = 4, m = 8, subDim = 8, kCodes = 16)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(r1.map(t => (t._1, t._3)).forall(all.contains),
      "2-probe neighbors must come from the full probed candidate set")
  }

  test("JL sign projection preserves pairwise squared distances in aggregate") {
    // E[|y_a - y_b|^2] = outDims * |q_a - q_b|^2 for +-1 rows; with a
    // fixed matrix and fixed data the observed mean ratio is a
    // deterministic number — assert it sits near 1 (JL at work), far
    // from 0 (information destroyed) and from blowup
    val proj = SimilarityOps.jlProject(emb, dims = 64, outDims = 16)
      .groupBy("vec_id").agg(collect_list(struct($"dim", $"y")).as("ys"))
      .select($"vec_id",
        transform(array_sort($"ys"), x => x.getField("y")).as("y"))
    val q = emb.select($"vec_id",
      transform($"embedding".cast("array<double>"),
        x => floor(x * lit(1000)).cast("long")).as("q"))
    def d2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)
    val pairs = q.as("qa").join(q.as("qb"), $"qa.vec_id" + 1 === $"qb.vec_id")
      .join(proj.as("pa"), $"qa.vec_id" === $"pa.vec_id")
      .join(proj.as("pb"), $"qb.vec_id" === $"pb.vec_id")
      .select(d2($"qa.q", $"qb.q").as("dq"), d2($"pa.y", $"pb.y").as("dy"))
    val ratio = pairs.agg(avg($"dy" / ($"dq" * 16.0))).as[Double].collect()(0)
    assert(ratio > 0.5 && ratio < 1.5,
      s"mean distortion ratio should be near 1, got $ratio")
  }

  test("IVF probed search returns a subset ranking consistent with brute force") {
    val seeds = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("seed_id"), $"embedding".as("seed_vec"))
    val q = emb.filter($"vec_id" === 42)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val ivf = SimilarityOps.ivfTopK(emb, seeds, q, k = 3, probes = 8)
    val bf = SimilarityOps.bruteForceTopK(q, emb, 3)
    // probing ALL buckets makes IVF exhaustive — must equal brute force
    assert(ivf.select("neighbor_id").as[Long].collect().toSeq ==
      bf.select("neighbor_id").as[Long].collect().toSeq)
  }

  test("persisted IVF index: identical results to in-memory IVF, pruned scan") {
    val dir = tempDir("ivf_idx").toString
    val e = emb.select($"vec_id", $"embedding")
    SimilarityOps.buildIvfIndex(e, dir, k = 8, iters = 1)
    val q = emb.filter($"vec_id" % 200 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val viaIndex = SimilarityOps.queryIvfIndex(spark, dir, q, k = 3, probes = 2)
    val inMem = SimilarityOps.ivfTopK(e,
      SimilarityOps.kmeansCentroids(e, 8, iters = 1), q, k = 3, probes = 2)
    assert(viaIndex.collect().toSet.nonEmpty)
    assert(viaIndex.as[(Long, Long, Long, Double)].collect().toSet ==
      inMem.as[(Long, Long, Long, Double)].collect().toSet)
    // the probed-bucket literal filter must reach the partitioned scan
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"probe filter should prune assignment partitions:\n$plan")
  }

  test("persisted IVF-PQ index: bit-exact vs in-memory composite, pruned codes scan") {
    val dir = tempDir("ivfpq_idx").toString
    val e = emb.select($"vec_id", $"embedding")
    SimilarityOps.buildIvfPqIndex(e, dir, kCoarse = 4, m = 8, subDim = 8,
      kCodes = 16)
    val q = emb.filter($"vec_id" % 200 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val viaIndex = SimilarityOps.queryIvfPqIndex(spark, dir, q, k = 3,
      probes = 2)
    val inMem = SimilarityOps.ivfPqTopK(e, q, k = 3, kCoarse = 4,
      probes = 2, m = 8, subDim = 8, kCodes = 16)
    val got = viaIndex.as[(Long, Long, Long, Double)].collect().toSet
    assert(got.nonEmpty)
    // BIT-exact: same neighbors, same ranks, same fold-ordered distances
    assert(got == inMem.as[(Long, Long, Long, Double)].collect().toSet)
    // the probed-cell literal filter must reach the partitioned codes scan
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"probe filter should prune code partitions:\n$plan")
    graft.CacheScope.drain(spark)
  }

  test("multimodal fingerprint features are deterministic, schema typed") {
    val feats = Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(spark, docs))
    val f1 = feats.filter(_.asset_id == 7).collect()(0)
    val f2 = Multimodal.extractFeatures(
      Multimodal.assetsFromDocuments(spark, docs))
      .filter(_.asset_id == 7).collect()(0)
    assert(f1.feature.toSeq == f2.feature.toSeq,
      "fingerprint embedding must be deterministic")
    assert(f1.feature.length == 8)
    assert(f1.feature.forall(v => v >= 0f && v < 1f))
    // golden vector: slot 0 of payload "hello" is the 60-bit prefix of
    // md5("helloa") = 299614d7f27cc98... → 0x299614d7f27cc98 % 1024 = 152
    assert(Multimodal.MediaCodec.fingerprintEmbedding(
      "hello".getBytes("UTF-8"))(0) == 152f / 1024f)
    assert(feats.count() == docs.count())
    assert(f1.byte_len > 0 && f1.frames_sampled >= 1)
    // resize plan fits 224x224 preserving aspect
    assert(math.max(f1.out_width, f1.out_height) == 224)
    assert(f1.out_width >= 1 && f1.out_height >= 1)
  }

  test("chunking covers every token with 16-token overlap, tail included") {
    val out = graft.LlmQueries.chunkDocuments(spark, sf)
    val t = docs.select($"doc_id",
      size(TextAnalysis.tokens($"text")).as("n"))
    // chunk count and coverage: ceil((n-64)/48)+1 chunks; last chunk's
    // start + its token count reaches exactly n
    val joined = out.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max($"chunk_id" * 48 + $"n_tokens").as("covered"))
      .join(t, "doc_id")
    assert(joined.filter($"covered" =!= $"n").count() == 0,
      "chunks must cover the full token stream")
    assert(joined.filter($"n" <= 64 && $"n_chunks" =!= 1).count() == 0)
    val bad = joined.filter($"n" > 64 &&
      $"n_chunks" =!= ceil(($"n" - 64).cast("double") / 48).cast("int") + 1)
    assert(bad.count() == 0)
    // every non-tail chunk is exactly the window width
    val widths = out.join(t, "doc_id")
      .filter($"chunk_id" * 48 + 64 <= $"n")
    assert(widths.filter($"n_tokens" =!= 64).count() == 0)
  }

  test("bigram LM score: scores in [0,1], planted duplicates score high") {
    val out = graft.LlmQueries.bigramLmScore(spark, sf)
    assert(out.filter($"lm_score" < 0 || $"lm_score" > 1).count() == 0,
      "mean bigram probability must be a probability")
    assert(out.filter($"hits" > $"n_bigrams").count() == 0)
    // a doc made of one high-frequency bigram repeated must score near 1:
    // its single transition dominates the corpus model
    val planted = (0L until 20L).map(i => (i, "alpha beta " * 50))
      .toDF("doc_id", "text")
    // run the same pipeline over a self-contained corpus
    val dir = tempDir("lmdocs").toString
    planted.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scored = graft.LlmQueries.bigramLmScore(spark, dir)
    assert(scored.filter($"lm_score" < 0.9).count() == 0,
      "degenerate repeated-bigram docs must score high")
  }

  test("PII scrubbing masks emails, urls, phones; clean text untouched") {
    val df = Seq(
      ("mail me at bob.smith+x@corp.example.co", "<EMAIL>"),
      ("docs at https://a.example.com/x?y=1 now", "<URL>"),
      ("call +1 (555) 123-4567 today", "<PHONE>"),
      ("no pii here at all", "no pii here at all"),
    ).toDF("text", "expect")
    val out = df.select(TextAnalysis.scrubPii($"text").as("clean"), $"expect")
      .as[(String, String)].collect()
    out.foreach { case (clean, expect) =>
      assert(clean.contains(expect), s"'$clean' should contain '$expect'")
      assert(!clean.contains("@") || expect == "<EMAIL>")
    }
  }

  test("repetition score is 1 for degenerate text, low for varied text") {
    val df = Seq((1L, Seq.fill(30)("spam word soup here now").mkString(" ")),
      (2L, (1 to 150).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val out = graft.LlmQueries.repetitionScore(spark, sf) // type check only
    val toks = TextAnalysis.tokens($"text")
    val sh = explode(transform(sequence(lit(1), size(toks) - 4),
      i => array_join(slice(toks, i, lit(5)), " ")))
    val scores = df.select($"doc_id", sh.as("g"))
      .groupBy($"doc_id", $"g").count()
      .groupBy($"doc_id").agg((max($"count") / sum($"count")).as("share"))
      .orderBy("doc_id").select("share").as[Double].collect()
    assert(scores(0) > 0.15, s"degenerate text must score high: ${scores(0)}")
    assert(scores(1) < 0.02, s"varied text must score low: ${scores(1)}")
  }

  test("decontamination finds exactly the near-dup pairs straddling the split") {
    val hits = graft.LlmQueries.decontamination(spark, sf)
      .select("train_id", "eval_id").as[(Long, Long)].collect().toSet
    val nearDups = DedupOps.ngramJaccardPairs(docs, "text", "doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val straddling = nearDups.collect {
      case (a, b) if a % 7 == 0 && b % 7 != 0 => (b, a)
      case (a, b) if b % 7 == 0 && a % 7 != 0 => (a, b)
    }
    assert(hits == straddling,
      s"decontamination hits $hits must equal straddling near-dups $straddling")
  }

  test("duplicatedSpanStats: cross-doc dup, within-doc repeat, interval union") {
    val df = Seq(
      // cross-doc: d1/d2 share exactly the 8-gram at position 0
      (1L, "c1a c1b c1c c1d c1e c1f c1g c1h c1i c1j"),
      (2L, "c1a c1b c1c c1d c1e c1f c1g c1h c1x c1y"),
      // within-doc repeat: the first 8 tokens recur at position 8
      (3L, "c2a c2b c2c c2d c2e c2f c2g c2h c2a c2b c2c c2d c2e c2f c2g c2h"),
      // overlapping dup spans at positions 0 and 1 must union to 9, not 16
      (4L, "c3a c3b c3c c3d c3e c3f c3g c3h c3i"),
      (5L, "c3a c3b c3c c3d c3e c3f c3g c3h c3i c3z"),
      // shorter than one span: zero positions, zero coverage
      (6L, "c4a c4b c4c")).toDF("doc_id", "text")
    val out = DedupOps.duplicatedSpanStats(df, "text", "doc_id")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_positions", "n_dup_positions",
        "dup_tokens_covered")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 10L, 3L, 1L, 8L),
      (2L, 10L, 3L, 1L, 8L),
      (3L, 16L, 9L, 2L, 16L),
      (4L, 9L, 2L, 2L, 9L),
      (5L, 10L, 3L, 2L, 9L),
      (6L, 3L, 0L, 0L, 0L)), s"got $out")
    graft.CacheScope.drain(spark, blocking = true)
  }

  test("quantize8 floors toward -inf; quantized ranking tracks exact cosine") {
    val df = Seq((Array(0.5f, -0.5f, 0.0f, 1.0f, -1.0f))).toDF("v")
    val q = df.select(SimilarityOps.quantize8($"v")).as[Seq[Long]].head()
    assert(q == Seq(63L, -64L, 0L, 127L, -127L), s"got $q")
    // top-1 by integer dot agrees with exact cosine top-1 on the fixture
    val queries = emb.filter($"vec_id" % 200 === 0)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val qTop = SimilarityOps.quantizedTopK(queries, emb, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exactTop = SimilarityOps.bruteForceTopK(queries, emb, k = 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(qTop == exactTop,
      s"int8 quantization should preserve top-1 on well-separated data: $qTop vs $exactTop")
  }

  test("language ID + quality + token stats produce full coverage") {
    val lang = graft.LlmQueries.langId(spark, sf)
    assert(lang.filter($"predicted_lang".isNull).count() == 0)
    val tok = graft.LlmQueries.tokenStats(spark, sf)
    assert(tok.filter($"n_ws_tokens" <= 0).count() == 0)
    val q = graft.LlmQueries.textQuality(spark, sf)
    assert(q.filter($"quality_score" < 0 || $"quality_score" > 1).count() == 0)
  }

  test("sign codes pack strictly-positive dims into the right halves") {
    // dim 0 (+) → h1 bit 0; dim 31 (+) → h1 bit 31; dim 33 (+) → h2
    // bit 1; dim 63 (+) → h2 bit 31; zero and negative dims stay unset
    val v = Array.fill(64)(0.0f)
    v(0) = 0.5f; v(31) = 0.1f; v(33) = 2.0f; v(63) = 0.001f
    v(1) = -0.5f; v(2) = 0.0f
    val got = SimilarityOps
      .withSignCode(Seq(Tuple1(v)).toDF("embedding"), "embedding", "h1", "h2")
      .select("h1", "h2").as[(Long, Long)].head()
    assert(got == ((1L | (1L << 31), 2L | (1L << 31))), s"got $got")
  }

  test("hamming top-k ranks by popcount distance with id tie-break") {
    // query code (0, 0); corpus: id 1 at distance 1, ids 2 and 3 tied
    // at distance 2 (id order breaks the tie), id 4 at distance 64
    val packed = Seq(
      (1L, 1L, 0L), (2L, 3L, 0L), (3L, 0L, 3L), (4L, -1L, -1L))
      .toDF("vec_id", "h1", "h2")
    val q = Seq((99L, 0L, 0L)).toDF("query_id", "qh1", "qh2")
    val got = SimilarityOps.hammingTopK(q, packed, k = 3)
      .orderBy("rank")
      .select("neighbor_id", "hamming").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 2L)), s"got $got")
  }

  test("min-cost Viterbi segmentation matches hand-computed DP values") {
    // inventory: ab=103, abc=102; single char = 100; C = cost·1024 + n
    val m = map(lit("ab"), lit(103L), lit("abc"), lit(102L))
    val got = Seq("abcd", "xy", "ababab", "q").toDF("tok")
      .withColumn("m", m)
      .withColumn("c", TextAnalysis.minCostSegmentation("tok", "m"))
      .select("tok", "c").as[(String, Long)].collect().toMap
    // abcd → abc+d (202, 2); xy → x+y (200, 2);
    // ababab → ab·3 (309, 3) — the DP must find it through the
    // overlapping decoys; q → one char (100, 1)
    assert(got == Map(
      "abcd" -> (202L * 1024 + 2), "xy" -> (200L * 1024 + 2),
      "ababab" -> (309L * 1024 + 3), "q" -> (100L * 1024 + 1)), s"got $got")
  }

  test("min-cost segmentation of the EMPTY token is 0 pieces at cost 0") {
    // Spark's sequence(1, 0) is the DESCENDING [1, 0]: unguarded, the
    // fold ran twice over a zero-length token and reported 2 phantom
    // pieces (C = 204802) where an oracle's empty range computes 0
    val m = map(lit("ab"), lit(103L))
    val got = Seq("").toDF("tok")
      .withColumn("m", m)
      .withColumn("c", TextAnalysis.minCostSegmentation("tok", "m"))
      .select("c").as[Long].head()
    assert(got == 0L, s"empty token must cost 0, got $got")
  }

  test("nearest-centroid confusion matrix covers the test split exactly") {
    val cm = graft.LlmQueries.nearestCentroid(spark, sf)
    val total = cm.agg(sum("n_vecs")).as[Long].head()
    val nTest = emb.filter($"vec_id" % 5 === 0).count()
    assert(total == nTest, s"confusion mass $total != test rows $nTest")
    // deterministic: a second run is row-identical
    assert(cm.collect().toSeq ==
      graft.LlmQueries.nearestCentroid(spark, sf).collect().toSeq)
  }
}
