package graft

import org.apache.spark.sql.functions._
import graft.llm.{AnnSearch, Dedup, Multimodal, Sampling, TextAnalysis}

/** Semantic assertions for the operators the DuckDB oracle cannot
  * express (hash-based LSH, heuristics): planted near-duplicates are
  * found, ANN recall holds, language-ID classifies, fingerprints are
  * stable and order-sensitive. */
class LlmSpec extends SparkSpec {
  import spark.implicits._

  private def syntheticDocs = {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep green forest while the hunter waits quietly near the old bridge"
    Seq(
      (1L, base),
      (2L, base.replace("quietly", "loudly")), // near-dup of 1
      (3L, base),                              // exact dup of 1
      (4L, "completely different text about database engines and columnar storage formats " +
        "with vectorized execution pipelines and adaptive query optimizers running at scale"),
      (5L, "short text"),
      (6L, "spark sql catalyst optimizer rewrites logical plans into physical plans using " +
        "cost based statistics and adaptive execution at runtime for large clusters")
    ).toDF("doc_id", "text")
  }

  test("minhash LSH finds planted near-duplicates and only them") {
    val pairs = Dedup.minhashDupPairs(syntheticDocs, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash LSH achieves full recall vs brute-force jaccard on real docs") {
    val docs = Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 200)
    val found = Dedup.minhashDupPairs(docs, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force ground truth over the same subset
    val sh = docs.select(col("doc_id").as("_id"), Dedup.shingles(col("text")).as("_sh"))
    val truth = sh.as("a").join(sh.as("b"), col("a._id") < col("b._id"))
      .withColumn("j", Dedup.jaccard(col("a._sh"), col("b._sh")))
      .filter(col("j") >= 0.6)
      .select(col("a._id"), col("b._id")).as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "test data should contain planted near-dups")
    assert(found == truth,
      s"LSH(missing=${truth -- found}, spurious=${found -- truth})")
  }

  test("analytic LSH recall model: default banding is sound at 0.6+, derivation matches") {
    // the default 16 bands × 4 rows: a j = 0.75 pair (the corpus's
    // weakest qualifying pair class) is missed with p < 0.003
    assert(Dedup.minhashMissProb(0.75, 16, 4) < 0.003)
    // derive-from-threshold picks a banding whose miss bound holds
    val b = Dedup.bandsForRecall(0.6, maxMiss = 0.01)
    assert(Dedup.minhashMissProb(0.6, b, 64 / b) <= 0.01)
    // and refuses thresholds below LSH's effective range
    intercept[IllegalArgumentException](Dedup.bandsForRecall(0.05, maxMiss = 1e-6))
  }

  test("escalated 32×2 banding clears the 1e-6 miss budget at j=0.72; default 16×4 cannot") {
    // the q_dedup_minhash_hr_anchored sizing (VERDICT r14 #5): the
    // sf10 S-curve tail sat at j ≤ 0.80 under 16×4; 32 bands × 2 rows
    // of the SAME 64-hash signature push the per-pair miss below 1e-6
    // from j = 0.72 up, while 16×4's miss there is ~5e-3 — recall is
    // bought with bands, not more hashes
    assert(Dedup.minhashMissProb(0.72, 32, 2) < 1e-6)
    assert(Dedup.minhashMissProb(0.72, 16, 4) > 1e-3)
    // semantics: on the fixture subset the escalated setting matches
    // the default's (exact-verified) output — extra bands add
    // candidates, never false positives
    import spark.implicits._
    val docs = Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 200)
    val hr = Dedup.minhashDupPairs(docs, threshold = 0.6, bands = 32)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val default = Dedup.minhashDupPairs(docs, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(hr == default,
      s"32x2 vs 16x4 drift: missing=${default -- hr}, extra=${hr -- default}")
  }

  test("jaccard prefix filter: identical pairs, strictly fewer candidates") {
    // prefix filtering is exact by the pigeonhole argument — same
    // output as the unfiltered co-occurrence join at every threshold
    // (driverMaxDocs = 0: the distributed plan; at this size the
    // default bound would take the driver step)
    val docs = Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 300)
    for (th <- Seq(0.3, 0.5, 0.8)) {
      val pref = Dedup.jaccardDupPairs(docs, th, driverMaxDocs = 0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val naive = Dedup.jaccardDupPairs(docs, th, prefixFilter = false, driverMaxDocs = 0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pref == naive,
        s"t=$th missing=${naive -- pref} spurious=${pref -- naive}")
    }
    // the scale contract: prefix candidates ≪ full co-occurrence
    val candPref = Dedup.jaccardCandidateCount(docs, 0.5)
    val candFull = Dedup.jaccardCandidateCount(docs, 0.5, prefixFilter = false)
    assert(candPref < candFull / 2,
      s"prefix candidates $candPref vs full $candFull — filter must bite")
  }

  test("containment join: recall 1.0 vs unfiltered, finds embedded docs jaccard misses") {
    // a short doc fully contained in a long one: containment flags it,
    // jaccard (at any useful threshold) cannot
    val short_ = "the quick brown fox jumps over the lazy dog"
    val long_ = short_ + " and then it ran far away across the wide field" +
      " while the dog slept on under the old oak tree near the river"
    val docs = Seq((1L, short_), (2L, long_), (3L, "completely different text here"))
      .toDF("doc_id", "text")
    // (driverMaxDocs = 0 throughout: the distributed plan)
    val got = Dedup.containmentDupPairs(docs, threshold = 0.9, driverMaxDocs = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")   // directed: short ⊆ long only
    assert(Dedup.jaccardDupPairs(docs, threshold = 0.5, driverMaxDocs = 0).count() == 0)
    // exactness of the prefix+positional+length pruning on real docs
    val real = Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 300)
    for (th <- Seq(0.5, 0.8)) {
      val pref = Dedup.containmentDupPairs(real, th, driverMaxDocs = 0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val naive = Dedup.containmentDupPairs(real, th, prefixFilter = false, driverMaxDocs = 0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(pref == naive,
        s"t=$th missing=${naive -- pref} spurious=${pref -- naive}")
    }
  }

  test("bloom decontamination: never keeps a contaminated doc; exact at tiny fpp") {
    import graft.llm.Decontamination
    val docs = Tables.t(spark, sfDir, "documents")
    val bench = docs.filter(col("doc_id") % 20 === 7)
    val corpus = docs.filter(col("doc_id") % 20 =!= 7)
    val exact = Decontamination.decontaminate(corpus, bench, minHits = 5)
      .select("doc_id").as[Long].collect().toSet
    val bloomed = Decontamination.decontaminateBloom(corpus, bench, minHits = 5)
      .select("doc_id").as[Long].collect().toSet
    // safety direction: bloom FPs can only drop MORE docs, never keep
    // a contaminated one
    assert(bloomed.subsetOf(exact))
    // at fpp 1e-8 on this corpus the pass is exact
    assert(bloomed == exact, s"bloom dropped clean docs: ${exact -- bloomed}")
    // a deliberately terrible fpp must still satisfy the containment
    val sloppy = Decontamination.decontaminateBloom(corpus, bench,
        minHits = 5, fpp = 0.5).select("doc_id").as[Long].collect().toSet
    assert(sloppy.subsetOf(exact))
  }

  test("dropContained: supersets survive, mutual containment keeps min id, chains fold") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // 1 ⊆ 2 ⊆ 3 (chain); 4 ≡ 5 (mutual); 9 untouched
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 0.9),
      (4L, 5L, 1.0), (5L, 4L, 1.0)).toDF("id_a", "id_b", "containment")
    val kept = Dedup.dropContained(docs, pairs)
      .as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 9L), s"got $kept")
  }

  test("nearDedupBest keeps the argmax-score member per cluster, ties to min id") {
    import spark.implicits._
    // two clusters {1,2,3} and {10,11}, singleton 20
    val docs = Seq(
      (1L, "a", 5L), (2L, "b", 9L), (3L, "c", 9L), // 2 and 3 tie: keep 2
      (10L, "d", 1L), (11L, "e", 7L),              // keep 11
      (20L, "f", 0L)                               // untouched singleton
    ).toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDedupBest(docs, pairs, col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 11L, 20L))
    // min-id policy on the same input keeps different representatives
    val minKept = Dedup.nearDedup(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(minKept == Set(1L, 10L, 20L))
  }

  test("simhash banding has total recall: pairs == brute-force hamming <= maxDist") {
    // the pigeonhole contract: maxDist+1 bands lose NO qualifying pair
    for (maxDist <- Seq(3, 8)) {
      val docs = Tables.t(spark, sfDir, "documents")
      val found = Dedup.simhashDupPairs(docs, maxDist = maxDist)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sh = Dedup.simhash(docs).select(col("doc_id").as("_id"), col("simhash"))
      val truth = sh.as("a").join(sh.as("b"), col("a._id") < col("b._id"))
        .filter(Dedup.hamming(col("a.simhash"), col("b.simhash")) <= maxDist)
        .select(col("a._id"), col("b._id")).as[(Long, Long)].collect().toSet
      assert(found == truth,
        s"maxDist=$maxDist missing=${truth -- found} spurious=${found -- truth}")
    }
  }

  test("bandedHashPairs: twin collapse + two-level banding keep the brute-force contract") {
    // round 12 hardening — exact-hash twins are emitted from one
    // equality join and the banded join runs two-level pigeonhole
    // keys over DISTINCT hashes. The output contract (every pair at
    // hamming ≤ maxDist, exactly once, with the distance) must not
    // move at ANY maxDist, including the degenerate 0 (twins only).
    val hashes = Seq(
      (1L, 0x0123456789abcdefL), (2L, 0x0123456789abcdefL),
      (3L, 0x0123456789abcdefL),                  // 3-member twin class
      (4L, 0x0123456789abcdeeL),                  // hamming 1 from it
      (5L, -1L), (6L, -1L),                       // all-ones twin class
      (7L, 0L), (8L, 0x00000000000000ffL),        // hamming 8 pair
      (9L, 0x8000000000000001L)                   // sign-bit edge
    ).toDF("doc_id", "h")
    val all = hashes.as[(Long, Long)].collect()
    for (maxDist <- Seq(0, 3, 8)) {
      val truth = (for {
        (ia, ha) <- all; (ib, hb) <- all
        if ia < ib && Dedup.hammingInt(ha, hb) <= maxDist
      } yield (ia, ib, Dedup.hammingInt(ha, hb))).toSet
      val got = Dedup.bandedHashPairs(hashes, "doc_id", "h", maxDist)
        .select(col("id_a"), col("id_b"), col("hamming").cast("int"))
        .as[(Long, Long, Int)].collect()
      assert(got.length == got.toSet.size, s"maxDist=$maxDist duplicate pair rows")
      assert(got.toSet == truth,
        s"maxDist=$maxDist missing=${truth -- got.toSet} spurious=${got.toSet -- truth}")
    }
  }

  test("per-bucket cap: capped output ⊆ uncapped, truncation reported, default cap no-op") {
    val docs = Tables.t(spark, sfDir, "documents")
    val sh = Dedup.simhash(docs.filter(size(TextAnalysis.tokens(col("text"))) > 0))
    val full = Dedup.bandedHashPairs(sh, "doc_id", "simhash", 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.bandedHashPairs(sh, "doc_id", "simhash", 8, maxBucket = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(full), "a cap may only DROP candidates, never invent them")
    // the no-silent-caps contract: the audit row reports the truncation
    val stats = Dedup.bandedBucketStats(docs.transform(d =>
        Dedup.simhash(d.filter(size(TextAnalysis.tokens(col("text"))) > 0))),
      "doc_id", "simhash", maxDist = 8, maxBucket = 2).collect()(0)
    assert(stats.getAs[Long]("buckets_capped") > 0,
      "a 2-hash cap on 5000 docs must truncate somewhere")
    assert(stats.getAs[Long]("rows_dropped") >= stats.getAs[Long]("buckets_capped"))
    // default (no cap): nothing truncated, output is the full contract
    val statsOff = Dedup.bandedBucketStats(sh, "doc_id", "simhash", 8, Int.MaxValue)
      .collect()(0)
    assert(statsOff.getAs[Long]("buckets_capped") == 0L)
  }

  test("twin collapse: clone-heavy corpus, minhash and simhash pairs equal brute force") {
    // every synthetic doc ×4 exact copies — the degenerate duplicate
    // mass the r11 sf1 audit flagged. Collapse must leave the OUTPUT
    // untouched: all qualifying member pairs, each exactly once,
    // within-class jaccard exactly 1.0. (driverMaxDocs = 0 on the
    // set-similarity joins: the collapse belongs to the distributed
    // plan, which the default bound would skip at this size.)
    val docs = (0 to 3).map(k =>
      syntheticDocs.withColumn("doc_id", col("doc_id") + lit(100L * k)))
      .reduce(_ unionByName _)
    val found = Dedup.minhashDupPairs(docs, threshold = 0.6, driverMaxDocs = 0)
      .as[(Long, Long, Double)].collect()
    assert(found.length == found.toSet.size, "duplicate pair rows")
    val sh = docs.select(col("doc_id").as("_id"), Dedup.shingles(col("text")).as("_sh"))
    val truth = sh.as("a").join(sh.as("b"), col("a._id") < col("b._id"))
      .withColumn("j", Dedup.jaccard(col("a._sh"), col("b._sh")))
      .filter(col("j") >= 0.6)
      .select(col("a._id"), col("b._id")).as[(Long, Long)].collect().toSet
    val foundPairs = found.map(t => (t._1, t._2)).toSet
    assert(foundPairs == truth,
      s"missing=${truth -- foundPairs} spurious=${foundPairs -- truth}")
    // twin-class members must score exactly 1.0
    found.filter { case (a, b, _) => a % 100 == b % 100 }
      .foreach { case (a, b, j) => assert(j == 1.0, s"twin ($a,$b) scored $j") }
    // the exact set-similarity join shares the collapse: identical
    // output under the SAME brute-force truth (it is exact, so the
    // pair sets coincide at any threshold where LSH has full recall)
    val jacFound = Dedup.jaccardDupPairs(docs, threshold = 0.6, driverMaxDocs = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(jacFound.length == jacFound.toSet.size, "duplicate pair rows (jaccard)")
    assert(jacFound.toSet == truth,
      s"jaccard missing=${truth -- jacFound.toSet} spurious=${jacFound.toSet -- truth}")
    // simhash side: same corpus, same brute-force contract
    val simFound = Dedup.simhashDupPairs(docs, maxDist = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val sim = Dedup.simhash(docs).select(col("doc_id").as("_id"), col("simhash"))
    val simTruth = sim.as("a").join(sim.as("b"), col("a._id") < col("b._id"))
      .filter(Dedup.hamming(col("a.simhash"), col("b.simhash")) <= 8)
      .select(col("a._id"), col("b._id")).as[(Long, Long)].collect().toSet
    assert(simFound == simTruth,
      s"missing=${simTruth -- simFound} spurious=${simFound -- simTruth}")
    // containment shares the collapse too, with DIRECTION preserved:
    // truth is the all-ordered-pairs asymmetric quotient — both
    // directions inside a twin class (containment 1.0 each way),
    // direction-specific values across classes (|A∩B|/|A| ≠ |A∩B|/|B|)
    val conFound = Dedup.containmentDupPairs(docs, threshold = 0.8, driverMaxDocs = 0)
      .as[(Long, Long, Double)].collect()
    assert(conFound.length == conFound.map(t => (t._1, t._2)).toSet.size,
      "duplicate pair rows (containment)")
    val conTruth = sh.as("a").join(sh.as("b"), col("a._id") =!= col("b._id"))
      .withColumn("c",
        size(array_intersect(col("a._sh"), col("b._sh"))).cast("double") /
          size(col("a._sh")))
      .filter(col("c") >= 0.8)
      .select(col("a._id"), col("b._id"), col("c"))
      .as[(Long, Long, Double)].collect().toSet
    val conPairs = conFound.map(t => (t._1, t._2)).toSet
    val truthPairs = conTruth.map(t => (t._1, t._2))
    assert(conPairs == truthPairs,
      s"containment missing=${truthPairs -- conPairs} spurious=${conPairs -- truthPairs}")
    assert(conFound.toSet == conTruth, "containment VALUES drifted under collapse")
    conFound.filter { case (a, b, _) => a % 100 == b % 100 }
      .foreach { case (a, b, c) => assert(c == 1.0, s"twin ($a,$b) scored $c") }
  }

  test("shingle_set kernel equals the windowed row formulation") {
    val docs = Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 300)
    val kernel = Dedup.shingleRows(docs).as[(Long, String)].collect().toSet
    val windowed = Dedup.shingleRowsWindowed(docs, "doc_id", "text", 3)
      .as[(Long, String)].collect().toSet
    assert(kernel == windowed)
    // edges: short-doc whole-text fallback (lowercased), empty text
    val edge = Seq((1L, "Two WORDS"), (2L, ""), (3L, "a b c b a b c"))
      .toDF("doc_id", "text")
    val k2 = Dedup.shingleRows(edge).as[(Long, String)].collect().toSet
    assert(k2 == Set((1L, "two words"), (2L, ""),
      (3L, "a b c"), (3L, "b c b"), (3L, "c b a"), (3L, "b a b")))
  }

  test("minhash kernel equals the 64-min aggregate over shingle rows") {
    // bit-compatibility contract: persisted signatures and band
    // buckets must not shift across the kernel rewrite
    val docs = Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 300)
    val kernel = docs.select(col("doc_id"),
        call_function("minhash64", col("text"), lit(3)).as("_sig"))
      .as[(Long, Seq[Int])].collect().toMap
    val agg = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 64, shingleN = 3)
      .collect().map(r => r.getLong(0) -> (1 to 64).map(i => r.getInt(i))).toMap
    assert(kernel.keySet == agg.keySet)
    kernel.foreach { case (id, sig) => assert(sig == agg(id), s"doc $id") }
  }

  test("simhash kernel equals the explode + 64-bit-sum aggregate formulation") {
    // the kernel replaced this shape for performance; the bit pattern
    // is a compatibility contract (persisted simhashes must not shift)
    val docs = Tables.t(spark, sfDir, "documents").filter(col("doc_id") < 300)
    val kernel = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    val tok = docs.select(col("doc_id").as("_id"),
        explode_outer(TextAnalysis.tokens(lower(col("text")))).as("_t"))
      .select(col("_id"), xxhash64(col("_t")).as("_h"))
    val bitSums = (0 until 64).map { j =>
      sum(when(col("_h").isNull, 0)
        .otherwise(shiftright(col("_h"), j).bitwiseAND(1) * 2 - 1)).as(s"_b$j")
    }
    val packed = (0 until 64).map { j =>
      when(col(s"_b$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    val agg = tok.groupBy(col("_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("_id"), packed).as[(Long, Long)].collect().toMap
    assert(kernel == agg)
  }

  test("simhash: exact dup has hamming 0, near-dup small, unrelated large") {
    val sh = Dedup.simhash(syntheticDocs).as[(Long, Long)].collect().toMap
    assert(Dedup.hammingInt(sh(1L), sh(3L)) == 0)
    assert(Dedup.hammingInt(sh(1L), sh(2L)) <= 12)
    assert(Dedup.hammingInt(sh(1L), sh(4L)) > 16)
  }

  /** Deterministic planted-near-dup corpus for the cosine operators:
    * 60 seeded random base vectors, 10 of which get a small
    * perturbation twin (cosine ≈ 0.97+); random 64-dim pairs sit
    * near cos 0 so the planted pairs are the only ones ≥ 0.8. */
  private def plantedVectors = {
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian())
    val bases = (0 until 60).map(i => (i.toLong, vec()))
    val twins = bases.take(10).map { case (i, v) =>
      (100L + i, v.map(x => x + rnd.nextGaussian() * 0.1))
    }
    (bases ++ twins).toDF("vec_id", "embedding")
  }

  test("cosineDupPairsExact equals the naive all-pairs join at any block count") {
    val emb = plantedVectors
    def naive(th: Double) = {
      val e = emb.select(col("vec_id").as("_id"), col("embedding").as("_v"))
      e.as("a").join(e.as("b"), col("a._id") < col("b._id"))
        .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
          (AnnSearch.dot(col("a._v"), col("b._v")) /
            (sqrt(AnnSearch.dot(col("a._v"), col("a._v"))) *
             sqrt(AnnSearch.dot(col("b._v"), col("b._v"))))).as("cosine"))
        .filter(col("cosine") >= th)
    }
    for (blocks <- Seq(1, 4, 16, 128)) { // incl. blocks >> N/row-count shapes
      val got = AnnSearch.cosineDupPairsExact(emb, threshold = 0.8, numBlocks = blocks)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val want = naive(0.8).select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == want, s"blocks=$blocks missing=${want -- got} spurious=${got -- want}")
      assert(got.size == 10) // exactly the planted twins
    }
  }

  test("cosine pipelines: exact-vector twins collapse without changing the output") {
    // ids 1000–1004 are exact copies of vectors 0–4 (each of which has
    // a planted near-twin at 100–104): classes of size 2, cross-class
    // qualifying pairs, and a singleton tail — all three shapes at once
    val emb = plantedVectors
    val dup = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 1000L)
    val corpus = emb.unionByName(dup)
    val e = corpus.select(col("vec_id").as("_id"),
      col("embedding").cast("array<double>").as("_v"))
    val naive = e.as("a").join(e.as("b"), col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        (AnnSearch.dot(col("a._v"), col("b._v")) /
          (sqrt(AnnSearch.dot(col("a._v"), col("a._v"))) *
           sqrt(AnnSearch.dot(col("b._v"), col("b._v"))))).as("cosine"))
      .filter(col("cosine") >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = AnnSearch.cosineDupPairsExact(corpus, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(exact.length == exact.toSet.size, "duplicate pair rows")
    assert(exact.toSet == naive,
      s"missing=${naive -- exact.toSet} spurious=${exact.toSet -- naive}")
    // twin pairs present, self-cosine ~1 (sqrt(x)² may sit an ulp off
    // x, so exact 1.0 is NOT guaranteed — only the clamp's ≤ 1.0 is;
    // what matters is the value equals what the pre-collapse member
    // computation produced, which uses the identical expression)
    val twinCos = AnnSearch.cosineDupPairsExact(corpus, threshold = 0.8)
      .filter(col("id_b") === col("id_a") + 1000L)
      .select("cosine").as[Double].collect()
    assert(twinCos.length == 5 && twinCos.forall(c => c > 0.999999 && c <= 1.0))
    // LSH path: same collapse, total recall on this corpus holds
    val lsh = AnnSearch.cosineDupPairs(corpus, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == naive, s"missing=${naive -- lsh} spurious=${lsh -- naive}")
  }

  test("cosine LSH pairs: total recall at 0.8 on planted dups, sub-quadratic candidates") {
    val emb = plantedVectors
    val n = emb.count()
    val got = AnnSearch.cosineDupPairs(emb, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = AnnSearch.cosineDupPairsExact(emb, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // hyperplanes are seed-deterministic, so this recall is a fixed
    // fact of the operator, not a flaky sample (miss model for a
    // cos-0.97 pair: ~(1-0.97)^8-ish per table, 8 tables)
    assert(got == want, s"missing=${want -- got} spurious=${got -- want}")
    // the verdict-required scale proof: candidate volume ≪ N²
    val candidates = AnnSearch.cosineCandidateCount(emb)
    val allPairs = n * (n - 1) / 2
    assert(candidates < allPairs / 2,
      s"candidates $candidates vs all-pairs $allPairs — LSH must stay sub-quadratic")
  }

  test("lsh ANN reaches recall >= 0.5 vs brute force top-10") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = AnnSearch.bruteForceTopK(emb, queries, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = AnnSearch.lshTopK(emb, queries, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
    // and the approximate scores it does return are the true cosines
    assert(approx.subsetOf(
      AnnSearch.bruteForceTopK(emb, queries, emb.count().toInt)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet))
  }

  test("ivf ANN partitions the corpus and reaches recall >= 0.4") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = AnnSearch.bruteForceTopK(emb, queries, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = AnnSearch.ivfTopK(emb, queries, 10, nlist = 16, nprobe = 6)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall")
  }

  test("ivf centroid training improves the spherical k-means objective and recall holds") {
    val emb = Tables.t(spark, sfDir, "embeddings")
    val init = AnnSearch.seededCentroids(16, 64)
    val trained = AnnSearch.trainIvfCentroids(emb, nlist = 16, iters = 4)
    val objInit = AnnSearch.meanAssignCosine(emb, init)
    val objTrained = AnnSearch.meanAssignCosine(emb, trained)
    // Lloyd steps never decrease the objective; on random-ish init vs
    // 4 trained iterations the gap is decisive, not marginal
    assert(objTrained > objInit,
      s"objective must improve: init=$objInit trained=$objTrained")
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val brute = AnnSearch.bruteForceTopK(emb, queries, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = AnnSearch.ivfTopK(emb, queries, 10, nlist = 16, nprobe = 6,
        centroids0 = Some(trained))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.4, s"trained-centroid recall $recall")
  }

  test("language-ID classifies planted samples") {
    val docs = Seq(
      (1L, "the cat is on the mat and it is a good day for all of us"),
      (2L, "der hund ist nicht mit der katze und das ist ein problem für sich"),
      (3L, "le chat est dans la maison et il est un bon jour pour les amis"),
      (4L, "el perro es un animal y la casa es grande para los amigos")
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TextAnalysis.langId(col("text")))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es"))
  }

  test("fingerprint is stable and order-sensitive") {
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "gamma beta alpha")
    ).toDF("doc_id", "text")
    val fp = df.select(col("doc_id"), TextAnalysis.fingerprint(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
    // the md5-fold sibling (oracle-checked in q_text_fingerprint_md5):
    // same contracts, plus the kernel must equal a reference fold
    val fpm = df.select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")))
      .as[(Long, Long)].collect().toMap
    assert(fpm(1L) == fpm(2L))
    assert(fpm(1L) != fpm(3L))
    def refFold(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      text.split("[ \t\n\f\r]+").filter(_.nonEmpty).foldLeft(0L) { (acc, t) =>
        val hex = md.digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        (acc * 1000003L + java.lang.Long.parseLong(hex.take(15), 16)) % 2147483647L
      }
    }
    assert(fpm(1L) == refFold("alpha beta gamma"))
    assert(fpm(3L) == refFold("gamma beta alpha"))
  }

  test("quality score ranks clean text above degenerate text") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it is a fine day in the forest " +
        "with many animals that are happy to be alive and the sun is bright"),
      (2L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
      (3L, "")
    ).toDF("doc_id", "text")
    val q = df.select(col("doc_id"), TextAnalysis.qualityScore(col("text")))
      .as[(Long, Double)].collect().toMap
    assert(q(1L) > q(2L))
    assert(q(3L) == 0.0)
  }

  test("gopher quality rules: each rule trips on its designed offender") {
    val fluent = ((1 to 60).map(i => s"word$i") ++ Seq("the", "of")).mkString(" ")
    val df = Seq(
      (1L, fluent),                                       // passes every rule
      (2L, (1 to 10).map(i => s"word$i").mkString(" ")),  // too short (< 50 tokens)
      (3L, fluent + " " + Seq.fill(20)("### ... ###").mkString(" ")), // symbol ratio
      (4L, (1 to 60).map(i => s"- bullet$i the of").mkString("\n")),  // all-bullet lines
      (5L, fluent.replace("word", "12345")),              // digits: alpha-word rule
      (6L, (1 to 60).map(i => s"word$i").mkString(" "))   // no required stopwords
    ).toDF("doc_id", "text")
    val r = TextAnalysis.qualityRules(df)
      .select("doc_id", "pass").as[(Long, Boolean)].collect().toMap
    assert(r(1L), "fluent doc must pass")
    assert(!r(2L) && !r(3L) && !r(4L) && !r(5L) && !r(6L))
    // empty text: all counts zero, fails deterministically (no NaN/null)
    val empty = TextAnalysis.qualityRules(Seq((9L, "")).toDF("doc_id", "text")).head()
    assert(!empty.getAs[Boolean]("pass") && empty.getAs[Long]("n_tokens") == 0L)
  }

  test("temperature sampling: alpha=1 is uniform, alpha<1 boosts the tail, rates clip") {
    import spark.implicits._
    val docs = (1 to 900).map(i =>
      (i.toLong, if (i <= 800) "head" else if (i <= 880) "mid" else "tail"))
      .toDF("doc_id", "source")
    def rates(alpha: Double, f: Double) =
      Sampling.temperatureRates(docs, "source", alpha, f)
        .as[(String, Double)].collect().toMap
    // alpha = 1: every stratum keeps exactly targetFrac (algebraic identity)
    assert(rates(1.0, 0.25).values.forall(_ == 0.25))
    // alpha < 1: rate is strictly decreasing in stratum size
    val r = rates(0.5, 0.3)
    assert(r("tail") > r("mid") && r("mid") > r("head"))
    // flat enough + big target => small strata clip at 1.0
    assert(rates(0.01, 0.9)("tail") == 1.0)
    // membership is the derived rate applied per stratum: kept fraction
    // tracks the rate to within the 2^-32 hash quantization on counts
    val kept = Sampling.temperatureSample(docs, "source", "doc_id",
      alpha = 0.5, targetFrac = 0.3)
    val got = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(got("tail") >= got.getOrElse("head", 0L) / 40,
      s"tail must be over-represented relative to its 1/40 size share: $got")
  }

  test("hash split: exhaustive, group-coherent, stable under band resize") {
    import graft.llm.Sampling
    val docs = (1 to 2000).map(i => (i.toLong, s"site${i % 37}")).toDF("doc_id", "site")
    val s1 = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // every row lands in exactly one split, ratios near the bands
    val counts = s1.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.values.sum == 2000)
    assert(counts("train") > 1500 && counts("val") > 100 && counts("test") > 100)
    // group-keyed: every row of a site shares its split
    val g = Sampling.hashSplit(docs, "site", Seq("train" -> 0.9, "test" -> 0.1))
    assert(g.groupBy("site").agg(countDistinct(col("split")).as("n"))
      .filter(col("n") =!= 1).count() == 0)
    // resizing the train band only MOVES rows across the one shared
    // boundary: anything train at 0.7 is still train at 0.8
    val s2 = Sampling.hashSplit(docs, "doc_id",
      Seq("train" -> 0.7, "val" -> 0.2, "test" -> 0.1))
    val movedWrong = s2.filter(col("split") === "train").select("doc_id")
      .join(s1.filter(col("split") =!= "train").select("doc_id"), "doc_id")
    assert(movedWrong.count() == 0)
  }

  test("multimodal: features are deterministic, frame sampling matches arithmetic") {
    val media = Multimodal.attachPayload(
      Seq((3L, "abcabc"), (6L, "zzzz")).toDF("doc_id", "text"))
    val f1 = Multimodal.extractFeatures(spark, media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.extractFeatures(spark, media).collect().sortBy(_.doc_id)
    assert(f1.map(_.features.toSeq).toSeq == f2.map(_.features.toSeq).toSeq)
    assert(f1.forall(r => math.abs(r.features.sum - 1.0) < 1e-9))
    val frames = Multimodal.sampleFrames(media, step = 2).collect()
    // doc 3: format idx (3%4)=3 -> mp4, n_frames=4 -> frames 0,2
    assert(frames.map(r => (r.getLong(0), r.getInt(2))).toSet == Set((3L, 0), (3L, 2)))
  }
}
