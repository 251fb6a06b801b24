package graft

import org.apache.spark.sql.functions._
import graft.llm._

/** Degenerate-input contracts for the corpus operators: NULL text,
  * empty text, whitespace-only text, and single-token docs — the row
  * classes that exist in the millions at 100 TB and must neither
  * crash a pipeline nor blow up pair generation. */
class EdgeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq[(java.lang.Long, String)](
    (1L, null), (2L, ""), (3L, "   \t\n  "), (4L, "solo"),
    (5L, "two words"), (6L, "two words")
  ).toDF("doc_id", "text")

  test("simhash pairing excludes token-less docs (no quadratic empty-doc blowup)") {
    val pairs = Dedup.simhashDupPairs(docs, maxDist = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // only the real duplicate pair survives; NULL/empty/whitespace
    // docs (all simhash 0) must NOT pair with each other
    assert(pairs == Set((5L, 6L)))
  }

  test("minhash and jaccard joins ignore NULL text and find only real dups") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val none = Set.empty[(Long, Long)]
    // both branches of the exact-twin collapse, with containment too:
    // `docs` holds one twin class {5, 6}; without id 6 the probe finds
    // none and the joins run straight over the NULL-free docs
    // (driverMaxDocs = 0: the distributed plan, which holds both
    // branches; the default bound would take the driver step here)
    for ((corpus, undirected, directed) <- Seq(
        (docs, Set((5L, 6L)), Set((5L, 6L), (6L, 5L))),
        (docs.filter(col("doc_id") =!= 6L), none, none))) {
      assert(pairs(Dedup.minhashDupPairs(corpus, threshold = 0.5, driverMaxDocs = 0)) ==
        undirected)
      assert(pairs(Dedup.jaccardDupPairs(corpus, threshold = 0.5, driverMaxDocs = 0)) ==
        undirected)
      assert(pairs(Dedup.containmentDupPairs(corpus, threshold = 0.5, driverMaxDocs = 0)) ==
        directed)
    }
  }

  test("exact dedup groups degenerate rows without dropping them") {
    // null text hashes to null (its own group); "" and whitespace are
    // distinct contents; the two identical docs collapse
    assert(Dedup.exactGroups(docs).count() == 5)
    val kept = Dedup.exactDedup(docs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("spanProfile keeps one zero-count row per degenerate doc") {
    val r = Dedup.spanProfile(docs, windowTokens = 2).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), "no dropped/null rows")
    assert(r(1L) == ((0L, 0L)) && r(2L) == ((0L, 0L)) &&
      r(3L) == ((0L, 0L)) && r(4L) == ((0L, 0L)))
    // the twin two-token docs share their single window
    assert(r(5L) == ((1L, 1L)) && r(6L) == ((1L, 1L)))
  }

  test("spanRuns and cutDupSpans pass degenerate docs through with zeros") {
    val runs = Dedup.spanRuns(docs, windowTokens = 2).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(3))).toMap
    assert(runs.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(Seq(1L, 2L, 3L, 4L).forall(i => runs(i) == ((0L, 0L))))
    val cut = Dedup.cutDupSpans(docs, windowTokens = 2).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(cut(1L) == (("", 0L)), "NULL doc rebuilds as empty, not dropped")
    assert(cut(4L) == (("solo", 0L)))
    assert(cut(5L) == (("two words", 0L)), "first occurrence keeps its text")
    assert(cut(6L) == (("", 2L)), "exact-duplicate doc is cut to nothing")
  }

  test("bpe training on a token-less / single-char corpus stops cleanly") {
    val empty = Seq[(java.lang.Long, String)]((1L, null), (2L, "  "))
      .toDF("doc_id", "text")
    assert(LanguageModel.bpeMerges(empty, numMerges = 3).count() == 0)
    val chars = Seq((1L, "a b a")).toDF("doc_id", "text")
    // every word is one symbol: no pairs, zero merges even though 3 asked
    assert(LanguageModel.bpeMerges(chars, numMerges = 3).count() == 0)
    assert(LanguageModel.bpePairStats(chars).count() == 0)
  }

  test("profiles, repetition, fingerprint, redact keep one row per input doc") {
    assert(TextAnalysis.profiles(docs).count() == 6)
    assert(TextAnalysis.repetitionProfile(docs).count() == 6)
    assert(docs.select(TextAnalysis.fingerprint(col("text"))).count() == 6)
    assert(docs.select(Redaction.redactText(col("text"))).count() == 6)
    // token-less docs profile as und/zero, not NULL
    val p = TextAnalysis.profiles(docs).filter(col("doc_id") <= 3)
      .select("n_tokens", "lang_pred").as[(Long, String)].collect().toSeq
    assert(p.forall(_ == (0L, "und")))
  }

  test("chunking emits no chunks for token-less docs, one per short doc") {
    val got = Chunking.chunk(docs, chunkTokens = 8, overlap = 2)
      .select("doc_id", "n_tok").as[(Long, Long)].collect().toSeq.sorted
    assert(got == Seq((4L, 1L), (5L, 2L), (6L, 2L)))
  }

  test("retrieval/LM operators: token-less docs contribute nothing, crash nothing") {
    // bm25 / entropy / importance score only docs with >= 1 (matching)
    // token — NULL/empty/whitespace docs are absent, not NULL-scored
    assert(Retrieval.bm25(docs, Seq("two", "solo"))
      .select("doc_id").as[Long].collect().toSet == Set(4L, 5L, 6L))
    assert(Retrieval.invertedIndex(docs).select("term").as[String].collect().toSet
      == Set("solo", "two", "words"))
    assert(LanguageModel.crossEntropy(docs)
      .select("doc_id").as[Long].collect().toSet == Set(4L, 5L, 6L))
    assert(LanguageModel.importanceWeights(docs, col("doc_id") >= 5L)
      .select("doc_id").as[Long].collect().toSet == Set(4L, 5L, 6L))
  }

  test("dedupLines: null/empty docs emit one intact row; empty lines never dedup") {
    val r = Dedup.dedupLines(docs).collect()
      .map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(r.size == 6, "one row per input doc, null text included")
    assert(r(1L) == (("", 0L)), "NULL doc = empty doc, nothing removed")
    assert(r(2L) == (("", 0L)))
    assert(r(3L) == (("   \t\n  ", 0L)), "whitespace lines are content, kept")
    assert(r(5L) == (("two words", 0L)) && r(6L) == (("", 1L)),
      "the duplicate content line dedups; first occurrence survives")
  }

  test("decontamination with a degenerate benchmark keeps the corpus intact") {
    // NULL-text benchmark contributes no shingles → nothing removed
    assert(Decontamination.decontaminate(docs, docs.filter(col("doc_id") === 1)).count() == 6)
  }

  test("zero-date and saturating-cast edge semantics (documented divergences)") {
    // MySQL/the reference STORE the zero date '0000-00-00'
    // (dataconvert.cpp treats it as a sentinel); this engine is ANSI
    // Spark: STR_TO_DATE yields NULL for it — same for any
    // out-of-calendar date. Documented in docs/COMPAT.md.
    import graft.functions.MySqlFunctions
    val d = Seq("0000-00-00", "2024-02-30", "2024-02-29").toDF("s")
      .select(col("s"), MySqlFunctions.strToDate(col("s"), "%Y-%m-%d").as("ts"))
      .collect().map(r => r.getString(0) -> (r.get(1) != null)).toMap
    assert(!d("0000-00-00"), "zero date maps to NULL, not a sentinel value")
    assert(!d("2024-02-30"), "out-of-calendar date maps to NULL")
    assert(d("2024-02-29"), "real leap day parses")

    // MySQL saturates out-of-range narrow casts (CAST(400 AS ...)
    // clamps at the type bound); ANSI Spark THROWS on overflowing
    // cast, so the engine spells saturation as least/greatest clamps
    // (the q_type_matrix_num sat_* cells). Assert both halves: the
    // clamp reproduces MySQL, and the raw ANSI cast indeed refuses.
    val vals = Seq(400L, -300L, 17L).toDF("v")
    val clamped = vals.select(
        least(greatest(col("v"), lit(-128L)), lit(127L)).cast("int").as("c"))
      .collect().map(_.getInt(0)).toSeq
    assert(clamped == Seq(127, -128, 17), "clamp = MySQL saturation")
    intercept[Exception] {
      vals.select(col("v").cast("tinyint")).collect()
    }
  }
}
