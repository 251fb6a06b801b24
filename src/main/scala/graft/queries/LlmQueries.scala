package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.llm.{AnnSearch, Chunking, Dedup, Multimodal, Quantize, Retrieval, TextAnalysis}

/** The LLM-training-data pipeline suite over the driver-provided
  * `documents` and `embeddings` tables: text analysis, exact and
  * near-duplicate detection, ANN search, multimodal plumbing.
  *
  * Oracle-checked where DuckDB can express identical semantics
  * (integer text statistics, md5 exact-dedup, brute-force cosine
  * top-k — DuckDB's list_cosine_similarity over DOUBLE[] is
  * bit-identical to our zip_with/aggregate fold, verified — and
  * frame-sampling arithmetic). The hash-based operators (MinHash,
  * SimHash, xxhash fingerprints, LSH buckets) use Spark's hash
  * family, which DuckDB does not implement → rows-only entries whose
  * semantics are asserted by the ScalaTest specs (planted
  * near-duplicates found, LSH recall vs brute force, etc).
  */
object LlmQueries {
  import Q._

  /** Clone-id offset for the doubled-corpus `*_twins` gates:
    * `max(id) + 1` over the UNFILTERED base table — derived from the
    * data rather than a compile-time constant (VERDICT r13 #3), so the
    * twins gates run at EVERY scale decade. The oracle strings carry
    * the SAME derivation as a scalar subquery
    * (`id + (SELECT max(id)+1 FROM table)`), so the two sides cannot
    * drift. Clone ids land strictly above every real id, so aliasing
    * is impossible by construction and min-id class representatives
    * stay the real rows — the invariants the old static-offset guard
    * protected, now guaranteed structurally.
    *
    * Cached per (corpus, table): plan-only consumers (PlanGuardSpec
    * constructs every gated query) pay at most one tiny max-aggregate
    * per corpus, not one per construction, and the empty-corpus case
    * fails with a crafted message instead of an opaque NPE
    * (ADVICE r13). */
  private val twinOffsetCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** On-disk fingerprint of `$dir/$table.parquet` (file or part-file
    * directory): names + sizes + mtimes. Folded into the offset-cache
    * key so a table REGENERATED at the same path inside one JVM (e.g.
    * a ScaleUp refresh) re-derives `max(id)+1` instead of replaying a
    * stale offset that could alias clone ids with real ids (ADVICE
    * r14 — the structural-impossibility argument for aliasing assumed
    * an immutable table behind the cache). Unreadable paths
    * fingerprint as "na": the cache then behaves like the plain
    * dir#table key did, never worse. */
  private def tableFingerprint(dir: String, table: String): String =
    try {
      val p = java.nio.file.Paths.get(dir, s"$table.parquet")
      def stamp(q: java.nio.file.Path) = {
        val a = java.nio.file.Files.readAttributes(
          q, classOf[java.nio.file.attribute.BasicFileAttributes])
        s"${q.getFileName}:${a.size}:${a.lastModifiedTime.toMillis}"
      }
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
            .map(stamp).mkString(",").hashCode.toHexString
        } finally s.close()
      } else stamp(p).hashCode.toHexString
    } catch { case _: Throwable => "na" }

  private[graft] def twinOffset(s: org.apache.spark.sql.SparkSession, dir: String,
      table: String, idCol: String): Long =
    twinOffsetCache.computeIfAbsent(
      s"$dir#$table@${tableFingerprint(dir, table)}", _ => {
      val row = t(s, dir, table).agg(max(col(idCol))).head
      require(!row.isNullAt(0),
        s"twins gate: $table at $dir is empty — no max($idCol) to derive " +
          "the clone-id offset from")
      java.lang.Long.valueOf(row.getLong(0) + 1L)
    })

  /** Anchors x corpus exact-jaccard ground truth over the doubled
    * corpus (shared by the minhash/jaccard anchored gates, which
    * differ only in threshold): shingle-equality join restricted to
    * anchor docs, shared-shingle COUNT gives the exact quotient
    * c/(na+nb-c) — identical arithmetic to the all-pairs twins
    * oracles, linear cost in corpus size. */
  private def anchoredJaccardOracle(threshold: Double): String =
    s"""WITH docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + (SELECT max(doc_id)+1 FROM documents), text FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |      ELSE [txt] END) AS s
      |  FROM (SELECT doc_id, lower(text) AS txt,
      |          list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS toks
      |        FROM docs2)),
      |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
      |anch AS (SELECT * FROM ex WHERE doc_id % 1000 = 0),
      |cand AS (
      |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c,
      |         any_value(a.n) AS na, any_value(b.n) AS nb
      |  FROM anch a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT DISTINCT least(ia, ib) AS id_a, greatest(ia, ib) AS id_b,
      |  c::DOUBLE / (na + nb - c) AS jaccard
      |FROM cand WHERE c::DOUBLE / (na + nb - c) >= $threshold
      |ORDER BY id_a, id_b""".stripMargin

  /** Anchor moduli for the sample-anchored scale oracles (`*_anchored`
    * gates): pure id arithmetic (`id % K = 0`), replayed verbatim in
    * the oracle SQL so both sides slice identically at any scale
    * factor. Sized for ~1k anchors at sf10 (200k vectors / 200; ~1M
    * doubled docs / 1000) — anchors × corpus keeps the DuckDB ground
    * truth linear in corpus size where all-pairs is quadratic. */
  private val CosineAnchorMod = 200L
  private val TextAnchorMod = 1000L

  /** Slice modulus for `q_dedup_jaccard_anchor2` (VERDICT r14 #4):
    * unlike the one-side-anchored gates (engine runs the FULL corpus,
    * oracle verifies the anchor-touching pairs), here BOTH sides
    * restrict the doubled corpus to the same base-id slice
    * (`base_id % 25 = 0`, clones riding with their base), and the
    * engine runs the complete PPJoin over that slice. 4% of the
    * corpus keeps the exact prefix-filter/length-filter/verify
    * arithmetic executable in minutes at sf10 (~80k docs of the 2M
    * doubled corpus) where the full-pipeline anchored row is
    * runtime-cut (>50 min single-box) — the sf3 full-corpus row
    * remains the pipeline-shape evidence. */
  private val JaccardSliceMod = 25L

  /** The doubled corpus of the twin gates: every row twice, the clone
    * under `id + offset` with identical payload — flips the adaptive
    * exact-twin probe so the COLLAPSED branch is the one
    * driver-gated. */
  private[graft] def doubledBy(df: org.apache.spark.sql.DataFrame,
      idCol: String, offset: Long): org.apache.spark.sql.DataFrame = {
    require(offset > 0, s"twins gate: non-positive clone-id offset $offset")
    df.unionByName(df.withColumn(idCol, col(idCol) + lit(offset)))
  }

  /** A ranked `q_ann_` query: `search(corpus, queries)` over the
    * embeddings table, the vectors with vec_id < 5 as queries, answered
    * as (qid, vec_id, cosine, rnk) in rank order. */
  private def annRanked(s: SparkSession, dir: String)(
      search: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    search(emb, queries)
      .select(col("qid"), col("vec_id"), col("cosine"), col("rank").cast("int").as("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Multi-table seeded LSH top-10 — q_ann_lsh and q_ann_lsh_seeded. */
  private def annLsh: QFn = (s, dir) => annRanked(s, dir)(AnnSearch.lshTopK(_, _, k = 10))

  val queries: Map[String, QFn] = Map(
    // ---- text analysis (oracle: integer stats only — ratio rounding
    // is engine-dependent at ties; ratios are spec-tested) ----
    "q_text_stats" -> ((s, dir) => {
      // explode → one codegen'd aggregation (the row-pipeline shape;
      // per-row array HOFs are interpreted and ~3× slower here)
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("_t"))
      val stats = toks.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("_t")).as("n_distinct"),
        sum(when(col("_t").isin(TextAnalysis.EnStopwords: _*), 1L).otherwise(0L))
          .as("n_stopwords"),
        sum(length(col("_t")).cast("long")).as("sum_token_len"))
      docs.select(col("doc_id"), length(col("text")).cast("bigint").as("n_chars"))
        .join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          col("n_chars"),
          coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
          coalesce(col("n_stopwords"), lit(0L)).as("n_stopwords"),
          coalesce(col("sum_token_len"), lit(0L)).as("sum_token_len"))
        .orderBy(col("doc_id"))
    }),
    "q_text_lang" -> ((s, dir) => {
      // Oracle-checked: the stopword-hit argmax and the quality
      // formula are plain relational algebra DuckDB can replicate.
      // quality is emitted on the floor(x·1e6) grid — both engines
      // compute the same IEEE double, and floor is order-independent
      // where round(double, 6) is not.
      TextAnalysis.profiles(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("sw_hits"),
          col("lang_pred"),
          floor(col("quality") * 1e6).cast("long").as("quality_e6"))
        .orderBy(col("doc_id"))
    }),
    "q_text_fingerprint" -> ((s, dir) => {
      // Property-oracled (was rows-only): the xxhash64 rolling
      // fingerprint and the lookaround-regex BPE token count aren't
      // DuckDB-expressible, but their invariants are —
      //  - classes_agree: the xx fingerprint's equality classes must
      //    coincide with the md5 twin's (both are injective-in-
      //    practice digests of the same token stream, so a doc's
      //    duplicate-group size under each must match; the md5 side
      //    IS replayed exactly by DuckDB via q_text_fingerprint_md5)
      //  - bpe_bounds_ok: the boundary-split token count is bracketed
      //    by the whitespace token count (every ws token yields ≥ 1
      //    piece) and the char count (pieces are disjoint, ≥ 1 char)
      // plus the md5 fingerprint itself, value-checked by the oracle.
      // Exactness of the xx kernel stays pinned in LlmSpec.
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp_xx"),
        TextAnalysis.fingerprintMd5(col("text")).as("fingerprint_md5"),
        TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_ws"),
        length(col("text")).cast("long").as("n_chars"))
      val xxCls = d.groupBy(col("fp_xx")).agg(count(lit(1)).as("xx_cls_n"))
      val md5Cls = d.groupBy(col("fingerprint_md5")).agg(count(lit(1)).as("md5_cls_n"))
      d.join(xxCls, Seq("fp_xx")).join(md5Cls, Seq("fingerprint_md5"))
        .select(col("doc_id"), col("fingerprint_md5"),
          (col("xx_cls_n") === col("md5_cls_n")).as("classes_agree"),
          (col("n_bpe") >= col("n_ws") && col("n_bpe") <= col("n_chars"))
            .as("bpe_bounds_ok"))
        .orderBy(col("doc_id"))
    }),

    "q_text_fingerprint_md5" -> ((s, dir) => {
      // Oracle-checked fingerprint: md5 is the one hash primitive
      // both engines share, so DuckDB replays the identical
      // (acc·R + h) mod p fold via list_reduce — this converts the
      // fingerprint family from spec-only to driver-enforced evidence
      // (the xxhash kernel entry above stays as the fast path).
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.fingerprintMd5(col("text")).as("fingerprint_md5"))
        .orderBy(col("doc_id"))
    }),

    "q_text_boilerplate" -> ((s, dir) => {
      // cross-corpus repeated-line removal (headers/footers/banners):
      // lines in > 3 distinct docs are stripped everywhere, order and
      // empty lines preserved. md5 of the cleaned text keeps the dump
      // narrow; the oracle rebuilds the identical string.
      TextAnalysis.removeBoilerplate(t(s, dir, "documents"), maxDocs = 3)
        .select(col("doc_id"), md5(col("text")).as("clean_md5"), col("n_removed"))
        .orderBy(col("doc_id"))
    }),
    "q_text_repetition" -> ((s, dir) => {
      // all-integer within-doc repetition signals → engine-exact oracle
      TextAnalysis.repetitionProfile(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),
    "q_text_distinctive" -> ((s, dir) => {
      // top-3 distinctive terms per doc by (tf desc, df asc, term) —
      // integer-exact tf-idf ordering, no engine-variant ln()
      TextAnalysis.distinctiveTerms(t(s, dir, "documents"), k = 3)
        .orderBy(col("doc_id"), col("rnk"))
    }),
    "q_chunk" -> ((s, dir) => {
      // 64-token chunks, 16-token overlap (stride 48); per-row explode,
      // no shuffle — the oracle replays the same slice arithmetic
      Chunking.chunk(t(s, dir, "documents"), chunkTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ---- dedup ----
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"))
        .orderBy(col("content_hash"))
    }),
    "q_dedup_minhash" -> ((s, dir) => {
      // Oracle-checked against DuckDB all-pairs exact Jaccard ≥ 0.6:
      // banded LSH recall is 1.0 on this corpus (every qualifying pair
      // sits at j ≥ 0.75; 16 bands × 4 rows miss such a pair with
      // p < 0.003), and the verify stage computes the same
      // int/int → double quotient, so values are bit-identical.
      Dedup.minhashDupPairs(t(s, dir, "documents"), threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_jaccard" -> ((s, dir) => {
      // EXACT set-similarity join (recall 1.0 by construction) at a
      // threshold below banded LSH's effective range — deterministic
      // oracle equality, no LSH probabilism to pin (contrast
      // q_dedup_minhash, whose oracle additionally proves LSH recall
      // on this corpus). Candidates come from the df-ordered PREFIX
      // join + length filter (SSJoin prefix principle — exactness
      // proven in LlmSpec, candidate reduction measured there too).
      Dedup.jaccardDupPairs(t(s, dir, "documents"), threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dup_rate" -> ((s, dir) => {
      // Per-source duplication audit: exact-duplicate rate from
      // md5(text) groups — docs, distinct payloads, dup rate, and the
      // largest duplicate class. The per-source health row a corpus
      // intake dashboard shows.
      val d0 = t(s, dir, "documents")
        .select(col("source"), md5(col("text")).as("h"))
      val grp = d0.groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
      grp.groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          max(col("c")).as("max_class"),
          round(lit(1) - count(lit(1)).cast("double") / sum(col("c")), 6)
            .as("dup_rate"))
        .orderBy(col("source"))
    }),
    "q_term_dispersion" -> ((s, dir) => {
      // Term burstiness: variance-to-mean dispersion of per-doc counts
      // for every term with df >= 100 — bursty terms (topical) score
      // >1, uniform function words ~<=1. Zero-count docs enter the
      // moments via N and Σc (Σc² over nonzero docs only — absent
      // docs contribute 0): all integer sums, one double chain.
      val toks = t(s, dir, "documents").select(col("doc_id"),
        explode(graft.llm.TextAnalysis.tokens(lower(col("text")))).as("tok"))
      val perDoc = toks.groupBy(col("tok"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      val nDocs = t(s, dir, "documents").agg(count(lit(1)).as("nd"))
      val stats = perDoc.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"),
          sum(col("c") * col("c")).as("cf2"))
        .filter(col("df") >= 100)
      val mean = col("cf").cast("double") / col("nd")
      stats.crossJoin(broadcast(nDocs))
        .select(col("tok"), col("df"), col("cf"),
          round(mean, 6).as("mean_c"),
          round((col("cf2").cast("double") / col("nd") - mean * mean) / mean, 6)
            .as("dispersion"))
        .orderBy(col("tok"))
    }),
    "q_collocations" -> ((s, dir) => {
      // Collocation strength: pointwise mutual information of adjacent
      // token pairs with count floor 50 — PMI = ln(N·c_xy/(c_x·c_y))
      // from exact integer counts (the int64 products stay in range),
      // one ln per row. Deterministic (pmi, pair) ordering.
      val toksArr = t(s, dir, "documents")
        .select(graft.llm.TextAnalysis.tokens(lower(col("text"))).as("ts"))
      val bi = toksArr.select(explode(expr(
          "transform(sequence(1, size(ts) - 1), " +
          "i -> struct(ts[i - 1] AS x, ts[i] AS y))")).as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"))
      val uni = toksArr.select(explode(col("ts")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      val n = toksArr.agg(sum(size(col("ts"))).as("n"))
      bi.groupBy(col("x"), col("y")).agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 50)
        .join(uni.select(col("tok").as("x"), col("c").as("cx")), "x")
        .join(uni.select(col("tok").as("y"), col("c").as("cy")), "y")
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("cxy"),
          round(log((col("n") * col("cxy")).cast("double") /
            (col("cx") * col("cy")).cast("double")), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("x"), col("y"))
        .limit(30)
    }),
    "q_novelty" -> ((s, dir) => {
      // Per-doc n-gram novelty under the doc_id ingestion order: the
      // fraction of a doc's shingles never seen in ANY earlier doc.
      // First-occurrence is one groupBy(shingle).min(doc_id) joined
      // back — no quadratic history scan; the curve is the marginal
      // value signal dataset-ordering work optimizes.
      val sh = t(s, dir, "documents").select(col("doc_id"),
        explode(call_function("shingle_set", col("text"), lit(3))).as("ng"))
      val firstSeen = sh.groupBy(col("ng")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(firstSeen, "ng")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty", round(
          col("n_novel").cast("double") / col("n_shingles"), 6))
        .orderBy(col("doc_id"))
    }),
    "q_heaps_curve" -> ((s, dir) => {
      // Heaps-law vocabulary growth: cumulative distinct tokens vs
      // cumulative token volume in doc_id order — each token's
      // first-occurrence doc contributes one new type there. The
      // running sums use the SAME two-phase grouped prefix sum as
      // Packing.packSequences (r12 verdict: no docs-sized global
      // window): phase 1 cumsums within doc_id/100 ranges in
      // parallel; phase 2 prefix-sums the |docs|/100 group totals
      // (the one remaining global window — 100× reduced, allowlisted
      // in PlanGuardSpec) and broadcasts the offsets back.
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents").select(col("doc_id"),
        explode(graft.llm.TextAnalysis.tokens(lower(col("text")))).as("tok"))
      val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      val newTypes = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
      val base = perDoc.join(newTypes, Seq("doc_id"), "left")
        .na.fill(0, Seq("n_new"))
        .withColumn("_g", floor(col("doc_id") / 100).cast("long"))
      val wLocal = Window.partitionBy(col("_g")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wGroups = Window.orderBy(col("_g"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = base.groupBy(col("_g"))
        .agg(sum(col("n_tok")).as("_gt"), sum(col("n_new")).as("_gy"))
        .withColumn("_tOff", coalesce(sum(col("_gt")).over(wGroups), lit(0L)))
        .withColumn("_yOff", coalesce(sum(col("_gy")).over(wGroups), lit(0L)))
        .select(col("_g"), col("_tOff"), col("_yOff"))
      base.join(broadcast(offsets), "_g")
        .withColumn("cum_tokens", col("_tOff") + sum(col("n_tok")).over(wLocal))
        .withColumn("cum_types", col("_yOff") + sum(col("n_new")).over(wLocal))
        .filter(col("doc_id") % 50 === 0) // sampled curve points
        .select(col("doc_id"), col("cum_tokens"), col("cum_types"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_containment" -> ((s, dir) => {
      // Asymmetric containment join |A∩B|/|A| ≥ 0.8 — catches the
      // short-doc-embedded-in-long-doc duplication Jaccard misses.
      // Probe-prefix × inverted-index with positional + length
      // bounds, recall 1.0 (LlmSpec); DuckDB replays directed
      // all-pairs containment over the same shingle sets, and the
      // int/int → double quotient matches bit-exact.
      Dedup.containmentDupPairs(t(s, dir, "documents"), threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_subsumed" -> ((s, dir) => {
      // Containment-resolution view: corpus minus docs contained
      // (≥ 0.8) in another doc — mutual containment keeps the smaller
      // id. DuckDB replays pairs + the NOT EXISTS drop policy.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.containmentDupPairs(docs, threshold = 0.8)
      Dedup.dropContained(docs, pairs)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_simhash_md5" -> ((s, dir) => {
      // Oracle-checked SIGNATURE construction: simhash over
      // md5-derived 60-bit token hashes — DuckDB recomputes every
      // sign-of-bit-sums lane, so the driver certifies the simhash
      // algorithm end to end (the pair join's banding exactness is
      // LlmSpec's brute-force theorem; the xxhash kernel remains the
      // fast production path).
      t(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(call_function("simhash64_md5", col("text")), lit(0L))
            .as("simhash_md5"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_simhash" -> ((s, dir) => {
      // Oracle-checked end to end (was rows-only): the driver-gated
      // pair pipeline runs on the md5 simhash kernel — DuckDB replays
      // every sign-of-bit-sum lane (as in q_simhash_md5) AND the
      // all-pairs hamming ≤ 8 ground truth, so banding + bucket join
      // + distance filter are certified with recall 1.0 (pigeonhole:
      // 9 disjoint bands for maxDist 8 lose no qualifying pair). The
      // xxhash production kernel keeps its brute-force-equality
      // theorem in LlmSpec.
      val docs = t(s, dir, "documents")
      val sh = docs
        .filter(size(TextAnalysis.tokens(col("text"))) > 0)
        .select(col("doc_id"),
          call_function("simhash64_md5", col("text")).as("simhash"))
      Dedup.bandedHashPairs(sh, "doc_id", "simhash", maxDist = 8)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_simhash_twins" -> ((s, dir) => {
      // Collapsed branch of bandedHashPairs' HASH-level twin collapse,
      // doubled corpus: identical texts produce identical simhashes,
      // so every clone pair is a hash-twin class emitted once from the
      // hash-equality join (hamming 0, no band multiplier, no
      // distinct), while banding + pigeonhole run over DISTINCT hashes
      // only. Oracle: DuckDB replays all 60 sign-of-bit-sum lanes AND
      // the all-pairs hamming ≤ 8 truth over the same doubled corpus.
      val docs = t(s, dir, "documents")
      val d0 = docs
        .filter(size(TextAnalysis.tokens(col("text"))) > 0)
        .select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      val sh = doubled.select(col("doc_id"),
        call_function("simhash64_md5", col("text")).as("simhash"))
      Dedup.bandedHashPairs(sh, "doc_id", "simhash", maxDist = 8)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_cosine" -> ((s, dir) => {
      // Oracle-checked against DuckDB all-pairs cosine ≥ 0.4 — and at
      // 0.4 the qualifying set is the tail of the random-pair cosine
      // continuum (measured on this corpus: min qualifying pair
      // 0.40001, next pair below at 0.39989; zero pairs ≥ 0.7), so NO
      // sign-LSH parameterization is sound: per-plane agreement at
      // cos 0.4 is 0.63 vs 0.50 for random pairs, and any (P, L,
      // probe) that catches borderline pairs admits ~all pairs. The
      // recall-1.0 answer below LSH's effective range is the EXACT
      // triangle block join: O(N·B) shuffle, B(B+1)/2 data-parallel
      // cells, one native vec_dot per pair in the join residual.
      // cosineDupPairs (multi-probe LSH) remains the sub-quadratic
      // path for real near-dup thresholds (≥ 0.7) — spec-verified
      // against exact ground truth in LlmSpec.
      AnnSearch.cosineDupPairsExact(t(s, dir, "embeddings"), threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_minhash_twins" -> ((s, dir) => {
      // Driver-gates the COLLAPSED branch of the exact-twin collapse
      // (r12): the fixture corpus is clone-free, so q_dedup_minhash
      // exercises only the adaptive fast path. Doubling the corpus —
      // every text under two ids (doc_id, doc_id + max+1 offset) — flips the
      // probe: LSH runs over one representative per content class, the
      // twin cliques emit directly (jaccard exactly 1.0 via the
      // |S|/(2|S|−|S|) quotient), and each qualifying cross-class pair
      // expands to all four member combinations. Oracle: DuckDB
      // all-pairs exact Jaccard over the SAME doubled corpus — recall
      // and values must survive the collapse bit-for-bit.
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      Dedup.minhashDupPairs(doubled, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_cosine_twins" -> ((s, dir) => {
      // Collapsed branch of the exact triangle block join, same
      // doubled-corpus trick on vectors. PAIR SET only: self-dot
      // accumulation order differs between vec_dot (sequential) and
      // DuckDB's SIMD list kernels on all-positive squares (measured:
      // 37/500 fixture self-norms differ in the last ulp — the same
      // reason q_emb_norm_audit gates norms on the 1e8 grid), so the
      // twin row pins WHICH pairs survive the collapse; the cosine
      // VALUES are gated bit-exactly by q_dedup_cosine's cross pairs.
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val doubled = doubledBy(e0, "vec_id", twinOffset(s, dir, "embeddings", "vec_id"))
      AnnSearch.cosineDupPairsExact(doubled, threshold = 0.4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_jaccard_twins" -> ((s, dir) => {
      // Collapsed branch of the EXACT prefix-filter set-similarity
      // join, doubled corpus: the prefix join runs over one
      // representative per content class, twin cliques emit directly
      // at exactly 1.0 via the |S|/(2|S|−|S|) quotient, and
      // qualifying cross-class pairs expand with least/greatest
      // canonicalization (jaccard IS symmetric, unlike containment).
      // Exact at any threshold, so the oracle is plain deterministic
      // equality — no LSH recall argument needed; 0.5 matches
      // q_dedup_jaccard so the two rows differ only in corpus twins.
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      Dedup.jaccardDupPairs(doubled, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_containment_twins" -> ((s, dir) => {
      // Collapsed branch of the DIRECTED containment join, doubled
      // corpus: containment(a,b) = |A∩B|/|A| is asymmetric, so the
      // twin expansion must preserve direction — a twin clique of k
      // identical texts emits all k·(k−1) ORDERED pairs at exactly
      // 1.0, and each qualifying cross-class rep pair expands to the
      // four directed member combinations carrying the class value
      // (no least/greatest canonicalization anywhere on this path).
      // Oracle: DuckDB all-ordered-pairs directed containment over
      // the same doubled corpus — direction, recall, and the
      // int/int → double quotient must survive the collapse.
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      Dedup.containmentDupPairs(doubled, threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- sample-anchored scale oracles (VERDICT r13 #3/#4): the full
    // all-pairs DuckDB ground truth is infeasible beyond ~100k docs
    // (measured: a prefix-filtered exact-jaccard oracle at sf3-doubled
    // ran >10 min / >70 GB before being killed), so these rows pin a
    // FIXED, id-arithmetic anchor slice — the ENGINE still runs its
    // full pipeline; the oracle exhaustively verifies every pair that
    // touches an anchor (anchors × corpus is linear, not quadratic).
    // Anchor rules are pure id arithmetic (`id % K = 0`), replayed
    // verbatim in the oracle SQL, so the slice is identical on both
    // sides at any scale factor. ----
    "q_dedup_cosine_anchored" -> ((s, dir) => {
      // the sf10 answer to q_dedup_cosine's all-pairs-oracle exclusion:
      // same exact triangle block join over the whole corpus, gated on
      // the pairs touching vec_id % 200 anchors (~1k anchors at sf10)
      AnnSearch.cosineDupPairsExact(t(s, dir, "embeddings"), threshold = 0.4)
        .filter(col("id_a") % CosineAnchorMod === 0 || col("id_b") % CosineAnchorMod === 0)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_minhash_twins_anchored" -> ((s, dir) => {
      // full collapsed LSH pipeline over the doubled corpus; the gate
      // keeps pairs touching doc_id % 1000 anchors (base AND clone ids
      // can anchor — the rule is id arithmetic, not provenance)
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      Dedup.minhashDupPairs(doubled, threshold = 0.6)
        .filter(col("id_a") % TextAnchorMod === 0 || col("id_b") % TextAnchorMod === 0)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_minhash_hr_anchored" -> ((s, dir) => {
      // the escalated-recall LSH setting (VERDICT r14 #5): 32 bands ×
      // 2 rows of the same 64-hash signature — per-pair miss
      // probability (1−j²)³² ≈ 7·10⁻¹¹ at j = 0.72, i.e. recall
      // ≥ 1−10⁻⁶ everywhere the default 16×4's S-curve tail lost its
      // 12 sf10 pairs. Same pipeline, same oracle; the candidate-
      // volume cost of the extra recall is measured and recorded in
      // SCALE.md §minhash-recall-knob.
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      Dedup.minhashDupPairs(doubled, threshold = 0.6, bands = 32)
        .filter(col("id_a") % TextAnchorMod === 0 || col("id_b") % TextAnchorMod === 0)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_jaccard_twins_anchored" -> ((s, dir) => {
      // the PROVABLY-exact prefix-filter join (PPJoin) on the doubled
      // corpus, anchor-sliced: unlike minhash's banded recall, every
      // anchor-slice divergence here is a real bug by construction
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      Dedup.jaccardDupPairs(doubled, threshold = 0.5)
        .filter(col("id_a") % TextAnchorMod === 0 || col("id_b") % TextAnchorMod === 0)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_jaccard_anchor2" -> ((s, dir) => {
      // both-sides-anchored exact-jaccard slice (see JaccardSliceMod):
      // the slice keeps each anchored base doc AND its clone, so the
      // collapsed twin path stays exercised, and the oracle replays
      // the identical base-id rule with the same max(id)+1 scalar
      val off = twinOffset(s, dir, "documents", "doc_id")
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", off)
      val sliced = doubled.filter(
        when(col("doc_id") >= lit(off), col("doc_id") - lit(off))
          .otherwise(col("doc_id")) % lit(JaccardSliceMod) === 0)
      Dedup.jaccardDupPairs(sliced, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "q_dedup_simhash_twins_anchored" -> ((s, dir) => {
      // full banded-hamming pipeline (twin collapse + 9-band
      // pigeonhole) over the doubled corpus, anchor-sliced like above;
      // the oracle replays all 60 md5 sign-lanes and exact hamming for
      // anchors × corpus
      val docs = t(s, dir, "documents")
      val d0 = docs
        .filter(size(TextAnalysis.tokens(col("text"))) > 0)
        .select(col("doc_id"), col("text"))
      val doubled = doubledBy(d0, "doc_id", twinOffset(s, dir, "documents", "doc_id"))
      val sh = doubled.select(col("doc_id"),
        call_function("simhash64_md5", col("text")).as("simhash"))
      Dedup.bandedHashPairs(sh, "doc_id", "simhash", maxDist = 8)
        .filter(col("id_a") % TextAnchorMod === 0 || col("id_b") % TextAnchorMod === 0)
        .withColumn("hamming", col("hamming").cast("int"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_quantize" -> ((s, dir) => {
      // int8 symmetric quantization, oracle-checked bit-for-bit: the
      // scale and ⌊x/scale + ½⌋ arithmetic is the same IEEE double
      // sequence in DuckDB. Audit columns (first 8 codes + code sum +
      // squared norm) are scalars — the harness can't sort arrays —
      // and the integer folds run through the native vec_dot kernel,
      // not an interpreted aggregate HOF.
      val ones = lit(Array.fill(64)(1.0))
      val qd = col("q").cast(ArrayType(DoubleType))
      val qCols = (0 until 8).map(i => col("q").getItem(i).as(s"q$i"))
      Quantize.quantized(t(s, dir, "embeddings"))
        .select(col("vec_id") +: col("scale") +: qCols :+
          call_function("vec_dot", qd, ones).cast("bigint").as("qsum") :+
          call_function("vec_dot", qd, qd).cast("bigint").as("qnorm2"): _*)
        .orderBy(col("vec_id"))
    }),

    // ---- similarity search ----
    "q_ann_brute" -> ((s, dir) => annRanked(s, dir)(AnnSearch.bruteForceTopK(_, _, k = 10))),
    "q_hard_negatives" -> ((s, dir) => {
      // contrastive hard-negative mining: each query's positive is
      // itself (self-retrieval), so the miner must drop the exact hit
      // and any ≥0.95-cosine near-positive, then return the next 10
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("vec_id").as("positive_id"))
      Retrieval.hardNegatives(emb, qs, k = 10)
        .select(col("qid"), col("vec_id"),
          floor(col("cosine") * 1e6).cast("long").as("cos_grid"),
          col("rank").cast("int").as("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }),
    "q_ann_lsh" -> annLsh,
    // one query under two names: committed artifacts key on both
    "q_ann_lsh_seeded" -> annLsh,

    "q_ann_ivf" -> ((s, dir) => {
      // TRAINED IVF: Lloyd-trained centroids (TrainedModels — the query
      // and the oracle builder share one cached array, embedded as
      // literals on both sides). Assignment and probe ties break toward
      // the lower cell id, so the whole query is a pure function of
      // (corpus, centroids) and DuckDB replays it.
      annRanked(s, dir)(AnnSearch.ivfTopK(_, _, k = 10, nlist = 16, nprobe = 6,
        centroids0 = Some(graft.llm.TrainedModels.ivfCentroids(s, dir))))
    }),
    "q_ann_ivf_seeded" -> ((s, dir) => {
      // the same cell-probe search over seeded centroids: DuckDB
      // replays assignment → probe → score → top-k with no trained
      // model in the loop
      annRanked(s, dir)(AnnSearch.ivfTopK(_, _, k = 10, nlist = 16, nprobe = 6))
    }),

    "q_ann_pq" -> ((s, dir) => {
      // TRAINED PQ: k-means-trained codebooks (TrainedModels — one
      // cached array feeds both the query's Spark literals and the
      // oracle's VALUES literals) through the fixed-order ADC +
      // exact-rerank path, so DuckDB replays
      // encode → ADC → shortlist → rerank with the trained model.
      val cb = graft.llm.TrainedModels.pqCodebooks(s, dir)
      annRanked(s, dir)((emb, queries) => Quantize.pqRerankTopK(
        Quantize.pqEncode(emb, cb), cb, emb, queries, k = 10, shortlist = 50))
    }),
    "q_ann_pq_seeded" -> ((s, dir) => {
      // Seeded PQ: encode (argmin ||x−c||² via the 2x·c − c·c form,
      // ties to the lower code) → ADC with a FIXED-order 8-term score
      // → shortlist → exact cosine rerank. Seeded codebooks make the
      // query a pure function of the corpus.
      val cb = Quantize.seededCodebooks(m = 8, ksub = 16, dsub = 8)
      annRanked(s, dir)((emb, queries) => Quantize.pqRerankTopK(
        Quantize.pqEncode(emb, cb), cb, emb, queries, k = 10, shortlist = 50))
    }),

    "q_ann_ivfpq_seeded" -> ((s, dir) => {
      // IVF∘PQ: coarse cells prune WHICH vectors are scored, PQ codes
      // shrink WHAT a score costs — raw-dot cell argmax with lower-id
      // ties, fixed-order 8-term ADC, exact-cosine rerank. Seeded
      // centroids + codebooks make it a pure function of the corpus;
      // QuantizeSpec asserts recall and the persisted index's
      // partition pruning.
      val cen = AnnSearch.seededCentroids(nlist = 16, dim = 64)
      val cb = Quantize.seededCodebooks(m = 8, ksub = 16, dsub = 8)
      annRanked(s, dir)(Quantize.ivfPqTopK(_, _, k = 10, cen, cb, nprobe = 6, shortlist = 50))
    }),

    // ---- multimodal ----
    "q_mm_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(Multimodal.attachPayload(t(s, dir, "documents")), step = 5)
        .select(col("doc_id"), col("n_frames").cast("int").as("n_frames"),
          col("frame_idx").cast("int").as("frame_idx"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),
    "q_mm_probe" -> ((s, dir) => {
      // REAL container headers (PNG IHDR / RIFF-WAVE fmt) are minted
      // onto the payloads, then re-parsed by the pure-hex probe; the
      // oracle is ground truth BY CONSTRUCTION (the doc_id arithmetic
      // the mint used), so a hash match proves the BE/LE byte
      // round-trip, not just self-consistency.
      val media = Multimodal.mintHeaders(
        Multimodal.attachPayload(t(s, dir, "documents").where(col("doc_id") < 600)))
      media.select(col("doc_id"), Multimodal.probeHeader(col("payload")).as("p"))
        .select(col("doc_id"), col("p.sniffed").as("sniffed"),
          col("p.width").as("width"), col("p.height").as("height"),
          col("p.sample_rate").as("sample_rate"), col("p.channels").as("channels"))
        .orderBy(col("doc_id"))
    }),
    "q_mm_wav_rms" -> ((s, dir) => {
      // REAL PCM decode: the WAV body (16-bit LE samples) becomes
      // windowed RMS energy + per-doc peak with pure codegen builtins
      // — integer sums of squares, one double sqrt at the end. DuckDB
      // re-derives the identical samples from the source text's
      // character codes, so the hash match certifies the byte-level
      // LE decode, not a stub.
      val media = Multimodal.mintHeaders(
        Multimodal.attachPayload(t(s, dir, "documents")))
      Multimodal.wavRms(media, window = 128)
        .orderBy(col("doc_id"), col("win_idx"))
    }),
    "q_mm_features" -> ((s, dir) => {
      // Oracle-checked: the stub "decoder" is a byte histogram over
      // the UTF-8 payload, which DuckDB reproduces byte-for-byte from
      // hex(encode(text)). The kernel's Array[Double] output is
      // projected to scalar f0..f7 on the floor(x·1e9) grid (the
      // harness sorts rows; array cells aren't sortable, and floor is
      // order-independent where round-half-up may tie-break apart) —
      // the Dataset kernel itself stays array-valued.
      val feats = Multimodal
        .extractFeatures(s, Multimodal.attachPayload(t(s, dir, "documents")))
        .toDF()
      val fCols = (0 until 8).map(i =>
        floor(col("features")(i) * 1e9).cast("long").as(s"f$i"))
      feats.select(col("doc_id") +: col("format") +:
          col("n_bytes").cast("int").as("n_bytes") +: fCols: _*)
        .orderBy(col("doc_id"))
    }),
    "q_mlm_masking" -> ((s, dir) => {
      // Masked-LM training-target construction (BERT recipe): each
      // token masks independently at 15% via the md5-threshold
      // determinism idiom (same as Sampling — no RNG state, identical
      // on re-run and in the DuckDB replay). One scan-side projection
      // builds (input with [MASK] holes, pos:token targets); no
      // shuffle until the output sort. The 100 TB shape: pure per-row
      // work, embarrassingly parallel.
      val toks = graft.llm.TextAnalysis.tokens(col("text"))
      val base = t(s, dir, "documents")
        .select(col("doc_id"), toks.as("ts"))
        .filter(size(col("ts")) > 0)
      val withIdx = base.withColumn("idx", transform(col("ts"), (tk, i) =>
        struct(i.as("i"), tk.as("tk"),
          (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            i.cast("string"))), 1, 15), 16, 10).cast("long") % 100 < 15)
            .as("m"))))
      withIdx.select(col("doc_id"), size(col("ts")).as("n_tokens"),
          size(filter(col("idx"), e => e.getField("m"))).as("n_masked"),
          array_join(transform(col("idx"), e =>
            when(e.getField("m"), lit("[MASK]")).otherwise(e.getField("tk"))),
            " ").as("input_text"),
          array_join(transform(filter(col("idx"), e => e.getField("m")), e =>
            concat(e.getField("i").cast("string"), lit(":"), e.getField("tk"))),
            " ").as("target_text"))
        .orderBy(col("doc_id"))
    }),
    "q_readability" -> ((s, dir) => {
      // Flesch reading-ease screen per doc: sentence/word/vowel-group
      // counts are ALL-INTEGER regexp counts on the scan projection
      // (no shuffle until the final sort), the score is one mirrored
      // double formula. The vowel-group syllable proxy is the
      // standard cheap estimator; a hyphenation dictionary slots into
      // the same contract. Readability gates are a stock quality
      // filter tier next to the Gopher rules (q_quality_rules).
      val words = size(regexp_extract_all(col("text"), lit("[^ \\t\\n\\f\\r]+"), lit(0)))
      val sents = size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
      val syll = size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
      t(s, dir, "documents")
        .select(col("doc_id"), words.as("n_words"), sents.as("n_sents"),
          syll.as("n_syll"))
        .filter(col("n_words") > 0)
        .withColumn("flesch", round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double")
            / greatest(col("n_sents"), lit(1)).cast("double"))
          - lit(84.6) * (col("n_syll").cast("double")
            / col("n_words").cast("double")), 4))
        .withColumn("band",
          when(col("flesch") >= 60, lit("easy"))
            .when(col("flesch") >= 30, lit("standard"))
            .otherwise(lit("difficult")))
        .orderBy(col("doc_id"))
    }),
    "q_zipf_slope" -> ((s, dir) => {
      // Zipf rank-frequency fit over the top-1000 vocabulary: OLS
      // slope of ln(freq) on ln(rank). The ln values are floor-grid
      // quantized (1e6) to exact int64 so every cross-row moment sum
      // is order-independent; the closed-form slope/intercept then
      // runs in one mirrored double sequence. A healthy natural
      // corpus sits near slope −1; a template-flooded crawl flattens.
      // top-1000 head via orderBy+LIMIT (TakeOrderedAndProject —
      // distributed partial top-k, the vocabulary() discipline: a
      // corpus vocabulary runs to 10⁸ terms and must never pass
      // through one global rank window); row_number then runs over
      // the 1000-row survivor frame only (allowlisted constant bound)
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents").select(
        explode(graft.llm.TextAnalysis.tokens(lower(col("text")))).as("tok"))
      val ranked = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok")).limit(1000)
        .withColumn("r", row_number().over(
          Window.orderBy(col("c").desc, col("tok"))))
        .select(floor(log(col("r").cast("double")) * 1e6).as("qx"),
          floor(log(col("c").cast("double")) * 1e6).as("qy"))
      val m = ranked.agg(count(lit(1)).as("n"),
        sum(col("qx")).as("sx"), sum(col("qy")).as("sy"),
        sum(col("qx") * col("qy")).as("sxy"), sum(col("qx") * col("qx")).as("sxx"))
      val n = col("n").cast("double")
      val sx = col("sx").cast("double") / 1e6
      val sy = col("sy").cast("double") / 1e6
      val sxy = col("sxy").cast("double") / 1e12
      val sxx = col("sxx").cast("double") / 1e12
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      m.select(col("n").as("n_terms"),
        round(slope, 4).as("zipf_slope"),
        round((sy - slope * sx) / n, 4).as("intercept"))
    })
  )

  /** Centroid set as DuckDB VALUES rows — embedded as full-precision
    * literals (Double.toString round-trips; DuckDB parses to the
    * identical IEEE double). */
  private def centroidRows(cen: Array[Array[Double]]): String =
    cen.zipWithIndex
      .map { case (c, i) => s"($i, [${c.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n")

  /** The 16×64 seeded IVF centroids as DuckDB VALUES rows. */
  private def ivfCentroidRows: String =
    centroidRows(graft.llm.AnnSearch.seededCentroids(nlist = 16, dim = 64))

  /** The 8×6 seeded LSH hyperplanes as DuckDB VALUES rows
    * (table, plane-index, plane), full-precision literals. */
  private def lshPlaneRows: String =
    (0 until 8).flatMap { t =>
      graft.llm.AnnSearch.hyperplanes(6, 64, seed = 42L + t).zipWithIndex.map {
        case (p, i) => s"($t, $i, [${p.mkString(", ")}]::DOUBLE[])"
      }
    }.mkString(",\n")

  /** Codebook set as DuckDB VALUES rows (sub, code, centroid, ‖c‖²) —
    * ‖c‖² embedded as a literal so both engines use the identical
    * Scala-folded value. */
  private def codebookRows(cbs: Array[Array[Array[Double]]]): String =
    cbs.zipWithIndex.flatMap {
      case (cb, s) => cb.zipWithIndex.map { case (c, i) =>
        s"($s, $i, [${c.mkString(", ")}]::DOUBLE[], ${c.map(x => x * x).sum})"
      }
    }.mkString(",\n")

  /** The 8×16 seeded PQ codebooks as DuckDB VALUES rows. */
  private def pqCodebookRows: String =
    codebookRows(graft.llm.Quantize.seededCodebooks(m = 8, ksub = 16, dsub = 8))

  /** The corpus dir the TRAINED oracle literals are built against.
    * Verify pins this to its sfDir argument before dumping oracleSql,
    * so the trained-model cache (populated by the query run) is hit
    * and both sides embed the same array. Default = the driver's
    * verification scale factor. */
  private def oracleSfDir: String =
    sys.props.getOrElse("graft.oracle.sfDir", "/root/testdata/sf0.01")

  private def oracleSpark =
    org.apache.spark.sql.SparkSession.getActiveSession
      .getOrElse(graft.GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))

  /** The multi-table LSH replay (AnnSearch.lshTopK): raw-vector sign
    * buckets per table, own bucket + 1-bit-flip probes, candidates
    * scored by list_cosine_similarity — shared by q_ann_lsh and
    * q_ann_lsh_seeded, which are one query. */
  private def lshOracleSql: String =
    s"""WITH pl(t, i, p) AS (VALUES
      |$lshPlaneRows),
      |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
      |cb AS (
      |  SELECT vec_id, t,
      |    CAST(SUM(CASE WHEN list_inner_product(v, p) > 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS b
      |  FROM corp CROSS JOIN pl GROUP BY vec_id, t),
      |qb AS (
      |  SELECT qid, t,
      |    CAST(SUM(CASE WHEN list_inner_product(qv, p) > 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS b
      |  FROM q CROSS JOIN pl GROUP BY qid, t),
      |probes AS (
      |  SELECT qid, t, CAST(xor(b, m) AS BIGINT) AS b
      |  FROM qb CROSS JOIN (SELECT CAST(unnest([0, 1, 2, 4, 8, 16, 32]) AS BIGINT) AS m)),
      |cand AS (SELECT DISTINCT p.qid, c.vec_id
      |         FROM probes p JOIN cb c ON p.t = c.t AND p.b = c.b)
      |SELECT qid, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT cand.qid, cand.vec_id,
      |    list_cosine_similarity(corp.v, q.qv) AS cosine,
      |    row_number() OVER (PARTITION BY cand.qid
      |      ORDER BY list_cosine_similarity(corp.v, q.qv) DESC, cand.vec_id) AS rnk
      |  FROM cand JOIN corp ON cand.vec_id = corp.vec_id JOIN q ON cand.qid = q.qid) t
      |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** The IVF cell-probe replay (AnnSearch.ivfTopK): raw-dot argmax
    * assignment and nprobe = 6 probe rank, both with lower-cell ties,
    * candidates scored by list_cosine_similarity — parameterized by
    * the centroid VALUES rows, shared by the trained and seeded
    * entries. */
  private def ivfOracleSql(cenRows: String): String =
    s"""WITH cen(ci, c) AS (VALUES
      |$cenRows),
      |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
      |asg AS (
      |  SELECT vec_id, ci,
      |    row_number() OVER (PARTITION BY vec_id
      |      ORDER BY list_inner_product(v, c) DESC, ci) AS rn
      |  FROM corp CROSS JOIN cen),
      |cells AS (SELECT vec_id, ci AS cell FROM asg WHERE rn = 1),
      |pr AS (
      |  SELECT qid, ci,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY list_inner_product(qv, c) DESC, ci) AS rn
      |  FROM q CROSS JOIN cen),
      |probes AS (SELECT qid, ci AS cell FROM pr WHERE rn <= 6),
      |cand AS (SELECT p.qid, cl.vec_id FROM probes p JOIN cells cl ON p.cell = cl.cell)
      |SELECT qid, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT cand.qid, cand.vec_id,
      |    list_cosine_similarity(corp.v, q.qv) AS cosine,
      |    row_number() OVER (PARTITION BY cand.qid
      |      ORDER BY list_cosine_similarity(corp.v, q.qv) DESC, cand.vec_id) AS rnk
      |  FROM cand JOIN corp ON cand.vec_id = corp.vec_id JOIN q ON cand.qid = q.qid) t
      |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** The PQ encode → ADC → shortlist → exact-rerank replay
    * (Quantize.pqRerankTopK's arithmetic), parameterized by the codebook
    * VALUES rows — shared by the seeded and trained oracle entries. */
  private def pqOracleSql(cbRows: String): String =
    s"""WITH cb(s, i, c, cc) AS (VALUES
      |$cbRows),
      |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
      |cu AS (SELECT vec_id, v,
      |         CASE WHEN sqrt(list_inner_product(v, v)) > 0
      |           THEN list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
      |           ELSE v END AS u
      |       FROM corp),
      |subs(sub) AS (SELECT unnest(range(0, 8))),
      |cs AS (SELECT vec_id, sub, u[sub*8+1 : sub*8+8] AS sv FROM cu CROSS JOIN subs),
      |asg AS (
      |  SELECT vec_id, sub, i AS code,
      |    row_number() OVER (PARTITION BY vec_id, sub
      |      ORDER BY (list_inner_product(sv, c) * 2 - cc) DESC, i) AS rn
      |  FROM cs JOIN cb ON cb.s = cs.sub),
      |codes AS (SELECT vec_id, sub, code FROM asg WHERE rn = 1),
      |qu AS (SELECT qid, qv,
      |         CASE WHEN sqrt(list_inner_product(qv, qv)) > 0
      |           THEN list_transform(qv, x -> x / sqrt(list_inner_product(qv, qv)))
      |           ELSE qv END AS u
      |       FROM q),
      |qs AS (SELECT qid, sub, u[sub*8+1 : sub*8+8] AS sv FROM qu CROSS JOIN subs),
      |lut AS (SELECT qid, sub, i AS code, list_inner_product(sv, c) AS qdot
      |        FROM qs JOIN cb ON cb.s = qs.sub),
      |sc AS (
      |  SELECT l.qid, co.vec_id,
      |    SUM(CASE WHEN co.sub = 0 THEN l.qdot END) + SUM(CASE WHEN co.sub = 1 THEN l.qdot END)
      |    + SUM(CASE WHEN co.sub = 2 THEN l.qdot END) + SUM(CASE WHEN co.sub = 3 THEN l.qdot END)
      |    + SUM(CASE WHEN co.sub = 4 THEN l.qdot END) + SUM(CASE WHEN co.sub = 5 THEN l.qdot END)
      |    + SUM(CASE WHEN co.sub = 6 THEN l.qdot END) + SUM(CASE WHEN co.sub = 7 THEN l.qdot END)
      |      AS score
      |  FROM codes co JOIN lut l ON co.sub = l.sub AND co.code = l.code
      |  GROUP BY l.qid, co.vec_id),
      |short AS (SELECT qid, vec_id FROM (
      |  SELECT qid, vec_id,
      |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
      |  FROM sc) t WHERE rn <= 50)
      |SELECT qid, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
      |  SELECT short.qid, short.vec_id,
      |    list_cosine_similarity(corp.v, q.qv) AS cosine,
      |    row_number() OVER (PARTITION BY short.qid
      |      ORDER BY list_cosine_similarity(corp.v, q.qv) DESC, short.vec_id) AS rnk
      |  FROM short JOIN corp ON short.vec_id = corp.vec_id JOIN q ON short.qid = q.qid) t
      |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin

  /** The 60 per-bit sign terms of the md5-simhash oracle — generated,
    * not hand-spelled: bit j contributes 2^j iff its ±1 vote sum is
    * positive (exactly `TextKernels.simhashMd5`). */
  private val simhashMd5Bits: String = (0 until 60).map(j =>
    s"(CASE WHEN SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << j} ELSE 0 END)")
    .mkString(" + ")

  /** A `def`, not a `val`: the q_ann_ivf / q_ann_pq oracles embed
    * TRAINED model literals, and training needs the corpus dir that
    * only Verify knows (threaded via the graft.oracle.sfDir system
    * property, with the query run having already populated the
    * TrainedModels cache). Eager init would train against the default
    * dir before Verify could pin it. */
  def oracle: Map[String, String] = Map(
    "q_simhash_md5" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
        |s AS (SELECT doc_id, $simhashMd5Bits AS sh FROM h GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(s.sh, 0) AS simhash_md5
        |FROM documents d LEFT JOIN s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','are','as','with','at','be'], x))) AS BIGINT) AS n_stopwords,
        |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS sum_token_len
        |FROM (SELECT doc_id, text,
        |        list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    // All-pairs ground truth: equality with the banded-LSH output also
    // MEASURES end-to-end recall (1.0 on this corpus by construction).
    "q_dedup_minhash" ->
      ("""WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |        FROM documents)),
        |""" + oJaccardPairs("0.6") + """
        |SELECT id_a, id_b, jaccard FROM pr ORDER BY id_a, id_b""").stripMargin,
    "q_dedup_jaccard" ->
      ("""WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |        FROM documents)),
        |""" + oJaccardPairs("0.5") + """
        |SELECT id_a, id_b, jaccard FROM pr ORDER BY id_a, id_b""").stripMargin,
    "q_dup_rate" ->
      """WITH grp AS (
        |  SELECT source, md5(text) AS h, count(*) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(max(c) AS BIGINT) AS max_class,
        |  round(1 - count(*) / CAST(sum(c) AS DOUBLE), 6) AS dup_rate
        |FROM grp GROUP BY source ORDER BY source""".stripMargin,
    "q_term_dispersion" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      x -> length(x) > 0)) AS tok
        |  FROM documents),
        |pd AS (SELECT tok, doc_id, count(*) AS c FROM toks GROUP BY 1, 2),
        |st AS (SELECT tok, count(*) AS df, sum(c) AS cf,
        |         sum(c * c) AS cf2
        |       FROM pd GROUP BY tok HAVING count(*) >= 100),
        |nd AS (SELECT count(*) AS nd FROM documents)
        |SELECT tok, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
        |  round(CAST(cf AS DOUBLE) / nd.nd, 6) AS mean_c,
        |  round((CAST(cf2 AS DOUBLE) / nd.nd
        |      - (CAST(cf AS DOUBLE) / nd.nd) * (CAST(cf AS DOUBLE) / nd.nd))
        |    / (CAST(cf AS DOUBLE) / nd.nd), 6) AS dispersion
        |FROM st CROSS JOIN nd ORDER BY tok""".stripMargin,
    "q_collocations" ->
      """WITH ta AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0) AS ts
        |  FROM documents),
        |bi AS (
        |  SELECT ts[i - 1] AS x, ts[i] AS y
        |  FROM ta, LATERAL (SELECT unnest(range(2, len(ts) + 1)) AS i) t),
        |uni AS (SELECT unnest(ts) AS tok FROM ta),
        |uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
        |n AS (SELECT sum(len(ts)) AS n FROM ta),
        |co AS (SELECT x, y, count(*) AS cxy FROM bi GROUP BY 1, 2
        |       HAVING count(*) >= 50)
        |SELECT co.x, co.y, CAST(co.cxy AS BIGINT) AS cxy,
        |  round(ln(CAST(n.n * co.cxy AS DOUBLE)
        |    / CAST(ux.c * uy.c AS DOUBLE)), 6) AS pmi
        |FROM co JOIN uc ux ON ux.tok = co.x
        |JOIN uc uy ON uy.tok = co.y CROSS JOIN n
        |ORDER BY pmi DESC, co.x, co.y LIMIT 30""".stripMargin,
    "q_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END)) AS ng
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |        FROM documents)),
        |fs AS (SELECT ng, min(doc_id) AS first_doc FROM sh GROUP BY ng)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(sum(CASE WHEN fs.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM sh JOIN fs USING (ng)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "q_heaps_curve" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      x -> length(x) > 0)) AS tok
        |  FROM documents),
        |per_doc AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
        |nt AS (SELECT doc_id, count(*) AS n_new
        |       FROM (SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY tok)
        |       GROUP BY doc_id)
        |SELECT p.doc_id,
        |  CAST(sum(p.n_tok) OVER (ORDER BY p.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens,
        |  CAST(sum(coalesce(nt.n_new, 0)) OVER (ORDER BY p.doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types
        |FROM per_doc p LEFT JOIN nt USING (doc_id)
        |QUALIFY p.doc_id % 50 = 0
        |ORDER BY p.doc_id""".stripMargin,
    "q_dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |        FROM documents))
        |SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id) t
        |WHERE containment >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_subsumed" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |        FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
        |  WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.8),
        |dropset AS (
        |  SELECT DISTINCT p.id_a FROM pairs p
        |  WHERE NOT EXISTS (SELECT 1 FROM pairs r
        |                    WHERE r.id_a = p.id_b AND r.id_b = p.id_a)
        |     OR p.id_a > p.id_b)
        |SELECT d.doc_id, d.source FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM dropset x WHERE x.id_a = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_cosine" ->
      """SELECT id_a, id_b, cosine FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
        |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // the doubled corpus from first principles; values must equal the
    // single-corpus quotients (identical texts ⇒ identical arithmetic).
    // NOTE (ADVICE r12): these are s-interpolated strings, so Scala
    // escape processing runs on the whole literal — regex backslashes
    // inside them must be DOUBLED (\\t) so DuckDB receives the escape
    // sequence textually, not a raw control character.
    "q_dedup_minhash_twins" ->
      s"""WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + (SELECT max(doc_id)+1 FROM documents), text FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS toks
        |        FROM docs2))
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_cosine_twins" ->
      s"""WITH emb2 AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + (SELECT max(vec_id)+1 FROM embeddings), embedding FROM embeddings)
        |SELECT id_a, id_b FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
        |  FROM emb2 a JOIN emb2 b ON a.vec_id < b.vec_id) t
        |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // ---- sample-anchored scale oracles: anchors x corpus is LINEAR in
    // corpus size, so these rows stay DuckDB-feasible at sf3/sf10 where
    // the all-pairs twins oracles above are quadratic-infeasible. The
    // anchor rule (id % K = 0) is replayed verbatim from the Spark side.
    "q_dedup_cosine_anchored" ->
      """SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
        |  greatest(a.vec_id, b.vec_id) AS id_b,
        |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine
        |FROM (SELECT * FROM embeddings WHERE vec_id % 200 = 0) a
        |JOIN embeddings b ON a.vec_id <> b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_minhash_twins_anchored" -> anchoredJaccardOracle(0.6),
    "q_dedup_minhash_hr_anchored" -> anchoredJaccardOracle(0.6),
    "q_dedup_jaccard_twins_anchored" -> anchoredJaccardOracle(0.5),
    // both-sides-anchored variant (VERDICT r14 #4): oracle replays the
    // identical base-id slice rule, then verifies EXACT jaccard over
    // the whole slice — quadratic only in the 4% sample
    "q_dedup_jaccard_anchor2" ->
      s"""WITH off AS (SELECT max(doc_id)+1 AS o FROM documents),
        |docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + (SELECT o FROM off), text FROM documents),
        |sliced AS (
        |  SELECT doc_id, text FROM docs2
        |  WHERE (CASE WHEN doc_id >= (SELECT o FROM off)
        |         THEN doc_id - (SELECT o FROM off) ELSE doc_id END) % $JaccardSliceMod = 0),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS toks
        |        FROM sliced)),
        |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS c,
        |         any_value(a.n) AS na, any_value(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, c::DOUBLE / (na + nb - c) AS jaccard
        |FROM cand WHERE c::DOUBLE / (na + nb - c) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q_dedup_simhash_twins_anchored" ->
      s"""WITH docs1 AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) > 0),
        |docs2 AS (
        |  SELECT doc_id, text FROM docs1
        |  UNION ALL SELECT doc_id + (SELECT max(doc_id)+1 FROM documents), text FROM docs1),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) AS t
        |  FROM docs2),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
        |s AS (SELECT doc_id, $simhashMd5Bits AS sh FROM h GROUP BY doc_id),
        |anch AS (SELECT * FROM s WHERE doc_id % 1000 = 0)
        |SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
        |  greatest(a.doc_id, b.doc_id) AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM anch a JOIN s b ON a.doc_id <> b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 8
        |ORDER BY id_a, id_b""".stripMargin,

    // exact symmetric jaccard over the doubled corpus at the
    // q_dedup_jaccard threshold — same shingle CTE as minhash_twins
    "q_dedup_jaccard_twins" ->
      s"""WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + (SELECT max(doc_id)+1 FROM documents), text FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS toks
        |        FROM docs2))
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id) t
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,

    // directed containment over the doubled corpus: ordered pairs
    // (a.doc_id <> b.doc_id), |A∩B|/|A| quotient — both directions of
    // every twin pair must appear at exactly 1.0
    "q_dedup_containment_twins" ->
      s"""WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + (SELECT max(doc_id)+1 FROM documents), text FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0) AS toks
        |        FROM docs2))
        |SELECT id_a, id_b, containment FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id) t
        |WHERE containment >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "q_text_lang" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0)) AS t
        |  FROM documents
        |), prof AS (
        |  SELECT doc_id,
        |    COUNT(*) AS n_tokens,
        |    CAST(SUM(CASE WHEN t IN ('the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','are','as','with','at','be') THEN 1 ELSE 0 END) AS BIGINT) AS sw_hits,
        |    COUNT(DISTINCT CASE WHEN t IN ('der','die','das','und','ist','nicht','ein','eine','mit','auf','für','von','zu','den','im','sich') THEN t END) AS h_de,
        |    COUNT(DISTINCT CASE WHEN t IN ('the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','are','as','with','at','be') THEN t END) AS h_en,
        |    COUNT(DISTINCT CASE WHEN t IN ('el','la','los','las','y','es','un','una','de','en','que','por','con','para','del','se') THEN t END) AS h_es,
        |    COUNT(DISTINCT CASE WHEN t IN ('le','la','les','et','est','un','une','des','du','pour','dans','que','qui','sur','pas','avec') THEN t END) AS h_fr
        |  FROM toks GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(p.n_tokens, 0) AS n_tokens,
        |  COALESCE(p.sw_hits, 0) AS sw_hits,
        |  COALESCE(CASE
        |    WHEN p.h_de = p.best AND p.best > 0 THEN 'de'
        |    WHEN p.h_en = p.best AND p.best > 0 THEN 'en'
        |    WHEN p.h_es = p.best AND p.best > 0 THEN 'es'
        |    WHEN p.h_fr = p.best AND p.best > 0 THEN 'fr'
        |    ELSE 'und' END, 'und') AS lang_pred,
        |  CASE WHEN p.n_tokens IS NULL OR p.n_tokens = 0 OR length(d.text) = 0 THEN 0
        |    ELSE CAST(floor(
        |      least(p.n_tokens / 50.0, 1.0) * (CASE WHEN p.n_tokens > 5000 THEN 0.5 ELSE 1.0 END)
        |      * greatest(0.0, 1.0 - (length(regexp_replace(d.text, '[\p{L}\p{N} \t\n\f\r]', '', 'g'))::DOUBLE / length(d.text)::DOUBLE) * 4.0)
        |      * least(p.sw_hits::DOUBLE / p.n_tokens::DOUBLE * 4.0, 1.0)
        |      * 1000000.0) AS BIGINT) END AS quality_e6
        |FROM documents d
        |LEFT JOIN (SELECT *, greatest(h_de, h_en, h_es, h_fr) AS best FROM prof) p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_text_boilerplate" ->
      """WITH l AS (
        |  SELECT doc_id, unnest(range(1, len(ls) + 1)) AS p, unnest(ls) AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents)),
        |common AS (
        |  SELECT line FROM l WHERE length(line) > 0
        |  GROUP BY line HAVING COUNT(DISTINCT doc_id) > 3),
        |kept AS (SELECT l.* FROM l LEFT JOIN common c ON l.line = c.line
        |         WHERE c.line IS NULL),
        |rb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY p) AS txt,
        |         COUNT(*) AS k
        |       FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, md5(COALESCE(rb.txt, '')) AS clean_md5,
        |  CAST(len(string_split(d.text, chr(10))) - COALESCE(rb.k, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN rb USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "q_text_distinctive" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0)) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, t),
        |df AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t)
        |SELECT doc_id, t AS term, tf, df, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT tf.doc_id, tf.t, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df, tf.t) AS rnk
        |  FROM tf JOIN df USING (t)) x
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "q_text_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> length(x) > 0) AS lines,
        |    list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM tok WHERE len(toks) >= 2),
        |tg AS (
        |  SELECT doc_id, MAX(c) AS top_c FROM (
        |    SELECT doc_id, g2, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(grams) AS g2 FROM g)
        |    GROUP BY doc_id, g2)
        |  GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(len(t.lines) AS BIGINT) AS n_lines,
        |  CAST(len(list_distinct(t.lines)) AS BIGINT) AS n_distinct_lines,
        |  CAST(greatest(0, len(t.toks) - 1) AS BIGINT) AS n_2grams,
        |  CAST(CASE WHEN len(t.toks) >= 2 THEN len(list_distinct(g.grams)) ELSE 0 END AS BIGINT)
        |    AS n_distinct_2grams,
        |  CAST(COALESCE(tg.top_c, 0) AS BIGINT) AS top_2gram_count
        |FROM tok t LEFT JOIN g USING (doc_id) LEFT JOIN tg USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "q_chunk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |  FROM documents),
        |t2 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tok WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, 1 + CAST(ceil(greatest(0, n - 64) / 48.0) AS BIGINT))) AS ci
        |  FROM t2)
        |SELECT doc_id, ci AS chunk_idx, ci * 48 AS start_tok,
        |  least(64, n - ci * 48) AS n_tok,
        |  array_to_string(toks[ci * 48 + 1 : ci * 48 + 64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_quantize" ->
      """WITH qz AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings),
        |qq AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale > 0
        |      THEN list_transform(v, x -> CAST(least(greatest(floor(x / scale + 0.5), -127.0), 127.0) AS INT))
        |      ELSE list_transform(v, x -> 0) END AS q
        |  FROM qz)
        |SELECT vec_id, scale,
        |  q[1] AS q0, q[2] AS q1, q[3] AS q2, q[4] AS q3,
        |  q[5] AS q4, q[6] AS q5, q[7] AS q6, q[8] AS q7,
        |  CAST(list_sum(q) AS BIGINT) AS qsum,
        |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qnorm2
        |FROM qq ORDER BY vec_id""".stripMargin,
    "q_hard_negatives" ->
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS vec_id, q.vec_id AS pos,
        |    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine
        |  FROM embeddings c
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q),
        |top AS (
        |  SELECT *, row_number() OVER (PARTITION BY qid
        |    ORDER BY cosine DESC, vec_id) AS rnk0 FROM scored),
        |elig AS (
        |  SELECT qid, vec_id, cosine FROM top
        |  WHERE rnk0 <= 12 AND vec_id <> pos AND cosine < 0.95),
        |ranked AS (
        |  SELECT qid, vec_id, cosine, row_number() OVER (PARTITION BY qid
        |    ORDER BY round(cosine, 6) DESC, vec_id) AS rnk FROM elig)
        |SELECT qid, vec_id, CAST(floor(cosine * 1e6) AS BIGINT) AS cos_grid,
        |  CAST(rnk AS INT) AS rnk
        |FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
    "q_ann_brute" ->
      """SELECT qid, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS vec_id,
        |    list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS cosine,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, c.vec_id) AS rnk
        |  FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q) t
        |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
    // end-to-end simhash pair ground truth: recompute every md5-lane
    // simhash, then ALL-PAIRS hamming ≤ 8 (the engine's banded join
    // must equal this exactly — pigeonhole recall is 1.0)
    "q_dedup_simhash" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) AS t
        |  FROM documents),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
        |s AS (SELECT doc_id, $simhashMd5Bits AS sh FROM h GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 8
        |ORDER BY id_a, id_b""".stripMargin,
    // same 60-lane replay over the doubled corpus: every clone pair
    // must surface at hamming 0 alongside the base cross pairs
    "q_dedup_simhash_twins" ->
      s"""WITH docs1 AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE len(list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) > 0),
        |docs2 AS (
        |  SELECT doc_id, text FROM docs1
        |  UNION ALL SELECT doc_id + (SELECT max(doc_id)+1 FROM documents), text FROM docs1),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) AS t
        |  FROM docs2),
        |h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
        |s AS (SELECT doc_id, $simhashMd5Bits AS sh FROM h GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sh, b.sh)) <= 8
        |ORDER BY id_a, id_b""".stripMargin,
    // property oracle: the md5 fingerprint is value-checked (same
    // fold as q_text_fingerprint_md5); the xx-kernel class-agreement
    // and BPE-count bracketing booleans are pinned TRUE
    "q_text_fingerprint" ->
      """SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0
        |    ELSE list_reduce(
        |      list_prepend(0::BIGINT,
        |        list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)),
        |      (a, b) -> (a * 1000003 + b) % 2147483647)
        |  END AS fingerprint_md5,
        |  TRUE AS classes_agree,
        |  TRUE AS bpe_bounds_ok
        |FROM (SELECT doc_id,
        |        list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint_md5" ->
      """SELECT doc_id,
        |  CASE WHEN len(toks) = 0 THEN 0
        |    ELSE list_reduce(
        |      list_prepend(0::BIGINT,
        |        list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)),
        |      (a, b) -> (a * 1000003 + b) % 2147483647)
        |  END AS fingerprint_md5
        |FROM (SELECT doc_id,
        |        list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_mm_features" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
        |      WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
        |    hex(encode(text)) AS hx,
        |    CAST(octet_length(encode(text)) AS INT) AS n_bytes
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, format, n_bytes,
        |    list_transform(range(1, n_bytes + 1),
        |      i -> ('0x' || substr(hx, CAST(2*i-1 AS INT), 2))::INT % 8) AS bins
        |  FROM b)
        |SELECT doc_id, format, n_bytes,
        |  CAST(floor(len(list_filter(bins, x -> x = 0))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f0,
        |  CAST(floor(len(list_filter(bins, x -> x = 1))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f1,
        |  CAST(floor(len(list_filter(bins, x -> x = 2))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f2,
        |  CAST(floor(len(list_filter(bins, x -> x = 3))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f3,
        |  CAST(floor(len(list_filter(bins, x -> x = 4))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f4,
        |  CAST(floor(len(list_filter(bins, x -> x = 5))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f5,
        |  CAST(floor(len(list_filter(bins, x -> x = 6))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f6,
        |  CAST(floor(len(list_filter(bins, x -> x = 7))::DOUBLE / greatest(1, n_bytes) * 1e9) AS BIGINT) AS f7
        |FROM h ORDER BY doc_id""".stripMargin,
    "q_ann_pq_seeded" -> pqOracleSql(pqCodebookRows),
    "q_ann_pq" ->
      // TRAINED codebooks: same replay as the seeded twin, literals
      // from the cached k-means training run (see TrainedModels)
      pqOracleSql(codebookRows(
        graft.llm.TrainedModels.pqCodebooks(oracleSpark, oracleSfDir))),
    "q_ann_lsh" -> lshOracleSql,
    "q_ann_ivf" ->
      // TRAINED centroids: the cached Lloyd run's literals
      ivfOracleSql(centroidRows(
        graft.llm.TrainedModels.ivfCentroids(oracleSpark, oracleSfDir))),
    "q_ann_ivfpq_seeded" ->
      s"""WITH cen(ci, c) AS (VALUES
        |$ivfCentroidRows),
        |cb(s, i, c, cc) AS (VALUES
        |$pqCodebookRows),
        |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
        |cu AS (SELECT vec_id, v,
        |         CASE WHEN sqrt(list_inner_product(v, v)) > 0
        |           THEN list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
        |           ELSE v END AS u
        |       FROM corp),
        |qu AS (SELECT qid, qv,
        |         CASE WHEN sqrt(list_inner_product(qv, qv)) > 0
        |           THEN list_transform(qv, x -> x / sqrt(list_inner_product(qv, qv)))
        |           ELSE qv END AS u
        |       FROM q),
        |cells AS (SELECT vec_id, ci AS cell FROM (
        |  SELECT vec_id, ci, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY list_inner_product(v, c) DESC, ci) AS rn
        |  FROM corp CROSS JOIN cen) t WHERE rn = 1),
        |probes AS (SELECT qid, ci AS cell FROM (
        |  SELECT qid, ci, row_number() OVER (PARTITION BY qid
        |    ORDER BY list_inner_product(qv, c) DESC, ci) AS rn
        |  FROM q CROSS JOIN cen) t WHERE rn <= 6),
        |subs(sub) AS (SELECT unnest(range(0, 8))),
        |cs AS (SELECT vec_id, sub, u[sub*8+1 : sub*8+8] AS sv FROM cu CROSS JOIN subs),
        |codes AS (SELECT vec_id, sub, code FROM (
        |  SELECT vec_id, sub, i AS code, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY (list_inner_product(sv, c) * 2 - cc) DESC, i) AS rn
        |  FROM cs JOIN cb ON cb.s = cs.sub) t WHERE rn = 1),
        |qs AS (SELECT qid, sub, u[sub*8+1 : sub*8+8] AS sv FROM qu CROSS JOIN subs),
        |lut AS (SELECT qid, sub, i AS code, list_inner_product(sv, c) AS qdot
        |        FROM qs JOIN cb ON cb.s = qs.sub),
        |cand AS (SELECT p.qid, cl.vec_id FROM probes p JOIN cells cl ON p.cell = cl.cell),
        |sc AS (
        |  SELECT ca.qid, co.vec_id,
        |    SUM(CASE WHEN co.sub = 0 THEN l.qdot END) + SUM(CASE WHEN co.sub = 1 THEN l.qdot END)
        |    + SUM(CASE WHEN co.sub = 2 THEN l.qdot END) + SUM(CASE WHEN co.sub = 3 THEN l.qdot END)
        |    + SUM(CASE WHEN co.sub = 4 THEN l.qdot END) + SUM(CASE WHEN co.sub = 5 THEN l.qdot END)
        |    + SUM(CASE WHEN co.sub = 6 THEN l.qdot END) + SUM(CASE WHEN co.sub = 7 THEN l.qdot END)
        |      AS score
        |  FROM cand ca JOIN codes co ON co.vec_id = ca.vec_id
        |       JOIN lut l ON l.qid = ca.qid AND l.sub = co.sub AND l.code = co.code
        |  GROUP BY ca.qid, co.vec_id),
        |short AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
        |  FROM sc) t WHERE rn <= 50)
        |SELECT qid, vec_id, cosine, CAST(rnk AS INT) AS rnk FROM (
        |  SELECT short.qid, short.vec_id,
        |    list_cosine_similarity(corp.v, q.qv) AS cosine,
        |    row_number() OVER (PARTITION BY short.qid
        |      ORDER BY list_cosine_similarity(corp.v, q.qv) DESC, short.vec_id) AS rnk
        |  FROM short JOIN corp ON short.vec_id = corp.vec_id JOIN q ON short.qid = q.qid) t
        |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
    "q_ann_lsh_seeded" -> lshOracleSql,
    "q_ann_ivf_seeded" -> ivfOracleSql(ivfCentroidRows),
    "q_mm_probe" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 2 THEN 'wav'
        |       ELSE 'unknown' END AS sniffed,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 8 * 160 + 320 AS BIGINT) END AS width,
        |  CASE WHEN doc_id % 4 = 0 THEN CAST(doc_id % 8 * 90 + 180 AS BIGINT) END AS height,
        |  CASE WHEN doc_id % 4 = 2 THEN CAST((doc_id % 6 + 1) * 8000 AS BIGINT) END AS sample_rate,
        |  CASE WHEN doc_id % 4 = 2 THEN CAST(doc_id % 2 + 1 AS BIGINT) END AS channels
        |FROM documents WHERE doc_id < 600 ORDER BY doc_id""".stripMargin,
    "q_mm_wav_rms" ->
      """WITH s AS (
        |  SELECT doc_id, list_transform(range(1, len(text)//2 + 1),
        |    i -> CASE WHEN ascii(substring(text, 2*i-1, 1))
        |                   + 256*ascii(substring(text, 2*i, 1)) >= 32768
        |         THEN ascii(substring(text, 2*i-1, 1))
        |              + 256*ascii(substring(text, 2*i, 1)) - 65536
        |         ELSE ascii(substring(text, 2*i-1, 1))
        |              + 256*ascii(substring(text, 2*i, 1)) END) AS smp
        |  FROM documents WHERE doc_id % 4 = 2),
        |b AS (
        |  SELECT doc_id, CAST(len(smp) AS INT) AS n_samples,
        |    CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak, smp
        |  FROM s WHERE len(smp) >= 128),
        |e AS (
        |  SELECT doc_id, n_samples, peak, smp,
        |    unnest(range(0, n_samples // 128)) AS wi
        |  FROM b)
        |SELECT doc_id, n_samples, peak, CAST(wi AS INT) AS win_idx,
        |  round(sqrt(CAST(list_aggregate(
        |      list_transform(smp[wi*128+1 : wi*128+128],
        |        x -> CAST(x AS BIGINT) * x), 'sum') AS DOUBLE) / 128), 6) AS rms
        |FROM e ORDER BY doc_id, win_idx""".stripMargin,
    "q_mm_frames" ->
      """SELECT doc_id, n_frames, CAST(f AS INT) AS frame_idx
        |FROM (SELECT doc_id, CAST(doc_id % 30 + 1 AS INT) AS n_frames,
        |        unnest(range(0, doc_id % 30 + 1, 5)) AS f
        |      FROM documents WHERE doc_id % 4 = 3)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    "q_mlm_masking" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |      x -> length(x) > 0) AS ts
        |  FROM documents),
        |b AS (SELECT doc_id, ts, len(ts) AS n FROM d WHERE len(ts) > 0),
        |ix AS (SELECT doc_id, n,
        |  list_transform(range(0, n), i -> struct_pack(
        |    i := i, tk := ts[CAST(i + 1 AS INT)],
        |    m := ('0x' || substr(md5(doc_id || ':' || i), 1, 15))::BIGINT % 100 < 15))
        |  AS idx
        |  FROM b)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(len(list_filter(idx, e -> e.m)) AS INT) AS n_masked,
        |  array_to_string(list_transform(idx,
        |    e -> CASE WHEN e.m THEN '[MASK]' ELSE e.tk END), ' ') AS input_text,
        |  COALESCE(array_to_string(list_transform(list_filter(idx, e -> e.m),
        |    e -> e.i || ':' || e.tk), ' '), '') AS target_text
        |FROM ix ORDER BY doc_id""".stripMargin,
    "q_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[^ \t\n\f\r]+')) AS INT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT) AS n_sents,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT) AS n_syll
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_words, n_sents, n_syll,
        |    round(206.835
        |      - 1.015 * (CAST(n_words AS DOUBLE) / CAST(greatest(n_sents, 1) AS DOUBLE))
        |      - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)), 4) AS flesch
        |  FROM c WHERE n_words > 0)
        |SELECT doc_id, n_words, n_sents, n_syll, flesch,
        |  CASE WHEN flesch >= 60 THEN 'easy'
        |       WHEN flesch >= 30 THEN 'standard'
        |       ELSE 'difficult' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_zipf_slope" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0)) AS tok FROM documents),
        |rk AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |rr AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r FROM rk),
        |q AS (SELECT CAST(floor(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT) AS qx,
        |             CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS qy
        |      FROM rr WHERE r <= 1000),
        |m AS (SELECT COUNT(*) AS n,
        |  CAST(SUM(qx) AS DOUBLE) / 1e6 AS sx, CAST(SUM(qy) AS DOUBLE) / 1e6 AS sy,
        |  CAST(SUM(qx*qy) AS DOUBLE) / 1e12 AS sxy,
        |  CAST(SUM(qx*qx) AS DOUBLE) / 1e12 AS sxx FROM q),
        |m2 AS (SELECT n, sx, sy,
        |  (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS sl
        |  FROM m)
        |SELECT n AS n_terms, round(sl, 4) AS zipf_slope,
        |  round((sy - sl * sx) / CAST(n AS DOUBLE), 4) AS intercept
        |FROM m2""".stripMargin
  )
}
