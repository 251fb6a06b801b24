package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.functions.TextKernels
import graft.operators.{Csr, Fixpoint, LongIds}

/** Deduplication operators: exact, MinHash-LSH, SimHash, and n-gram
  * Jaccard verification — the near-dup toolchain of a training-data
  * pipeline.
  *
  * Scale design (the part that matters at 100 TB):
  *  - NOTHING here is all-pairs. MinHash candidates come from banded
  *    LSH buckets (bucket-equi-join), SimHash candidates from
  *    16-bit band buckets; only within-bucket pairs are compared.
  *  - the bucket self-join carries (bucket, doc_id) pairs ONLY; the
  *    heavyweight shingle arrays are joined back by doc_id just for
  *    the verify step, so the exploded band rows stay ~16 bytes.
  *  - signatures/buckets are plain codegen'd column expressions
  *    (murmur/xxhash over higher-order functions) — no UDFs, no
  *    driver-side state, deterministic across runs and partitionings.
  */
object Dedup {

  // ---- exact dedup ----

  /** Exact duplicates by content hash: one row per distinct text with
    * the canonical (min) doc_id and the duplicate count. */
  def exactGroups(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.groupBy(md5(col(text)).as("content_hash"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup'd view: keeps the min-id row per distinct text. */
  def exactDedup(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(text))).orderBy(col(id))
    docs.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Sub-document exact dedup at line granularity — the practical
    * tier of Lee et al. 2022's exact-substring dedup ("Deduplicating
    * Training Data Makes Language Models Better"): a line (paragraph,
    * if callers pre-split on blank lines) that already occurred
    * EARLIER in the corpus — in (id, position) order — is removed
    * from every later document; the first occurrence survives in
    * place. Returns (id, text rebuilt with `sep`, n_removed).
    *
    * Scale shape: posexplode lines → ONE shuffle keyed by line value
    * (the same key any occurrence-counting needs) where a per-line
    * window picks the global first occurrence → per-doc rebuild via
    * a partial-aggregable groupBy. The explode pipeline runs ONCE:
    * dropped lines are flagged, not filtered, so kept text, kept
    * count and total count all come from one conditional aggregation
    * (the filter+union+join formulation re-ran the tokenize/explode
    * three times — measured 3.3 s → 1.9 s at sf0.1). EMPTY lines are
    * structure, not content: each gets a singleton window key
    * ((_l, (id, pos)) instead of membership in one pathological ''
    * reduce partition) so they always survive and never skew. The
    * window's per-partition state is the occurrence list of ONE line
    * — bounded by that line's duplication factor, with AQE handling
    * the skewed head (a viral line is exactly a skewed reduce key).
    * Nothing is quadratic; a suffix-array would find arbitrary-offset
    * substrings but needs global order — at corpus scale
    * line/paragraph granularity is the published compromise. */
  def dedupLines(docs: DataFrame, id: String = "doc_id", text: String = "text",
      sep: String = "\n"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null-safe: a NULL document is an empty document (one row out,
    // nothing removed), not a dropped/NULL-count row
    val lines = docs.select(col(id).as("_id"),
      posexplode(split(coalesce(col(text), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("_p", "_l")))
    val w = Window.partitionBy(col("_l"),
        when(length(col("_l")) === 0, struct(col("_id"), col("_p"))))
      .orderBy(col("_id"), col("_p"))
    // collect_list skips nulls, so the un-kept lines vanish from the
    // rebuild while still counting toward _total in the same pass
    lines.withColumn("_keep", row_number().over(w) === 1)
      .groupBy(col("_id")).agg(
        array_join(transform(array_sort(collect_list(
          when(col("_keep"), struct(col("_p"), col("_l"))))),
          x => x.getField("_l")), sep).as("_text"),
        count(lit(1)).as("_total"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("_kept"))
      .select(col("_id").as(id), col("_text").as(text),
        (col("_total") - col("_kept")).as("n_removed"))
  }

  /** Duplicated-span profile at fixed token-window granularity — the
    * sliding-window tier of Lee et al. 2022's exact-substring dedup:
    * every `windowTokens`-token window (stride 1) is hashed, and a
    * window whose hash occurs ≥ 2 times ANYWHERE in the corpus
    * (another document or a repeat within the same one) is a
    * duplicated span. Returns per document
    * (id, total_spans, dup_spans) — the span-coverage signal used to
    * decide which documents to cut or trim. Complements [[dedupLines]]
    * (line granularity, arbitrary length) by catching copied runs
    * that cross line boundaries or sit inside otherwise-unique lines.
    *
    * Scale shape: the window enumeration is a generate + projection
    * pipelined inside one codegen stage — the per-doc token array
    * never crosses a shuffle; what shuffles is (16-byte hash, id) per
    * window, i.e. O(corpus tokens) narrow rows, pre-reduced map-side
    * by the (hash, id) partial aggregation. Tokenize+hash — the
    * dominant CPU cost — runs ONCE: the corpus-wide occurrence total
    * comes from a whole-partition window over the already-aggregated
    * (hash, id) counts, not from a second scan. That window's state
    * is one hash's distinct-doc list — bounded by the span's
    * duplication factor, with AQE absorbing the viral-span skew key
    * (same argument as [[dedupLines]]). This linear-shuffle shape is
    * the published corpus-scale compromise for substring dedup: a
    * suffix array finds arbitrary-length repeats but needs a global
    * order no 1000-node shuffle provides cheaply; fixed windows ≥ the
    * dedup threshold length find the same cut candidates. */
  def spanProfile(docs: DataFrame, windowTokens: Int = 8,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens >= 2, "window must span at least 2 tokens")
    // null-safe: a NULL document profiles as zero spans, not a
    // null-count row (the dedupLines contract)
    val toks = docs.select(col(id).as("_id"),
      TextAnalysis.tokens(coalesce(col(text), lit(""))).as("_ts"))
      .withColumn("_n", size(col("_ts")))
    // explode the start offsets; slice+hash in the SAME projection so
    // codegen pipelines it and only (_id, _h) reaches the exchange
    val spans = toks.filter(col("_n") >= windowTokens)
      .select(col("_id"), col("_ts"),
        explode(sequence(lit(1), col("_n") - windowTokens + 1)).as("_s"))
      .select(col("_id"),
        md5(concat_ws(" ", slice(col("_ts"), col("_s"), lit(windowTokens)))).as("_h"))
    val perHashDoc = spans.groupBy(col("_h"), col("_id"))
      .agg(count(lit(1)).as("_m"))
    val perDoc = perHashDoc
      .withColumn("_tot", sum(col("_m")).over(Window.partitionBy(col("_h"))))
      .filter(col("_tot") > 1)
      .groupBy(col("_id")).agg(sum(col("_m")).as("dup_spans"))
    toks.select(col("_id"),
        greatest(col("_n") - windowTokens + 1, lit(0)).cast("long").as("total_spans"))
      .join(perDoc, Seq("_id"), "left")
      .select(col("_id").as(id), col("total_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"))
  }

  /** Maximal duplicated RUNS per document — the cut list of
    * fixed-window substring dedup: consecutive duplicated windows
    * (start gap ≤ `windowTokens`, i.e. their token intervals touch or
    * overlap) merge into one run, so `dup_tokens` is the EXACT size
    * of the union of duplicated-window intervals (runs are disjoint
    * by construction: a larger gap leaves ≥ 1 uncovered token).
    * Returns (id, n_runs, max_run_tokens, dup_tokens), zeros for
    * clean docs — the per-doc numbers a trim/cut policy thresholds
    * on, where [[spanProfile]] only counts windows.
    *
    * Scale shape: same one-pass window enumeration as [[spanProfile]]
    * (hash in the explode's projection, narrow rows to the shuffle);
    * the occurrence total is a whole-partition window keyed by hash;
    * the islands pass is a per-doc ordered window whose state is one
    * document's duplicated-window list — bounded by document length. */
  def spanRuns(docs: DataFrame, windowTokens: Int = 8,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens >= 2, "window must span at least 2 tokens")
    val toks = docs.select(col(id).as("_id"),
      TextAnalysis.tokens(coalesce(col(text), lit(""))).as("_ts"))
      .withColumn("_n", size(col("_ts")))
    val spans = toks.filter(col("_n") >= windowTokens)
      .select(col("_id"), col("_ts"),
        explode(sequence(lit(1), col("_n") - windowTokens + 1)).as("_s"))
      .select(col("_id"), col("_s"),
        md5(concat_ws(" ", slice(col("_ts"), col("_s"), lit(windowTokens)))).as("_h"))
    val flagged = spans
      .withColumn("_tot", count(lit(1)).over(Window.partitionBy(col("_h"))))
      .filter(col("_tot") > 1)
    val byDoc = Window.partitionBy(col("_id")).orderBy(col("_s"))
    val runs = flagged
      // island break when the previous duplicated window's token
      // interval no longer touches this one (first row: lag is null →
      // otherwise-branch → new island)
      .withColumn("_brk",
        when(col("_s") - lag(col("_s"), 1).over(byDoc) <= windowTokens, 0)
          .otherwise(1))
      .withColumn("_run", sum(col("_brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_id"), col("_run"))
      .agg((max(col("_s")) - min(col("_s")) + windowTokens).cast("long").as("_len"))
    toks.select(col("_id"))
      .join(runs.groupBy(col("_id")).agg(
          count(lit(1)).as("n_runs"),
          max(col("_len")).as("max_run_tokens"),
          sum(col("_len")).as("dup_tokens")),
        Seq("_id"), "left")
      .select(col("_id").as(id),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("max_run_tokens"), lit(0L)).as("max_run_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** APPLY fixed-window substring dedup (Lee et al. 2022's transform,
    * not just its profile): every duplicated window except the
    * globally FIRST occurrence of its hash — (id, start) order, the
    * dedupLines convention — contributes its token interval to a cut
    * set, and each document is rebuilt without its cut tokens.
    * Returns (id, text rebuilt space-joined, n_cut) with every input
    * doc present (empty/short docs pass through with n_cut 0).
    *
    * When cut intervals of different hashes overlap a kept window's
    * tokens, the cut wins — the union-of-intervals semantics the
    * published implementation applies; the survivor of a duplicate
    * class therefore keeps its text only where no OTHER duplicated
    * run claims the same tokens.
    *
    * Scale shape: the window/hash enumeration is the one-pass
    * spanProfile pipeline; the global-first mark is a row_number over
    * the hash key (state = one hash's occurrence list); cut intervals
    * explode into at most Σ run-length (≤ corpus tokens) narrow
    * (id, pos) rows that anti-join the token stream on the EQUI key
    * (id, pos) — never a non-equi interval join; the rebuild is the
    * dedupLines flag-style conditional aggregation, one pass over the
    * exploded tokens. */
  def cutDupSpans(docs: DataFrame, windowTokens: Int = 8,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(windowTokens >= 2, "window must span at least 2 tokens")
    val toks = docs.select(col(id).as("_id"),
      TextAnalysis.tokens(coalesce(col(text), lit(""))).as("_ts"))
      .withColumn("_n", size(col("_ts")))
    val spans = toks.filter(col("_n") >= windowTokens)
      .select(col("_id"), col("_ts"),
        explode(sequence(lit(1), col("_n") - windowTokens + 1)).as("_s"))
      .select(col("_id"), col("_s"),
        md5(concat_ws(" ", slice(col("_ts"), col("_s"), lit(windowTokens)))).as("_h"))
    val wH = Window.partitionBy(col("_h")).orderBy(col("_id"), col("_s"))
    val cutPos = spans
      .withColumn("_tot", count(lit(1)).over(Window.partitionBy(col("_h"))))
      .withColumn("_rn", row_number().over(wH))
      .filter(col("_tot") > 1 && col("_rn") > 1)
      .select(col("_id"),
        explode(sequence(col("_s"), col("_s") + windowTokens - 1)).as("_p"))
      .distinct()
    // outer posexplode keeps token-less docs as a null-token row so
    // every input id survives the rebuild aggregation
    val tokenRows = toks
      .select(col("_id"), posexplode_outer(col("_ts")).as(Seq("_p0", "_tok")))
      .withColumn("_p", col("_p0") + 1)
    tokenRows
      .join(cutPos.withColumn("_cut", lit(true)), Seq("_id", "_p"), "left")
      .withColumn("_cut", coalesce(col("_cut"), lit(false)))
      .groupBy(col("_id")).agg(
        array_join(transform(array_sort(collect_list(
          when(!col("_cut") && col("_tok").isNotNull,
            struct(col("_p"), col("_tok"))))),
          x => x.getField("_tok")), " ").as("_text"),
        sum(when(col("_cut"), 1L).otherwise(0L)).as("n_cut"))
      .select(col("_id").as(id), col("_text").as(text), col("n_cut"))
  }

  // ---- incremental (batch-vs-corpus) dedup ----

  /** Incremental dedup: drop rows of `newDocs` that duplicate the
    * EXISTING `corpus` — the continuous-ingestion operator (a daily
    * crawl lands against a deduplicated corpus; re-pairing the corpus
    * against itself would be absurd at 100 TB). Two stages, both
    * one-sided:
    *  - exact: anti-join on md5(text) — the corpus side reduces to
    *    one hash per doc (distinct), never rescanned per new doc;
    *  - near (threshold > 0): exact n-gram Jaccard ≥ threshold
    *    against the corpus, recall 1.0 — candidates from the shingle
    *    co-occurrence join restricted to NEW×CORPUS (the corpus never
    *    self-joins, so the quadratic term is |new|-sided only),
    *    length-filtered, then one intersect fold per surviving pair.
    * The batch analog of `streaming/StreamingOps.nearDupVsCorpus`.
    * Requires the two id spaces to be disjoint only in the trivial
    * sense that ids are per-side; no global id contract. */
  def dedupAgainst(newDocs: DataFrame, corpus: DataFrame, threshold: Double = 0.0,
      id: String = "doc_id", text: String = "text", shingleN: Int = 3): DataFrame = {
    val corpusHashes = corpus.select(md5(col(text)).as("_h")).distinct()
    val exactNew = newDocs.join(corpusHashes,
      md5(newDocs(text)) === corpusHashes("_h"), "left_anti")
    if (threshold <= 0) return exactNew
    // near-dup vs corpus: candidates share ≥1 shingle from the NEW
    // doc's PREFIX and pass the J ≥ t length bound; verify is one
    // array_intersect per pair. ASYMMETRIC prefix join — the right
    // shape when |new| ≪ |corpus|: only the small side pays the
    // df-join + rank window, the corpus contributes plain (id, sz,
    // shingle) rows, and recall stays 1.0 because one-sided prefix
    // candidates are a superset of the two-sided ones (pigeonhole:
    // J(A,B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so B must hit A's first
    // |A| − ⌈t·|A|⌉ + 1 shingles in ANY fixed order). Ordering the
    // new side's shingles by CORPUS document frequency (ascending;
    // absent → 0, rarest) keeps each new doc's prefix on corpus-rare
    // shingles, bounding join volume to Σ_prefix df_C(ng). The
    // corpus never self-joins: the quadratic term is new×corpus only.
    import org.apache.spark.sql.expressions.Window
    def sets(df: DataFrame, side: String) = df.select(col(id).as(s"_id$side"),
      call_function("shingle_set", col(text), lit(shingleN)).as(s"_set$side"))
    def rows(df: DataFrame, side: String) = sets(df, side)
      .select(col(s"_id$side"), size(col(s"_set$side")).as(s"_sz$side"),
        explode(col(s"_set$side")).as("_ng"))
    val corpusRows = rows(corpus, "C")
    val dfTable = corpusRows.groupBy(col("_ng")).agg(count(lit(1)).as("_df"))
    val newPrefix = {
      val w = Window.partitionBy(col("_idN")).orderBy(col("_dfo"), col("_ng"))
      rows(exactNew, "N")
        .join(dfTable.hint("shuffle_hash"), Seq("_ng"), "left")
        .withColumn("_dfo", coalesce(col("_df"), lit(0L)))
        .withColumn("_r", row_number().over(w))
        .filter(col("_r") <= prefixLength(col("_szN"), threshold))
        .select(col("_idN"), col("_szN"), col("_ng"))
    }
    val cand = newPrefix.join(corpusRows, Seq("_ng"))
      .filter(least(col("_szN"), col("_szC")).cast(DoubleType) >=
        lit(threshold) * greatest(col("_szN"), col("_szC")))
      .select(col("_idN"), col("_idC")).distinct()
    // verify by COUNTING: |A∩B| = number of the corpus doc's shingle
    // rows contained in the batch doc's set, so only the (small) batch
    // side's array rides the pair join — the corpus contributes the
    // same narrow rows the candidate stage already shaped. Ships
    // Σ_cand |C| narrow rows instead of BOTH sets' arrays per pair
    // (the array-intersect formulation measured 2.4 s vs 1.3 s for
    // this on the sf0.1 corpus — string arrays through a 100k-pair
    // shuffle are the cost, not the intersect arithmetic). Inner join
    // is lossless: every candidate pair shares ≥ 1 (prefix) shingle.
    val dupNew = cand
      .join(sets(exactNew, "N"), "_idN")
      .join(corpusRows.select(col("_idC"), col("_szC"), col("_ng")), Seq("_idC"))
      .filter(array_contains(col("_setN"), col("_ng")))
      .groupBy(col("_idN"), col("_idC"), col("_szC"), size(col("_setN")).as("_szN"))
      .agg(count(lit(1)).as("_inter"))
      .filter(col("_inter") / (col("_szN") + col("_szC") - col("_inter"))
        >= threshold)
      .select(col("_idN")).distinct()
    exactNew.join(dupNew, exactNew(id) === dupNew("_idN"), "left_anti")
  }

  /** Bloom-accelerated exact incremental dedup: `dedupAgainst`'s
    * exact tier with the corpus membership test collapsed into a
    * broadcast Bloom filter. Result is IDENTICAL to the plain
    * anti-join (the filter's false positives are re-checked by an
    * exact confirm join; false negatives don't exist), so the DuckDB
    * oracle for it is the anti-join itself.
    *
    * Why it matters at 100 TB: a daily batch is ≪ the corpus, and
    * almost all of it is novel. The plain anti-join shuffles
    * |batch| + |corpus-distinct| hash rows EVERY day; here the corpus
    * is folded ONCE into n·log₂(1/fpp)·1.44 bits (partial-aggregated
    * builder, driver merge, broadcast out), the batch probes it in a
    * map-only pass, and only the ~fpp·|batch| + |dups| survivors pay
    * the confirm join — its left side shrinks by 1/fpp. At 10⁹ corpus
    * docs and 1% fpp the filter is ~1.2 GB: raise fpp (the confirm
    * join absorbs it) or shard the filter by key range before
    * broadcast; the confirm join stays exact either way. The probe is
    * a UDF by necessity (no Catalyst surface for sketch membership) —
    * but over ONE xxhash64 long per row, not the text.
    */
  def dedupAgainstBloom(newDocs: DataFrame, corpus: DataFrame,
      id: String = "doc_id", text: String = "text",
      expectedItems: Long = 0L, fpp: Double = 0.01): DataFrame = {
    val spark = newDocs.sparkSession
    // count-star over parquet is row-group metadata, not a scan
    val expected = if (expectedItems > 0) expectedItems
      else math.max(corpus.count(), 1L)
    val bf = corpus.select(xxhash64(col(text)).as("_k"))
      .stat.bloomFilter("_k", expected, fpp)
    val bfB = spark.sparkContext.broadcast(bf)
    val might = udf((h: Long) => bfB.value.mightContainLong(h))
    val keyed = newDocs.withColumn("_k", xxhash64(col(text)))
    val novel = keyed.filter(!might(col("_k"))).drop("_k")
    val candidates = keyed.filter(might(col("_k"))).drop("_k")
    val confirmed = candidates.join(
      corpus.select(md5(col(text)).as("_h")).distinct(),
      md5(candidates(text)) === col("_h"), "left_anti")
    novel.unionByName(confirmed)
  }

  // ---- shingling + MinHash ----

  /** Word n-gram shingles (default 3). Short docs fall back to a
    * single whole-text shingle so they still participate. */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = TextAnalysis.tokens(lower(text))
    when(size(w) >= n,
      array_distinct(transform(
        sequence(lit(0), size(w) - n),
        i => array_join(slice(w, i + 1, lit(n)), " "))))
      .otherwise(array(lower(text)))
  }

  /** Distinct word-n-gram shingles as ROWS (_id, _ng), via the native
    * one-pass `shingle_set` kernel + explode: the whole shingler is a
    * per-row scalar inside whole-stage codegen — NO window, NO union,
    * NO shuffle, and re-evaluation by multiple consumers in one plan
    * costs a scan, not a pipeline. (History: an array-HOF shingler
    * was ~7.7 s of an 8.8 s run at sf0.1; its posexplode→lead-window
    * replacement fixed that but cost two shuffles per consumer —
    * measured 6 posexplode subtrees in the jaccard-join plan.)
    * Docs shorter than n tokens contribute one whole-text shingle;
    * NULL text explodes to no rows (a NULL shingle never equi-joins,
    * so consumers are output-identical — LlmSpec proves set equality
    * with the window formulation). The kernel's set is always
    * distinct. */
  def shingleRows(docs: DataFrame, id: String = "doc_id", text: String = "text",
      n: Int = 3): DataFrame =
    docs.select(col(id).as("_id"),
      explode(call_function("shingle_set", col(text), lit(n))).as("_ng"))

  /** The pre-kernel row formulation (posexplode tokens → n-grams via
    * lead() windows → union of short-doc fallbacks → distinct) — kept
    * as the independent reference implementation the kernel is
    * spec-checked against. */
  private[graft] def shingleRowsWindowed(docs: DataFrame, id: String, text: String,
      n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(id).as("_id"),
      posexplode(TextAnalysis.tokens(lower(col(text)))).as(Seq("_p", "_w")))
    val w = Window.partitionBy(col("_id")).orderBy(col("_p"))
    val leads = (1 until n).map(j => lead(col("_w"), j).over(w))
    val grams = toks
      .withColumn("_lastw", leads.last)
      .withColumn("_ng", concat_ws(" ", col("_w") +: leads: _*))
      .filter(col("_lastw").isNotNull) // windows that run off the end
      .select(col("_id"), col("_ng"))
    val short = docs
      .filter(!coalesce(size(TextAnalysis.tokens(lower(col(text)))) >= n, lit(false)))
      .filter(col(text).isNotNull)
      .select(col(id).as("_id"), lower(col(text)).as("_ng"))
    grams.union(short).distinct()
  }

  /** MinHash signature as an AGGREGATION over shingle rows:
    * input (_id, _ng), output (_id, _m0.._m{H-1}) where
    * _mi = min(hash(_ng, i)) — the i-th permutation's minimum.
    * Partial-aggregable (map-side combine, codegen'd HashAggregate),
    * shuffles only (id, H ints) — the 2-phase PM-partial → UM-final
    * pattern of the reference's aggregation engine. */
  def minhashSignatures(
      docs: DataFrame, id: String, text: String,
      numHashes: Int, shingleN: Int): DataFrame = {
    val sigCols = (0 until numHashes).map(i => min(hash(col("_ng"), lit(i))).as(s"_m$i"))
    shingleRows(docs, id, text, shingleN)
      .groupBy(col("_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Analytic P(miss) of banded MinHash-LSH for a pair at exact
    * Jaccard j: a band of r rows agrees with probability j^r, so the
    * pair collides in NO band with probability (1 − j^r)^b. This is
    * the number that makes oracle-equality checks honest: they are
    * corpus-pinned, and re-parameterizations must keep
    * minhashMissProb(threshold) small (ADVICE r3). */
  def minhashMissProb(j: Double, bands: Int, rowsPerBand: Int): Double =
    math.pow(1 - math.pow(j, rowsPerBand), bands)

  /** Smallest band count b (dividing numHashes) whose analytic miss
    * probability at Jaccard = threshold is ≤ maxMiss — the
    * derive-bands-from-threshold knob: more bands buy recall at the
    * cost of wider candidate sets. Throws if no divisor reaches the
    * target (threshold below banded LSH's effective range — use
    * `jaccardDupPairs` there instead). */
  def bandsForRecall(threshold: Double, numHashes: Int = 64,
      maxMiss: Double = 0.01): Int =
    (1 to numHashes).find(b => numHashes % b == 0 &&
        minhashMissProb(threshold, b, numHashes / b) <= maxMiss)
      .getOrElse(throw new IllegalArgumentException(
        s"no $numHashes-hash banding reaches miss ≤ $maxMiss at j = $threshold; " +
          "use the exact jaccardDupPairs join for thresholds below LSH's range"))

  /** Exploded (id, band-bucket) rows of the minhash64 signature — the
    * LSH candidate key, shared by the batch self-join dedup and the
    * streaming stream-vs-corpus probe. The signature kernel runs ONCE
    * per document (its own projection; CollapseProject does not inline
    * non-cheap expressions into the 16 band hashes). `keep` columns
    * ride along for consumers that need them (streaming carries ts +
    * text; the batch path keeps the rows narrow with keep = Nil). */
  def minhashBandBuckets(docs: DataFrame, id: String = "doc_id", text: String = "text",
      bands: Int = 16, shingleN: Int = 3, keep: Seq[String] = Nil): DataFrame = {
    val rowsPerBand = 64 / bands
    require(bands * rowsPerBand == 64, "bands must divide the 64-hash signature")
    val sigs = docs.select(col(id).as("_id") +: keep.map(col) :+
      call_function("minhash64", col(text), lit(shingleN)).as("_sig"): _*)
    sigs.select(col("_id") +: keep.map(col) :+
      explode(array((0 until bands).map { b =>
        hash(lit(b) +: (0 until rowsPerBand).map(r =>
          col("_sig").getItem(b * rowsPerBand + r)): _*)
      }: _*)).as("_bucket"): _*)
  }

  /** Exact Jaccard over two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    val union = size(array_union(a, b)).cast(DoubleType)
    when(union > 0, inter / union).otherwise(lit(0.0))
  }

  /** Banded MinHash-LSH near-duplicate pairs, verified by exact
    * n-gram Jaccard ≥ `threshold`. Returns (id_a, id_b, jaccard)
    * with id_a < id_b.
    *
    * Plan shape: sign scan → explode bands (small rows) → shuffle on
    * bucket → within-bucket pairs → join shingle ARRAYS back by id →
    * per-pair intersect verify. The only quadratic term is
    * within-bucket, which banding keeps small; a degenerate bucket
    * (e.g. millions of empty docs) should be excluded upstream by an
    * exact-dedup pass.
    */
  def minhashDupPairs(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3,
      threshold: Double = 0.6,
      driverMaxDocs: Long = DriverMaxDocs): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    require(threshold > 0, "threshold must be positive (zero-overlap pairs are never emitted)")
    require(numHashes == 64, "the minhash64 kernel signature is fixed at 64 hashes")
    setSimilarityJoin(docs, id, text, shingleN, Jaccard, threshold, driverMaxDocs,
      signatures = true)(minhashCandidates(_, bands, shingleN, _))(
      minhashDriverCandidates(_, bands, _))
  }

  /** LSH candidate pairs (id_a < id_b) of [[minhashDupPairs]] over an
    * (_id, _t) frame: every pair that shares a band bucket.
    *
    * Signatures: the native one-pass minhash64 kernel — no shingle
    * explode, no shuffle, no 64-min aggregate; bit-identical to
    * minhashSignatures (LlmSpec proves it). No explicit caching or
    * lineage truncation anywhere in this pipeline: consumers that
    * share a subtree share its work through Spark's exchange reuse —
    * an earlier localCheckpoint here leaked BlockManager storage
    * across the whole bench suite.
    *
    * `collapsed` (one representative per twin class) adds an explicit
    * exchange on the bucket: there the input is a small materialized
    * aggregate whose post-explode size AQE cannot see — without the
    * explicit exchange the bucket self-join degenerates to a one-task
    * broadcast join at scale. Straight off a scan the join's own
    * exchange sees the real exploded volume and parallelizes
    * correctly. */
  private def minhashCandidates(docs: DataFrame, bands: Int, shingleN: Int,
      collapsed: Boolean): DataFrame = {
    val b0 = minhashBandBuckets(docs, "_id", "_t", bands, shingleN)
    val bucketed = if (collapsed) b0.repartition(col("_bucket")) else b0
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a._bucket") === col("b._bucket") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct() // a pair can collide in several bands
  }

  /** [[minhashCandidates]] on the driver: every pair (id_a < id_b)
    * sharing a `_bucket` value — the [[minhashBandBuckets]] key, the
    * Murmur3 fold (seed 42) of the band number and its signature
    * rows, so two bands whose keys collide pair as they do there. The
    * buckets are runs of the sorted (bucket << 32 | doc) `long`s. */
  private def minhashDriverCandidates(d: DriverDocs, bands: Int, out: PairSet): Unit = {
    val rowsPerBand = 64 / bands
    val keyed = new Array[Long](d.n * bands)
    for (i <- 0 until d.n; b <- 0 until bands) {
      var h = Murmur3_x86_32.hashInt(b, 42)
      for (r <- 0 until rowsPerBand) h = Murmur3_x86_32.hashInt(d.sig(i * 64 + b * rowsPerBand + r), h)
      keyed(i * bands + b) = (h.toLong << 32) | i
    }
    java.util.Arrays.sort(keyed)
    var from = 0
    while (from < keyed.length) {
      var until = from + 1
      while (until < keyed.length && (keyed(until) >>> 32) == (keyed(from) >>> 32)) until += 1
      var a = from
      while (a < until) {
        var b = a + 1
        while (b < until) {
          // a doc may sit in one bucket twice
          if (keyed(a).toInt < keyed(b).toInt) out.add(keyed(a).toInt, keyed(b).toInt)
          b += 1
        }
        a += 1
      }
      from = until
    }
  }

  /** The similarity a text pair join verifies: its output column,
    * whether its pairs are directed, and its quotient over the
    * intersection size `_inter` = |A∩B| and the set sizes `_na` = |A|
    * and `_nb` = |B|. */
  private sealed abstract class Measure(val name: String, val directed: Boolean) {
    def value: Column
    /** [[value]] in driver arithmetic: the same int sums and one
      * double division, so the same double. */
    def of(inter: Int, na: Int, nb: Int): Double
  }

  /** |A∩B| / |A∪B|; undirected, so each pair once with id_a < id_b. */
  private case object Jaccard extends Measure("jaccard", directed = false) {
    def value: Column = col("_inter") / (col("_na") + col("_nb") - col("_inter"))
    def of(inter: Int, na: Int, nb: Int): Double = inter.toDouble / (na + nb - inter)
  }

  /** |A∩B| / |A|; DIRECTED — (a, b) and (b, a) are two pairs, and
    * id order must never be canonicalized (least/greatest would
    * corrupt the value). */
  private case object Containment extends Measure("containment", directed = true) {
    def value: Column = col("_inter").cast(DoubleType) / col("_na")
    def of(inter: Int, na: Int, nb: Int): Double = inter.toDouble / na
  }

  /** The set-similarity join of [[minhashDupPairs]],
    * [[jaccardDupPairs]] and [[containmentDupPairs]]: the pairs of
    * documents with a non-NULL id and a non-NULL text whose `m` value
    * is ≥ `threshold`, among the operator's candidates.
    *
    * DRIVER OR DISTRIBUTED, one gate ([[graft.operators.Fixpoint.gate]],
    * the one shared with the fixpoint operators): when the (id, text)
    * frame's optimized size estimate is over the budget —
    * `driverMaxDocs` rows, ceilinged by `spark.driver.maxResultSize` —
    * the distributed plan below runs unchanged, with no gate job;
    * otherwise ONE bounded-collect job returns the rows (no persist,
    * no staging) and the driver step computes the pairs. It uses the
    * distributed path's kernels and arithmetic, so it returns the
    * same rows bit for bit (FixpointSpec pins the two against each
    * other): `TextKernels.shingleSet` hashed by XXH64 seed 42 for the
    * sets, `TextKernels.minhash` and the Murmur3 `hash(b, sig…)` fold
    * for band keys, the operator's own candidate rule (band buckets;
    * the df-ranked prefix with the length and positional bounds), and
    * [[Measure.of]] for the value, where `_inter` counts distinct
    * hashes and `_n` distinct strings. It falls back to the
    * distributed path for non-integral ids (no job at all), repeated
    * ids, or more than `driverMaxDocs` candidate pairs (k identical
    * texts make k² pairs). Its result is ONE partition
    * ([[graft.operators.Fixpoint.localResult]]): a handful of pair
    * rows spread over `defaultParallelism` partitions would make a
    * consumer's sort sample and shuffle them.
    *
    * DISTRIBUTED: exact-twin collapse → the operator's `candidates`
    * (id_a, id_b) over an (_id, _t) frame and whether that frame is
    * `collapsed` → one exact [[verify]] under `m`.
    *
    * EXACT-TWIN COLLAPSE (round 12): identical texts share the
    * signature, every band bucket, every prefix shingle and the
    * shingle set, so a class of k copies is a clique of value-1.0
    * pairs (k·(k−1) directed ones for containment) that candidate
    * generation would rediscover through every shared key. Classes
    * are keyed by md5(text) ([[textClasses]]); candidates and verify
    * run over one representative per class, twin-class pairs are
    * emitted directly (each exactly once, no banding, no distinct),
    * and qualifying representative pairs expand to member pairs —
    * cross-class similarity is a pure function of the two contents.
    * NULL texts never verify into a pair (NULL shingle set) and a
    * NULL id never pairs; both are dropped up front, so neither a
    * NULL-heavy corpus nor a NULL-id twin can form a degenerate class.
    * Reference analog: the dictionary scan dedups tokens before its
    * join (`dbcon/joblist/pdictionaryscan.cpp`).
    *
    * ADAPTIVE: one cheap probe job (any md5 class with ≥ 2 members?)
    * picks the plan. A clone-free corpus — the common case after an
    * upstream exact-dedup pass — runs `candidates` straight over the
    * NULL-free docs (measured: the collapse machinery alone cost
    * ~1.3 s at sf0.1 for nothing); a cloned corpus pays one narrow
    * groupBy and gets O(classes) candidate work instead of O(docs).
    * Not for AnnSearch (class value is a computed self-cosine, not 1.0) or bandedHashPairs (hamming). */
  private def setSimilarityJoin(docs: DataFrame, id: String, text: String, shingleN: Int,
      m: Measure, threshold: Double, driverMaxDocs: Long, signatures: Boolean = false)(
      candidates: (DataFrame, Boolean) => DataFrame)(
      driverCandidates: (DriverDocs, PairSet) => Unit): DataFrame = {
    val named = docs.filter(col(id).isNotNull && col(text).isNotNull)
      .select(col(id), col(text))
    val idField = named.schema.head
    val integral = Fixpoint.integral(idField.dataType)
    Fixpoint.gate(named, if (integral) driverMaxDocs else 0L, byEstimate = true)
      .flatMap(driverJoin(_, idField.dataType, shingleN, m, threshold, driverMaxDocs,
        signatures)(driverCandidates)) match {
      case Some(rows) =>
        Fixpoint.localResult(docs.sparkSession, rows, StructType(Seq(
          idField.copy(name = "id_a"), idField.copy(name = "id_b"),
          StructField(m.name, DoubleType))))
      case None =>
        val (base, reps, hasTwins) = textClasses(named, id, text)
        def pairs(frame: DataFrame, collapsed: Boolean) = {
          val d = frame.select(col("_id"), col("_t"))
          verify(candidates(d, collapsed), d, shingleN, m, threshold)
        }
        if (!hasTwins) pairs(base, collapsed = false)
        else twinClassPairs(base, m, threshold)
          .unionByName(expandTextClassPairs(pairs(reps, collapsed = true), reps, base, m))
    }
  }

  /** Driver-step budget of the set-similarity join: documents
    * collected, and candidate pairs held. Set at the measured
    * crossover (4-vCPU host, `local[4]`, wall time of one collected
    * call, driver step / distributed plan, two runs each), measured
    * again once the driver step ran over primitive arrays, on sf0.1's
    * documents scaled by `ScaleUp` (variant replicas, the first two and
    * four of its ×10 copy; jaccard at 0.6, containment at 0.8).
    * 10,000 docs (6,024 jaccard pairs): jaccard 0.69–1.44 / 3.05–7.51 s, minhash
    * 0.45–0.62 / 1.42–2.76 s, containment 1.00–1.16 / 3.18–4.29 s.
    * 20,000 docs (34,096 pairs): jaccard 6.25–7.49 / 5.91–6.55 s,
    * minhash 0.79–0.84 / 1.91–2.41 s, containment 7.42–8.25 /
    * 6.10–6.19 s. The copy's variants make candidates grow faster
    * than documents, and the one-thread prefix joins lose by 20,000
    * documents, so the bound stays at 10,000. The boxed driver step
    * before it measured jaccard 3.9–4.2 / 4.7–4.8 s at 10,000 docs
    * and 14.2–15.9 / 11.2–12.5 s at 20,000. */
  private val DriverMaxDocs = 10000L

  /** The collected docs of the driver step, indexed in ascending id
    * order (so doc order IS id order): ids as `long`s, and per doc
    * the `shingle_set` kernel's distinct strings hashed by XXH64 seed
    * 42 — exactly the `_set` of [[hashedShingleSets]], whose length is
    * `_n` — held ascending in one flat array, doc i's at
    * `start(i) until start(i + 1)`. Each text is shingled once; with
    * `signatures` the same distinct strings also fold into doc i's
    * [[TextKernels.minhash]] signature at `sig(64·i until 64·i + 64)`
    * (a min over the set is the min over the multiset the kernel
    * walks, so the signature is the kernel's bit for bit). */
  private final class DriverDocs(val key: Array[Long], texts: Array[String],
      val shingleN: Int, signatures: Boolean) {
    val n: Int = key.length
    val start = new Array[Int](n + 1)
    val sig: Array[Int] = if (signatures) Array.fill(64 * n)(Int.MaxValue) else null
    private var buf = new Array[Long](math.max(16, 8 * n))
    for (i <- 0 until n) {
      val a = TextKernels.shingleSet(texts(i), shingleN)
      val from = start(i)
      if (from + a.numElements > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, from + a.numElements))
      var k = 0
      while (k < a.numElements) {
        val u = a.getUTF8String(k)
        buf(from + k) = XXH64.hashUTF8String(u, 42L)
        if (signatures) TextKernels.minhashAdd(sig, 64 * i, u)
        k += 1
      }
      start(i + 1) = from + a.numElements
      java.util.Arrays.sort(buf, from, start(i + 1))
    }
    /** Every doc's hashes, ascending within each doc. */
    val hashes: Array[Long] = java.util.Arrays.copyOf(buf, start(n))
    buf = null

    /** `_n` of doc i. */
    def size(i: Int): Int = start(i + 1) - start(i)

    /** |A∩B| over the distinct hashes of docs x and y. */
    def inter(x: Int, y: Int): Int = {
      var i = start(x)
      var j = start(y)
      var k = 0
      while (i < start(x + 1) && j < start(y + 1)) {
        val a = hashes(i)
        if (a < hashes(j)) i += 1
        else if (a > hashes(j)) j += 1
        else {
          k += 1
          while (i < start(x + 1) && hashes(i) == a) i += 1
          while (j < start(y + 1) && hashes(j) == a) j += 1
        }
      }
      k
    }
  }

  /** Distinct candidate pairs of collected-doc indices, at most `max`
    * of them: one more aborts the driver step ([[TooManyPairs]]). */
  private final class PairSet(max: Long) {
    private val held = new LongIds()
    def add(i: Int, j: Int): Unit =
      if (held.add((i.toLong << 32) | j) && held.size > max) throw TooManyPairs
    /** The pairs as (i << 32 | j), ascending: (i, j) order. */
    def sorted: Array[Long] = { val a = held.toArray; java.util.Arrays.sort(a); a }
  }

  private object TooManyPairs extends scala.util.control.ControlThrowable

  /** Driver step of [[setSimilarityJoin]] over the collected (id,
    * text) rows of integral `idType`: `candidates`, then the exact
    * verify — |A∩B| over the distinct hashes, [[Measure.of]], the
    * threshold — as rows (id_a, id_b, value) sorted by ids. None (run
    * distributed) when an id repeats or the candidates pass
    * `maxPairs`. */
  private def driverJoin(rows: Array[InternalRow], idType: DataType, shingleN: Int,
      m: Measure, threshold: Double, maxPairs: Long, signatures: Boolean)(
      candidates: (DriverDocs, PairSet) => Unit): Option[Seq[Row]] = {
    val key = Array.tabulate(rows.length)(r => Fixpoint.longAt(rows(r), 0, idType))
    val byRow = new LongIds(rows.length)
    key.foreach(byRow.add)
    if (byRow.size != rows.length) None
    else {
      val sorted = key.clone
      java.util.Arrays.sort(sorted)
      val d = new DriverDocs(sorted,
        sorted.map(k => rows(byRow.find(k)).getUTF8String(1).toString), shingleN, signatures)
      val cand = new PairSet(maxPairs)
      try candidates(d, cand) catch { case TooManyPairs => return None }
      Some(cand.sorted.toSeq.flatMap { p =>
        val (x, y) = ((p >>> 32).toInt, p.toInt)
        val v = m.of(d.inter(x, y), d.size(x), d.size(y))
        if (v >= threshold)
          Some(Row(Fixpoint.ofLong(d.key(x), idType), Fixpoint.ofLong(d.key(y), idType), v))
        else None
      })
    }
  }

  /** (base, reps, hasTwins) of the md5(text) exact-twin collapse over
    * the NULL-free (id, text) frame `named`: `base` is its (_id, _t,
    * _ck) projection; `reps` is one representative (min id) per
    * distinct content — or `base` itself when the probe finds no
    * class with ≥ 2 members (collapse would be pure overhead). */
  private def textClasses(named: DataFrame, id: String, text: String)
      : (DataFrame, DataFrame, Boolean) = {
    val base = named
      .select(col(id).as("_id"), col(text).as("_t"), md5(col(text)).as("_ck"))
    val hasTwins = !base.groupBy(col("_ck")).agg(count(lit(1)).as("_k"))
      .filter(col("_k") > 1).isEmpty
    val reps =
      if (!hasTwins) base
      else base.groupBy(col("_ck"))
        .agg(min(col("_id")).as("_id"), first(col("_t")).as("_t"))
    (base, reps, hasTwins)
  }

  /** Twin-class member pairs (`a < b`, or `a ≠ b` when `m` is
    * directed). The pair's verify quotient — jaccard |S|/(|S|+|S|−|S|),
    * containment |S|/|S| over the class's shingle set S — is emitted
    * as the LITERAL 1.0 (r15, guide §2.4): the shingle kernel returns
    * ≥ 1 element for every non-NULL text (n-gram path emits ≥ 1 gram,
    * the short-text fallback emits the whole text —
    * `TextKernels.shingleSet`), `base` is NULL-filtered by
    * [[textClasses]], and x/x = 1.0 exactly in IEEE for any nonzero
    * finite x — so no kernel pass or join is spent computing a
    * constant (plan diff in plans/r15). The threshold filter stays
    * (constant-folded) so a pathological threshold > 1 still yields
    * no twin pairs. */
  private def twinClassPairs(base: DataFrame, m: Measure, threshold: Double): DataFrame = {
    val members = base.select(col("_ck"), col("_id"))
    val pairPred =
      if (m.directed) col("a._id") =!= col("b._id")
      else col("a._id") < col("b._id")
    members.as("a").join(members.as("b"),
        col("a._ck") === col("b._ck") && pairPred)
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        lit(1.0).as(m.name))
      .filter(col(m.name) >= threshold)
  }

  /** Expand qualifying class-representative pairs to member pairs:
    * classes are disjoint, so each member pair appears exactly once,
    * with the similarity computed ONCE per class pair (identical
    * texts ⇒ the member-pair value is the same double by
    * construction). Undirected measures restore id order with
    * least/greatest; a directed one keeps the (id_a → id_b)
    * orientation — that direction IS the semantics. */
  private def expandTextClassPairs(repPairs: DataFrame, reps: DataFrame,
      base: DataFrame, m: Measure): DataFrame = {
    // ONE rep→member map instead of the former four distinct build
    // frames (rep→class ×2, class→member ×2 — r15, guide §2.4/§3.1):
    // `classMap` joins members to their class representative once;
    // both expansion joins then build from the SAME frame modulo
    // column renames, so the two builds canonicalize identically and
    // AQE's exchange reuse materializes one build instead of four
    // (plan diff in plans/r15: 4 BroadcastExchanges → 1 + reuse on
    // the expansion subtree; one fewer corpus-scan subtree, since the
    // rep-key frames re-derived `reps` — a groupBy over the full base
    // — twice).
    val members = base.select(col("_ck"), col("_id"))
    val repKey = reps.select(col("_id").as("_rid"), col("_ck"))
    val classMap = members.join(repKey, "_ck")
      .select(col("_rid"), col("_id").as("_mid"))
    val build = buildSide(base)
    val expanded = repPairs
      .join(build(classMap.select(col("_rid").as("id_a"), col("_mid").as("_ia"))), "id_a")
      .join(build(classMap.select(col("_rid").as("id_b"), col("_mid").as("_ib"))), "id_b")
    if (m.directed)
      expanded.select(col("_ia").as("id_a"), col("_ib").as("id_b"), col(m.name))
    else
      expanded.select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col(m.name))
  }

  /** Exact verify of candidate pairs (id_a, id_b) drawn from the
    * (_id, _t) frame `docs`: join each side's HASHED shingle array
    * (one shingle_set kernel call per doc, doc-count narrow rows) and
    * intersect per pair — Σ_cand(|A|+|B|) element work, NO exploded-
    * row shuffle (the row-join alternative materializes Σ_cand|A|
    * rows — measured 5× this plan's cost). Assumes a document's
    * shingle set fits a row comfortably — true for documents, the
    * operator's domain. Keeps pairs whose `m` value is ≥ `threshold`.
    *
    * Both set sides are [[buildSide]] builds (r14): the default
    * SortMergeJoin SORTS the candidate stream WITH both shingle
    * arrays aboard — at sf10-doubled that sort spilled ~10⁸
    * array-carrying rows and ran a 75 GB disk out; hash-building the
    * docs-sized side streams the big side through unsorted.
    *
    * Deliberately NOT staged to scratch (r16, measured): the hashed
    * sets are ~8 bytes per shingle ≈ 8× the compressed text bytes —
    * materializing them costs more than re-running the codegen'd
    * xxhash kernel over the (small, compressed) text scan, at BOTH
    * measured scales (sf0.1: staged 1.13 s vs 0.90; sf1: 2.71 vs
    * 1.91 — Prof minhash_full_staged vs minhash_full, and the byte
    * ratio is scale-invariant). */
  private def verify(cand: DataFrame, docs: DataFrame, shingleN: Int, m: Measure,
      threshold: Double): DataFrame = {
    val sets = hashedShingleSets(docs, shingleN)
    val build = buildSide(docs)
    def side(s: String) = build(sets.select(col("_id").as(s"id_$s"),
      col("_n").as(s"_n$s"), col("_set").as(s"_set$s")))
    cand.join(side("a"), "id_a").join(side("b"), "id_b")
      .withColumn("_inter", size(array_intersect(col("_seta"), col("_setb"))))
      .withColumn(m.name, m.value)
      .filter(col(m.name) >= threshold)
      .select(col("id_a"), col("id_b"), col(m.name))
  }

  /** EXACT n-gram Jaccard similarity self-join (every pair with
    * jaccard ≥ threshold, recall 1.0 at ANY threshold) — the
    * set-similarity-join complement of `minhashDupPairs`, for
    * thresholds below banded LSH's effective range (low-j pairs
    * collide in no band with useful probability).
    *
    * Scale shape (SSJoin/PPJoin family, public literature):
    *  - candidates come from the shingle co-occurrence join, and with
    *    `prefixFilter` on (the default) only each document's PREFIX
    *    joins ([[rankedPrefix]]): by pigeonhole two qualifying sets
    *    must share a prefix shingle — recall stays 1.0 while the
    *    join volume drops from Σ df² over ALL shingles to Σ df² over
    *    the rare prefix shingles (the frequent shingles that dominate
    *    the quadratic term never join);
    *  - the length filter min(|A|,|B|) ≥ t·max(|A|,|B|) (another
    *    J ≥ t consequence) prunes candidates before the verify join;
    *  - exact |A∩B| is then counted only for surviving candidates.
    * Worst case (corpus of identical docs) is inherently quadratic in
    * the DUPLICATE CLASS size — the twin collapse of
    * [[setSimilarityJoin]] emits such cliques directly. */
  def jaccardDupPairs(
      docs: DataFrame, threshold: Double,
      id: String = "doc_id", text: String = "text", shingleN: Int = 3,
      prefixFilter: Boolean = true, driverMaxDocs: Long = DriverMaxDocs): DataFrame = {
    require(threshold > 0, "threshold must be positive (zero-overlap pairs are never emitted)")
    setSimilarityJoin(docs, id, text, shingleN, Jaccard, threshold, driverMaxDocs)((d, _) =>
      jaccardCandidates(d, shingleN, threshold, prefixFilter))(
      jaccardDriverCandidates(_, threshold, prefixFilter, _))
  }

  /** Per-doc shingle sets of an (_id, _t) frame for the candidate
    * explode and the exact verify, hashed element-wise to 64-bit
    * longs: candidate generation and the per-pair intersect only need
    * element EQUALITY, and 8-byte longs cut the candidate-join row
    * payload ~4× vs trigram strings AND make the intersect
    * integer-compare bound (the r12 verdict's heap-sensitivity finding
    * on the exact-jaccard family: the verify join carries BOTH full
    * shingle arrays on every candidate pair). `_n` (the set size,
    * hence every |A|/|B| denominator) is taken from the ORIGINAL
    * string array, so a 2⁻⁶⁴-improbable intra-doc hash collision
    * cannot shift it. */
  private def hashedShingleSets(docs: DataFrame, shingleN: Int): DataFrame =
    docs.select(col("_id"),
        call_function("shingle_set", col("_t"), lit(shingleN)).as("_s0"))
      .select(col("_id"), size(col("_s0")).as("_n"),
        transform(col("_s0"), x => xxhash64(x)).as("_set"))

  /** Build-side row cap for the BOUNDED per-doc frames (hashed
    * shingle sets, class keys) that the verify/expansion joins attach
    * to huge candidate/pair streams: BROADCAST while the frame is
    * modest (≤ [[MaxBroadcastDocs]] rows; hashed sets are ≤ ~1 KB/doc,
    * so the cap is ~1.5 GB — ordinary executor sizing), else a
    * shuffled hash build. Broadcasting removes EVERY exchange of the
    * pair stream: at sf10-doubled the two array-carrying exchanges of
    * the sort-merge/shuffled-hash verify alone exceeded the box's
    * 75 GB of free disk; on a cluster they would be the dominant
    * network cost. Above the cap the shuffled-hash build keeps the
    * stream unsorted (the r14 spill fix) and scales without a driver
    * round-trip. */
  private val MaxBroadcastDocs = 1500000L

  /** Broadcast row budget for the bounded per-doc frames: broadcast
    * builds collect to the driver, so the cap is the driver-collect
    * budget ([[graft.operators.Fixpoint.driverRowBudget]]) at the
    * ~1 KB/doc frame estimate — a flat cap that ignored
    * `spark.driver.maxResultSize` would broadcast frames the driver
    * then refuses at runtime (ADVICE r14). Above budget the
    * shuffle_hash build takes over — still sort-free, no driver
    * round-trip. */
  private[graft] def broadcastDocBudget(spark: org.apache.spark.sql.SparkSession): Long =
    graft.operators.Fixpoint.driverRowBudget(spark, MaxBroadcastDocs, 1024L)

  /** Build-side strategy for the frames derived from `docs`:
    * broadcast while `docs` has at most [[broadcastDocBudget]] rows,
    * else a shuffle_hash build. The row count is the one extra cheap
    * job — a column-pruned count, run lazily on first use and shared
    * by every frame the returned strategy builds — and is skipped outright
    * when the optimized plan's size estimate is already ≤ half the
    * broadcast byte budget (hashed-shingle/class-key frames are ≲ the
    * source text bytes, so estimate-under-budget ⇒ frames-under-
    * budget: the gate-scale case runs no probe job at all). */
  private def buildSide(docs: DataFrame): DataFrame => DataFrame = {
    val budget = broadcastDocBudget(docs.sparkSession)
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    lazy val rows = if (est <= BigInt(budget) * 1024 / 2) 0L else docs.count()
    df => if (rows <= budget) broadcast(df) else df.hint("shuffle_hash")
  }

  // Tried and REJECTED (r16, measured — see OPTIMIZATION_r16.md):
  // (a) staging the hashed sets to scratch so consumers share one
  // kernel pass — the sets are ~8 B/shingle ≈ 8× the compressed text,
  // and writing+re-reading them measured slower than re-running the
  // codegen'd kernel at sf0.1 AND sf1; (b) a driver-built broadcast
  // rank map replacing the df-join + row_number window of the prefix
  // ranking — the per-row Scala UDF (binary search + sort + tuple
  // explode) measured 1.2× slower at sf0.1 and 4.4× slower at sf1
  // than the vectorized window it replaced.

  /** The candidate stage shared by [[jaccardDupPairs]] and
    * [[containmentDupPairs]]: (ranked, prefix) hashed shingle rows
    * (_id, _sz, _ng, _r) of an (_id, _t) frame, where `_r` is the
    * shingle's rank in its doc under one global canonical order —
    * ascending document frequency, ties by shingle value, identical on
    * every executor, no driver state — and `prefix` keeps each doc's
    * first [[prefixLength]] rows. Without `prefixFilter` both are
    * every row with `_r` = 1.
    *
    * Rows explode from the HASHED sets: the co-occurrence join
    * shuffles 8-byte long keys instead of trigram strings (the df-count
    * table and the pair join both shrink ~4×); any consistent total
    * order works for the prefix filter, so hash-space order is as
    * valid as string order. `_sz` rides along from the kernel's array
    * size (no extra window or join). `_df` comes from a
    * partial-aggregable groupBy joined back with a shuffle-hash build
    * on the (distinct-shingle-sized) count table — NOT a
    * count-over-partition window: the window formulation full-sorts
    * every shingle row by _ng before counting, and that sort was the
    * dominant candidate-stage cost (measured 5.4 s → 3.4 s at sf0.1);
    * the groupBy reduces map-side and the hash join never sorts. Rank
    * then needs the one sort by (_id → _df, _ng). */
  private def rankedPrefix(docs: DataFrame, shingleN: Int, threshold: Double,
      prefixFilter: Boolean): (DataFrame, DataFrame) = {
    val sh = hashedShingleSets(docs, shingleN)
      .select(col("_id"), col("_n").as("_sz"), explode(col("_set")).as("_ng"))
    if (!prefixFilter) {
      val all = sh.withColumn("_r", lit(1L))
      (all, all)
    } else {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("_id")).orderBy(col("_df"), col("_ng"))
      val dfTable = sh.groupBy(col("_ng")).agg(count(lit(1)).as("_df"))
      val ranked = sh.join(dfTable.hint("shuffle_hash"), Seq("_ng"))
        .withColumn("_r", row_number().over(w))
        .select(col("_id"), col("_sz"), col("_ng"), col("_r"))
      (ranked, ranked.filter(col("_r") <= prefixLength(col("_sz"), threshold)))
    }
  }

  /** Pigeonhole prefix length |A| − ⌈t·|A|⌉ + 1 of a set of size `sz`:
    * J(A,B) ≥ t and |A∩B|/|A| ≥ t both force |A∩B| ≥ ⌈t·|A|⌉, so a
    * qualifying B must hit one of A's first this-many elements in ANY
    * fixed order. The ceil argument backs off 1e-9 so an FP-inexact
    * t·|A| that lands a hair ABOVE an integer cannot shorten the
    * prefix below the bound (errs one longer, never shorter). */
  private def prefixLength(sz: Column, threshold: Double): Column =
    sz - ceil(lit(threshold) * sz - lit(1e-9)) + 1

  /** Candidate pairs of `jaccardDupPairs` (before exact verify):
    * distinct (id_a < id_b) sharing ≥ 1 joined shingle and passing
    * the J ≥ t length bound. With `prefixFilter`, only prefix
    * shingles join. */
  private def jaccardCandidates(docs: DataFrame, shingleN: Int, threshold: Double,
      prefixFilter: Boolean): DataFrame = {
    val side = rankedPrefix(docs, shingleN, threshold, prefixFilter)._2
    // Join residual, BEFORE the distinct's shuffle:
    //  - length bound: min(|A|,|B|) ≥ t·max(|A|,|B|);
    //  - positional bound (the PPJoin refinement, public literature —
    //    Xiao et al., "Efficient Similarity Joins for Near Duplicate
    //    Detection"): distinct sets share the global canonical order,
    //    so if the colliding shingle sits at rank ra in A and rb in B,
    //    every further common element lies after BOTH ranks and
    //    |A∩B| ≤ 1 + min(|A|−ra, |B|−rb). J ≥ t forces
    //    |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉; rows whose bound can't reach it
    //    never qualify THROUGH THIS COLLISION — and a qualifying
    //    pair's first shared prefix element always passes, so recall
    //    stays 1.0 (LlmSpec asserts equality with the unfiltered
    //    join). The same 1e-9 backoff keeps the FP ceil conservative.
    val overlapNeed =
      ceil(lit(threshold / (1 + threshold)) * (col("_sza") + col("_szb")) - lit(1e-9))
    val overlapBound =
      lit(1L) + least(col("_sza") - col("_ra"), col("_szb") - col("_rb"))
    side.select(col("_id").as("id_a"), col("_sz").as("_sza"),
        col("_ng"), col("_r").as("_ra"))
      .join(side.select(col("_id").as("id_b"), col("_sz").as("_szb"),
        col("_ng"), col("_r").as("_rb")), Seq("_ng"))
      .filter(col("id_a") < col("id_b") &&
        least(col("_sza"), col("_szb")).cast(DoubleType) >=
          lit(threshold) * greatest(col("_sza"), col("_szb")) &&
        overlapBound >= overlapNeed)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** [[rankedPrefix]] on the driver: the entries of `d` as postings
    * keyed by shingle (a dense id per distinct hash), each entry p the
    * `value` of its doc `doc(p)` at rank `rank(p)` — its place in its
    * doc under the global (df asc, hash asc) order, 1 for every entry
    * without `prefixFilter`. `prefix` posts each doc's first
    * [[prefixLength]] entries, `all` every entry. The order comes from
    * one counting sort by df over the hash-sorted distinct shingles. */
  private final class DriverPostings(d: DriverDocs, threshold: Double, prefixFilter: Boolean) {
    private val e = d.hashes.length
    val doc = new Array[Int](e)
    for (i <- 0 until d.n) java.util.Arrays.fill(doc, d.start(i), d.start(i + 1), i)
    private val shingles = new LongIds(e)
    /** Entry p's shingle id, entries in rank order within each doc. */
    private val sid = d.hashes.map(shingles.id)
    if (prefixFilter) {
      val u = shingles.size
      val df = new Array[Int](u)
      sid.foreach(s => df(s) += 1)
      val byHash = shingles.toArray
      java.util.Arrays.sort(byHash)
      // stable counting sort of the hash-sorted shingles by df: order(s)
      // is shingle s's place under (df asc, hash asc)
      val at = new Array[Int](df.foldLeft(0)(math.max) + 2) // no docs: no shingles
      df.foreach(f => at(f + 1) += 1)
      for (f <- 1 until at.length) at(f) += at(f - 1)
      val order, byOrder = new Array[Int](u)
      byHash.foreach { h =>
        val s = shingles.find(h)
        order(s) = at(df(s))
        byOrder(order(s)) = s
        at(df(s)) += 1
      }
      for (i <- 0 until d.n) {
        val (from, until) = (d.start(i), d.start(i + 1))
        for (p <- from until until) sid(p) = order(sid(p))
        java.util.Arrays.sort(sid, from, until)
        for (p <- from until until) sid(p) = byOrder(sid(p))
      }
    }

    def rank(p: Int): Int = if (prefixFilter) p - d.start(doc(p)) + 1 else 1

    // the prefix bound of `prefixLength`, in the same arithmetic
    private def inPrefix(p: Int): Boolean = !prefixFilter || {
      val sz = d.size(doc(p))
      rank(p) <= sz - math.ceil(threshold * sz - 1e-9).toLong + 1
    }

    private def post(keep: Array[Int]): Csr = Csr(shingles.size, keep.map(sid(_)), keep, keep.length)
    val prefix: Csr = post(Array.range(0, e).filter(inPrefix))
    lazy val all: Csr = post(Array.range(0, e))

    /** `f(a, b)` for every entry a of `probe` and b of `index` under
      * one shingle. */
    def collisions(probe: Csr, index: Csr)(f: (Int, Int) => Unit): Unit = {
      var g = 0
      while (g < shingles.size) {
        var a = probe.start(g)
        while (a < probe.start(g + 1)) {
          var b = index.start(g)
          while (b < index.start(g + 1)) { f(probe.values(a), index.values(b)); b += 1 }
          a += 1
        }
        g += 1
      }
    }
  }

  /** [[jaccardCandidates]] on the driver: prefix × prefix collisions
    * (id_a < id_b) passing the same length and positional bounds. */
  private def jaccardDriverCandidates(d: DriverDocs, threshold: Double,
      prefixFilter: Boolean, out: PairSet): Unit = {
    val share = threshold / (1 + threshold)
    val ps = new DriverPostings(d, threshold, prefixFilter)
    ps.collisions(ps.prefix, ps.prefix) { (pa, pb) =>
      val x = ps.doc(pa)
      val y = ps.doc(pb)
      if (x < y) {
        val sza = d.size(x)
        val szb = d.size(y)
        if (math.min(sza, szb).toDouble >= threshold * math.max(sza, szb) &&
            1L + math.min(sza - ps.rank(pa), szb - ps.rank(pb)) >=
              math.ceil(share * (sza + szb) - 1e-9).toLong)
          out.add(x, y)
      }
    }
  }

  /** Candidate-pair count of `jaccardDupPairs` at the given
    * parameterization — the measurable prefix-filter win. */
  def jaccardCandidateCount(docs: DataFrame, threshold: Double,
      id: String = "doc_id", text: String = "text", shingleN: Int = 3,
      prefixFilter: Boolean = true): Long =
    jaccardCandidates(docs.select(col(id).as("_id"), col(text).as("_t")),
      shingleN, threshold, prefixFilter).count()

  /** Asymmetric CONTAINMENT near-dup join: directed pairs (a, b) with
    * |A∩B| / |A| ≥ t — the quote-inclusion / subset-duplication case
    * Jaccard structurally misses (a short doc fully embedded in a long
    * one has J = |A|/|B| → 0 but containment 1.0). Classic set-
    * similarity-join literature (probe-count / asymmetric PPJoin).
    *
    * Scale shape: the probe side explodes only each doc's PREFIX
    * under the global (df asc, shingle) canonical order
    * ([[rankedPrefix]]; the pigeonhole bound for containment: if no
    * prefix element hits B, at most ⌈t·|A|⌉ − 1 common elements
    * remain, below the requirement). The index side must carry ALL
    * shingles (containment puts no lower bound on how much of B
    * matters), so the join is probe-prefix × inverted-index — rare
    * shingles probe, the positional bound
    * 1 + min(|A|−ra, |B|−rb) ≥ ⌈t·|A|⌉ and the length bound
    * |B| ≥ t·|A| prune before the distinct's shuffle. The first
    * common element in canonical order always survives both bounds,
    * so recall is 1.0 (LlmSpec asserts equality with the unfiltered
    * join). Verify intersects the two shingle ARRAYS per candidate —
    * no exploded-row shuffle. */
  def containmentDupPairs(docs: DataFrame, threshold: Double,
      id: String = "doc_id", text: String = "text", shingleN: Int = 3,
      prefixFilter: Boolean = true, driverMaxDocs: Long = DriverMaxDocs): DataFrame = {
    require(threshold > 0 && threshold <= 1, "containment threshold in (0, 1]")
    setSimilarityJoin(docs, id, text, shingleN, Containment, threshold, driverMaxDocs)((d, _) =>
      containmentCandidates(d, shingleN, threshold, prefixFilter))(
      containmentDriverCandidates(_, threshold, prefixFilter, _))
  }

  /** Directed candidate pairs (id_a ≠ id_b) of [[containmentDupPairs]]:
    * the probe-prefix × inverted-index join over an (_id, _t) frame. */
  private def containmentCandidates(docs: DataFrame, shingleN: Int, threshold: Double,
      prefixFilter: Boolean): DataFrame = {
    val (ranked, prefix) = rankedPrefix(docs, shingleN, threshold, prefixFilter)
    val probe = prefix.select(col("_id").as("id_a"), col("_sz").as("_sza"),
      col("_ng"), col("_r").as("_ra"))
    val index = ranked.select(col("_id").as("id_b"), col("_sz").as("_szb"),
      col("_ng"), col("_r").as("_rb"))
    val need = ceil(lit(threshold) * col("_sza") - lit(1e-9))
    val bound = lit(1L) + least(col("_sza") - col("_ra"), col("_szb") - col("_rb"))
    probe.join(index, Seq("_ng"))
      .filter(col("id_a") =!= col("id_b") &&
        col("_szb").cast(DoubleType) >= lit(threshold) * col("_sza") &&
        bound >= need)
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** [[containmentCandidates]] on the driver: prefix × all-entries
    * collisions (id_a ≠ id_b) passing the same bounds. */
  private def containmentDriverCandidates(d: DriverDocs, threshold: Double,
      prefixFilter: Boolean, out: PairSet): Unit = {
    val ps = new DriverPostings(d, threshold, prefixFilter)
    ps.collisions(ps.prefix, ps.all) { (pa, pb) =>
      val x = ps.doc(pa)
      val y = ps.doc(pb)
      if (x != y) {
        val sza = d.size(x)
        val szb = d.size(y)
        if (szb.toDouble >= threshold * sza &&
            1L + math.min(sza - ps.rank(pa), szb - ps.rank(pb)) >=
              math.ceil(threshold * sza - 1e-9).toLong)
          out.add(x, y)
      }
    }
  }

  /** Resolution policy for [[containmentDupPairs]] output: drop every
    * doc contained in another (keep maximal supersets); when
    * containment is MUTUAL (near-identical sets, both directions
    * emitted) keep the smaller id so exact-dup groups keep exactly one
    * member. Chains resolve naturally: a ⊆ b ⊆ c drops a and b, keeps
    * c. The pair table is the only shuffled input — docs are
    * anti-joined once against the (distinct, pair-sized) drop set. */
  def dropContained(docs: DataFrame, pairs: DataFrame,
      id: String = "doc_id"): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b"))
    val drop = p.as("x").join(p.as("y"),
        col("x.id_a") === col("y.id_b") && col("x.id_b") === col("y.id_a"),
        "left_outer")
      .filter(col("y.id_a").isNull || col("x.id_a") > col("x.id_b"))
      .select(col("x.id_a").as("_drop")).distinct()
    docs.join(drop, docs(id) === col("_drop"), "left_anti")
  }

  // ---- cluster resolution (pairs → components → canonical docs) ----

  /** Connected components over a dup-pair graph — the step that turns
    * pairwise near-dup output (`minhashDupPairs` / `jaccardDupPairs` /
    * `simhashDupPairs` / `cosineDupPairs`) into actionable duplicate
    * CLUSTERS: transitivity means near-dup groups are components, not
    * pairs (a~b, b~c ⇒ {a,b,c} even when a,c never paired).
    * Returns (_id, _comp) for every doc in ≥ 1 pair, _comp = the
    * component's minimum id (the canonical/keeper doc by convention).
    *
    * Pairs with a NULL id are dropped. A pair graph within
    * `driverMaxPairs` rows with integral ids runs driver union-find —
    * α(n), no rounds; larger graphs run the distributed loop
    * ([[graft.operators.Fixpoint]] owns the gate, the caches and the
    * staging of the result).
    *
    * Distributed algorithm: min-label propagation as an iterative DataFrame job.
    * Each round every vertex takes the min label over itself and its
    * neighbors; the label sum is monotone non-increasing and strictly
    * decreases until fixpoint, so `sum(labels)` unchanged ⇔ converged
    * — one scalar action per round, no old-vs-new join. Rounds needed
    * = component diameter; near-dup components are clique-like
    * (diameter 1–3 in practice), and `maxRounds` bounds pathological
    * chains.
    *
    * Scale shape: each round is ONE partial-aggregable shuffle
    * (groupBy over |E|+|V| rows keyed by vertex) — never all-pairs,
    * no driver-side graph state; round k joins cached inputs, so the
    * loop does O(k) work, not the O(k²) of re-deriving every prior
    * round. For webgraph-diameter inputs switch to the two-phase
    * large-star/small-star contraction (public literature: Kiveris et
    * al., "Connected Components in MapReduce and Beyond"), which
    * converges in O(log n) rounds with the same per-round shuffle. */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 25,
      driverMaxPairs: Long = 1000000L): DataFrame = {
    val p = Fixpoint.edgeList(pairs, "id_a", "id_b", "id_a", "id_b")
    val dt = p.schema("id_a").dataType
    // union-find keys on Long: only integral ids may take the driver step
    Fixpoint.adaptive(p, if (Fixpoint.integral(dt)) driverMaxPairs else 0L, "dupclusters")(
      dupClustersDriver(_, dt, p.sparkSession)) { (r, p) =>
      val e = p.select(col("id_a").as("_u"), col("id_b").as("_v"))
      val edges = e.union(e.select(col("_v").as("_u"), col("_u").as("_v")))
      val verts = edges.select(col("_u")).distinct()
      // label flows u → v along every edge, plus v → v so a vertex
      // keeps its own label (and `labels` is consumed exactly once)
      val flows = r.hold(edges.union(verts.select(col("_u"), col("_u").as("_v"))))
      def labelSum(l: DataFrame) =
        Option(l.agg(sum(col("_comp").cast(DecimalType(38, 0)))).first().getDecimal(0))
      val labels0 = verts.select(col("_u").as("_id"), col("_u").as("_comp"))
      r.iterate(labels0, maxRounds)(labelSum)(_ == _) { labels =>
        flows.join(labels, col("_u") === col("_id"))
          .groupBy(col("_v")).agg(min(col("_comp")).as("_comp"))
          .select(col("_v").as("_id"), col("_comp"))
      }
    }
  }

  /** Driver step of [[dupClusters]]: union-find (path-compressed,
    * union-by-min) over the collected integral pair rows — α(n), no
    * rounds — on dense ids ([[graft.operators.Fixpoint.DenseEdges]]),
    * so the forest is one `int` array. */
  private def dupClustersDriver(rows: Array[InternalRow], dt: DataType,
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val g = new Fixpoint.DenseEdges(rows, dt)
    val key = Array.tabulate(g.nodes)(g.longKey)
    val parent = Array.tabulate(g.nodes)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    for (e <- rows.indices) {
      val ra = find(g.a(e)); val rb = find(g.b(e))
      // union by MIN id: a set's root stays its minimum element, so
      // the root IS the canonical keeper id the contract promises
      if (key(ra) < key(rb)) parent(rb) = ra else if (key(rb) < key(ra)) parent(ra) = rb
    }
    Fixpoint.localResult(spark, Seq.tabulate(g.nodes)(v => Row(g.node(v), g.node(find(v)))),
      StructType(Seq(StructField("_id", dt, nullable = false),
        StructField("_comp", dt, nullable = false))))
  }

  /** Near-dedup'd corpus view: every clustered doc except the cluster
    * minimum is dropped; docs in no pair pass through untouched. The
    * cluster side is |docs in pairs| rows — usually a small fraction
    * of the corpus, so AQE typically broadcasts it. */
  def nearDedup(docs: DataFrame, pairs: DataFrame, id: String = "doc_id"): DataFrame = {
    val drop = dupClusters(pairs).filter(col("_id") =!= col("_comp")).select(col("_id"))
    docs.join(drop, docs(id) === drop("_id"), "left_anti")
  }

  /** Near-dedup keeping the BEST doc per duplicate cluster under a
    * caller-supplied score (ties → smaller id) instead of the minimum
    * id — the keeper policy production pipelines actually want (keep
    * the longest / highest-quality member; min-id keeps whichever
    * crawl happened to come first). `score` is evaluated against
    * `docs`' columns (e.g. `col("n_chars")`, or a computed quality
    * expression — it runs inside the member scan, never per pair).
    * Cost over `nearDedup`: the ranking window shuffles only CLUSTER
    * MEMBERS (|docs in pairs| rows, keyed by component) — never the
    * corpus; the drop side then anti-joins back as usual. */
  def nearDedupBest(docs: DataFrame, pairs: DataFrame, score: Column,
      id: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = docs.join(dupClusters(pairs), docs(id) === col("_id"))
      .select(col("_id"), col("_comp"), score.as("_score"))
    val w = Window.partitionBy(col("_comp"))
      .orderBy(col("_score").desc, col("_id"))
    val drop = members.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1).select(col("_id"))
    docs.join(drop, docs(id) === drop("_id"), "left_anti")
  }

  // ---- SimHash ----

  /** 64-bit SimHash per document, as the native `simhash64` kernel
    * (TextNativeFunctions.SimHash64): one tight per-row loop inside
    * whole-stage codegen — NO explode, NO shuffle, NO 64-column
    * aggregate. Bit-identical to the earlier explode → 64
    * partial-aggregable bit-sum formulation (same tokenizer, same
    * xxhash64 seed, same sign rule), which this replaced after the
    * bit-sum aggregate showed up as the dominant cost of
    * q_dedup_simhash; the kernel also frees the groupBy exchange.
    *
    * Returns (id, simhash: long). Empty/NULL docs get simhash 0.
    */
  def simhash(docs: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    docs.select(col(id).as(id),
      coalesce(call_function("simhash64", col(text)), lit(0L)).as("simhash"))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Driver-side hamming, for tests and small-result post-processing. */
  def hammingInt(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash near-dup pairs with hamming ≤ maxDist. Candidates come
    * from `maxDist + 1` bit-band buckets: by pigeonhole, a pair with
    * at most maxDist differing bits must agree exactly on at least one
    * of maxDist+1 disjoint bands, so banding loses NO qualifying pair
    * (recall 1.0 by construction; LlmSpec asserts it against the
    * brute-force population). Band widths are the balanced split of
    * the 64 bits (e.g. maxDist=8 → 9 bands of 7–8 bits). */
  def simhashDupPairs(
      docs: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      maxDist: Int = 3): DataFrame = {
    // token-less docs (NULL/empty/whitespace text) all hash to 0 and
    // would pair MUTUALLY — millions of empty docs in a real corpus
    // is a quadratic garbage-pair blowup, and hamming between
    // no-signal hashes means nothing. They carry no content: exclude
    // them here; identical-empty duplicates are the exact-dedup
    // pass's domain.
    val sh = simhash(docs.filter(size(TextAnalysis.tokens(col(text))) > 0), id, text)
    bandedHashPairs(sh, id, "simhash", maxDist)
  }

  /** Pigeonhole-banded near-dup pairs over ANY 64-bit hash column:
    * a pair within hamming ≤ maxDist must agree exactly on at least
    * one of maxDist+1 disjoint bit bands, so banding loses no
    * qualifying pair (recall 1.0 by construction). Shared by the text
    * SimHash and the multimodal perceptual-hash operators; the join
    * is per-band-bucket — never all-pairs.
    *
    * EAGER-SNAPSHOT semantics (ADVICE r15): the call stages its
    * (id, hash) projection to session scratch AT CALL TIME — one
    * narrow job per invocation — and the returned frame reads the
    * snapshot, so late mutation of the input is not reflected and a
    * long-lived session accumulates one scratch dir per call until
    * the JVM-exit Scratch hook reclaims them. This trades those two
    * properties for executing the corpus-proportional hash kernel
    * once instead of four times per run (r15, guide §1.2/§8).
    *
    * Scale hardening (round 12 — the r11 sf1 audit found two
    * degenerate-mass shapes in the single-level formulation):
    *
    *  1. EXACT-TWIN COLLAPSE. Rows sharing the SAME hash value are one
    *     equivalence class, yet banding used to explode all k of them
    *     into (maxDist+1)·k bucket rows whose self-join emitted
    *     O(k²·bands) collision rows — then distinct'd — for pairs that
    *     are *definitionally* duplicates (hamming 0). Twin-class pairs
    *     are now emitted directly from ONE hash-equality self-join
    *     (each pair exactly once: no band multiplier, no distinct),
    *     and the banded join runs over DISTINCT hash values only.
    *     Reference analog: the dictionary scan dedups tokens before
    *     its join (`dbcon/joblist/pdictionaryscan.cpp`).
    *
    *  2. TWO-LEVEL PIGEONHOLE. A first-level band is only
    *     ~64/(maxDist+1) bits wide — 128 distinct values at
    *     maxDist = 8 — so beyond ~10⁴ distinct hashes every bucket
    *     saturates and Σ bucket² goes quadratic REGARDLESS of
    *     duplicate structure (measured: 47× wall for 10× docs at sf1).
    *     If a qualifying pair agrees on band b, its ≤ maxDist
    *     differing bits all lie in b's complement; re-partitioning
    *     that complement into maxDist+1 sub-bands pigeonholes again:
    *     the pair also agrees exactly on at least one sub-band. Keys
    *     become (band, subband, band bits, subband bits) — (maxDist+1)²
    *     narrow rows per DISTINCT hash instead of maxDist+1, but the
    *     effective key widens from ~64/(d+1) to ~2·64/(d+1) bits, so
    *     expected bucket occupancy falls by a 2^(64/(d+1)) factor and
    *     the collision volume stays near-linear far longer. Recall is
    *     still exactly 1.0 (both levels are pigeonhole-complete).
    *
    *  3. Optional per-bucket candidate cap `maxBucket` (DISTINCT-hash
    *     occupancy): buckets still larger than the cap — adversarial
    *     mass that twin collapse cannot see, e.g. boilerplate clusters
    *     at hamming 1–2 — are dropped from candidate generation. OFF
    *     by default (Int.MaxValue); when enabled recall is documented-
    *     lossy: [[bandedBucketStats]] reports exactly how many buckets
    *     were capped (the no-silent-caps rule), and twin-class pairs
    *     are never affected.
    */
  def bandedHashPairs(
      hashed: DataFrame,
      id: String,
      hash: String,
      maxDist: Int,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0 && maxDist < 32, s"maxDist must be in [0, 32), got $maxDist")
    // Stage the (id, hash) projection once (r15, guide §1.2/§8): the
    // pair machinery references it four times at runtime (twin join
    // both sides, banded reps, cross expansion both sides), and each
    // reference re-executes the producing subtree — including the
    // upstream hash KERNEL (simhash64_md5's 60 md5 sign-lanes, the
    // multimodal phash decode), which is corpus-proportional work
    // where the staged table is 16 bytes/row (measured at sf0.1:
    // 4 corpus scans + 4 kernel passes per run → 1; the write is one
    // narrow job). Same stage-then-read-back discipline as
    // dupClusters/kCore; the scratch root is shared storage on a
    // cluster and one JVM hook reclaims it.
    val spark = hashed.sparkSession
    val stageDir = graft.sources.Scratch.newDir(spark, "bandedhash") + "/hashed"
    val projected = hashed.select(col(id).as("_id"), col(hash).as("_h"))
    projected.write.mode("overwrite").parquet(stageDir)
    // explicit schema: an all-empty input writes no part files, and a
    // schema-less read of the bare dir would fail inference
    val base = spark.read.schema(projected.schema).parquet(stageDir)
    // (1) twin-class pairs: one equi-join on the full hash — each pair
    // exactly once. hamming is the same xor+popcount expression as the
    // cross-class branch (identically 0 here), so types and values are
    // bit-identical to the pre-collapse plan.
    val twins = base.as("a").join(base.as("b"),
        col("a._h") === col("b._h") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"),
        hamming(col("a._h"), col("b._h")).as("hamming"))
    // (2) cross-class candidates over DISTINCT hash values only
    val banded = cappedBandedReps(base, maxDist, maxBucket)
    // hamming is a cheap xor+popcount per collision row — filtering
    // BEFORE the distinct shrinks its shuffle from the full collision
    // volume (~Σ bucket²) to just the qualifying class pairs
    val classPairs = banded.as("a").join(banded.as("b"),
        col("a._bk") === col("b._bk") && col("a._h") < col("b._h"))
      .select(col("a._h").as("_ha"), col("b._h").as("_hb"),
        hamming(col("a._h"), col("b._h")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
    // expand class pairs to member pairs: classes are disjoint, so
    // each member pair appears exactly once; id order is restored with
    // least/greatest (hash order says nothing about id order)
    val cross = classPairs
      .join(base.select(col("_h").as("_ha"), col("_id").as("_ia")), "_ha")
      .join(base.select(col("_h").as("_hb"), col("_id").as("_ib")), "_hb")
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("hamming"))
    twins.unionByName(cross)
  }

  /** Banded (hash, key) rows over the DISTINCT hash values of `base`,
    * with buckets above `maxBucket` distinct hashes dropped — the
    * candidate-generation stage shared by [[bandedHashPairs]] and its
    * audit [[bandedBucketStats]]. */
  private def cappedBandedReps(base: DataFrame, maxDist: Int, maxBucket: Int): DataFrame = {
    // the explicit repartition on the join key is load-bearing: the
    // distinct() materializes a TINY stage (distinct hashes are ~8
    // bytes each), AQE coalesces it to one partition and — because the
    // (maxDist+1)² explode blowup happens AFTER that stats boundary —
    // then broadcast-converts the downstream self-join, serializing
    // the whole Σ bucket² collision grind into ONE task (measured: a
    // 10-minute wedge at sf1 that the parallel plan does in seconds).
    // Repartitioning the EXPLODED rows by _bk restores 32-way
    // parallelism and is exactly the partitioning the self-join needs,
    // so both aliases reuse one exchange and no further shuffle runs.
    val banded0 = base.select(col("_h")).distinct()
      .select(col("_h"), explode(bandKeys(col("_h"), maxDist)).as("_bk"))
      .repartition(col("_bk"))
    if (maxBucket == Int.MaxValue) banded0
    else {
      // hot buckets are by premise FEW — a broadcast anti-join prunes
      // them without re-shuffling the banded rows
      val hot = banded0.groupBy(col("_bk")).count()
        .filter(col("count") > maxBucket).select(col("_bk"))
      banded0.join(broadcast(hot), Seq("_bk"), "left_anti")
    }
  }

  /** Truncation audit for [[bandedHashPairs]] with a cap — the
    * no-silent-caps contract: one row
    * (n_buckets, max_bucket, buckets_capped, rows_dropped) so a capped
    * run always reports how much candidate mass it refused. Bucket
    * occupancy counts DISTINCT hash values (twin classes), matching
    * what the capped join actually sees. */
  def bandedBucketStats(
      hashed: DataFrame, id: String, hash: String,
      maxDist: Int, maxBucket: Int): DataFrame = {
    val base = hashed.select(col(id).as("_id"), col(hash).as("_h"))
    cappedBandedReps(base, maxDist, Int.MaxValue)
      .groupBy(col("_bk")).agg(count(lit(1)).as("_n"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("_n")).as("max_bucket"),
        sum(when(col("_n") > maxBucket, 1L).otherwise(0L)).as("buckets_capped"),
        sum(when(col("_n") > maxBucket, col("_n")).otherwise(0L)).as("rows_dropped"))
  }

  /** The (maxDist+1)² two-level pigeonhole keys of a 64-bit hash (see
    * [[bandedHashPairs]]): for first-level band b over bits [lo, hi)
    * and sub-band s over the packed complement bits, the key is
    * (b, s, bits of b, bits of s). All band geometry is compile-time
    * Scala; the column expression is pure shifts/masks inside one
    * codegen'd projection. */
  private def bandKeys(h: Column, maxDist: Int): Column = {
    val bands = maxDist + 1
    val bounds = (0 to bands).map(b => 64 * b / bands)
    array((for (b <- 0 until bands; s <- 0 until bands) yield {
      val lo = bounds(b); val hi = bounds(b + 1); val w = hi - lo
      val bandKey = sliceBits(h, lo, w)
      // complement of band b, packed into 64 − w low bits:
      // bits [0, lo) stay in place, bits [hi, 64) shift down to [lo, …)
      val cw = 64 - w
      val compl =
        if (cw == 0) lit(0L) // maxDist = 0: one band is the whole hash
        else if (lo == 0) sliceBits(h, hi, cw)
        else if (hi == 64) sliceBits(h, 0, lo)
        else sliceBits(h, 0, lo)
          .bitwiseOR(shiftleft(sliceBits(h, hi, 64 - hi), lo))
      val sb = (0 to bands).map(x => cw * x / bands)
      val slo = sb(s); val sw = sb(s + 1) - slo
      val subKey = if (sw == 0) lit(0L) else sliceBits(compl, slo, sw)
      struct(lit(b).as("band"), lit(s).as("sub"),
        bandKey.as("key"), subKey.as("skey"))
    }): _*)
  }

  /** Bits [lo, lo+w) of a long column as a long, w ∈ [1, 64].
    * (1L << 64) wraps to 1L in JVM shift semantics, so the all-ones
    * mask is spelled explicitly; the shift is LOGICAL — an arithmetic
    * shift would sign-extend the top band into the mask. */
  private def sliceBits(h: Column, lo: Int, w: Int): Column = {
    val mask = if (w >= 64) -1L else (1L << w) - 1
    val shifted = if (lo == 0) h else shiftrightunsigned(h, lo)
    shifted.bitwiseAND(lit(mask))
  }
}
