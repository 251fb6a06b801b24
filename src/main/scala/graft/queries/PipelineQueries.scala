package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.{Chunking, Decontamination, Dedup, Packing, Sampling, TextAnalysis}

/** Training-data pipeline composition operators: dup-pair CLUSTER
  * resolution (connected components → canonical docs), sequence
  * packing (concat-and-chunk token layout), and deterministic
  * sampling. All integer/string arithmetic — every entry is
  * hash-compared against a DuckDB oracle (components via recursive
  * CTE transitive closure; packing via a global window prefix sum —
  * single-node DuckDB can afford the formulation our distributed
  * two-phase scan exists to avoid; sampling via identical md5
  * threshold/order semantics).
  */
object PipelineQueries {
  import Q._

  /** Shared DuckDB fragment: word-3-gram shingle sets per doc (same
    * tokenizer class as the Spark `shingle_set` kernel). */
  private val shingleCte =
    """sh AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) >= 3
      |      THEN list_transform(range(1, len(toks) - 1),
      |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |      ELSE [txt] END) AS s
      |  FROM (SELECT doc_id, lower(text) AS txt,
      |          list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
      |        FROM documents))""".stripMargin

  val queries: Map[String, QFn] = Map(
    "q_dedup_clusters" -> ((s, dir) => {
      // pairs → components. The pair stage is the EXACT set-similarity
      // join (recall 1.0 at any threshold by the prefix-filter
      // pigeonhole), so equality with the oracle's transitive closure
      // holds by construction — not pinned to this corpus having no
      // pairs in banded LSH's recall gap (q_dedup_minhash keeps the
      // LSH path oracle-measured separately).
      val pairs = Dedup.jaccardDupPairs(t(s, dir, "documents"), threshold = 0.6)
      Dedup.dupClusters(pairs)
        .select(col("_id").as("doc_id"), col("_comp").as("cluster_id"))
        .withColumn("cluster_sz",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_resolve" -> ((s, dir) => {
      // end-to-end near-dedup: corpus minus every clustered doc except
      // each cluster's minimum id (exact pair join — recall 1.0, so
      // the oracle equality is robust to a corpus refresh)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardDupPairs(docs, threshold = 0.6)
      Dedup.nearDedup(docs, pairs)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_keepbest" -> ((s, dir) => {
      // near-dedup with the quality-keeper policy: keep each cluster's
      // LONGEST member (n_chars, ties → min id) — integer-exact score
      val docs = t(s, dir, "documents")
      val pairs = Dedup.jaccardDupPairs(docs, threshold = 0.6)
      Dedup.nearDedupBest(docs, pairs, col("n_chars"))
        .select(col("doc_id"), col("n_chars"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_pipeline_e2e" -> ((s, dir) => {
      // The WHOLE training-data pipeline as one composed plan — the
      // flagship composition proof: every stage is an operator from
      // this library, and the DuckDB oracle replays the identical
      // chain (exact dedup → LSH near-dedup + cluster resolution →
      // benchmark decontamination → quality floor → chunking), so a
      // hash-match certifies the stages agree not just individually
      // but THROUGH each other's outputs. Output is the per-source
      // audit summary a pipeline run reports.
      // near-dedup uses the EXACT jaccard join (recall 1.0): the
      // DuckDB oracle replays exact all-pairs Jaccard ≥ 0.6, and a
      // banded-LSH stage would match it only while the corpus happens
      // to have no dup pairs inside LSH's recall gap (ADVICE r6)
      val docs = t(s, dir, "documents")
      val d1 = Dedup.exactDedup(docs)
      val d2 = Dedup.nearDedup(d1, Dedup.jaccardDupPairs(d1, threshold = 0.6))
      val bench = docs.filter(col("doc_id") % 20 === 7)
      val corpus = d2.filter(col("doc_id") % 20 =!= 7)
      val d3 = Decontamination.decontaminate(corpus, bench, minHits = 5)
      val good = TextAnalysis.profiles(d3)
        .select(col("doc_id"), floor(col("quality") * 1e6).cast("long").as("_q6"))
        .filter(col("_q6") >= 100000)
        .select(col("doc_id"))
      val d4 = d3.join(good, "doc_id")
      Chunking.chunk(d4.select("doc_id", "text"), chunkTokens = 128)
        .join(d4.select("doc_id", "source"), "doc_id")
        .groupBy(col("source")).agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(col("n_tok")).as("sum_tokens"))
        .orderBy(col("source"))
    }),
    "q_pack_sequences" -> ((s, dir) => {
      Packing.packSequences(t(s, dir, "documents"), budget = 512L)
        .orderBy(col("doc_id"))
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      // continuous ingestion: dedup "today's batch" (doc_id % 5 = 0)
      // against the existing corpus — exact (md5 anti-join) + near
      // (prefix-filtered exact jaccard ≥ 0.5, recall 1.0, the corpus
      // never self-joins). Oracle replays both stages.
      val docs = t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      Dedup.dedupAgainst(batch, corpus, threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_dedup_bloom" -> ((s, dir) => {
      // bloom-accelerated exact incremental dedup: corpus folded into
      // a broadcast bloom filter, batch probed map-only, survivors
      // confirmed exactly — result ≡ the plain anti-join, which IS
      // the oracle (the bloom is an accelerator, not a semantic).
      val docs = t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      Dedup.dedupAgainstBloom(batch, corpus)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_curriculum" -> ((s, dir) => {
      // curriculum schedule: 4 equi-depth difficulty buckets on
      // n_chars (unique composite tie-break), round-robin interleave
      Sampling.curriculumOrder(t(s, dir, "documents"), col("n_chars"),
          "doc_id", buckets = 4)
        .select(col("doc_id"), col("n_chars"), col("bucket"), col("pos"))
        .orderBy(col("pos"), col("bucket"))
    }),
    "q_sample_budget" -> ((s, dir) => {
      // token-budget mixture sampling: the longest md5-ordered prefix
      // of each source whose token sum fits 500 tokens (a binding budget at every test SF)
      Sampling.tokenBudgetSample(t(s, dir, "documents"), "source", "doc_id",
          budgetTokens = 500L)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),
    "q_sample_temperature" -> ((s, dir) => {
      // alpha-flattened mixture (n_i^0.7 shares at half the corpus):
      // rates derived from counts, bit-reproduced by the oracle
      Sampling.temperatureSample(t(s, dir, "documents"), "source", "doc_id",
          alpha = 0.7, targetFrac = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_sample_uniform" -> ((s, dir) => {
      Sampling.uniformSample(t(s, dir, "documents"), "doc_id", fraction = 0.1)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),
    "q_mix_epochs" -> ((s, dir) => {
      // data-constrained mixing plan: a 150k-token budget split
      // ∝ n^0.5 across sources, converted to per-source epochs capped
      // at 4 repeats (the published diminishing-returns point)
      Sampling.epochAllocation(t(s, dir, "documents"), "source", "text",
          budgetTokens = 150000L, alpha = 0.5, maxEpochs = 4.0)
        .orderBy(col("source"))
    }),
    "q_sample_weighted" -> ((s, dir) => {
      // Efraimidis–Spirakis weighted draw: 15 docs per source, drawn
      // ∝ n_chars; the md5-derived u makes the draw a pure function
      // of doc_id, replayed term for term by the oracle
      Sampling.weightedSample(
        t(s, dir, "documents").where(col("n_chars") > 0),
        "doc_id", "n_chars", k = 15, groupCols = Seq("source"))
        .select(col("source"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("doc_id"))
    }),
    "q_sample_strat" -> ((s, dir) => {
      // exactly ceil(0.25·|stratum|) docs per source (0.25 is exact in
      // binary, so ceil(0.25·n) can't straddle an FP boundary between
      // engines)
      Sampling.stratifiedSample(t(s, dir, "documents"), "source", "doc_id",
          fraction = 0.25)
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),
    "q_split_assign" -> ((s, dir) => {
      // train/val/test band assignment, twice: keyed on doc_id (row
      // split) and on source (group-aware split — all docs of a
      // source land together, the leakage-control shape)
      val docs = t(s, dir, "documents")
      val byRow = Sampling.hashSplit(docs,
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val byGroup = Sampling.hashSplit(docs.select(col("doc_id"), col("source")),
          "source", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split").as("group_split"))
      byRow.select(col("doc_id"), col("source"), col("split"))
        .join(byGroup, "doc_id")
        .orderBy(col("doc_id"))
    }),
    "q_split_leakfree" -> ((s, dir) => {
      // dedup-aware split: band assignment keyed on the exact-dup
      // cluster REPRESENTATIVE (min doc_id over identical content),
      // so duplicate pairs can never straddle train/test — the
      // contamination path a row-keyed split leaves open. One
      // shuffle keyed by content hash (near-unique keys, no skew);
      // the rep window is a partial-aggregable min.
      val docs = t(s, dir, "documents")
      val withRep = docs.withColumn("rep",
        min(col("doc_id")).over(Window.partitionBy(md5(col("text")))))
      Sampling.hashSplit(withRep, "rep",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "lf")
        .select(col("doc_id"), col("rep"), col("split"))
        .orderBy(col("doc_id"))
    }),
    "q_shuffle_det" -> ((s, dir) => {
      // reproducible epoch order: the emitted key IS the order (both
      // engines sort the same hex strings identically), so hash-
      // comparing (doc_id, key) pins the permutation without a
      // global row_number window
      Sampling.deterministicShuffle(t(s, dir, "documents"), "doc_id", salt = "epoch1")
        .select(col("doc_id"), col("_shuffle_key"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
        |${oJaccardPairs("0.6")},
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |          UNION ALL SELECT id_b, id_a FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
        |  FROM reach GROUP BY src)
        |SELECT doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_sz
        |FROM comp ORDER BY doc_id""".stripMargin,
    "q_dedup_resolve" ->
      s"""WITH RECURSIVE $shingleCte,
        |${oJaccardPairs("0.6")},
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |          UNION ALL SELECT id_b, id_a FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
        |  FROM reach GROUP BY src)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_keepbest" ->
      s"""WITH RECURSIVE $shingleCte,
        |${oJaccardPairs("0.6")},
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |          UNION ALL SELECT id_b, id_a FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |k AS (
        |  SELECT cluster_id, doc_id AS keep_id FROM (
        |    SELECT c.cluster_id, c.doc_id, row_number() OVER (
        |      PARTITION BY c.cluster_id
        |      ORDER BY d.n_chars DESC, c.doc_id) AS rn
        |    FROM comp c JOIN documents d USING (doc_id)) t
        |  WHERE rn = 1)
        |SELECT d.doc_id, d.n_chars, d.source
        |FROM documents d
        |LEFT JOIN comp c ON d.doc_id = c.doc_id
        |LEFT JOIN k ON c.cluster_id = k.cluster_id
        |WHERE c.doc_id IS NULL OR d.doc_id = k.keep_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_pipeline_e2e" ->
      ("""WITH RECURSIVE
        |shall AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(toks) >= 3
        |      THEN list_transform(range(1, len(toks) - 1),
        |             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      ELSE [txt] END) AS s
        |  FROM (SELECT doc_id, lower(text) AS txt,
        |          list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |        FROM documents)),
        |d1 AS (
        |  SELECT * FROM (
        |    SELECT d.*, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS _rn
        |    FROM documents d) WHERE _rn = 1),
        |sh AS (SELECT s.* FROM shall s JOIN d1 ON s.doc_id = d1.doc_id),
        |""" + oJaccardPairs("0.6") + """,
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |          UNION ALL SELECT id_b, id_a FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (
        |  SELECT src AS doc_id, least(src, MIN(dst)) AS cluster_id
        |  FROM reach GROUP BY src),
        |d2 AS (SELECT d.* FROM d1 d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |       WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id),
        |bsh AS (SELECT DISTINCT unnest(s) AS ng FROM shall WHERE doc_id % 20 = 7),
        |corp AS (SELECT * FROM d2 WHERE doc_id % 20 <> 7),
        |hits AS (
        |  SELECT cs.doc_id, COUNT(*) AS n FROM
        |    (SELECT s.doc_id, unnest(s.s) AS ng FROM shall s
        |     JOIN corp ON s.doc_id = corp.doc_id) cs
        |  JOIN bsh ON cs.ng = bsh.ng GROUP BY cs.doc_id),
        |d3 AS (SELECT corp.* FROM corp
        |       LEFT JOIN (SELECT doc_id FROM hits WHERE n >= 5) bad
        |         ON corp.doc_id = bad.doc_id
        |       WHERE bad.doc_id IS NULL),
        |toks3 AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'), x -> length(x) > 0)) AS t
        |  FROM d3),
        |prof AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(CASE WHEN t IN ('the','a','an','and','or','of','to','in','is','it','that','this','was','for','on','are','as','with','at','be') THEN 1 ELSE 0 END) AS BIGINT) AS sw_hits
        |  FROM toks3 GROUP BY doc_id),
        |q AS (
        |  SELECT d.doc_id,
        |    CASE WHEN p.n_tokens IS NULL OR p.n_tokens = 0 OR length(d.text) = 0 THEN 0
        |    ELSE CAST(floor(
        |      least(p.n_tokens / 50.0, 1.0) * (CASE WHEN p.n_tokens > 5000 THEN 0.5 ELSE 1.0 END)
        |      * greatest(0.0, 1.0 - (length(regexp_replace(d.text, '[\p{L}\p{N} \t\n\f\r]', '', 'g'))::DOUBLE / length(d.text)::DOUBLE) * 4.0)
        |      * least(p.sw_hits::DOUBLE / p.n_tokens::DOUBLE * 4.0, 1.0)
        |      * 1000000.0) AS BIGINT) END AS q6
        |  FROM d3 d LEFT JOIN prof p ON d.doc_id = p.doc_id),
        |d4 AS (SELECT d3.* FROM d3 JOIN q ON d3.doc_id = q.doc_id WHERE q.q6 >= 100000),
        |tok4 AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0) AS toks
        |  FROM d4),
        |t2 AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n
        |       FROM tok4 WHERE len(toks) > 0),
        |ch AS (
        |  SELECT doc_id, source, n,
        |    unnest(range(0, 1 + CAST(ceil(greatest(0, n - 128) / 128.0) AS BIGINT))) AS ci
        |  FROM t2)
        |SELECT source,
        |  COUNT(DISTINCT doc_id) AS n_docs,
        |  COUNT(*) AS n_chunks,
        |  CAST(SUM(least(128, n - ci * 128)) AS BIGINT) AS sum_tokens
        |FROM ch GROUP BY source ORDER BY source""").stripMargin,
    "q_pack_sequences" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM tok WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens,
        |  (cum - n_tokens) // 512 AS pack_id,
        |  (cum - n_tokens) % 512 AS pack_off,
        |  ((cum - 1) // 512) - ((cum - n_tokens) // 512) + 1 AS n_packs
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $shingleCte,
        |nd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        |cp AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        |ex AS (
        |  SELECT nd.* FROM nd
        |  LEFT JOIN (SELECT DISTINCT md5(text) AS h FROM cp) ch ON md5(nd.text) = ch.h
        |  WHERE ch.h IS NULL),
        |dup AS (
        |  SELECT DISTINCT a.doc_id FROM
        |    (SELECT s.* FROM sh s JOIN ex ON s.doc_id = ex.doc_id) a
        |  JOIN (SELECT s.* FROM sh s JOIN cp ON s.doc_id = cp.doc_id) b
        |  ON len(list_intersect(a.s, b.s))::DOUBLE
        |       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5)
        |SELECT e.doc_id, e.lang, e.source FROM ex e
        |LEFT JOIN dup ON e.doc_id = dup.doc_id
        |WHERE dup.doc_id IS NULL ORDER BY e.doc_id""".stripMargin,
    "q_dedup_bloom" ->
      """WITH nd AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        |cp AS (SELECT * FROM documents WHERE doc_id % 5 <> 0)
        |SELECT nd.doc_id, nd.lang, nd.source FROM nd
        |LEFT JOIN (SELECT DISTINCT md5(text) AS h FROM cp) ch ON md5(nd.text) = ch.h
        |WHERE ch.h IS NULL ORDER BY nd.doc_id""".stripMargin,
    "q_curriculum" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |    n_chars * 10000000 + doc_id AS cu FROM documents),
        |t AS (SELECT [quantile_disc(cu, 0.25), quantile_disc(cu, 0.5),
        |              quantile_disc(cu, 0.75)] AS thr FROM s),
        |b AS (SELECT doc_id, n_chars, cu,
        |    CAST(len(list_filter(t.thr, x -> x < cu)) AS INT) AS bucket
        |  FROM s CROSS JOIN t),
        |p AS (SELECT doc_id, n_chars, bucket,
        |    CAST(row_number() OVER (PARTITION BY bucket ORDER BY cu) AS INT) AS pos
        |  FROM b)
        |SELECT doc_id, n_chars, bucket, pos FROM p
        |ORDER BY pos, bucket""".stripMargin,
    "q_sample_budget" ->
      """WITH tok AS (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> length(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id,
        |    SUM(n) OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS cum
        |  FROM tok)
        |SELECT source, doc_id FROM c WHERE cum <= 500
        |ORDER BY source, doc_id""".stripMargin,
    "q_sample_temperature" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS DOUBLE) AS n
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT SUM(n) AS tot,
        |    list_reduce(list(pow(n, 0.7) ORDER BY source),
        |      (a, b) -> a + b) AS z
        |  FROM c),
        |r AS (
        |  SELECT c.source,
        |    least(1.0, 0.5 * t.tot * pow(c.n, 0.7) / (t.z * c.n)) AS rate
        |  FROM c, t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST(CONCAT('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT)
        |    < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
        |ORDER BY d.doc_id""".stripMargin,
    "q_sample_uniform" ->
      s"""SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(doc_id::VARCHAR), 1, 8) < '${Sampling.hexThreshold(0.1)}'
        |ORDER BY doc_id""".stripMargin,
    "q_mix_epochs" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |      x -> length(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT source, CAST(SUM(n) AS DOUBLE) AS n FROM tok GROUP BY source),
        |z AS (SELECT list_reduce(list(pow(n, 0.5) ORDER BY source),
        |        (a, b) -> a + b) AS z FROM c),
        |a AS (SELECT c.source, c.n, 150000 * pow(c.n, 0.5) / z.z AS alloc
        |      FROM c, z)
        |SELECT source, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(floor(alloc) AS BIGINT) AS alloc_tokens,
        |  CAST(floor(least(4.0, alloc / n) * 1000) AS BIGINT) AS epochs_milli,
        |  CAST(floor(least(4.0, alloc / n) * n) AS BIGINT) AS effective_tokens
        |FROM a ORDER BY source""".stripMargin,
    "q_sample_weighted" ->
      """WITH keyed AS (
        |  SELECT source, doc_id, n_chars,
        |    ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 1)
        |        / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents WHERE n_chars > 0),
        |r AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rn
        |  FROM keyed)
        |SELECT source, doc_id, n_chars FROM r WHERE rn <= 15
        |ORDER BY source, doc_id""".stripMargin,
    "q_sample_strat" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY source) AS cnt
        |  FROM documents) t
        |WHERE rn <= CAST(ceil(0.25 * cnt) AS BIGINT)
        |ORDER BY source, doc_id""".stripMargin,
    "q_split_assign" -> {
      // thresholds computed by the SAME Scala fold hashSplit uses, so
      // FP accumulation of the band bounds cannot diverge
      val u1 = Sampling.hexThreshold(0.0 + 0.8)
      val u2 = Sampling.hexThreshold(0.0 + 0.8 + 0.1)
      s"""SELECT doc_id, source,
        |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 8) < '$u1' THEN 'train'
        |       WHEN substr(md5(doc_id::VARCHAR), 1, 8) < '$u2' THEN 'val'
        |       ELSE 'test' END AS split,
        |  CASE WHEN substr(md5(source), 1, 8) < '$u1' THEN 'train'
        |       WHEN substr(md5(source), 1, 8) < '$u2' THEN 'val'
        |       ELSE 'test' END AS group_split
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "q_split_leakfree" -> {
      val u1 = Sampling.hexThreshold(0.0 + 0.8)
      val u2 = Sampling.hexThreshold(0.0 + 0.8 + 0.1)
      s"""SELECT doc_id, rep,
        |  CASE WHEN substr(md5(rep::VARCHAR || 'lf'), 1, 8) < '$u1' THEN 'train'
        |       WHEN substr(md5(rep::VARCHAR || 'lf'), 1, 8) < '$u2' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        min(doc_id) OVER (PARTITION BY md5(text)) AS rep
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin
    },
    // ORDER BY the key: the engine side EMITS rows in shuffle-key
    // order (that permutation is the operator's output), so the oracle
    // must too — unordered, the driver's row-order hash is luck
    "q_shuffle_det" ->
      """SELECT doc_id, md5(doc_id::VARCHAR || 'epoch1') AS _shuffle_key
        |FROM documents ORDER BY _shuffle_key, doc_id""".stripMargin
  )
}
