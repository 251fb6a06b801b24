package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding quantization — the storage/IO lever of a 100 TB vector
  * corpus: a float32 64-dim embedding is 256 bytes; symmetric int8
  * cuts it to 64 + one float scale (≈ 4×), which is 4× fewer scan
  * bytes, 4× more vectors per shuffle partition, and 4× more of the
  * corpus resident per executor for ANN probing. Recall impact is
  * bounded and spec-measured (top-k on dequantized vectors vs exact).
  *
  * Scheme: per-vector symmetric linear quantization —
  * scale = max|x| / 127, q_i = clamp(⌊x_i/scale + ½⌋, ±127).
  * Per-vector (not per-corpus) scales make every row self-contained:
  * no global calibration pass, no cross-partition state, stable under
  * append — the properties that let a 1000-executor ingest quantize
  * inside the write pipeline. The arithmetic is plain IEEE double ops
  * in a fixed evaluation order, so the DuckDB oracle reproduces it
  * bit-for-bit (⌊x+½⌋ replaces round() half-up, whose tie rule
  * differs between engines).
  *
  * The per-element `transform` HOFs here run once per VECTOR inside
  * their own projection (the same cost shape as AnnSearch.normalized)
  * — never inside a per-pair hot path; pair math runs on the
  * dequantized arrays through the native `vec_dot` kernel.
  */
object Quantize {

  /** Per-vector symmetric int8 scale: max|x| / 127; 0 for the zero
    * vector (whose quantized form is all-zero regardless). */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / lit(127.0)

  /** Quantized vector: clamp(⌊x/scale + ½⌋, ±127) as array<int>
    * (int, not tinyint, keeps the parquet/oracle arithmetic in plain
    * integer domain; the 4× win is from the VALUES being 1-byte —
    * parquet bit-packs the narrow range). Zero scale ⇒ all zeros. */
  def int8Quantize(v: Column, scale: Column): Column =
    when(scale > 0,
      transform(v, x =>
        least(greatest(floor(x / scale + lit(0.5)), lit(-127.0)), lit(127.0))
          .cast(IntegerType)))
      .otherwise(transform(v, _ => lit(0)))

  /** Dequantized (reconstructed) vector: q_i · scale, as
    * array<double> ready for `vec_dot`. */
  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast(DoubleType) * scale)

  /** (id, scale, q) per input vector — the compact representation a
    * quantized corpus persists. */
  def quantized(df: DataFrame, id: String = "vec_id",
      vec: String = "embedding"): DataFrame =
    df.select(col(id), col(vec).cast(ArrayType(DoubleType)).as("_v"))
      .select(col(id), int8Scale(col("_v")).as("scale"), col("_v"))
      .select(col(id), col("scale"), int8Quantize(col("_v"), col("scale")).as("q"))

  /** Exact cosine top-k over the DEQUANTIZED corpus — brute-force ANN
    * on the 4×-smaller representation; recall vs the float corpus is
    * the quality contract (spec-measured). */
  def quantizedTopK(quantCorpus: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", qid: String = "qid", qvec: String = "qvec"): DataFrame = {
    val c = quantCorpus.select(col(id).as("vec_id"),
      int8Dequantize(col("q"), col("scale")).as("embedding"))
    AnnSearch.bruteForceTopK(c, queries, k, qid = qid, qvec = qvec)
  }

  // ---- random projection (dimension reduction) ----

  /** Seeded sign-random projection matrix: outDim × dim entries
    * ±1/√outDim — the Johnson–Lindenstrauss companion to the
    * precision reducers above (quantization shrinks bits per
    * dimension, projection shrinks dimensions; both feed the same
    * ANN operators). Deterministic: same seed ⇒ same matrix on every
    * executor and run. */
  def projectionMatrix(outDim: Int, dim: Int, seed: Long = 17L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    val scale = 1.0 / math.sqrt(outDim)
    Array.fill(outDim, dim)(if (rng.nextBoolean()) scale else -scale)
  }

  /** Replace `vec` with its `outDim`-dimensional projection — one
    * native `vec_dot` per output dimension, codegen'd, no shuffle;
    * runs inside the scan pipeline like any per-row transform. */
  def randomProject(df: DataFrame, outDim: Int, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding",
      seed: Long = 17L): DataFrame = {
    val m = projectionMatrix(outDim, dim, seed)
    val v = col(vec).cast(ArrayType(DoubleType))
    df.select(col(id),
      array(m.map(row => call_function("vec_dot", v, lit(row))).toIndexedSeq: _*).as(vec))
  }

  // ---- product quantization (PQ) ----
  //
  // The billion-vector compression tier: split each (unit-normalized)
  // vector into `m` subvectors, learn `ksub` centroids per subspace
  // (k-means), store each vector as m small codes — 64-dim float32
  // (256 B) becomes m = 8 bytes, a 32× cut. Search never decodes the
  // corpus: a query builds an m × ksub inner-product lookup table and
  // a vector's approximate score is the sum of m table entries
  // (asymmetric distance computation, ADC — public literature:
  // Jégou et al., "Product Quantization for Nearest Neighbor
  // Search"). Composes with IVF (coarse cells) exactly like the
  // reference's extent elimination composes with column scans:
  // IVF prunes WHICH vectors are scored, PQ shrinks WHAT a score
  // costs.

  /** Subvector slice bounds for dim split into m subspaces. */
  private def subBounds(dim: Int, m: Int): Seq[(Int, Int)] = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val d = dim / m
    (0 until m).map(s => (s * d, d))
  }

  /** (id, sub, subvec) rows of the unit-normalized corpus — the
    * training/encoding layout: m narrow rows per vector, so every
    * subspace trains/encodes data-parallel in one pass. */
  private def subRows(df: DataFrame, dim: Int, m: Int,
      id: String, vec: String): DataFrame = {
    val v = col(vec).cast(ArrayType(DoubleType))
    val n = sqrt(call_function("vec_dot", v, v))
    val unit = when(n > 0, transform(v, x => x / n)).otherwise(v)
    df.select(col(id).as("_id"), unit.as("_u"))
      .select(col("_id"), explode(array(subBounds(dim, m).zipWithIndex.map {
        case ((off, d), s) => struct(lit(s).as("s"), slice(col("_u"), off + 1, d).as("sv"))
      }: _*)).as("_sr"))
      .select(col("_id"), col("_sr.s").as("_sub"), col("_sr.sv").as("_sv"))
  }

  /** Deterministic per-subspace centroid init: seeded uniform in
    * [-1,1]^dsub, distinct seed per (subspace, centroid). */
  def seededCodebooks(m: Int, ksub: Int, dsub: Int, seed: Long = 11L): Array[Array[Array[Double]]] =
    Array.tabulate(m) { s =>
      val rng = new scala.util.Random(seed + s)
      Array.fill(ksub, dsub)(rng.nextDouble() * 2 - 1)
    }

  /** The literal (sub, centroid-id, centroid, ‖c‖²) table of a
    * codebook set — the broadcast-sized side of both the encoder's
    * nearest-centroid assignment and the query's lookup table. Returns
    * (_sub, _code, _c, _cc). */
  private def codebookTable(spark: SparkSession,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    spark.range(1).select(explode(array((for {
        (cb, s) <- codebooks.zipWithIndex
        (cv, i) <- cb.zipWithIndex
      } yield struct(lit(s).as("s"), lit(i).as("i"), lit(cv).as("c"),
        lit(cv.map(x => x * x).sum).as("cc"))).toIndexedSeq: _*)).as("_cb"))
      .select(col("_cb.s").as("_sub"), col("_cb.i").as("_code"),
        col("_cb.c").as("_c"), col("_cb.cc").as("_cc"))

  /** Nearest-centroid assignment rows (id, sub, code, subvec):
    * ‖x−c‖² = x·x − 2·x·c + c·c minimized ⇔ (2·x·c − c·c) maximized —
    * two native vec_dot folds per candidate row feeding a codegen'd
    * max_by; ties toward the lower code id for determinism. */
  private def assignRows(sub: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame =
    sub.join(broadcast(codebookTable(sub.sparkSession, codebooks)), Seq("_sub"))
      .select(col("_id"), col("_sub"), col("_code"), col("_sv"),
        (call_function("vec_dot", col("_sv"), col("_c")) * 2 - col("_cc")).as("_score"))
      .groupBy(col("_id"), col("_sub"))
      .agg(max_by(col("_code"), struct(col("_score"), -col("_code"))).as("_code"),
        first(col("_sv")).as("_sv"))

  /** Per-subspace k-means (Lloyd) over the corpus — one distributed
    * assignment + mean pass per iteration, all m subspaces trained in
    * the SAME pass (they ride the same rows). Only the m × ksub × dsub
    * codebook crosses to the driver per iteration (metadata-sized,
    * like ANALYZE stats). Empty cells keep their centroid. */
  def pqTrain(corpus: DataFrame, m: Int = 8, ksub: Int = 16, iters: Int = 5,
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding",
      seed: Long = 11L): Array[Array[Array[Double]]] = {
    val dsub = dim / m
    val sub = subRows(corpus, dim, m, id, vec)
    var codebooks = seededCodebooks(m, ksub, dsub, seed)
    for (_ <- 0 until iters) {
      val stats = assignRows(sub, codebooks)
        .select(col("_sub"), col("_code"), posexplode(col("_sv")).as(Seq("_p", "_x")))
        .groupBy(col("_sub"), col("_code"), col("_p"))
        .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
        .collect()
      val next = codebooks.map(_.map(_.clone()))
      stats.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((s, c), rows) =>
        val v = new Array[Double](dsub)
        rows.foreach(r => v(r.getInt(2)) = r.getDouble(3) / r.getLong(4))
        next(s)(c) = v
      }
      codebooks = next
    }
    codebooks
  }

  /** PQ-encode the corpus: (id, codes array<int> of length m). The
    * persisted form is m small ints per vector — with ksub ≤ 256,
    * one byte each after parquet bit-packing. */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Array[Double]]],
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val m = codebooks.length
    assignRows(subRows(corpus, dim, m, id, vec), codebooks)
      .groupBy(col("_id"))
      .agg(transform(array_sort(collect_list(struct(col("_sub"), col("_code")))),
        x => x.getField("_code")).as("codes"))
      .select(col("_id").as(id), col("codes"))
  }

  /** The ADC lookup table: (qid, _sub, _code, _qdot), one row per
    * query, subspace and centroid — the inner product of the
    * unit-normalized query's subvector with that centroid. Built once
    * per query, broadcast-sized (|queries| · m · ksub rows). */
  private def adcLut(queries: DataFrame, codebooks: Array[Array[Array[Double]]],
      dim: Int, qid: String, qvec: String): DataFrame =
    subRows(queries, dim, codebooks.length, qid, qvec)
      .withColumnRenamed("_id", "qid")
      .join(broadcast(codebookTable(queries.sparkSession, codebooks)), Seq("_sub"))
      .select(col("qid"), col("_sub"), col("_code"),
        call_function("vec_dot", col("_sv"), col("_c")).as("_qdot"))

  /** ADC score per (qid, vec_id) from its (qid, vec_id, _sub, _qdot)
    * term rows: the m terms added in FIXED subspace order (an m-term
    * expression over one-row pivot sums), never an agg over rows in
    * the order the shuffle delivers them — so a score is the same
    * double on any partitioning, and the DuckDB oracle spells the same
    * sum. Returns (qid, vec_id, score). */
  private def adcScores(terms: DataFrame, m: Int): DataFrame = {
    val parts = (0 until m).map(s =>
      sum(when(col("_sub") === s, col("_qdot"))).as(s"_s$s"))
    terms.groupBy(col("qid"), col("vec_id"))
      .agg(parts.head, parts.tail: _*)
      .select(col("qid"), col("vec_id"),
        (0 until m).map(s => col(s"_s$s")).reduce(_ + _).as("score"))
  }

  /** Exact re-rank of a (qid, vec_id) shortlist: only those ids join
    * back to the FLOAT corpus, scored by [[AnnSearch.cosine]]
    * (bit-matched to DuckDB). Returns (qid, vec_id, cosine, rank ≤ k). */
  private def rerank(short: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
      id: String, vec: String, qid: String, qvec: String): DataFrame = {
    val c = corpus.select(col(id).as("vec_id"), col(vec).cast(ArrayType(DoubleType)).as("_v"))
    val q = queries.select(col(qid).as("qid"), col(qvec).cast(ArrayType(DoubleType)).as("_q"))
    AnnSearch.rankTopK(short.join(c, "vec_id").join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"), AnnSearch.cosine(col("_v"), col("_q")).as("cosine")),
      "cosine", k)
  }

  /** ADC top-k: approximate cosine = Σ_sub q_sub · c_sub(code), the
    * inner product of the (unit-normalized) query with the corpus
    * vector's RECONSTRUCTION — the corpus is never decoded. Plan
    * shape: encoded corpus explodes to (id, sub, code) narrow rows;
    * each query's m × ksub lookup table is built once (broadcast);
    * the join + [[adcScores]]'s fixed-order sum is one codegen
    * pipeline. Returns (qid, vec_id, score, rank). */
  def pqAdcTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
      queries: DataFrame, k: Int, dim: Int = 64,
      id: String = "vec_id", qid: String = "qid", qvec: String = "qvec"): DataFrame = {
    val corpusRows = encoded.select(col(id).as("vec_id"),
      posexplode(col("codes")).as(Seq("_sub", "_code")))
    AnnSearch.rankTopK(adcScores(corpusRows.join(
      broadcast(adcLut(queries, codebooks, dim, qid, qvec)), Seq("_sub", "_code")),
      codebooks.length), "score", k)
  }

  /** Persist the IVF∘PQ index: PQ codes hive-partitioned by `_cell`
    * directory — the 100 TB layout the `ivfPqTopK` scaladoc claims
    * (codes as 1 byte/subspace, centroids + codebooks as metadata).
    * A probe then filters `_cell` IN (its nprobe cells) and Spark's
    * partition pruning keeps the scan to ~nprobe/nlist of the FILES —
    * never touching the rest — exactly the reference's extent
    * elimination realized as directory layout. Measured, not argued:
    * QuantizeSpec asserts the probe's scan reads only the probed
    * partitions' files. */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding"): Unit =
    pqEncode(corpus, codebooks, dim, id, vec)
      .join(AnnSearch.cellAssignments(corpus, centroids, id, vec), "vec_id")
      .write.mode("overwrite").partitionBy("_cell").parquet(path)

  /** INCREMENTAL index maintenance: encode + cell-assign only the NEW
    * vectors and append their rows into the existing hive-partitioned
    * layout — continuous ingestion never re-encodes or rewrites the
    * standing index (the IVF analog of `Dedup.dedupAgainst`'s
    * batch-vs-corpus asymmetry). Cost ∝ batch size; the trained
    * centroids/codebooks stay fixed, which is the published practice
    * (re-train on drift is an offline decision, not an ingest step —
    * recall degrades only as far as the data drifts from the training
    * distribution). Appended files land in the same `_cell=` dirs, so
    * probe-time partition pruning is unchanged. */
  def appendToIvfPqIndex(newVectors: DataFrame, path: String,
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding"): Unit =
    pqEncode(newVectors, codebooks, dim, id, vec)
      .join(AnnSearch.cellAssignments(newVectors, centroids, id, vec), "vec_id")
      .write.mode("append").partitionBy("_cell").parquet(path)

  /** Read back the rows of the probed cells from a persisted index —
    * the `_cell` filter lands in the scan's PartitionFilters. */
  def readIvfPqIndex(spark: SparkSession, path: String, probeCells: Seq[Int]): DataFrame =
    spark.read.parquet(path).filter(col("_cell").isin(probeCells: _*))

  /** IVF ∘ PQ: coarse cells prune WHICH vectors are scored (a query
    * touches ~nprobe/nlist of the corpus), PQ codes shrink WHAT a
    * score costs (m one-byte table lookups) — composed exactly like
    * the reference's extent elimination composes with its column
    * scans. The persisted layout this models at 100 TB: codes
    * partitioned by cell id, centroids + codebooks as metadata;
    * a query reads nprobe partitions of 1-byte-per-subspace codes.
    * Plan: cell-restricted ADC via one extra equi-join key — the
    * (qid × probed-cell) table is broadcast-sized, candidate rows
    * stay (vec_id, sub, code) narrow. Exact re-rank on the
    * `shortlist` ids closes the loop (touches float vectors for
    * shortlist · |queries| rows only).
    *
    * Cells and probes are [[AnnSearch.cellAssignments]] and
    * [[AnnSearch.probeCells]] (raw-dot argmax, lower-id ties), the ADC
    * is [[adcScores]]'s fixed-order sum: with fixed centroids and
    * codebooks the query is a pure function of the corpus, so the
    * DuckDB oracle replays prune → encode → ADC → shortlist → rerank
    * (q_ann_ivfpq_seeded). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      nprobe: Int = 4, shortlist: Int = 50, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding",
      qid: String = "qid", qvec: String = "qvec"): DataFrame = {
    val corpusRows = pqEncode(corpus, codebooks, dim, id, vec)
      .join(AnnSearch.cellAssignments(corpus, centroids, id, vec), "vec_id")
      .select(col("vec_id"), col("_cell"), posexplode(col("codes")).as(Seq("_sub", "_code")))
    val probes = AnnSearch.probeCells(queries, centroids, nprobe, qid, qvec)
      .select(col("qid"), col("_cell"))
    val scored = adcScores(corpusRows.join(broadcast(probes), Seq("_cell"))
      .join(broadcast(adcLut(queries, codebooks, dim, qid, qvec)), Seq("qid", "_sub", "_code")),
      codebooks.length)
    rerank(AnnSearch.rankTopK(scored, "score", shortlist).select(col("qid"), col("vec_id")),
      corpus, queries, k, id, vec, qid, qvec)
  }

  /** ADC shortlist → exact re-rank: PQ scores pick `shortlist`
    * candidates per query from the codes alone; only those ids join
    * back to the FLOAT corpus for exact cosine — the standard
    * two-stage deployment (the full corpus is scanned as 1-byte
    * codes; float vectors are touched for shortlist · |queries| rows
    * only). With fixed codebooks the query is a pure function of the
    * corpus, so the DuckDB oracle replays encode → ADC → shortlist →
    * rerank (q_ann_pq, q_ann_pq_seeded). Returns (qid, vec_id, cosine,
    * rank) with rank ≤ k. */
  def pqRerankTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
      corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int = 50,
      dim: Int = 64, id: String = "vec_id",
      vec: String = "embedding", qid: String = "qid", qvec: String = "qvec"): DataFrame =
    rerank(pqAdcTopK(encoded, codebooks, queries, shortlist, dim, id, qid, qvec)
      .select(col("qid"), col("vec_id")), corpus, queries, k, id, vec, qid, qvec)
}
