package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`), plus embedding-cosine near-duplicate pairs.
  *
  * Two tiers, as a 100 TB pipeline needs:
  *  - `bruteForceTopK`: exact cosine top-k — the correctness baseline
  *    and the right tool when the query set is small (it broadcasts
  *    queries and scans the corpus once, no shuffle of the corpus).
  *  - `lshTopK`: random-hyperplane LSH — corpus is bucketed by the
  *    sign pattern of `numPlanes` fixed hyperplanes, queries probe
  *    their own bucket plus all 1-bit-flip neighbors (multi-probe),
  *    and only within-bucket pairs are scored. Corpus work per query
  *    drops from O(N) to O(N · (P+1) / 2^P).
  *
  * All vector math runs through the native `vec_dot` Catalyst
  * expression (VectorFunctions.VecDot) — Spark's array HOFs
  * (`aggregate`/`zip_with`) are interpreted, and a per-pair
  * interpreted 64-element fold was the measured hot path of every
  * similarity operator here. `vec_dot` accumulates in element order,
  * bit-identical to the fold it replaced and to DuckDB's
  * `list_cosine_similarity`. Hyperplanes are a deterministic seeded
  * literal, so bucketing is stable across runs, executors, and
  * restarts (the property that makes the bucket id usable as a
  * persisted partition key for a 100 TB corpus).
  */
object AnnSearch {

  /** Dot product of two array<double> columns — native codegen'd
    * expression, in-order accumulation (see VectorFunctions). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, clamped to [-1, 1]: sqrt(aa)*sqrt(bb) can
    * land an ulp under aa for identical vectors, and downstream
    * consumers (and the DuckDB oracle) expect self-similarity == 1. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    least(greatest(when(d > 0, dot(a, b) / d).otherwise(lit(0.0)), lit(-1.0)), lit(1.0))
  }

  /** float[] → double[] via native array Cast (codegen'd) — NOT a
    * `transform` HOF: projection collapse would inline an interpreted
    * transform into every downstream plane-dot position, re-running
    * it P·L times per vector. */
  private def asDouble(v: Column): Column = v.cast(ArrayType(DoubleType))

  /** Unit-normalize; zero vectors stay zero. Only the spherical
    * k-means trainer and its objective use it: a Lloyd mean and a
    * mean cosine need unit vectors. Search never does — a sign, an
    * argmax and a top-k by [[cosine]] are all unchanged when a vector
    * is scaled — and the division is an interpreted per-element HOF
    * outside whole-stage codegen. */
  private def normalized(v: Column): Column = {
    val n = norm(v)
    when(n > 0, transform(v, x => x / n)).otherwise(v)
  }

  /** Top-k rows per `qid` by `score` descending, ties toward the lower
    * `vec_id` (deterministic, so every ANN answer is a pure function of
    * its inputs). Adds `rank`. */
  private[llm] def rankTopK(scored: DataFrame, score: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col(score).desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact cosine top-k per query vector. `queries` is expected to be
    * small (it is broadcast); the corpus is scanned once.
    * Returns (qid, vec_id, cosine, rank). */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      id: String = "vec_id", vec: String = "embedding",
      qid: String = "qid", qvec: String = "qvec"): DataFrame = {
    val c = corpus.select(col(id).as("vec_id"), asDouble(col(vec)).as("_v"))
    val q = queries.select(col(qid).as("qid"), asDouble(col(qvec)).as("_q"))
    rankTopK(c.crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"), cosine(col("_v"), col("_q")).as("cosine")), "cosine", k)
  }

  /** Deterministic seeded hyperplanes: numPlanes × dim in [-1, 1]
    * (graft-visible so the oracle builder can embed them as SQL
    * literals). */
  private[graft] def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rng.nextDouble() * 2 - 1)
  }

  /** Sign-pattern bucket id of a vector under the given planes. */
  def bucketOf(v: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The `numTables` seeded hyperplane sets of the multi-table LSH
    * (table t draws from seed 42 + t). */
  private def lshTables(numPlanes: Int, numTables: Int, dim: Int): Seq[Array[Array[Double]]] =
    (0 until numTables).map(t => hyperplanes(numPlanes, dim, seed = 42L + t))

  /** The stored side of the multi-table LSH: one (t, b) row per table,
    * `b` the vector's sign bucket in table `t`. Buckets take the RAW
    * vector — the sign of a plane dot does not change when the vector
    * is scaled. */
  private[graft] def lshBucketRows(v: Column,
      numPlanes: Int, numTables: Int, dim: Int): Column =
    explode(array(lshTables(numPlanes, numTables, dim).zipWithIndex.map { case (p, t) =>
      struct(lit(t).as("t"), bucketOf(v, p).as("b"))
    }: _*))

  /** The probe side: per table, the vector's own bucket and every
    * 1-bit flip of it — (P+1)·L (t, b) rows, joined to
    * [[lshBucketRows]] on the struct. */
  private[graft] def lshProbeRows(v: Column,
      numPlanes: Int, numTables: Int, dim: Int): Column =
    explode(flatten(array(lshTables(numPlanes, numTables, dim).zipWithIndex.map { case (p, t) =>
      transform(
        array(lit(0L) +: (0 until numPlanes).map(i => lit(1L << i)): _*),
        m => struct(lit(t).as("t"), bucketOf(v, p).bitwiseXOR(m).as("b")))
    }: _*)))

  /** LSH-bucketed cosine top-k: the classic multi-table structure —
    * `numTables` independent hash tables of `numPlanes` hyperplanes
    * each, query probes its bucket plus every 1-bit flip in every
    * table, candidates are the union. With L tables of P planes and
    * per-plane agreement p, recall per neighbor is
    * 1 − (1 − (p^P + P·p^(P−1)(1−p)))^L — tables are the knob that
    * buys recall without scanning more of the corpus per bucket.
    *
    * Buckets take the raw vectors; candidates score by [[cosine]],
    * bit-identical to DuckDB's list_cosine_similarity, and ties break
    * toward the lower vec_id. The hyperplanes are seeded, so the whole
    * probe is a pure function of the corpus and the DuckDB oracle
    * replays it (q_ann_lsh). Returns (qid, vec_id, cosine, rank) — a
    * subset of brute force. */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 6, numTables: Int = 8, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding",
      qid: String = "qid", qvec: String = "qvec"): DataFrame = {
    val c = corpus.select(col(id).as("vec_id"), asDouble(col(vec)).as("_v"))
      .select(col("vec_id"), col("_v"),
        lshBucketRows(col("_v"), numPlanes, numTables, dim).as("_tb"))
    val probed = queries.select(col(qid).as("qid"), asDouble(col(qvec)).as("_q"))
      .select(col("qid"), col("_q"),
        lshProbeRows(col("_q"), numPlanes, numTables, dim).as("_tb"))
    rankTopK(c.join(broadcast(probed), "_tb")
      .groupBy(col("qid"), col("vec_id"))
      .agg(max(cosine(col("_v"), col("_q"))).as("cosine")), "cosine", k)
  }

  /** The centroid table as a literal array of (i, c) structs — the
    * explode side of every cell argmax. */
  private def centroidArr(centroids: Array[Array[Double]]): Column =
    array(centroids.zipWithIndex.map { case (cv, i) =>
      struct(lit(i).as("i"), lit(cv).as("c"))
    }.toIndexedSeq: _*)

  /** The IVF cell of every row of a (vec_id, _v) frame: the centroid
    * with the largest dot(_v, c), ties toward the lower cell id, so the
    * cell is a pure function of the vector and not of shuffle order.
    * One (vector, centroid) row per candidate cell feeds a codegen'd
    * max_by — not an argsort column whose lambda would re-evaluate the
    * vector per centroid (measured 25 s vs ~1 s at sf0.1). `_v` rides
    * along for the trainer; a caller that drops it has it pruned from
    * the aggregate. Returns (vec_id, _v, _cell). */
  private def assignCells(c: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    c.select(col("vec_id"), col("_v"), explode(centroidArr(centroids)).as("_ce"))
      .select(col("vec_id"), col("_v"),
        col("_ce.i").as("_celli"), dot(col("_v"), col("_ce.c")).as("_cd"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("_celli"), struct(col("_cd"), -col("_celli"))).as("_cell"),
        first(col("_v")).as("_v"))

  /** IVF cell per corpus vector, on the RAW vector: an argmax over
    * dot(v, c) does not change when v is scaled, so no normalize runs.
    * Shared by [[ivfTopK]], `Quantize.ivfPqTopK` and the persisted
    * IVF∘PQ index writers. Returns (vec_id, _cell). */
  def cellAssignments(corpus: DataFrame, centroids: Array[Array[Double]],
      id: String = "vec_id", vec: String = "embedding"): DataFrame =
    assignCells(corpus.select(col(id).as("vec_id"), asDouble(col(vec)).as("_v")), centroids)
      .select(col("vec_id"), col("_cell"))

  /** The `nprobe` cells per query whose centroids have the largest raw
    * dot with the query, ties toward the lower cell id — the same
    * arithmetic as [[cellAssignments]]. Returns (qid, _q, _cell), `_q`
    * the query as double[]. */
  def probeCells(queries: DataFrame, centroids: Array[Array[Double]], nprobe: Int,
      qid: String = "qid", qvec: String = "qvec"): DataFrame = {
    val qw = Window.partitionBy(col("qid")).orderBy(col("_cd").desc, col("_celli"))
    queries.select(col(qid).as("qid"), asDouble(col(qvec)).as("_q"))
      .select(col("qid"), col("_q"), explode(centroidArr(centroids)).as("_ce"))
      .select(col("qid"), col("_q"),
        col("_ce.i").as("_celli"), dot(col("_q"), col("_ce.c")).as("_cd"))
      .withColumn("_cr", row_number().over(qw)).filter(col("_cr") <= nprobe)
      .select(col("qid"), col("_q"), col("_celli").as("_cell"))
  }

  /** IVF (inverted-file) ANN: corpus is partitioned into cells by
    * nearest centroid; a query scores only the `nprobe` cells whose
    * centroids are closest — the coarse-quantizer structure used at
    * billion-vector scale (cell lists persist as partition dirs; a
    * query touches nprobe/nlist of the corpus).
    *
    * `centroids0` takes trained centroids ([[trainIvfCentroids]]);
    * without it the centroids are a deterministic seeded sample of the
    * corpus domain — the assignment/probe machinery is identical.
    * Cells and probes come from [[cellAssignments]] and [[probeCells]];
    * candidates score by [[cosine]]. With fixed centroids the query is
    * a pure function of the corpus, so the DuckDB oracle replays
    * assignment → probe → score → top-k (q_ann_ivf, q_ann_ivf_seeded).
    * Recall is asserted against brute force in LlmSpec. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding",
      qid: String = "qid", qvec: String = "qvec",
      centroids0: Option[Array[Array[Double]]] = None): DataFrame = {
    val centroids = centroids0.getOrElse(seededCentroids(nlist, dim))
    val cand = corpus.select(col(id).as("vec_id"), asDouble(col(vec)).as("_v"))
      .join(cellAssignments(corpus, centroids, id, vec), "vec_id")
      .join(broadcast(probeCells(queries, centroids, nprobe, qid, qvec)), "_cell")
    rankTopK(cand.select(col("qid"), col("vec_id"),
      cosine(col("_v"), col("_q")).as("cosine")), "cosine", k)
  }

  /** Deterministic seeded unit-norm centroid init (shared by ivfTopK
    * and the trainer). */
  def seededCentroids(nlist: Int, dim: Int, seed: Long = 7L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nlist) {
      val v = Array.fill(dim)(rng.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
  }

  /** Spherical k-means (Lloyd) centroid trainer for `ivfTopK` — the
    * offline job the IVF scaladoc promises. Each iteration is ONE
    * distributed pass: assign every unit vector to its max-cosine
    * centroid (the search-time [[assignCells]] argmax), then
    * component-wise mean + renormalize.
    * Only the (nlist × dim) centroid table is collected per iteration
    * — the same metadata-size driver exception as ANALYZE stats; the
    * corpus itself never leaves the executors, so the trainer scales
    * to any corpus the assignment pass scales to. Assignment ties
    * break toward the lower cell id, so training is deterministic for
    * a given corpus regardless of partitioning. Empty cells retain
    * their previous centroid (the standard Lloyd dead-cell rule). */
  def trainIvfCentroids(corpus: DataFrame, nlist: Int = 16, iters: Int = 5,
      dim: Int = 64, id: String = "vec_id", vec: String = "embedding",
      seed: Long = 7L): Array[Array[Double]] = {
    val c = corpus.select(col(id).as("vec_id"), normalized(asDouble(col(vec))).as("_v"))
    var centroids = seededCentroids(nlist, dim, seed)
    for (_ <- 0 until iters) {
      val stats = assignCells(c, centroids)
        .select(col("_cell"), posexplode(col("_v")).as(Seq("_p", "_x")))
        .groupBy(col("_cell"), col("_p"))
        .agg(sum(col("_x")).as("_s"), count(lit(1)).as("_n"))
        .collect()
      val next = centroids.map(_.clone())
      stats.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
        val v = new Array[Double](dim)
        rows.foreach(r => v(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) next(cell) = v.map(_ / n)
      }
      centroids = next
    }
    centroids
  }

  /** Mean max-cosine of the corpus to its assigned centroid — the
    * spherical k-means objective (non-decreasing under Lloyd steps). */
  def meanAssignCosine(corpus: DataFrame, centroids: Array[Array[Double]],
      id: String = "vec_id", vec: String = "embedding"): Double =
    corpus.select(col(id).as("_id"), normalized(asDouble(col(vec))).as("_v"))
      .select(col("_id"), col("_v"), explode(centroidArr(centroids)).as("_ce"))
      .select(col("_id"), dot(col("_v"), col("_ce.c")).as("_cd"))
      .groupBy(col("_id")).agg(max(col("_cd")).as("_m"))
      .agg(avg(col("_m"))).head().getDouble(0)

  /** Shared pair-verify: cosine = dot/(‖a‖·‖b‖) with ‖v‖ cached once
    * per VECTOR, clamped — the exact evaluation order of DuckDB's
    * list_cosine_similarity, so output is bit-comparable to an
    * all-pairs oracle. */
  private def verifyPairs(pairs: DataFrame, c0: DataFrame, threshold: Double): DataFrame = {
    val d = col("_na") * col("_nb")
    val cos = least(greatest(
      when(d > 0, dot(col("_va"), col("_vb")) / d).otherwise(lit(0.0)),
      lit(-1.0)), lit(1.0))
    pairs
      .join(c0.select(col("_id").as("id_a"), col("_v").as("_va"), col("_n").as("_na")), "id_a")
      .join(c0.select(col("_id").as("id_b"), col("_v").as("_vb"), col("_n").as("_nb")), "id_b")
      .select(col("id_a"), col("id_b"), cos.as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs (cosine ≥ threshold),
    * candidates from multi-probe sign-LSH across `numTables` tables —
    * the embedding analog of Dedup.minhashDupPairs. Narrow
    * (table, bucket, id) rows go through the shuffle; vectors are
    * joined back by id only for candidate pairs.
    *
    * Recall model (p = 1 − θ/π per plane, θ = acos(threshold)): a
    * qualifying pair is a candidate in one table iff its buckets
    * differ in ≤ `probeBits` of the `numPlanes` sign bits, so
    * per-table hit ≥ Σ_{k≤probeBits} C(P,k)·p^(P−k)(1−p)^k and the
    * miss rate is (1−hit)^numTables — tables buy recall without
    * widening any bucket. With the defaults (P=8, L=8, probe 1) a
    * cos-0.8 pair (p=0.795) is missed with p≈0.028 and a cos-0.9
    * pair (p=0.897) with p≈3e-5; candidate volume is
    * ≈ L·(P+1)·N²/2^P ≈ 0.28·N² at N=2k and FALLS with corpus-tuned
    * P (planes scale with log N, keeping buckets O(1)).
    *
    * EFFECTIVE RANGE: sign-LSH amplifies only when per-plane
    * agreement clears the random-pair baseline of 0.5 by a margin —
    * i.e. thresholds ≳ 0.6. Below that (e.g. 0.4 → p=0.63) no
    * (P, L, probe) choice separates qualifying from random pairs:
    * parameters that catch borderline pairs admit ~all pairs. For
    * exact low-threshold similarity joins use
    * `cosineDupPairsExact` instead.
    *
    * Bucketing hashes the RAW vector (sign of a plane-dot is
    * scale-invariant, so normalizing first buys nothing). */
  def cosineDupPairs(
      corpus: DataFrame, threshold: Double,
      numPlanes: Int = 8, numTables: Int = 8, probeBits: Int = 1, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    val keyed = corpus.select(col(id).as("_mid"), asDouble(col(vec)).as("_v"))
    if (!hasVectorTwins(keyed)) {
      val c0 = keyed.select(col("_mid").as("_id"), col("_v"), norm(col("_v")).as("_n"))
      verifyPairs(lshCandidatePairs(c0, numPlanes, numTables, probeBits, dim),
        c0, threshold)
    } else {
      val (classes, members) = vectorClasses(keyed)
      val repPairs = verifyPairs(
        lshCandidatePairs(classes, numPlanes, numTables, probeBits, dim),
        classes, threshold)
      expandVectorClassPairs(repPairs, classes, members, threshold)
    }
  }

  /** One cheap probe job deciding the twin-collapse branch: does any
    * exact-duplicate vector class have ≥ 2 members? Clone-free corpora
    * (the common case after upstream exact dedup) then skip the
    * collapse machinery entirely — its groupBy/membership joins are
    * pure overhead there. */
  private def hasVectorTwins(keyed: DataFrame): Boolean =
    !keyed.groupBy(col("_v")).agg(count(lit(1)).as("_k"))
      .filter(col("_k") > 1).isEmpty

  /** (classes, members) of the exact-vector twin collapse (round 12):
    * a corpus with k copies of a vector used to push all k through
    * bucketing/blocking and compare them pairwise — O(k²) candidate
    * rows for pairs that are definitionally duplicates. `classes` is
    * one row per DISTINCT vector (_id = min member id, _v, _n);
    * `members` maps every original id to its class. Spark normalizes
    * NaN/−0.0 in group and join keys (NormalizeFloatingNumbers), so
    * the groupBy and the membership join agree on what "identical"
    * means. Reference analog: the dictionary scan dedups values before
    * its join (`dbcon/joblist/pdictionaryscan.cpp`). */
  private def vectorClasses(keyed: DataFrame): (DataFrame, DataFrame) = {
    val classes = keyed.groupBy(col("_v")).agg(min(col("_mid")).as("_id"))
      .select(col("_id"), col("_v"), norm(col("_v")).as("_n"))
    val members = keyed.join(classes.select(col("_v"), col("_id").as("_cid")), "_v")
      .select(col("_cid"), col("_mid"))
    (classes, members)
  }

  /** Expand class-representative pairs (id_a, id_b, cosine) to member
    * pairs — classes are disjoint, so each member pair appears exactly
    * once, with the cosine computed ONCE per class pair (identical
    * vectors ⇒ identical doubles) — and add within-class pairs, whose
    * value is the class vector's self-cosine through the SAME guarded
    * expression the cross path evaluates (dot/(n·n), zero-norm → 0.0,
    * clamped), so every emitted double is bit-identical to what the
    * pre-collapse all-member plan produced. */
  private def expandVectorClassPairs(repPairs: DataFrame, classes: DataFrame,
      members: DataFrame, threshold: Double): DataFrame = {
    val d = col("_n") * col("_n")
    val selfCos = least(greatest(
      when(d > 0, dot(col("_v"), col("_v")) / d).otherwise(lit(0.0)),
      lit(-1.0)), lit(1.0))
    val classSelf = classes.select(col("_id").as("_cid"), selfCos.as("cosine"))
      .filter(col("cosine") >= threshold)
    val twins = members.as("a").join(members.as("b"),
        col("a._cid") === col("b._cid") && col("a._mid") < col("b._mid"))
      .select(col("a._cid").as("_cid"),
        col("a._mid").as("id_a"), col("b._mid").as("id_b"))
      .join(classSelf, "_cid")
      .select(col("id_a"), col("id_b"), col("cosine"))
    val cross = repPairs
      .join(members.select(col("_cid").as("id_a"), col("_mid").as("_ia")), "id_a")
      .join(members.select(col("_cid").as("id_b"), col("_mid").as("_ib")), "id_b")
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("cosine"))
    twins.unionByName(cross)
  }

  /** The multi-probe candidate stage of `cosineDupPairs`, exposed so
    * specs can assert its volume stays ≪ N² (the scale contract). */
  private def lshCandidatePairs(c0: DataFrame, numPlanes: Int, numTables: Int,
      probeBits: Int, dim: Int): DataFrame = {
    require(numPlanes <= 62, "numPlanes must fit a long bucket id")
    require(probeBits >= 0 && probeBits <= numPlanes, "probeBits out of range")
    val tables = lshTables(numPlanes, numTables, dim)
    // buckets computed ONCE per (vector, table) — P·L dots per vector;
    // probe variants are cheap literal XORs on the materialized bucket
    // (not re-evaluations of bucketOf, which would re-run the dots
    // per probe — the interpreted-HOF inlining trap, again)
    val withB = c0.select(col("_id") +: tables.zipWithIndex.map { case (p, t) =>
      bucketOf(col("_v"), p).as(s"_b$t")
    }: _*)
    val masks: Seq[Long] = (0 to probeBits).flatMap(k =>
      (0 until numPlanes).combinations(k).map(_.map(1L << _).sum))
    // explicit exchanges on the bucket key: withB sits on the small
    // materialized class collapse, and the (P,L,probe) explode factor
    // is invisible to AQE's size stats — same one-task-join hazard as
    // the banded text pipelines
    val own = withB.select(col("_id"),
      explode(array((0 until numTables).map(t =>
        struct(lit(t).as("t"), col(s"_b$t").as("b"))): _*)).as("_tb"))
      .repartition(col("_tb"))
    val probed = withB.select(col("_id"),
      explode(array((for { t <- 0 until numTables; m <- masks } yield
        struct(lit(t).as("t"), col(s"_b$t").bitwiseXOR(lit(m)).as("b"))): _*)).as("_tb"))
      .repartition(col("_tb"))
    own.as("a").join(probed.as("b"),
        col("a._tb") === col("b._tb") && col("a._id") < col("b._id"))
      .select(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .distinct()
  }

  /** Candidate-pair count for `cosineDupPairs`'s parameterization —
    * the measurable sub-quadratic guarantee. */
  def cosineCandidateCount(corpus: DataFrame,
      numPlanes: Int = 8, numTables: Int = 8, probeBits: Int = 1, dim: Int = 64,
      id: String = "vec_id", vec: String = "embedding"): Long = {
    val keyed = corpus.select(col(id).as("_mid"), asDouble(col(vec)).as("_v"))
    val (classes, _) = vectorClasses(keyed)
    lshCandidatePairs(classes, numPlanes, numTables, probeBits, dim).count()
  }

  /** EXACT cosine-similarity self-join (every pair with cosine ≥
    * threshold, recall 1.0 at ANY threshold) as a triangle block
    * join — the scale shape for thresholds below sign-LSH's
    * effective range, where an exact answer is inherently O(N²)
    * COMPARISONS but need not be O(N²) SHUFFLE:
    *
    *  - each vector lands in block `pmod(hash(id), B)`;
    *  - block-pair cell (i,j), i ≤ j, receives block i as role A and
    *    block j as role B — each vector is replicated ≤ B+1 times,
    *    so shuffle volume is O(N·B) rows while the comparisons run
    *    data-parallel across B(B+1)/2 independent cells;
    *  - the per-pair score is one native `vec_dot` call inside the
    *    join's codegen'd residual — no interpreted fold, nothing
    *    materialized.
    *
    * On a cluster, B is sized so a cell's two blocks fit a task
    * (B ≈ N·rowBytes / taskMemory), the same recursive-partition
    * answer the reference gives for oversized hash joins
    * (`docs/DiskJoinStep.md`). Pairs verify in DuckDB's
    * list_cosine_similarity evaluation order → bit-green oracle. */
  def cosineDupPairsExact(
      corpus: DataFrame, threshold: Double, numBlocks: Int = 16,
      id: String = "vec_id", vec: String = "embedding"): DataFrame = {
    // exact-twin collapse (round 12), adaptive like minhashDupPairs:
    // with duplicate vectors present the O(N²) comparison grid runs
    // over DISTINCT vectors only — k copies of a vector cost one class
    // row in the grid, not k² comparisons; member pairs are generated
    // from the qualifying class pairs, never compared. Clone-free
    // corpora take the direct grid with zero collapse overhead.
    val keyed = corpus.select(col(id).as("_mid"), asDouble(col(vec)).as("_v"))
    if (!hasVectorTwins(keyed)) {
      val c0 = keyed.select(col("_mid").as("_id"), col("_v"),
        norm(col("_v")).as("_n"))
      blockPairs(c0, threshold, numBlocks, repartitionCells = false)
    } else {
      val (classes, members) = vectorClasses(keyed)
      val repPairs = blockPairs(classes, threshold, numBlocks,
        repartitionCells = true)
      expandVectorClassPairs(repPairs, classes, members, threshold)
    }
  }

  /** The triangle block join of [[cosineDupPairsExact]] over any
    * (_id, _v, _n) frame. `repartitionCells` is set on the collapsed
    * path only: there the input is a small materialized aggregate, and
    * without the explicit exchange the whole B(B+1)/2-cell comparison
    * grid would inherit its one AQE-coalesced partition and run
    * serially — the cells are the designed unit of parallelism.
    * Straight off a scan the join's own exchange parallelizes
    * correctly. */
  private def blockPairs(c0in: DataFrame, threshold: Double, numBlocks: Int,
      repartitionCells: Boolean): DataFrame = {
    val b = numBlocks
    val c0 = c0in.withColumn("_blk", pmod(hash(col("_id")), lit(b)))
    def spread(df: DataFrame): DataFrame =
      if (repartitionCells) df.repartition(col("_cell")) else df
    val aSide = spread(c0
      .select(col("_id").as("id_a"), col("_v").as("_va"), col("_n").as("_na"),
        col("_blk").as("_ba"), explode(sequence(col("_blk"), lit(b - 1))).as("_j"))
      .withColumn("_cell", struct(col("_ba").as("i"), col("_j").as("j"))))
    val bSide = spread(c0
      .select(col("_id").as("id_b"), col("_v").as("_vb"), col("_n").as("_nb"),
        col("_blk").as("_bb"), explode(sequence(lit(0), col("_blk"))).as("_i"))
      .withColumn("_cell", struct(col("_i").as("i"), col("_bb").as("j"))))
    val d = col("_na") * col("_nb")
    val cos = least(greatest(
      when(d > 0, dot(col("_va"), col("_vb")) / d).otherwise(lit(0.0)),
      lit(-1.0)), lit(1.0))
    aSide.join(bSide, Seq("_cell"))
      // same-block cells see both orderings (and self-pairs): keep one;
      // cross-block pairs meet exactly once, in either id order
      .filter(col("_ba") =!= col("_bb") || col("id_a") < col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), cos.as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
