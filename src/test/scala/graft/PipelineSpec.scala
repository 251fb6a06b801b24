package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Packing, Sampling, TextAnalysis}

/** Invariant proofs for the pipeline-composition operators: dup-pair
  * cluster resolution (transitive closure, canonical selection),
  * sequence packing (distributed two-phase scan ≡ single-window
  * reference; budget invariants), and deterministic sampling
  * (reproducibility, threshold monotonicity, exact stratum quotas). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("dupClusters resolves transitive components beyond direct pairs") {
    // chain 1-2, 2-3 (1 and 3 never paired) + island 7-9 + path 10-11-12-13
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L)
    // driver union-find fast path (pair count under the bound)...
    val got = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == want)
    // ...and the distributed min-label loop (bound forced to 0) agree
    val gotDist = Dedup.dupClusters(pairs, driverMaxPairs = 0L)
      .as[(Long, Long)].collect().toMap
    assert(gotDist == want)
  }

  test("dupClusters drops pairs with a NULL id on both paths") {
    // the driver union-find used to throw on a NULL id while the
    // distributed loop emitted a NULL-_id row
    val pairs = Seq((Option(1L), Option(2L)), (Option(2L), None: Option[Long]),
      (None: Option[Long], Option(5L)), (Option(7L), Option(3L)))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 7L -> 3L)
    for (bound <- Seq(1000000L, 0L)) {
      val got = Dedup.dupClusters(pairs, driverMaxPairs = bound)
        .as[(Option[Long], Option[Long])].collect()
      assert(got.forall(r => r._1.isDefined && r._2.isDefined), s"driverMaxPairs $bound")
      assert(got.length == want.size, s"driverMaxPairs $bound")
      assert(got.map(r => r._1.get -> r._2.get).toMap == want, s"driverMaxPairs $bound")
    }
  }

  test("dupClusters stages labels under the configured shared scratch root") {
    // On a real cluster executors cannot see the driver's local temp
    // dir, so the stage dir must come from spark.graft.scratchRoot
    // (shared storage). Point it at an explicit file: URI and prove
    // the staged labels land there AND read back correctly.
    val rootDir = "file:" + java.nio.file.Files.createTempDirectory("graft_scratch")
    spark.conf.set(graft.sources.Scratch.ConfKey, rootDir)
    try {
      // force the distributed path (driverMaxPairs = 0): only it stages
      val pairs = Seq((1L, 2L), (2L, 3L), (8L, 5L)).toDF("id_a", "id_b")
      val got = Dedup.dupClusters(pairs, driverMaxPairs = 0L)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 8L -> 5L))
      val hfs = new org.apache.hadoop.fs.Path(rootDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staged = hfs.listStatus(new org.apache.hadoop.fs.Path(rootDir)).toSeq
        .map(_.getPath.getName).filter(_.startsWith("dupclusters-"))
      assert(staged.nonEmpty, "stage dir must be allocated under the configured root")
      // eager reclamation API
      staged.foreach(d => graft.sources.Scratch.remove(spark, s"$rootDir/$d"))
      assert(hfs.listStatus(new org.apache.hadoop.fs.Path(rootDir)).isEmpty)
    } finally spark.conf.unset(graft.sources.Scratch.ConfKey)
  }

  test("nearDedup keeps each cluster minimum and all unpaired docs") {
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((2L, 4L), (4L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDedup(docs, pairs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 5L, 7L, 8L)) // 4 and 6 fold into 2
  }

  test("packSequences two-phase scan matches the single-window reference") {
    val docs = Tables.t(spark, sfDir, "documents")
    val fast = Packing.packSequences(docs, budget = 512L)
    val ref = Packing.packSequencesGlobalWindow(docs, budget = 512L)
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
  }

  test("packSequences invariants: offsets in budget, spans consistent") {
    val out = Packing.packSequences(Tables.t(spark, sfDir, "documents"), budget = 256L)
    val bad = out.filter(
      col("pack_off") < 0 || col("pack_off") >= 256 || col("n_tokens") <= 0 ||
        col("n_packs") =!= (col("pack_off") + col("n_tokens") + lit(255L)).divide(lit(256L)).cast("long"))
    assert(bad.isEmpty)
    // packs are dense: consecutive docs in id order abut exactly
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val gaps = out
      .withColumn("_nextStart", lead(col("pack_id") * 256 + col("pack_off"), 1).over(w))
      .filter(col("_nextStart").isNotNull &&
        col("_nextStart") =!= col("pack_id") * 256 + col("pack_off") + col("n_tokens"))
    assert(gaps.isEmpty)
  }

  test("uniformSample is reproducible and monotone in fraction") {
    val docs = Tables.t(spark, sfDir, "documents")
    val s1 = Sampling.uniformSample(docs, "doc_id", 0.1).select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.uniformSample(docs, "doc_id", 0.1).select("doc_id").as[Long].collect().toSet
    val s3 = Sampling.uniformSample(docs, "doc_id", 0.3).select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)                       // rerun ⇒ identical subset
    assert(s1.subsetOf(s3))                // threshold monotone ⇒ nested samples
    val n = docs.count().toDouble
    assert(math.abs(s3.size / n - 0.3) < 0.15) // coarse uniformity at sf0.001
  }

  test("different salts give (near-)independent samples") {
    val docs = Tables.t(spark, sfDir, "documents")
    val a = Sampling.uniformSample(docs, "doc_id", 0.5, salt = "train")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.uniformSample(docs, "doc_id", 0.5, salt = "valid")
      .select("doc_id").as[Long].collect().toSet
    val n = docs.count().toDouble
    // P(in both) ≈ 0.25 for independent halves; binary-split would be 0 or 0.5
    val overlap = a.intersect(b).size / n
    assert(overlap > 0.1 && overlap < 0.4)
  }

  test("weightedSample: deterministic, bounded per group, weight-proportional across salts") {
    val df = (1 to 40).map(i => (i.toLong, if (i <= 20) 1.0 else 10.0, "g"))
      .toDF("id", "w", "grp")
    val a = Sampling.weightedSample(df, "id", "w", k = 5, Seq("grp"))
      .select("id").as[Long].collect().sorted.toSeq
    val b = Sampling.weightedSample(df, "id", "w", k = 5, Seq("grp"))
      .select("id").as[Long].collect().sorted.toSeq
    assert(a == b && a.size == 5, "pure function of (id, salt)")
    // per-group bound holds with several groups
    val multi = df.withColumn("grp",
      when(col("id") % 2 === 0, "even").otherwise("odd"))
    val counts = Sampling.weightedSample(multi, "id", "w", k = 3, Seq("grp"))
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(counts.values.forall(_ == 3))
    // ES proportionality: over many salts, 10x-weighted ids take most
    // of the k slots (E[share] -> k*w_i/SUM(w) as draws repeat)
    val heavyShare = (1 to 30).map { s =>
      Sampling.weightedSample(df, "id", "w", k = 5, Seq("grp"), salt = s"s$s")
        .where(col("id") > 20).count()
    }.sum
    assert(heavyShare > 30 * 5 * 0.7,
      s"heavy rows took $heavyShare of ${30 * 5} slots")
    // zero weight never drawn while positive-weight rows remain
    val withZero = df.withColumn("w", when(col("id") === 1, 0.0).otherwise(col("w")))
    assert(!Sampling.weightedSample(withZero, "id", "w", k = 39, Seq("grp"))
      .select("id").as[Long].collect().contains(1L))
  }

  test("tokenBudgetSample: sums fit the budget, samples nest as budget grows") {
    val docs = Tables.t(spark, sfDir, "documents")
    def sample(b: Long) = Sampling.tokenBudgetSample(docs, "source", "doc_id", b)
    // every stratum's delivered tokens fit the budget
    val sums = sample(300L)
      .select(col("source"), graft.llm.TextAnalysis.tokenCount(col("text")).as("n"))
      .groupBy("source").agg(sum("n").as("tot"))
    assert(sums.filter(col("tot") > 300).isEmpty)
    assert(sums.count() > 0, "budget should admit at least some docs")
    // monotone: a larger budget only ADDS documents
    val small = sample(200L).select("doc_id").as[Long].collect().toSet
    val large = sample(800L).select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large))
    // reruns identical
    assert(sample(200L).select("doc_id").as[Long].collect().toSet == small)
  }

  test("dedupAgainst drops exact and near dups of the corpus, keeps novel docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every single day"),
      (2L, "completely different corpus content about databases and queries")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog every single day"), // exact
      (11L, "the quick brown fox jumps over the lazy dog every single night"), // near
      (12L, "a totally novel document that matches nothing in the corpus at all")
    ).toDF("doc_id", "text")
    val keptExactOnly = Dedup.dedupAgainst(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(keptExactOnly == Set(11L, 12L)) // exact stage alone keeps the near-dup
    val kept = Dedup.dedupAgainst(batch, corpus, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L))
  }

  test("removeBoilerplate strips cross-doc repeated lines, preserves order and blanks") {
    val docs = Seq(
      (1L, "SITE HEADER\nunique one\n\nSITE FOOTER"),
      (2L, "SITE HEADER\nunique two\nSITE FOOTER"),
      (3L, "SITE HEADER\nunique three\nSITE FOOTER"),
      (4L, "no chrome here at all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.removeBoilerplate(docs, maxDocs = 2)
      .select(col("doc_id"), col("text"), col("n_removed"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == (("unique one\n", 2L))) // blank line survives, order kept
    assert(got(2L) == (("unique two", 2L)))
    assert(got(4L) == (("no chrome here at all", 0L)))
  }

  test("stratifiedSample pins exactly ceil(f·n) rows per stratum") {
    val docs = Tables.t(spark, sfDir, "documents")
    val expected = docs.groupBy("source").agg(ceil(count(lit(1)) * 0.25).cast("long").as("want"))
    val got = Sampling.stratifiedSample(docs, "source", "doc_id", 0.25)
      .groupBy("source").agg(count(lit(1)).as("have"))
    assert(expected.join(got, "source").filter(col("want") =!= col("have")).isEmpty)
  }
}
