package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.CacheProbe
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.llm.Dedup
import graft.operators.{GraphRank, KCore}

/** The adaptive driver-or-distributed gate (`operators/Fixpoint`)
  * across its callers: the driver step equals the distributed step bit
  * for bit on random graphs and random corpora, no call leaves a cache
  * entry behind on either path, and the set-similarity join's gate
  * costs the jobs it should. The hand-built ground-truth fixtures live
  * in GraphRankSpec, PipelineSpec, LlmSpec and EdgeSpec. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  // ids straddling the Int range and near Long.MaxValue / 4, so a
  // narrowing cast or an overflowing sum would show as a difference
  private val id: Gen[Long] = Gen.oneOf(
    Gen.choose(0L, 6L),
    Gen.choose(Int.MaxValue - 2L, Int.MaxValue + 2L),
    Gen.choose(Long.MaxValue / 4 - 2, Long.MaxValue / 4))
  private val endpoint: Gen[Option[Long]] =
    Gen.frequency(9 -> id.map(Some(_)), 1 -> Gen.const(None))

  // a random multigraph plus repeated edges, one self-loop and NULL
  // endpoints (dropped identically by both paths)
  private val graph: Gen[Seq[(Option[Long], Option[Long])]] = for {
    n <- Gen.choose(1, 12)
    es <- Gen.listOfN(n, Gen.zip(endpoint, endpoint))
    dups <- Gen.someOf(es)
    self <- id
  } yield es ++ dups :+ ((Some(self), Some(self)))

  /** The three adaptive operators at one bound, as sorted rows. */
  private def results(es: Seq[(Option[Long], Option[Long])], bound: Long) = {
    val e = es.toDF("a", "b")
    (GraphRank.pageRank(e, "a", "b", driverMaxEdges = bound)
        .as[(Long, Long)].collect().sorted.toSeq,
      KCore.coreness(e, "a", "b", driverMaxEdges = bound)
        .as[(Long, Long)].collect().sorted.toSeq,
      Dedup.dupClusters(e.toDF("id_a", "id_b"), driverMaxPairs = bound)
        .as[(Long, Long)].collect().sorted.toSeq)
  }

  test("driver and distributed steps agree bit for bit on random graphs") {
    val prop = Prop.forAllNoShrink(graph) { es =>
      val viaDriver = results(es, 1000000L)
      val viaDistributed = results(es, 0L)
      Prop(viaDriver == viaDistributed) :| s"graph $es: $viaDriver vs $viaDistributed"
    }
    val params = Test.Parameters.default.withMinSuccessfulTests(8)
      .withInitialSeed(Seed(20261017L)).withWorkers(1)
    val res = Test.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  test("the distributed path reads its result back without a schema-inference job") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val viaDriver = GraphRank.pageRank(e, "a", "b").as[(Long, Long)].collect().sorted.toSeq
    val (sqlJobs, otherJobs) = jobs {
      assert(GraphRank.pageRank(e, "a", "b", driverMaxEdges = 0L)
        .as[(Long, Long)].collect().sorted.toSeq == viaDriver)
    }
    assert(sqlJobs > 0, "the listener saw no job at all")
    assert(otherJobs === 0)
  }

  test("no fixpoint call leaves a cache entry behind, on either path") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    for (bound <- Seq(1000000L, 0L)) {
      val entries = CacheProbe.entries(spark)
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      GraphRank.pageRank(e, "a", "b", driverMaxEdges = bound).collect()
      KCore.coreness(e, "a", "b", driverMaxEdges = bound).collect()
      KCore.kCore(e, "a", "b", k = 2).collect()
      Dedup.dupClusters(e.toDF("id_a", "id_b"), driverMaxPairs = bound).collect()
      assert(CacheProbe.entries(spark) == entries, s"cache entries left at bound $bound")
      assert(spark.sparkContext.getPersistentRDDs.keySet == rdds,
        s"persisted RDDs left at bound $bound")
    }
  }

  // a six-word vocabulary makes trigram sets overlap at every level;
  // NULL, empty, token-less and under-3-token texts ride along
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    2 -> Gen.oneOf("", "  \t ", "Solo", "two Words").map(Some(_)),
    7 -> Gen.choose(3, 9).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "d", "e", "f")))
      .map(ws => Some(ws.mkString(" "))))

  // distinct ids (a repeated id sends the join distributed) straddling
  // the Int range, one in ten NULL; every drawn text also has an exact
  // twin under another id with probability one half
  private def corpus(pool: Seq[Long]): Gen[Seq[(Option[Long], Option[String])]] = for {
    texts <- Gen.choose(2, 10).flatMap(Gen.listOfN(_, text))
    twins <- Gen.someOf(texts)
    all = texts ++ twins
    ids <- Gen.pick(all.size, pool)
    nulls <- Gen.listOfN(all.size, Gen.frequency(9 -> false, 1 -> true))
  } yield ids.toSeq.zip(nulls).map { case (i, n) => if (n) None else Some(i) }.zip(all)

  private val longIds: Seq[Long] = (0L to 24L) ++
    Seq(Int.MaxValue - 1L, Int.MaxValue + 1L, Long.MaxValue / 4, Long.MaxValue - 1)
  private val intIds: Seq[Long] = (0L to 24L) ++ Seq(Int.MaxValue - 1L, Int.MaxValue.toLong)

  /** The three set-similarity joins at one document bound: the frames
    * and their rows, sorted, the value compared as a double. */
  private def setJoins(docs: DataFrame, threshold: Double, bound: Long) = {
    val frames = Seq(
      Dedup.minhashDupPairs(docs, threshold = threshold, driverMaxDocs = bound),
      Dedup.jaccardDupPairs(docs, threshold, driverMaxDocs = bound)) ++
      (if (threshold <= 1) Seq(Dedup.containmentDupPairs(docs, threshold,
        driverMaxDocs = bound)) else Nil)
    frames.map(f => (f, f.collect().map(r =>
      (String.valueOf(r.get(0)), String.valueOf(r.get(1)), r.getDouble(2))).sorted.toSeq))
  }

  test("set-similarity joins: driver and distributed agree bit for bit on random corpora") {
    for (threshold <- Seq(0.3, 0.5, 0.6, 0.9, 1.0, 1.1)) {
      val prop = Prop.forAllNoShrink(Gen.oneOf(true, false).flatMap(asInt =>
          corpus(if (asInt) intIds else longIds).map(asInt -> _))) { case (asInt, rows) =>
        val docs =
          if (asInt) rows.map { case (i, t) => (i.map(_.toInt), t) }.toDF("doc_id", "text")
          else rows.toDF("doc_id", "text")
        val viaDriver = setJoins(docs, threshold, 1000000L)
        val viaDistributed = setJoins(docs, threshold, 0L)
        // the default bound must really take the driver step
        val local = viaDriver.forall(_._1.queryExecution.analyzed.collectLeaves()
          .forall(_.isInstanceOf[LocalRelation]))
        val same = viaDriver.map(_._2) == viaDistributed.map(_._2)
        (Prop(local) :| "a join left the driver step") &&
          (Prop(same) :| s"t=$threshold docs $rows: ${viaDriver.map(_._2)} vs " +
            s"${viaDistributed.map(_._2)}")
      }
      val params = Test.Parameters.default.withMinSuccessfulTests(2)
        .withInitialSeed(Seed(20261019L + (threshold * 10).toLong)).withWorkers(1)
      val res = Test.check(params, prop)
      assert(res.passed, s"t=$threshold: ${res.status}")
    }
  }

  test("q_dedup_jaccard at sf0.01 launches at most 2 jobs") {
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").toString
    val q = SparkEntry.queries("q_dedup_jaccard")
    q(spark, sf001).collect() // the process's first read of the table infers its schema
    val (sqlJobs, otherJobs) = jobs { q(spark, sf001).collect() }
    // the gate's bounded collect, then the sort and collect of its
    // one-partition result
    assert(sqlJobs + otherJobs <= 2, s"$sqlJobs SQL jobs + $otherJobs others")
  }

  test("a corpus whose size estimate is over the budget runs distributed with no gate job") {
    val docs = Tables.t(spark, sfDir, "documents")
    def run(bound: Long) = jobs {
      Dedup.jaccardDupPairs(docs, 0.5, driverMaxDocs = bound).collect()
    }
    val forced = run(0L) // the distributed plan, no gate at all
    assert(forced._1 > 2, s"the distributed plan ran only $forced jobs")
    // one document of budget is far under the frame's estimate
    assert(run(1L) == forced)
  }
}
