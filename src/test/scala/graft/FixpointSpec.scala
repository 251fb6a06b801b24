package graft

import org.apache.spark.sql.execution.CacheProbe
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.llm.Dedup
import graft.operators.{GraphRank, KCore}

/** The adaptive fixpoint skeleton (`operators/Fixpoint`) across its
  * callers: the driver step equals the distributed step bit for bit on
  * random graphs, and no call leaves a cache entry behind on either
  * path. The hand-built ground-truth fixtures live in GraphRankSpec and
  * PipelineSpec. */
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
}
