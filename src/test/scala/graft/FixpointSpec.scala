package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.CacheProbe
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import graft.llm.Dedup
import graft.operators.{Csr, Fixpoint, GraphRank, KCore, LongIds}

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

  // per id type, ids at both ends of its range (strings take the Long
  // ones), so a narrowing or a mixed-up key would show as a difference
  private val typedIds: Seq[(DataType, Gen[Long])] = Seq(
    ByteType -> Gen.oneOf(Gen.choose(0L, 6L), Gen.choose(123L, 127L)),
    ShortType -> Gen.oneOf(Gen.choose(0L, 6L), Gen.choose(32763L, 32767L)),
    IntegerType -> Gen.oneOf(Gen.choose(0L, 6L), Gen.choose(Int.MaxValue - 4L, Int.MaxValue.toLong)),
    LongType -> id,
    StringType -> id)

  /** The graph operators over `es` with both endpoints of type `dt`,
    * at one bound, as sorted (node, value) strings; dupClusters only
    * for integral ids, the only ones its driver step takes. */
  private def typedResults(es: Seq[(Long, Long)], dt: DataType, bound: Long) = {
    val e = es.toDF("a", "b").select(col("a").cast(dt).as("a"), col("b").cast(dt).as("b"))
    def rows(df: DataFrame) =
      df.collect().map(r => (String.valueOf(r.get(0)), String.valueOf(r.get(1)))).sorted.toSeq
    Seq(rows(GraphRank.pageRank(e, "a", "b", driverMaxEdges = bound)),
      rows(KCore.coreness(e, "a", "b", driverMaxEdges = bound))) ++
      (if (dt == StringType) Nil
       else Seq(rows(Dedup.dupClusters(e.toDF("id_a", "id_b"), driverMaxPairs = bound))))
  }

  test("driver and distributed graph steps agree for Byte, Short, Int, Long and string ids") {
    for ((dt, ids) <- typedIds) {
      val g = for {
        n <- Gen.choose(1, 10)
        es <- Gen.listOfN(n, Gen.zip(ids, ids))
        dups <- Gen.someOf(es)
      } yield es ++ dups
      val prop = Prop.forAllNoShrink(g) { es =>
        val viaDriver = typedResults(es, dt, 1000000L)
        val viaDistributed = typedResults(es, dt, 0L)
        Prop(viaDriver == viaDistributed) :| s"$dt graph $es: $viaDriver vs $viaDistributed"
      }
      val params = Test.Parameters.default.withMinSuccessfulTests(3)
        .withInitialSeed(Seed(20261020L)).withWorkers(1)
      val res = Test.check(params, prop)
      assert(res.passed, s"$dt: ${res.status}")
    }
  }

  /** Whether `df` is a driver step's result: [[Fixpoint.localResult]]'s
    * one-partition local relation, not a plan over the input. */
  private def driverStep(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case Repartition(1, false, _: LocalRelation) => true
    case _ => false
  }

  // repeated n-grams within one text (equal shingles before the
  // kernel's distinct), twins and under-3-token texts
  private val repeating: Gen[String] = Gen.frequency(
    3 -> Gen.oneOf("a b c a b c a b c", "a b a b a b a", "c c c c", "a b c d a b c d e"),
    1 -> Gen.oneOf("a", "b a"),
    4 -> Gen.choose(3, 8).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "d")))
      .map(_.mkString(" ")))

  test("set-similarity joins: driver equals distributed for Byte and Short ids and repeated shingles") {
    for (dt <- Seq(ByteType, ShortType); threshold <- Seq(0.3, 0.6, 1.0)) {
      val g = for {
        texts <- Gen.choose(2, 9).flatMap(Gen.listOfN(_, repeating))
        twins <- Gen.someOf(texts)
        all = texts ++ twins
        ids <- Gen.pick(all.size, (0L to 20L) ++ (120L to 127L))
      } yield ids.toSeq.zip(all)
      val prop = Prop.forAllNoShrink(g) { rows =>
        val docs = rows.toDF("doc_id", "text").select(col("doc_id").cast(dt).as("doc_id"),
          col("text"))
        val viaDriver = setJoins(docs, threshold, 1000000L)
        val viaDistributed = setJoins(docs, threshold, 0L)
        val local = viaDriver.forall(f => driverStep(f._1))
        (Prop(local) :| "a join left the driver step") &&
          (Prop(viaDriver.map(_._2) == viaDistributed.map(_._2)) :|
            s"$dt t=$threshold docs $rows: ${viaDriver.map(_._2)} vs ${viaDistributed.map(_._2)}")
      }
      val params = Test.Parameters.default.withMinSuccessfulTests(2)
        .withInitialSeed(Seed(20261021L)).withWorkers(1)
      val res = Test.check(params, prop)
      assert(res.passed, s"$dt t=$threshold: ${res.status}")
    }
  }

  test("the candidate bound: a clique of exactly the bound stays on the driver, one over leaves") {
    // five identical texts: every one of the 10 pairs is a candidate
    val docs = (1L to 5L).map(i => (i, "the same five words here")).toDF("doc_id", "text")
    def local(bound: Long) = driverStep(Dedup.jaccardDupPairs(docs, 0.5, driverMaxDocs = bound))
    assert(local(10L))
    assert(!local(9L))
    assert(Dedup.jaccardDupPairs(docs, 0.5, driverMaxDocs = 10L).count() == 10)
  }

  test("empty and all-NULL inputs: the driver steps return no rows, as the distributed plans do") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // a resident frame filtered to nothing by the joins' NULL filter
    val nulls = Seq[(Option[Long], Option[String])]((None, Some("a b c")), (Some(1L), None),
      (None, None)).toDF("doc_id", "text")
    // not a local relation: the gate's collect job returns no rows
    val collected = spark.range(3).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit(null).cast(StringType).as("text"))
    for (docs <- Seq(empty, nulls, collected); threshold <- Seq(0.5, 1.0)) {
      val viaDriver = setJoins(docs, threshold, 10000L) // the joins' default bound
      assert(viaDriver.forall(f => driverStep(f._1)), "a join left the driver step")
      assert(viaDriver.forall(_._2.isEmpty))
      assert(viaDriver.map(_._2) == setJoins(docs, threshold, 0L).map(_._2))
    }
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(GraphRank.pageRank(noEdges, "a", "b").collect().isEmpty)
    assert(KCore.coreness(noEdges, "a", "b").collect().isEmpty)
    assert(Dedup.dupClusters(noEdges.toDF("id_a", "id_b")).collect().isEmpty)
  }

  test("LongIds: dense first-seen ids and set membership across resizes") {
    val rnd = new scala.util.Random(7)
    val keys = Seq.fill(50000)(rnd.nextLong() >> rnd.nextInt(64)) ++
      Seq(0L, -1L, Long.MinValue, Long.MaxValue, 0L, Long.MinValue)
    val ids = new LongIds(2) // starts at 8 slots: grows many times
    val ref = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
    keys.foreach { k =>
      val fresh = !ref.contains(k)
      if (fresh) ref(k) = ref.size
      assert(ids.add(k) == fresh, s"add($k)")
    }
    assert(ids.size == ref.size)
    assert(ids.toArray.toSeq == ref.keys.toSeq)
    ref.foreach { case (k, i) => assert(ids.find(k) == i && ids.id(k) == i && ids.key(i) == k) }
    assert(ids.find(12345678901L) == -1 || ref.contains(12345678901L))
  }

  test("Csr groups entries by key in entry order") {
    val key = Array(2, 0, 2, 1, 0, 2)
    val csr = Csr(4, key, Array(10, 11, 12, 13, 14, 15), 6)
    assert(csr.start.toSeq == Seq(0, 2, 3, 6, 6))
    assert(csr.values.toSeq == Seq(11, 14, 13, 10, 12, 15))
  }

  test("a driver-resident input: the gate launches no job and returns the collect path's rows") {
    val docs = (1L to 6L).map(i => (i, if (i % 2 == 0) "a b c d e" else "a b c d f"))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardDupPairs(docs, 0.3) // a driver step's one-partition result
    val edges = Fixpoint.edgeList(pairs, "id_a", "id_b", "id_a", "id_b")
    var resident: Option[Array[org.apache.spark.sql.catalyst.InternalRow]] = None
    var clusters: DataFrame = null
    val (sqlJobs, otherJobs) = jobs {
      resident = Fixpoint.gate(edges, 1000L)
      clusters = Dedup.dupClusters(pairs)
    }
    assert((sqlJobs, otherJobs) == ((0, 0)))
    def longs(rows: Option[Array[org.apache.spark.sql.catalyst.InternalRow]]) =
      rows.map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val collected = Fixpoint.collectBounded(edges, 1000L)._2
    assert(resident.isDefined)
    assert(longs(resident) == longs(collected))
    assert(clusters.as[(Long, Long)].collect().sorted.toSeq ==
      Dedup.dupClusters(pairs, driverMaxPairs = 0L).as[(Long, Long)].collect().sorted.toSeq)
  }
}
