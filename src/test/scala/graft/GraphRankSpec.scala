package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphRank

/** PageRank invariants on hand-checkable graphs: exact-integer
  * stability on a symmetric cycle, hub dominance + dangling-node
  * semantics on a star, and mass conservation bounds. */
class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  private val scale = 1000000000000L

  test("2-cycle is a fixed point: both nodes keep exactly 1/N") {
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = GraphRank.pageRank(e, "src", "dst", iterations = 4)
      .as[(String, Long)].collect().toMap
    // init = scale/2; each round: base + 0.85*(scale/2) = scale/2 exactly
    assert(r == Map("a" -> scale / 2, "b" -> scale / 2))
  }

  test("star: hub collects both spokes' mass, spokes fall to base") {
    // a -> b, c -> b; b dangling (drops its mass — documented)
    val e = Seq(("a", "b"), ("c", "b")).toDF("src", "dst")
    val r = GraphRank.pageRank(e, "src", "dst", iterations = 1)
      .as[(String, Long)].collect().toMap
    val init = scale / 3
    val base = init * 15 / 100
    assert(r("a") == base && r("c") == base)
    assert(r("b") == base + (2 * init * 85) / 100)
    // round 2: spokes' inflow is zero again; hub now collects 2*base
    val r2 = GraphRank.pageRank(e, "src", "dst", iterations = 2)
      .as[(String, Long)].collect().toMap
    assert(r2("a") == base && r2("c") == base)
    assert(r2("b") == base + (2 * base * 85) / 100)
  }

  test("total mass never exceeds scale (dangling drops, floors truncate)") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("src", "dst")
    val total = GraphRank.pageRank(e, "src", "dst", iterations = 3)
      .agg(sum(col("rank"))).as[Long].collect().head
    assert(total <= scale && total > 0)
  }

  // triangle {a,b,c} — chain c–d–e — 4-clique {w,x,y,z} bridged to c:
  // known cores: clique nodes 3, triangle nodes 2, chain tail 1.
  private def coreGraph = Seq(
    ("a", "b"), ("b", "c"), ("a", "c"),             // triangle
    ("c", "d"), ("d", "e"),                          // chain
    ("w", "x"), ("w", "y"), ("w", "z"),              // 4-clique
    ("x", "y"), ("x", "z"), ("y", "z"),
    ("c", "w")                                       // bridge
  ).toDF("u", "v")

  test("coreness matches the hand-peeled decomposition") {
    val got = graft.operators.KCore.coreness(coreGraph, "u", "v")
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 1L, "e" -> 1L,
      "w" -> 3L, "x" -> 3L, "y" -> 3L, "z" -> 3L))
  }

  test("driver and distributed paths agree bit-for-bit (r15 adaptive fast path)") {
    // driverMaxEdges = 0 forces the distributed loop on the same
    // input the default (driver) path takes — the two iterates must
    // be value-identical, node for node, both for the h-index
    // coreness fixpoint and the integer PageRank recurrence.
    val viaDriver = graft.operators.KCore.coreness(coreGraph, "u", "v")
      .as[(String, Long)].collect().toMap
    val viaDistributed = graft.operators.KCore
      .coreness(coreGraph, "u", "v", driverMaxEdges = 0L)
      .as[(String, Long)].collect().toMap
    assert(viaDriver == viaDistributed)

    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"),
      ("b", "a"), ("c", "b")).toDF("src", "dst")
    val prDriver = GraphRank.pageRank(e, "src", "dst", iterations = 3)
      .as[(String, Long)].collect().toMap
    val prDistributed = GraphRank.pageRank(e, "src", "dst", iterations = 3,
        driverMaxEdges = 0L)
      .as[(String, Long)].collect().toMap
    assert(prDriver == prDistributed)
  }

  test("edgesAlreadyDistinct on a distinct edge set changes nothing (r16 knob)") {
    // the knob only skips the operator's own distinct — on an input
    // that IS distinct the ranks must be value-identical, on both
    // the driver and the distributed path
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a"))
      .toDF("src", "dst")
    val base = GraphRank.pageRank(e, "src", "dst", iterations = 3)
      .as[(String, Long)].collect().toMap
    val vouched = GraphRank.pageRank(e, "src", "dst", iterations = 3,
        edgesAlreadyDistinct = true)
      .as[(String, Long)].collect().toMap
    val vouchedDist = GraphRank.pageRank(e, "src", "dst", iterations = 3,
        edgesAlreadyDistinct = true, driverMaxEdges = 0L)
      .as[(String, Long)].collect().toMap
    assert(vouched == base && vouchedDist == base)
  }

  test("null endpoints are dropped identically on both paths (ADVICE r15)") {
    // a null src/dst row used to survive the driver path's HashMap
    // (null keys accepted) while the distributed equi-joins dropped
    // its inflow — the projection filter now pins one graph for both
    val e = Seq((Option("a"), Option("b")), (Option("b"), Option("a")),
      (None: Option[String], Option("a")), (Option("b"), None: Option[String]))
      .toDF("src", "dst")
    val viaDriver = GraphRank.pageRank(e, "src", "dst", iterations = 3)
      .as[(String, Long)].collect().toMap
    val viaDistributed = GraphRank.pageRank(e, "src", "dst", iterations = 3,
        driverMaxEdges = 0L)
      .as[(String, Long)].collect().toMap
    assert(viaDriver == viaDistributed)
    assert(viaDriver.keySet == Set("a", "b"))
    // the surviving 2-cycle is the fixed point — null rows truly gone
    assert(viaDriver == Map("a" -> scale / 2, "b" -> scale / 2))
  }

  test("an INT src and a BIGINT dst past the Int range rank as BIGINT on both paths") {
    // dst = 2³²+1 used to be cast to src's INT: a cast overflow under
    // ANSI, a wrapped id without it. Both endpoints now widen to BIGINT.
    val big = (1L << 32) + 1
    val e = Seq((1, big), (2, big), (1, 2L)).toDF("src", "dst")
    val init = scale / 3
    val base = init * 15 / 100
    val want = Map(1L -> base, 2L -> (base + (init / 2) * 85 / 100),
      big -> (base + (init / 2 + init) * 85 / 100))
    for (bound <- Seq(2000000L, 0L)) {
      val r = GraphRank.pageRank(e, "src", "dst", iterations = 1, driverMaxEdges = bound)
      assert(r.schema("node").dataType == org.apache.spark.sql.types.LongType)
      assert(r.as[(Long, Long)].collect().toMap == want, s"driverMaxEdges $bound")
    }
  }

  test("k-core(2) drops the chain tail but keeps triangle + clique") {
    val got = graft.operators.KCore.kCore(coreGraph, "u", "v", k = 2)
      .select(col("node")).as[String].collect().toSet
    assert(got == Set("a", "b", "c", "w", "x", "y", "z"))
    // cascade test: removing e drops d too (its degree falls to 1)
    assert(!got.contains("d") && !got.contains("e"))
  }
}
