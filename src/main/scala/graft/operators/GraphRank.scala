package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Fixed-iteration PageRank over an edge table — the graph-weighting
  * pass of web-corpus curation (domain/host ranking a la Common Crawl
  * harmonic-centrality releases decides which documents a 100 TB
  * crawl keeps). The reference engine has no graph operator; this is
  * part of the engine charter's training-data-pipeline extension.
  *
  * Arithmetic is EXACT-INTEGER by design: ranks are BIGINT in units
  * of `scale⁻¹` and every update is integer multiply/divide, so the
  * per-node Σ contrib is associative and the result is bit-identical
  * across engines and partitionings — a float PageRank could never be
  * hash-compared against an independent oracle. Truncation error is
  * ≤ outdeg/scale per node per round (scale = 1e12 ⇒ negligible).
  *
  * Semantics: damping d = dampNum/dampDen, uniform init 1/N, dangling
  * mass DROPPED (the web-scale convention — dangling redistribution
  * is a separate rank-1 correction, not worth a broadcast per round).
  *
  * Scale shape (per iteration): contrib = rank ⋈ edges on src — one
  * keyed shuffle — then a partial-aggregable SUM keyed by dst; the
  * rank table stays |V| rows, edges are scanned once per round, and
  * nothing collects to the driver except the one |V| COUNT up front.
  * Graphs within `driverMaxEdges` run the same recurrence on the
  * driver ([[Fixpoint]] owns the gate, the caches and the staging).
  */
object GraphRank {

  /** @param edges directed edge table (multi-edges collapsed here)
    * @param src    source-node column name
    * @param dst    destination-node column name
    * @param driverMaxEdges distinct-edge bound of the driver path
    * @param edgesAlreadyDistinct caller vouches `edges` holds no
    *               duplicate (src, dst) rows, so the operator's own
    *               distinct — a full shuffle of the edge table — is
    *               skipped (r16, VERDICT r15 #2: q_graph_rank's
    *               dominant cost was distincting 1.2M string edges
    *               that were distinct by construction). A false vouch
    *               changes outdeg/inflow; only pass true when the
    *               edge derivation proves it (e.g. output of a
    *               groupBy/distinct, or an injective mint of one).
    * @return (node, rank) — rank BIGINT in units of 1/scale
    *
    * NULL endpoints are dropped and both endpoints cast to their wider
    * common type up front ([[Fixpoint.edgeList]]), so both paths rank
    * one graph.
    */
  def pageRank(
      edges: DataFrame, src: String, dst: String,
      iterations: Int = 3,
      dampNum: Long = 85, dampDen: Long = 100,
      scale: Long = 1000000000000L,
      driverMaxEdges: Long = 2000000L,
      edgesAlreadyDistinct: Boolean = false): DataFrame = {
    val proj = Fixpoint.edgeList(edges, src, dst, "src", "dst")
    val nodeType = proj.schema("src").dataType
    val e = if (edgesAlreadyDistinct) proj else proj.distinct()
    val driver = pageRankDriver(edges.sparkSession, _: Array[InternalRow], nodeType,
      iterations, dampNum, dampDen, scale)
    Fixpoint.adaptive(e, driverMaxEdges, "pagerank")(driver) { (r, e) =>
      val nodes = r.hold(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      // |V| is the one driver-side scalar (metadata-sized, like the IVF
      // centroid pull): init and teleport base derive from it
      val n = nodes.count()
      val init = scale / n
      val base = init * (dampDen - dampNum) / dampDen
      // out-degree is loop-invariant: staple it onto the edge rows ONCE
      // so each round joins rank to edges exactly once (rank ⋈ eo on
      // src) instead of rank ⋈ outdeg ⋈ e — one join fewer per
      // iteration (~10% at sf0.1)
      val eo = r.hold(e.join(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src"))
      val rank0 = nodes.withColumn("rank", lit(init))
      r.iterate(rank0, iterations)(_.count())((_, _) => false) { rank =>
        val contrib = rank // dangling nodes contribute nothing (inner join)
          .join(eo, col("node") === col("src"))
          .withColumn("c", expr("rank div outdeg"))
          .groupBy(col("dst").as("node"))
          .agg(sum(col("c")).as("inflow"))
        nodes.join(contrib, Seq("node"), "left")
          // `div` (integer) — `/` on BIGINT is DOUBLE division in Spark
          .withColumn("rank",
            expr(s"$base + (coalesce(inflow, 0) * $dampNum) div $dampDen"))
          .select(col("node"), col("rank").cast("long"))
      }
    }
  }

  /** Driver step of [[pageRank]]: the same recurrence in local Long
    * arithmetic over the collected DISTINCT edge rows — init =
    * scale/N, contrib = rank div outdeg summed per dst, next = base +
    * inflow·dampNum div dampDen, dangling mass dropped. All operands
    * are positive longs, so Spark's `div` and JVM `/` truncate
    * identically. Nodes are dense ids ([[Fixpoint.DenseEdges]]), so
    * every round is a pass over `int`/`long` arrays; rows come out in
    * first-seen node order. */
  private def pageRankDriver(spark: SparkSession, edgeRows: Array[InternalRow],
      nodeType: DataType, iterations: Int, dampNum: Long, dampDen: Long,
      scale: Long): DataFrame = {
    val g = new Fixpoint.DenseEdges(edgeRows, nodeType)
    val (src, dst, n) = (g.a, g.b, g.nodes)
    val outdeg = new Array[Long](n)
    src.foreach(u => outdeg(u) += 1)
    val init = scale / math.max(n.toLong, 1L) // empty graph: no nodes, no division
    val base = init * (dampDen - dampNum) / dampDen
    var rank = Array.fill(n)(init)
    for (_ <- 1 to iterations) {
      val inflow = new Array[Long](n)
      var e = 0
      while (e < src.length) { inflow(dst(e)) += rank(src(e)) / outdeg(src(e)); e += 1 }
      rank = inflow.map(x => base + x * dampNum / dampDen)
    }
    val schema = StructType(Seq(StructField("node", nodeType), StructField("rank", LongType)))
    Fixpoint.localResult(spark, Seq.tabulate(n)(v => Row(g.node(v), rank(v))), schema)
  }
}
