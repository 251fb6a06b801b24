package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** k-core decomposition — the standard graph-density peel used for
  * community cores, spam/bot subgraph isolation, and robust-hub
  * selection (the reference has no graph operators; this extends the
  * engine's graph family alongside PageRank and triangle counting;
  * algorithm: Batagelj–Zaveršnik peeling, distributed here as
  * degree-filter rounds).
  *
  * Shapes:
  *  - one peel ROUND = degree aggregate + two semi-joins (edges to
  *    surviving nodes) — all key-partitioned, no driver data;
  *  - the only driver scalars are per-round COUNTS (convergence
  *    check), the same metadata-sized action PageRank's loop takes;
  *  - rounds per k are bounded by the peel depth (typically ≤ 10 on
  *    power-law graphs — each round removes a whole degree layer);
  *  - `coreness` runs the h-index fixpoint instead of sweeping k, in a
  *    handful of global rounds.
  *
  * LINEAGE: each round's plan references the previous round THREE
  * times (e ⋈ keep(e) ⋈ keep(e)), so carrying raw DataFrames grows
  * the logical plan 3^rounds — an 8 GiB driver OOM'd at round ~6 on
  * a 12-edge test graph. Both loops therefore run with the round
  * loop's lineage cut ([[Fixpoint.Rounds.iterate]] `cut = true`).
  */
object KCore {

  /** Undirected simple edge set (symmetrized, self-loops and NULL
    * endpoints dropped). */
  private def undirected(edges: DataFrame, a: String, b: String): DataFrame = {
    val e = Fixpoint.edgeList(edges, a, b, "u", "v")
    e.union(e.select(col("v").as("u"), col("u").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Nodes of the k-core: the maximal subgraph where every node has
    * degree ≥ k (within the subgraph). Returns (node, deg_in_core). */
  def kCore(edges: DataFrame, a: String, b: String, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Fixpoint.rounds(edges.sparkSession, "kcore") { r =>
      // one peel pass per round; stop once a round removes no node
      r.iterate(undirected(edges, a, b), maxRounds, cut = true)(
          _.select(col("u")).distinct().count())((n, next) => next == n || next == 0) { e =>
        val keep = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("u"))
        e.join(keep, Seq("u"), "left_semi")
          .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
          .select(col("u"), col("v"))
      }.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg_in_core"))
        .filter(col("deg_in_core") >= k)
    }
  }

  /** Driver step of [[coreness]]: the IDENTICAL recurrence (c₀ =
    * degree, c ← min(c, H(neighbor cs)), stop at no-change or
    * maxRounds) in local integer arithmetic over the collected
    * symmetrized simple edge rows. */
  private def corenessDriver(spark: SparkSession, edgeRows: Array[Row], nodeType: DataType,
      maxRounds: Int): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val adj = new java.util.HashMap[Any, mutable.ArrayBuffer[Any]]()
    edgeRows.foreach { r =>
      adj.computeIfAbsent(r.get(0), _ => mutable.ArrayBuffer.empty) += r.get(1)
    }
    val c = new java.util.HashMap[Any, Long]()
    adj.forEach((u, ns) => c.put(u, ns.length.toLong))
    var changed = true
    var rounds = 0
    while (changed && rounds < maxRounds) {
      changed = false
      // H(xs) = #{i ≥ 1 : (i-th largest x) ≥ i} — same predicate-count
      // form as the distributed zip_with/aggregate fold
      val next = new java.util.HashMap[Any, Long]()
      adj.forEach { (u, ns) =>
        val cs = ns.map(c.get(_)).sortBy(-_)
        var h = 0L
        var i = 0
        while (i < cs.length && cs(i) >= i + 1) { h = i + 1; i += 1 }
        val cu = c.get(u)
        val nu = math.min(cu, h)
        if (nu < cu) changed = true
        next.put(u, nu)
      }
      c.clear(); c.putAll(next)
      rounds += 1
    }
    val schema = StructType(Seq(StructField("node", nodeType), StructField("coreness", LongType)))
    val rows = c.entrySet().asScala.toSeq.map(kv => Row(kv.getKey, kv.getValue))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Full coreness: for each node, the largest k with the node in the
    * k-core — via the h-index fixpoint (public literature: Lü, Zhou
    * et al., "The H-index of a network node and its relation to
    * degree and coreness", 2016): start from degree, repeatedly set
    * c(v) ← min(c(v), H(c of neighbors)); the fixpoint IS the
    * coreness. Converges in a handful of GLOBAL rounds (vs the
    * k-sweep's degeneracy × peel-depth job chain — measured 7.2 s →
    * this shape at sf0.1), each round one edge-keyed shuffle + one
    * node-keyed aggregate. Per-node neighbor lists are degree-sized;
    * a 10⁶-degree hub's collect_list is the operator's skew point —
    * the salting helper applies as with any hot reduce key. Graphs
    * within `driverMaxEdges` symmetrized rows run the driver step. */
  def coreness(edges: DataFrame, a: String, b: String,
      maxRounds: Int = 50, driverMaxEdges: Long = 500000L): DataFrame = {
    val und = undirected(edges, a, b)
    val driver = corenessDriver(edges.sparkSession, _: Array[Row],
      und.schema("u").dataType, maxRounds)
    Fixpoint.adaptive(und, driverMaxEdges, "kcore")(driver) { (r, e) =>
      // state (node, c, chg): chg marks a node whose estimate fell this
      // round; the round's action sums it and 0 is the fixpoint
      val est0 = e.groupBy(col("u").as("node")).agg(count(lit(1)).as("c"))
        .withColumn("chg", lit(1L))
      r.iterate(est0, maxRounds, cut = true)(
          _.agg(sum(col("chg"))).first().getLong(0))((_, changed) => changed == 0) { est =>
        // H(sorted-desc xs) = #{i : xs[i−1] ≥ i} (predicate monotone ⇒
        // the count equals the h-index); all-integer fold
        val neigh = e.join(est.select(col("node").as("v"), col("c").as("cv")), "v")
          .groupBy(col("u").as("node"))
          .agg(sort_array(collect_list(col("cv")), asc = false).as("cs"))
          .select(col("node"), aggregate(
            zip_with(col("cs"), sequence(lit(1), size(col("cs"))),
              (v, i) => when(v >= i, 1L).otherwise(0L)),
            lit(0L), (acc, x) => acc + x).as("h"))
        val next = least(col("c"), coalesce(col("h"), lit(0L)))
        est.join(neigh, Seq("node"), "left")
          .select(col("node"), next.as("c"), (col("c") > next).cast("long").as("chg"))
      }.select(col("node"), col("c").as("coreness"))
    }
  }
}
