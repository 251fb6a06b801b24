package graft

/** Plan-shape pins at SCALE — the "would it survive 100×" question
  * made measurable (r10 prescription; the reference gates DBT-3 at
  * SF1 in its own CI, `mcs4007`). PlanShapeSpec pins the shapes at
  * sf0.001; this suite re-asserts them against a 10×-sf0.1 (= SF1)
  * dataset generated by `graft.ScaleUp`, so a strategy that silently
  * degrades with data size — a dim broadcast flipping to sort-merge,
  * a filter falling off the scan, partial aggregation lost — fails a
  * named test at the scale where it matters.
  *
  * The sf1 dataset is synthesized locally (not driver-shipped). An
  * existing copy is used when present (-Dgraft.sf1.dir=<path>, else
  * /tmp/graft_sf1, made by
  *   sbt "runMain graft.ScaleUp <testdata>/sf0.1 /tmp/graft_sf1 10");
  * otherwise beforeAll builds the same ×10 copy (default variant
  * mode, as the bi_sf1 benchmark workload does) under a temp dir and
  * afterAll deletes it, so the suite always runs.
  */
class ScaleShapeSpec extends SparkSpec {

  private val existing = Some(sys.props.getOrElse("graft.sf1.dir", "/tmp/graft_sf1"))
    .filter(d => new java.io.File(s"$d/lineitem.parquet").exists())
  private var built: Option[java.nio.file.Path] = None
  private def sf1: String = existing.getOrElse(built.get.toString)

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (existing.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft_sf1")
      built = Some(dir)
      val sf01 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.1").toString
      ScaleUp.scale(spark, sf01, dir.toString, 10)
    }
  }

  override def afterAll(): Unit =
    try built.foreach { dir =>
      val paths = java.nio.file.Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally paths.close()
    } finally super.afterAll()

  private def shape(name: String): String =
    SparkEntry.queries(name)(spark, sf1).queryExecution.executedPlan.toString

  test("sf1 q5_region: fixed-size dims still broadcast at 6M-row fact") {
    val p = shape("q5_region")
    assert(p.contains("BroadcastHashJoin"), s"dim broadcast lost at sf1:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sf1 q3_shipping: segment filter pushed to the scan; customer broadcast") {
    val p = shape("q3_shipping")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("BroadcastHashJoin"), s"customer broadcast lost at sf1:\n$p")
  }

  test("sf1 q1_agg: shipdate pushed + 2-phase aggregation survive scale") {
    val p = shape("q1_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    // the date predicate must reach the parquet scan: at 100× this is
    // the difference between reading the filtered row groups and all
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("sf1 q6_forecast: all three predicates pushed to the lineitem scan") {
    val p = shape("q6_forecast")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("l_discount") && p.contains("l_quantity"), p)
  }

  test("sf1 ssb q2_1: dim broadcasts hold; fact join stays shuffle") {
    val p = shape("q_ssb_q2_1")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("sf1 q_topk: still TakeOrderedAndProject, never a global sort") {
    val p = shape("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("sf1 dedup collapsed paths keep the explicit candidate exchange (AQE one-task guard)") {
    // r12 regression pin: the collapse stages (distinct/groupBy)
    // materialize tiny stats and the explode blowup is invisible to
    // AQE — without the explicit repartition on the join key the
    // candidate self-join broadcast-converts and the whole Σ bucket²
    // grind runs in ONE task (measured 10-minute wedge at sf1). The
    // exchange on the EXPLODED rows must be in the plan.
    import org.apache.spark.sql.functions._
    val s = spark
    val docs = Tables.t(s, sf1, "documents")
    val sh = graft.llm.Dedup.simhash(
      docs.filter(size(graft.llm.TextAnalysis.tokens(col("text"))) > 0))
    val p1 = graft.llm.Dedup.bandedHashPairs(sh, "doc_id", "simhash", 8)
      .queryExecution.executedPlan.toString
    assert(p1.contains("hashpartitioning(_bk"),
      s"banded candidate exchange lost:\n${p1.take(4000)}")
    // sf1 embeddings are exact clones ×10 → the collapsed block-join
    // branch is chosen, which must carry the per-cell exchange
    val p2 = graft.llm.AnnSearch.cosineDupPairsExact(
        Tables.t(s, sf1, "embeddings"), threshold = 0.4)
      .queryExecution.executedPlan.toString
    assert(p2.contains("hashpartitioning(_cell"),
      s"block-cell exchange lost:\n${p2.take(4000)}")
  }

  test("sf1 row-group pruning: selective shipdate scan reads a strict subset") {
    // execute two aggregating scans and compare the pushed-filter scan
    // shape; the selective one must carry the range predicate so
    // footer stats can skip row groups at any scale
    val s = spark
    import org.apache.spark.sql.functions._
    val sel = Tables.t(s, sf1, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-06-01") &&
        col("l_shipdate") < lit("1995-07-01"))
      .agg(count(lit(1)))
    val p = sel.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") ||
      p.contains("GreaterThanOrEqual(l_ship"), p)
  }
}
