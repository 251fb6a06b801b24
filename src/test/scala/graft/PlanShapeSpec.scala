package graft

/** Plan-strategy regression pins for flagship queries: the SHAPE each
  * plan must keep (broadcast placement, partial aggregation, top-k
  * pushdown) — PlanGuardSpec rejects catastrophic plans, this pins
  * the good ones so a silent strategy regression (lost broadcast,
  * lost partial agg) fails a named test instead of a benchmark. */
class PlanShapeSpec extends SparkSpec {

  private def shape(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q5_region: fixed-size dims join as broadcasts") {
    val p = shape("q5_region")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast in:\n$p")
  }

  test("q1_agg: partial (map-side) aggregation survives") {
    val p = shape("q1_agg")
    // two HashAggregate levels around one exchange = the 2-phase shape
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("q_topk: ORDER BY + LIMIT plans as TakeOrderedAndProject, never a global sort") {
    val p = shape("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ssb q2_1: nation/region broadcast; fact-side joins stay shuffle under static planning") {
    val p = shape("q_ssb_q2_1")
    assert(p.contains("BroadcastHashJoin"), p)
    // part/supplier must NOT be statically broadcast — they scale with
    // SF; AQE promotes at runtime when actually small
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("q_dedup_exact: map-side combine before the content-hash exchange") {
    val p = shape("q_dedup_exact")
    assert("HashAggregate".r.findAllIn(p).length >= 2 ||
      "ObjectHashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_dedup_minhash: only the twin-collapsed path repartitions the band buckets") {
    // the collapsed path's representatives are a small aggregate whose
    // post-explode size AQE cannot see, so an explicit exchange on the
    // bucket keeps the self-join parallel (docs/MEMORY.md); straight
    // off a scan the join's own exchange sees the volume, so a corpus
    // whose probe finds no twins gets none. Both are the two queries'
    // corpora under driverMaxDocs = 0: at this size the default bound
    // takes the driver step, which has no plan to pin.
    import org.apache.spark.sql.functions.col
    val d0 = Tables.t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    def distributed(docs: org.apache.spark.sql.DataFrame) =
      graft.llm.Dedup.minhashDupPairs(docs, threshold = 0.6, driverMaxDocs = 0)
        .orderBy(col("id_a"), col("id_b")).queryExecution.executedPlan.toString
    val twins = distributed(queries.LlmQueries.doubledBy(d0, "doc_id",
      queries.LlmQueries.twinOffset(spark, sfDir, "documents", "doc_id")))
    assert(twins.contains("hashpartitioning(_bucket"), twins)
    val plain = distributed(Tables.t(spark, sfDir, "documents"))
    assert(!plain.contains("hashpartitioning(_bucket"), plain)
  }

  test("q_sample_uniform: the md5 filter sits on the scan — no shuffle at all") {
    val p = shape("q_sample_uniform")
    assert(!p.contains("Exchange hashpartitioning"), p)
  }
}
