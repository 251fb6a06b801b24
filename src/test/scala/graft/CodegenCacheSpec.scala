package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.internal.StaticSQLConf

/** The generated-class cache holds what a workload runs: a query run
  * again in the same JVM compiles no class. At Spark's default of 100
  * entries every warm pass of the four `llm_dedup` queries recompiled
  * about 50 classes at sf0.01. */
class CodegenCacheSpec extends SparkSpec {

  private val dedupOps =
    Seq("q_dedup_minhash", "q_dedup_jaccard", "q_dedup_clusters", "q_graph_rank")

  /** Classes Janino compiled while `body` ran (JVM-wide). */
  private def compiles(body: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("the session reads the engine's codegen cache size") {
    assert(spark.sessionState.conf.getConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES) ==
      GraftSession.CodegenCacheEntries)
  }

  test("a second pass of the llm_dedup queries compiles no class") {
    def pass(): Unit = dedupOps.foreach(n => SparkEntry.queries(n)(spark, sfDir).collect())
    val first = compiles(pass())
    val second = compiles(pass())
    assert(second == 0, s"second pass recompiled $second classes (first pass compiled $first)")
  }
}
