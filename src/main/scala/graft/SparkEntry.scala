package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates the per-category operator suites; each entry
  * has a matching DuckDB oracle in `oracleSql` unless the operation is
  * not SQL-expressible (minhash-LSH, ANN, ...), in which case the
  * driver records a rows-only check and correctness is asserted by the
  * ScalaTest specs instead.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  // Queries and oracles are SEPARATE lazy lists: LlmQueries.oracle
  // embeds TRAINED model literals (training runs on first access), so
  // building the query map must not force the oracle maps — Bench
  // never needs them, and Verify needs them only after the query runs
  // have populated the TrainedModels cache.
  private def queryModules: Seq[Map[String, Q.QFn]] = Seq(
    CoreQueries.queries, WindowQueries.queries, Dbt3Queries.queries,
    FunctionQueries.queries, JsonQueries.queries, AggExtraQueries.queries,
    LlmQueries.queries, IngestQueries.queries, MiscQueries.queries,
    MiscQueries2.queries, AsOfQueries.queries, RangeQueries.queries,
    SketchQueries.queries, PipelineQueries.queries, HygieneQueries.queries,
    RetrievalQueries.queries, ClusterQueries.queries, EventQueries.queries,
    RecursiveQueries.queries, RelExtraQueries.queries, ResampleQueries.queries,
    GraphQueries.queries, FuzzyQueries.queries,
    CatalogQueries.queries, ExtractionQueries.queries, DmlQueries.queries,
    SsbQueries.queries, JsonEdgeQueries.queries, EmbeddingQueries.queries,
    MmPhashQueries.queries, PartsuppQueries.queries,
    StreamParityQueries.queries, TypeMatrixGen.queries)

  private def oracleModules: Seq[Map[String, String]] = Seq(
    CoreQueries.oracle, WindowQueries.oracle, Dbt3Queries.oracle,
    FunctionQueries.oracle, JsonQueries.oracle, AggExtraQueries.oracle,
    LlmQueries.oracle, IngestQueries.oracle, MiscQueries.oracle,
    MiscQueries2.oracle, AsOfQueries.oracle, RangeQueries.oracle,
    SketchQueries.oracle, PipelineQueries.oracle, HygieneQueries.oracle,
    RetrievalQueries.oracle, ClusterQueries.oracle, EventQueries.oracle,
    RecursiveQueries.oracle, RelExtraQueries.oracle, ResampleQueries.oracle,
    GraphQueries.oracle, FuzzyQueries.oracle,
    CatalogQueries.oracle, ExtractionQueries.oracle, DmlQueries.oracle,
    SsbQueries.oracle, JsonEdgeQueries.oracle, EmbeddingQueries.oracle,
    MmPhashQueries.oracle, PartsuppQueries.oracle,
    StreamParityQueries.oracle, TypeMatrixGen.oracle)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryModules.iterator.flatten.toMap

  def oracleSql: Map[String, String] =
    oracleModules.iterator.flatten.toMap

  /** Query names defined by more than one module — the flattening Map
    * would silently keep only the LAST one, hiding an operator from
    * the driver gate. ContractSpec pins this to empty. */
  def duplicateQueryNames: Seq[String] =
    queryModules.flatMap(_.keys).groupBy(identity)
      .collect { case (k, vs) if vs.size > 1 => k }.toSeq.sorted

  /** Oracle keys without a matching query — a typo here silently
    * downgrades the query to a rows-only check. ContractSpec pins
    * this to empty. */
  def orphanOracleNames: Seq[String] =
    (oracleSql.keySet -- queries.keySet).toSeq.sorted
}
