package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.StaticSQLConf

/** Session factory with the engine's scale-oriented defaults.
  *
  * Memory governance: the mapping from the reference's ResourceManager
  * knobs (`dbcon/joblist/resourcemanager.h`) to these configs — and to
  * the Spark defaults deliberately left alone — is documented in
  * `docs/MEMORY.md`, with the 100 TB rationale per knob family.
  *
  * The reference splits planning (ExeMgr/JobList) from data-parallel
  * execution (PrimProc); on Spark that split is Catalyst + AQE on the
  * driver vs whole-stage-codegen'd tasks on executors (SURVEY.md §0).
  * These configs are the knobs that matter at 100 TB:
  *  - AQE: runtime re-plan = the reference's UM-vs-PM join choice
  *    (`dbcon/joblist/tuplehashjoin.cpp` small-side selection).
  *  - skewJoin: the reference handles skew by disk-join recursive
  *    splitting (`docs/DiskJoinStep.md`); AQE skew-split is the analog.
  *  - shuffle.partitions: sized for local[32] here; on a real cluster
  *    AQE coalescing makes the initial number non-critical.
  *  - codegen cache: the reference's scan/filter/join primitives are
  *    compiled into PrimProc once; here each whole-stage class is
  *    compiled by Janino into a JVM-wide cache whose size is read once,
  *    when the first class is generated. `CodegenCacheEntries` holds the
  *    whole query surface, so a query run again in the same JVM compiles
  *    nothing (sizing and metaspace cost in `docs/MEMORY.md`).
  */
object GraftSession {
  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). One pass of
    * the 370 non-streaming queries compiles about 4,200 distinct
    * classes and one `llm_dedup` pass 105, so at the default a warm
    * pass recompiles most of what it runs. This is about 2× the suite,
    * so no segment of the cache's per-segment LRU fills; `graft.Bench`'s
    * per-query `codegen_compiles` shows when the surface outgrows it. */
  val CodegenCacheEntries = 8192

  def builder(cores: String = "32"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      // engine function registry (JSON family, GROUP_CONCAT/…) — the
      // funcexp-registration analog; see graft.plans.GraftExtensions
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // partitions ∝ data (docs/MEMORY.md): the gate contract is
      // cores-many partitions at sf≤0.1, but scale-decade runs need
      // more — at sf10 a 32-partition shuffle of the set-similarity
      // verify makes ~3M-row array-carrying tasks whose allocation
      // rate drove a 40 GB heap into a >2 min full GC (heartbeat
      // death). The env override is the local-mode stand-in for a
      // cluster's task-count sizing; AQE still coalesces small stages.
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Write timestamps as INT64 micros, not legacy INT96 — INT96 has
      // no logical type, breaks row-group stats pruning, and external
      // readers (the DuckDB oracle included) see it as nanos.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.cbo.enabled", "true")
      // stats-driven join reorder — the analog of the reference's
      // spanning-tree join ordering (dbcon/joblist/jlf_tuplejoblist
      // .cpp:1607-1952). cbo.enabled alone never reorders: this flag
      // activates the cost-based reorder rule for tables that have
      // ANALYZE statistics (plans/Analyze.scala); AQE still re-plans
      // from runtime stats where ANALYZE hasn't run.
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      // Some testdata generations ship events.parquet as TIMESTAMP(NANOS);
      // under this conf those read as raw int64 and Tables.t truncates to
      // micros (it branches on the loaded dtype, so micros-encoded files
      // are unaffected). Set once here, not per-read, so concurrent reads
      // never race on session config.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // static: takes effect only if this builder creates the JVM's
      // first session before any class is generated (docs/MEMORY.md)
      .config(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key, CodegenCacheEntries.toLong)

  def get(cores: String = "32"): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // per-query stats ring (queryStats-table analog; plans/QueryStats)
    graft.plans.QueryStats.install(s)
    s
  }
}
