package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for the operator query suite.
  *
  * Exact-arithmetic pattern: the driver hash-compares our parquet
  * output against DuckDB running the oracle SQL. Floating-point SUM
  * is order-dependent, so every money/quantity aggregate is computed
  * over DECIMAL(18,2) (exact, order-independent — mirroring the
  * reference's fixed-point decimal engine, `datatypes/mcs_decimal.h`)
  * and only the final result is cast to DOUBLE. Averages are
  * exact-decimal-sum / count in double — bit-identical across engines.
  */
object Q {
  type QFn = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables.t(spark, dir, name)

  /** Collision-free 12-hex-char digest of a path, for staging-table
    * name suffixes (ADVICE r11: `dir.hashCode` hex can collide across
    * dirs and silently alias two fixtures' staged tables). */
  def dirDigest(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString

  /** Cast to exact decimal for order-independent aggregation. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Final cast back to double for output-schema parity with DuckDB. */
  def d(c: Column): Column = c.cast(DoubleType)
  /** Exact decimal literal 1.00. */
  val oneDec: Column = lit(1).cast(DecimalType(18, 2))

  /** Exact sum of a 2-decimal column, output as double. */
  def sumDec(c: Column): Column = d(sum(dec(c)))
  /** Exact average (decimal sum / count) as double. */
  def avgDec(c: Column): Column = d(sum(dec(c))) / count(lit(1))

  /** Run `body` under a scoped shuffle-partition count (restored
    * after). For gate queries that execute MANY small Spark jobs —
    * DML transactions over kilobyte deltas, micro-batched streams,
    * incremental-view refreshes — 32 partitions of near-empty
    * shuffles is pure task/commit overhead; 8 cuts it ~3× with
    * identical results (every gated output carries a total order).
    * Production sizing is the inverse concern: partitions ∝ data,
    * see docs/MEMORY.md. */
  def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Recursively delete a scratch tree (children before parents). */
  def deleteTree(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

  /** Plan text of every query localize() executed on this thread —
    * localization replaces the real plan with a LocalRelation, which
    * would otherwise make the fleet-wide PlanGuardSpec sweeps vacuous
    * for withScratch queries (they'd inspect a LocalTableScan and
    * pass anything). The guard drains this buffer after building each
    * query and audits the captured plans instead. Thread-local so
    * parallel test suites can't interleave captures. */
  private val capturedPlans =
    ThreadLocal.withInitial[scala.collection.mutable.ArrayBuffer[String]](
      () => scala.collection.mutable.ArrayBuffer.empty[String])

  /** Drain (return + clear) the plans localize() captured on this
    * thread since the last drain. */
  def drainLocalizedPlans(): Seq[String] = {
    val buf = capturedPlans.get()
    val out = buf.toList
    buf.clear()
    out
  }

  /** Materialize a gate-sized result into a driver-local relation.
    * Gate outputs are bounded by contract (the driver hash-compares
    * every row against DuckDB), so collecting them is cheap — and it
    * severs the plan's dependency on scratch files so staging can be
    * deleted before the DataFrame is returned. Row order (the gate's
    * determinism sort) is preserved by collect(). The executed plan
    * is recorded for [[drainLocalizedPlans]] before it is discarded. */
  def localize(s: SparkSession, df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val buf = capturedPlans.get()
    if (buf.size >= 64) buf.remove(0) // bound memory across long bench runs
    buf += df.queryExecution.sparkPlan.toString
    s.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  /** Per-invocation scratch staging: create a temp dir, run `body`,
    * localize its result, delete the tree — temp staging must not
    * accumulate across multi-run benches (r10 ADVICE: the former
    * pattern leaked a full dataset copy per invocation). */
  def withScratch(s: SparkSession, prefix: String)
      (body: java.nio.file.Path => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try localize(s, body(root))
    finally deleteTree(root)
  }

  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Session-scoped staged dataset: built once per `key`, reused by
    * every later invocation (bench repeats each query many times —
    * re-writing a partitioned dataset copy per run scaled with the
    * scale factor), deleted at JVM exit. Only for staging whose
    * CONTENT is invocation-independent; anything stateful (stream
    * checkpoints, DML tables) needs fresh-per-run [[withScratch]]. */
  def stagedOnce(key: String)(build: java.nio.file.Path => Unit): String =
    stagedDirs.computeIfAbsent(key, _ => {
      val root = java.nio.file.Files.createTempDirectory("graft_stage")
      // register cleanup BEFORE building: a build cancelled mid-write
      // (bench watchdog) must not leak its half-written tree
      sys.addShutdownHook(deleteTree(root))
      try build(root)
      catch { case e: Throwable => deleteTree(root); throw e }
      root.toString
    })

  /** Run SQL with all the tables of `dir` registered as views. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    graft.Tables.registerAll(spark, dir)
    spark.sql(query)
  }

  // DuckDB-side fragments for the same exact-arithmetic patterns.
  def oDec(c: String): String = s"CAST($c AS DECIMAL(18,2))"
  def oSumDec(c: String): String = s"CAST(SUM(${oDec(c)}) AS DOUBLE)"
  def oAvgDec(c: String): String = s"CAST(SUM(${oDec(c)}) AS DOUBLE)/COUNT(*)"
  /** Twin of `MySqlFunctions.castSigned`: the leading integer prefix
    * of a string, 0 when it has none. */
  def oCastSigned(e: String): String =
    raw"COALESCE(NULLIF(regexp_extract($e, '^\s*[+-]?[0-9]+', 0), '')::BIGINT, 0)"

  /** Total output order over EVERY projected column, nulls first —
    * the driver-contract determinism discipline (its row hash is
    * order-sensitive and this testdata has no unique natural key on
    * lineitem: only 45,832 distinct (l_orderkey, l_linenumber) pairs
    * in 60,000 rows). Rows still tied after sorting on all columns
    * are bit-identical, so any residual order is hash-neutral. This
    * is a HARNESS requirement, not a library recommendation — the
    * library never forces a global sort; see docs/COMPAT.md. The
    * oracle twin is [[oSortAll]].
    *
    * Shape: `repartition(1)` + partition-local sort, NOT `orderBy`.
    * A global orderBy plans a RangeExchange whose partitioner SAMPLES
    * the child — the expensive battery projection executes twice (r9
    * measured the tax: q_type_matrix_decedge 0.83 s → 5.80 s). One
    * round-robin exchange into a single partition runs the projection
    * once and sorts 60k–600k gate rows in one task; the result is the
    * identical total order (equal-key rows are bit-identical full
    * rows, so residual order is hash-neutral). Single-partition is
    * fine precisely BECAUSE this is the gate wrapper — production
    * queries never pass through sortAll. */
  def sortAll(df: DataFrame): DataFrame =
    df.repartition(1)
      .sortWithinPartitions(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)

  /** DuckDB twin of [[sortAll]]: DuckDB's ASC default is NULLS LAST
    * (Spark's is NULLS FIRST) — must be pinned explicitly. */
  val oSortAll: String = "ORDER BY ALL NULLS FIRST"

  /** DuckDB oracle fragment: the `pr` CTE of the Jaccard ≥ `threshold`
    * pairs (id_a < id_b, jaccard) over a `sh` CTE of per-doc distinct
    * shingle lists (doc_id, s). Each doc's shingles are unnested and
    * joined on the shingle, and the pair's rows counted: only pairs
    * sharing a shingle can reach a positive threshold, so this is the
    * all-pairs `list_intersect` answer — |A∩B| / (|A| + |B| − |A∩B|),
    * the same BIGINT operands into one DOUBLE division — at the cost
    * of the shared shingles instead of every pair. */
  def oJaccardPairs(threshold: String): String =
    s"""shn AS (SELECT doc_id, len(s) AS n, unnest(s) AS ng FROM sh),
       |pr AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      count(*)::DOUBLE / (a.n + b.n - count(*)) AS jaccard
       |    FROM shn a JOIN shn b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |    GROUP BY a.doc_id, b.doc_id, a.n, b.n) t
       |  WHERE jaccard >= $threshold)""".stripMargin
}
