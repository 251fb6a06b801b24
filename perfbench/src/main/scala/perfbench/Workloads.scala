package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dml.{IncrementalRollup, VersionedTable}
import graft.queries.{Dbt3Queries, GraphQueries, LlmQueries, PipelineQueries, SsbQueries}

/** Order-independent digest of a result: row count plus the wrapping
  * sum of a 64-bit hash of each row's bit-exact rendering
  * (`graft.Verify.canon`). Timed repetitions compute it on the
  * executors, so the op stays a single action that returns 16 bytes per
  * partition; the reference run computes it over collected rows. */
final case class Digest(rows: Long, sum: Long) {
  override def toString: String = f"$rows:$sum%016x"
}

object Digest {
  def rowHash(r: Row): Long = {
    val s = graft.Verify.canon(r)
    (scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def parse(s: String): Digest = {
    val Array(rows, sum) = s.split(":")
    Digest(rows.toLong, java.lang.Long.parseUnsignedLong(sum, 16))
  }

  def of(rows: Array[Row]): Digest = Digest(rows.length.toLong, rows.iterator.map(rowHash).sum)

  def executed(df: DataFrame): Digest = {
    val sc = df.sparkSession.sparkContext
    val n = sc.longAccumulator("perfbench.rows")
    val h = sc.longAccumulator("perfbench.hash")
    df.foreachPartition { (it: Iterator[Row]) =>
      var c = 0L
      var s = 0L
      it.foreach { r => c += 1; s += rowHash(r) }
      n.add(c)
      h.add(s)
    }
    Digest(n.value, h.value)
  }
}

/** Query workloads: named engine query functions over one data
  * directory. `bi_*` take the DBT-3 and SSB sets; `llm_dedup` the
  * near-duplicate and fixpoint entries. */
object QueryWorkloads {
  type QFn = (SparkSession, String) => DataFrame

  /** DBT-3 and SSB queries of `bi_*`: eight of the 30, chosen to span
    * single-table aggregates, subqueries and the multi-way star joins
    * while one pass stays near 15 s at sf0.1. */
  val biNames: Seq[String] = Seq(
    "q2_mincost", "q4_priority", "q13_custdist", "q14_promo", "q18_largevol",
    "q_ssb_q1_1", "q_ssb_q2_1", "q_ssb_q4_1")

  /** `llm_dedup` ops: the banded-LSH and the exact set-similarity pair
    * joins, and two fixpoint operators (dup clusters, PageRank). */
  val dedupNames: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_jaccard", "q_dedup_clusters", "q_graph_rank")

  /** Wall time of one pass at local[2], C1-compiled, on a quiet 4-vCPU
    * machine; a run of `--seconds s` runs round(s / this) passes, at
    * least one. */
  val nominalPassS: Map[String, Double] =
    Map("bi_sf01" -> 15.0, "bi_sf1" -> 40.0, "llm_dedup" -> 8.0, "write_mix" -> 20.0)

  private lazy val all: Map[String, QFn] =
    Dbt3Queries.queries ++ SsbQueries.queries ++ LlmQueries.queries ++
      PipelineQueries.queries ++ GraphQueries.queries

  def fn(name: String): QFn = all(name)
}

/** The `write_mix` workload: a versioned table built from a lineitem
  * projection, driven through seeded DML commits, rollup refreshes,
  * snapshot reads and time-travel reads. Every commit's parameters are
  * written to an op log in SQL text that both Spark and DuckDB accept,
  * so the result can be replayed independently. */
final class WriteMix(spark: SparkSession, root: String, seed: Long) {
  import WriteMix._

  val tableLoc = s"$root/table"
  val rollupLoc = s"$root/rollup"
  val table: VersionedTable = VersionedTable.create(spark, tableLoc, spark.sql(BaseSql), initialFiles = 4)
  val rollup: IncrementalRollup =
    IncrementalRollup.create(table, rollupLoc, Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice"))

  private val rng = new scala.util.Random(seed)
  private var nextKey = NewKeyBase
  private var commits = 0

  /** Ops of one pass: the four DML commits in seeded order, each
    * followed by a rollup refresh and three reads (an aggregate over the
    * current version, a key range of it, and the version two commits
    * back), then a compaction, a refresh and a vacuum. Every pass reads
    * each version the same way, so the seed moves which commit precedes
    * a read but not how many reads a run makes or where they fall. */
  def pass(p: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + p)
      .shuffle(Seq("insert", "update", "delete", "merge"))
      .flatMap(c => Seq(c, "refresh", "read_agg", "read_range", "read_travel")) ++
      Seq("optimize", "refresh", "vacuum")

  /** Runs one op; returns its log entry (SQL-text parameters and, for
    * reads, the result rows rendered as strings). */
  def run(op: String): Map[String, Any] = op match {
    case "insert" =>
      val lo = nextKey; nextKey += InsertRows
      val v = table.insert(rows(lo, lo + InsertRows, salt = commits))
      commit(op, v, Map("lo" -> lo, "hi" -> (lo + InsertRows), "salt" -> commits))
    case "update" =>
      val a = rng.nextInt(BaseKeySpan - UpdateWidth)
      val cond = s"k >= $a AND k < ${a + UpdateWidth}"
      val v = table.update(expr(cond), Map("l_quantity" -> expr(UpdateSet)))
      commit(op, v, Map("cond" -> cond, "set" -> UpdateSet))
    case "delete" =>
      val a = rng.nextInt(BaseKeySpan - DeleteWidth)
      val flag = "ANR".charAt(rng.nextInt(3))
      val cond = s"k >= $a AND k < ${a + DeleteWidth} AND l_returnflag = '$flag'"
      val v = table.delete(expr(cond))
      commit(op, v, Map("cond" -> cond))
    case "merge" =>
      val a = rng.nextInt(BaseKeySpan - MergeWidth).toLong
      val v = table.merge(rows(a, a + MergeWidth, salt = commits), "k")
      commit(op, v, Map("lo" -> a, "hi" -> (a + MergeWidth), "salt" -> commits))
    case "optimize" => commit(op, table.optimize(4, Seq("k")), Map.empty)
    case "vacuum" =>
      val removed = table.vacuum(keepVersions = 3)
      Map("op" -> op, "version" -> table.currentVersion, "removed" -> removed)
    case "refresh" => Map("op" -> op, "version" -> rollup.refresh())
    case "read_agg" => read(op, table.currentVersion, None)
    case "read_range" =>
      val a = rng.nextInt(BaseKeySpan - RangeWidth)
      read(op, table.currentVersion, Some(s"k >= $a AND k < ${a + RangeWidth}"))
    case "read_travel" => read(op, math.max(0, table.currentVersion - 2), None)
  }

  private def commit(op: String, version: Int, params: Map[String, Any]): Map[String, Any] = {
    commits += 1
    Map("op" -> op, "version" -> version) ++ params
  }

  private def rows(lo: Long, hi: Long, salt: Int): DataFrame =
    spark.sql(s"SELECT ${rowExprs(salt.toString)} FROM (SELECT id AS k FROM range($lo, $hi))")

  private def read(op: String, version: Int, where: Option[String]): Map[String, Any] = {
    val df = where.fold(table.read(version))(w => table.read(version).where(w))
    val out = df.groupBy("l_returnflag").agg(
      count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")),
      sum(col("l_extendedprice").cast("decimal(18,2)")))
      .collect().map(r => Seq(0, 1, 2, 3).map(i => String.valueOf(r.get(i))).mkString("|"))
      .sorted.toSeq
    Map("op" -> op, "version" -> version, "where" -> where.getOrElse(""), "result" -> out)
  }

  /** Data files of a version with their sizes in bytes. */
  def files(version: Int): Seq[(String, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    table.read(version).inputFiles.toSeq.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      f -> p.getFileSystem(conf).getFileStatus(p).getLen
    }
  }

  /** `rollup.read()` equals `rollup.full()` on the rollup's columns. */
  def rollupConsistent(): Boolean = {
    val full = rollup.full()
    val cols = full.columns.toSeq
    def canon(df: DataFrame) = df.select(cols.map(col): _*).collect().map(graft.Verify.canon).sorted.toSeq
    canon(rollup.read()) == canon(full)
  }
}

object WriteMix {
  /** Unique-key lineitem projection: k = l_orderkey * 8 + l_linenumber,
    * keeping only keys that occur once. Plain SQL both engines run. */
  val BaseSql: String =
    """SELECT k, l_partkey, l_quantity, l_extendedprice, l_discount, l_returnflag
      |FROM (SELECT l_orderkey * 8 + l_linenumber AS k, l_partkey, l_quantity,
      |             l_extendedprice, l_discount, l_returnflag,
      |             count(*) OVER (PARTITION BY l_orderkey * 8 + l_linenumber) AS n
      |      FROM lineitem WHERE l_orderkey % 32 = 0) AS u
      |WHERE n = 1""".stripMargin

  /** Generated row columns as a function of key `k` and a salt. */
  def rowExprs(salt: String): String =
    s"""CAST(k AS BIGINT) AS k, CAST((k * 7919 + $salt) % 20000 AS BIGINT) AS l_partkey,
       |CAST((k * 31 + $salt) % 50 + 1 AS DOUBLE) AS l_quantity,
       |CAST(90000 + (k * 104729 + $salt) % 10410000 AS DOUBLE) / 100 AS l_extendedprice,
       |CAST((k * 17 + $salt) % 11 AS DOUBLE) / 100 AS l_discount,
       |CASE (k + $salt) % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END AS l_returnflag"""
      .stripMargin.replace("\n", " ")

  val UpdateSet = "l_quantity + 1"
  val Commits = Set("insert", "update", "delete", "merge", "optimize")
  val BaseKeySpan = 1200000
  val NewKeyBase = 2000000L
  val InsertRows = 2000
  val UpdateWidth = 24000
  val DeleteWidth = 24000
  val MergeWidth = 6000
  val RangeWidth = 120000
}
