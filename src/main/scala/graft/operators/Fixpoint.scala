package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The adaptive driver-or-distributed fixpoint skeleton behind
  * `GraphRank.pageRank`, `KCore.coreness`/`kCore` and
  * `Dedup.dupClusters`, and the gate of `Dedup`'s set-similarity join
  * — the engine's form of the reference's coordinator-vs-worker
  * placement from a size budget (`HJUmMaxMemorySmallSide`,
  * docs/MEMORY.md). An operator supplies its projection, its driver
  * step and its distributed step; this object owns everything else.
  *
  * Contract:
  *  - Budget ([[driverRowBudget]]): the caller's row bound, ceilinged
  *    by `spark.driver.maxResultSize`/2 at the input schema's
  *    serialized row width. A flat row constant tuned on a big-heap
  *    driver would collect past a small driver's limit and die with
  *    the refusal the gate exists to avoid; maxResultSize = 0
  *    (unlimited) keeps the caller's bound.
  *  - One job per gate ([[gate]], shared with the set-similarity join
  *    of `Dedup`): ONE bounded-collect job ([[collectBounded]]) returns
  *    the input's row count and, within budget, every row. In
  *    [[adaptive]] the input is persisted first, so the same scan
  *    materializes the cache the distributed step reads. At
  *    interactive sizes per-job scheduling, not data, sets the cost —
  *    a distributed round pays joins, shuffles and an action for
  *    kilobytes — which is why the gate exists and why it is one job,
  *    not count-then-collect. An input already on the driver — a
  *    driver step's [[localResult]], or what a narrow projection or
  *    filter of one folds to — pays no job and no persist: the gate
  *    hands over its rows ([[resident]]).
  *  - Unboxed driver steps: the gate hands a step InternalRows read
  *    through their typed getters; a step maps ids to dense `int`s
  *    once ([[LongIds]] for integral ids, [[DenseEdges]] for edge
  *    lists) and runs over `int`/`long` arrays ([[Csr]] for postings
  *    and adjacency).
  *  - One partition out ([[localResult]]): a driver step's rows come
  *    back as one partition, so a consumer's sort or exchange sees a
  *    single-partition input instead of sampling and shuffling a few
  *    rows spread over `defaultParallelism` partitions.
  *  - Bit-identical driver steps: every recurrence run here is integer
  *    arithmetic, min-label or union-find, so a driver step is a local
  *    copy of the distributed one and returns the same rows, bit for
  *    bit (FixpointSpec pins the two paths against each other).
  *  - Stage and release ([[rounds]]): the distributed step runs in a
  *    [[Rounds]] scope whose result is written under `Scratch.newDir`
  *    (shared storage on a cluster) and read back after every loop
  *    cache — and the gate's input — is released. No call leaves a
  *    cache entry behind, and consuming the result never replays the
  *    rounds.
  */
private[graft] object Fixpoint {

  /** Driver-collect row budget: `requested` ceilinged by
    * maxResultSize/2 at the serialized width of a `schema` row. */
  def driverRowBudget(spark: SparkSession, requested: Long, schema: StructType): Long =
    driverRowBudget(spark, requested, rowBytes(schema))

  /** Serialized width of a `schema` row as [[collectBounded]] ships
    * it: UnsafeRow null bits + 8 B per field + variable-length payload
    * at its type's default size, + the 4 B length prefix. */
  private def rowBytes(schema: StructType): Long =
    4L + UnsafeRow.calculateBitSetWidthInBytes(schema.length) +
      schema.fields.map(f =>
        8L + (if (UnsafeRow.isFixedLength(f.dataType)) 0 else f.dataType.defaultSize)).sum

  /** Driver-collect row budget at a given row width: `requested`
    * ceilinged by maxResultSize/2 at `rowBytes` per row — the one
    * reader of `spark.driver.maxResultSize`, also pricing Dedup's
    * broadcast builds (which collect to the driver too). */
  def driverRowBudget(spark: SparkSession, requested: Long, rowBytes: Long): Long = {
    val bytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    if (bytes <= 0) requested else math.min(requested, bytes / 2 / rowBytes)
  }

  /** ONE-job bounded collect: every partition is scanned once and
    * ships its row count plus at most `cap` rows as UnsafeRow bytes,
    * so the driver learns the true count AND — when it is within
    * `budget` — every row, with no second action.
    *
    * Payload bound: cap = min(budget, max(2·budget/P, 4096)) rows per
    * partition; a partition past its cap ships its count and no rows.
    * Rows come back only when the total is within budget and no
    * partition overflowed (a skewed partition makes them incomplete:
    * a miss for the caller's distributed path, never a wrong answer).
    * A maxResultSize abort mid-fetch proves the input over budget and
    * returns count -1.
    *
    * @return (row count, Some(rows) when complete); each row is an
    *         UnsafeRow of `df`'s schema over its own bytes, read through
    *         its typed getters — no per-row conversion */
  def collectBounded(df: DataFrame, budget: Long): (Long, Option[Array[InternalRow]]) = {
    val schema = df.schema
    val b = math.max(budget, 0L)
    // one SQL execution, as for any Dataset action (`Dataset.rdd` too):
    // run outside one, the same AQE stages measured slower on the
    // llm_dedup benchmark, and so did the queries that followed
    SQLExecution.withNewExecutionId(df.queryExecution, Some("collectBounded")) {
      val rdd = df.queryExecution.toRdd
      val parts = math.max(rdd.getNumPartitions, 1)
      // saturating 2·budget: past Long.MaxValue / 2 the product would
      // wrap negative and pin every partition to the floor cap
      val twice = if (b > Long.MaxValue / 2) Long.MaxValue else 2L * b
      val cap = math.min(b, math.max(twice / parts, 4096L))
      try {
        val chunks = rdd.mapPartitions { it =>
          val proj = UnsafeProjection.create(schema)
          val bytes = new java.io.ByteArrayOutputStream()
          val out = new java.io.DataOutputStream(bytes)
          val buf = new Array[Byte](4096)
          var n = 0L
          while (it.hasNext) {
            val r = it.next()
            n += 1
            if (n <= cap) {
              val u = proj(r)
              out.writeInt(u.getSizeInBytes)
              u.writeToStream(out, buf)
            }
          }
          Iterator.single((n, if (n <= cap) bytes.toByteArray else Array.emptyByteArray))
        }.collect()
        val total = chunks.iterator.map(_._1).sum
        if (total > b || total > Int.MaxValue - 8 || chunks.exists(_._1 > cap)) (total, None)
        else {
          val rows = new Array[InternalRow](total.toInt)
          var k = 0
          chunks.foreach { case (n, bytes) =>
            val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
            for (_ <- 0 until n.toInt) {
              val u = new UnsafeRow(schema.length)
              val a = new Array[Byte](in.readInt())
              in.readFully(a)
              u.pointTo(a, a.length)
              rows(k) = u
              k += 1
            }
          }
          (total, Some(rows))
        }
      } catch {
        case e: org.apache.spark.SparkException
            if String.valueOf(e.getMessage).contains("maxResultSize") => (-1L, None)
      }
    }
  }

  /** The driver-or-distributed gate: every row of `input` when it
    * fits the [[driverRowBudget]] for `driverMaxRows`; None (run
    * distributed) otherwise. A zero budget decides None with no job.
    * An input already on the driver ([[resident]]) hands over its
    * rows with no job either; any other input pays ONE
    * [[collectBounded]] job. With `byEstimate`, an optimized-plan
    * size estimate over the budget at [[rowBytes]] per row decides
    * None with no job — right for a scan and its narrow filters and
    * projections, whose estimate follows the file bytes; wrong for a
    * join, whose estimate is the product of its sides and would send a
    * small pair list distributed, which is why [[adaptive]] does not
    * pass it. */
  def gate(input: DataFrame, driverMaxRows: Long, byEstimate: Boolean = false)
      : Option[Array[InternalRow]] =
    gateOn(input, resident(input), driverMaxRows, byEstimate)

  /** [[gate]] on `input`'s [[resident]] rows, already looked up. */
  private def gateOn(input: DataFrame, local: Option[Array[InternalRow]], driverMaxRows: Long,
      byEstimate: Boolean): Option[Array[InternalRow]] = {
    val width = rowBytes(input.schema)
    val budget = driverRowBudget(input.sparkSession, driverMaxRows, width)
    if (budget <= 0) None
    else local match {
      case Some(rows) => Some(rows).filter(_.length <= budget)
      case None =>
        if (byEstimate &&
            input.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(budget) * width) None
        else collectBounded(input, budget)._2
    }
  }

  /** The rows of an input that is already on the driver: one whose
    * optimized plan is a `LocalRelation`, alone or under
    * [[localResult]]'s `Repartition(1, shuffle = false)` — a driver
    * step's result and what a narrow projection or filter of it folds
    * to. Only an input whose every leaf is a `LocalRelation` is
    * optimized here, in its own execution, so `input`'s own plan
    * stays unoptimized until [[adaptive]] has persisted it. */
  private def resident(input: DataFrame): Option[Array[InternalRow]] =
    if (!input.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else input.sparkSession.sessionState.executePlan(input.queryExecution.analyzed)
        .optimizedPlan match {
      case LocalRelation(_, data, false, _) => Some(data.toArray)
      case Repartition(1, false, LocalRelation(_, data, false, _)) => Some(data.toArray)
      case _ => None
    }

  /** A driver step's result rows as a one-partition frame: a local
    * relation (its size known to the planner, so joins still
    * broadcast it) coalesced to one partition without a shuffle. */
  def localResult(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
  }

  /** The fixpoint form of [[gate]]: persist `input` (unless it is
    * already on the driver), gate it for `driverMaxRows`, then run
    * `driver` on its rows or `distributed` on the persisted input
    * inside a [[rounds]] scope staged under `stage`. A persisted input
    * is released in a `finally`. */
  def adaptive(input: DataFrame, driverMaxRows: Long, stage: String)(
      driver: Array[InternalRow] => DataFrame)(
      distributed: (Rounds, DataFrame) => DataFrame): DataFrame = {
    val local = resident(input)
    val p = if (local.isDefined) input else input.persist(MEMORY_AND_DISK)
    try {
      gateOn(p, local, driverMaxRows, byEstimate = false) match {
        case Some(rows) => driver(rows)
        case None => rounds(p.sparkSession, stage)(distributed(_, p))
      }
    } finally if (local.isEmpty) p.unpersist(blocking = false)
  }

  /** A distributed loop's cache scope: runs `body`, writes its result
    * under a fresh `Scratch.newDir(stage)`, releases every cache the
    * scope holds, and returns the read-back. The read-back is given the
    * written frame's schema (all nullable, as a file source exposes
    * it), so it plans without a schema-inference job. */
  def rounds(spark: SparkSession, stage: String)(body: Rounds => DataFrame): DataFrame = {
    val r = new Rounds
    try {
      val out = body(r)
      val dir = graft.sources.Scratch.newDir(spark, stage) + "/state"
      out.write.mode("overwrite").parquet(dir)
      spark.read.schema(StructType(out.schema.fields.map(_.copy(nullable = true))))
        .parquet(dir)
    } finally r.release()
  }

  /** The caches of one [[rounds]] scope. */
  final class Rounds private[Fixpoint] {
    private val held = mutable.ArrayBuffer.empty[DataFrame]

    private[Fixpoint] def release(): Unit = {
      held.foreach(_.unpersist(blocking = false))
      held.clear()
    }

    /** Persist `df` until the scope ends. */
    def hold(df: DataFrame): DataFrame = {
      val c = df.persist(MEMORY_AND_DISK)
      held += c
      c
    }

    /** The round loop. Each state — `init`, then `step(state)` — is
      * held, materialized by its one scalar action `measure`, and the
      * previous round's state released; the loop stops when
      * `done(previous measure, new measure)` or after `maxRounds`
      * steps and returns the last state (still held until the scope
      * ends). Pass `cut` when `step` refers to its state more than
      * once: each state is then re-rooted on its cache as a bare
      * LogicalRDD leaf, where each reference would otherwise inline
      * the whole chain of earlier rounds and the plan would grow
      * exponentially. */
    def iterate[M](init: DataFrame, maxRounds: Int, cut: Boolean = false)(
        measure: DataFrame => M)(done: (M, M) => Boolean)(
        step: DataFrame => DataFrame): DataFrame = {
      def open(df: DataFrame): (DataFrame, DataFrame) = {
        val c = hold(df)
        (c, if (cut) c.sparkSession.createDataFrame(c.rdd, c.schema) else c)
      }
      var (cached, state) = open(init)
      var m = measure(state)
      var rounds = 0
      var stop = false
      while (!stop && rounds < maxRounds) {
        val (nextCached, next) = open(step(state))
        val mNext = measure(next)
        cached.unpersist(blocking = false)
        held -= cached
        stop = done(m, mNext)
        cached = nextCached
        state = next
        m = mNext
        rounds += 1
      }
      state
    }
  }

  /** Two endpoint columns renamed to `asA`/`asB`, both cast to their
    * wider common type, rows with a NULL endpoint dropped — so the
    * driver and distributed steps see one graph (a NULL never joins in
    * a distributed round) and a wide id never narrows to the other
    * endpoint's type. */
  def edgeList(df: DataFrame, a: String, b: String, asA: String, asB: String): DataFrame = {
    val t = df.select(coalesce(col(a), col(b))).schema.head.dataType
    df.select(col(a).cast(t).as(asA), col(b).cast(t).as(asB))
      .filter(col(asA).isNotNull && col(asB).isNotNull)
  }

  /** Whether a driver step may key `dt` values as `long`s. */
  def integral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Column `i` of integral type `dt` as a `long`. */
  def longAt(row: InternalRow, i: Int, dt: DataType): Long = dt match {
    case LongType => row.getLong(i)
    case IntegerType => row.getInt(i)
    case ShortType => row.getShort(i)
    case ByteType => row.getByte(i)
  }

  /** A `long` back as the external value of integral type `dt`. */
  def ofLong(v: Long, dt: DataType): Any = dt match {
    case LongType => v
    case IntegerType => v.toInt
    case ShortType => v.toShort
    case ByteType => v.toByte
  }

  /** Collected (a, b) edge rows of node type `dt` as dense node ids,
    * numbered in first-seen order (a before b within a row): `a(e)`,
    * `b(e)` for edge e, `nodes` ids in all, and `node(v)` the external
    * value of id v. Integral nodes map through one [[LongIds]]; any
    * other type through one `HashMap` pass over its internal values. */
  final class DenseEdges(rows: Array[InternalRow], dt: DataType) {
    val a = new Array[Int](rows.length)
    val b = new Array[Int](rows.length)
    private val longs = if (integral(dt)) new LongIds(rows.length) else null
    private val others =
      if (longs != null) null else new java.util.HashMap[AnyRef, Integer](2 * rows.length)
    private val values = mutable.ArrayBuffer.empty[AnyRef]
    private def id(r: InternalRow, i: Int): Int =
      if (longs != null) longs.id(longAt(r, i, dt))
      else {
        val v = r.get(i, dt).asInstanceOf[AnyRef]
        val known = others.get(v)
        if (known != null) known
        else { others.put(v, values.length); values += v; values.length - 1 }
      }
    for (e <- rows.indices) { a(e) = id(rows(e), 0); b(e) = id(rows(e), 1) }

    def nodes: Int = if (longs != null) longs.size else values.length

    /** The `long` key of id `v` of an integral node type. */
    def longKey(v: Int): Long = longs.key(v)

    private lazy val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    def node(v: Int): Any = if (longs != null) ofLong(longs.key(v), dt) else toScala(values(v))
  }
}
