package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.{coalesce, col}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The adaptive driver-or-distributed fixpoint skeleton behind
  * `GraphRank.pageRank`, `KCore.coreness`/`kCore` and
  * `Dedup.dupClusters` — the engine's form of the reference's
  * coordinator-vs-worker placement from a size budget
  * (`HJUmMaxMemorySmallSide`, docs/MEMORY.md). An operator supplies
  * its projection, its driver step and its distributed step; this
  * object owns everything else.
  *
  * Contract:
  *  - Budget ([[driverRowBudget]]): the caller's row bound, ceilinged
  *    by `spark.driver.maxResultSize`/2 at the input schema's
  *    serialized row width. A flat row constant tuned on a big-heap
  *    driver would collect past a small driver's limit and die with
  *    the refusal the gate exists to avoid; maxResultSize = 0
  *    (unlimited) keeps the caller's bound.
  *  - One job per gate ([[adaptive]]): the input is persisted and ONE
  *    bounded-collect job ([[collectBounded]]) returns its row count
  *    and, within budget, every row. The same scan materializes the
  *    cache the distributed step reads. At interactive sizes per-job
  *    scheduling, not data, sets the cost — a distributed round pays
  *    joins, shuffles and an action for kilobytes — which is why the
  *    gate exists and why it is one job, not count-then-collect.
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
  def driverRowBudget(spark: SparkSession, requested: Long, schema: StructType): Long = {
    val bytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.driver.maxResultSize", "1g"))
    // UnsafeRow width (null bits + 8 B per field + variable-length
    // payload at its type's default size) + the 4 B length prefix
    val rowBytes = 4L + UnsafeRow.calculateBitSetWidthInBytes(schema.length) +
      schema.fields.map(f =>
        8L + (if (UnsafeRow.isFixedLength(f.dataType)) 0 else f.dataType.defaultSize)).sum
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
    * @return (row count, Some(rows) when complete) */
  def collectBounded(df: DataFrame, budget: Long): (Long, Option[Array[Row]]) = {
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
          val toRow = CatalystTypeConverters.createToScalaConverter(schema)
          val rows = chunks.iterator.flatMap { case (n, bytes) =>
            val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
            Iterator.fill(n.toInt) {
              val u = new UnsafeRow(schema.length)
              val a = new Array[Byte](in.readInt())
              in.readFully(a)
              u.pointTo(a, a.length)
              toRow(u).asInstanceOf[Row]
            }
          }.toArray
          (total, Some(rows))
        }
      } catch {
        case e: org.apache.spark.SparkException
            if String.valueOf(e.getMessage).contains("maxResultSize") => (-1L, None)
      }
    }
  }

  /** The gate: persist `input`, run one [[collectBounded]] at the
    * [[driverRowBudget]] for `driverMaxRows`, then run `driver` on the
    * collected rows or `distributed` on the persisted input inside a
    * [[rounds]] scope staged under `stage`. The input is released in
    * a `finally`. */
  def adaptive(input: DataFrame, driverMaxRows: Long, stage: String)(
      driver: Array[Row] => DataFrame)(
      distributed: (Rounds, DataFrame) => DataFrame): DataFrame = {
    val p = input.persist(MEMORY_AND_DISK)
    try {
      collectBounded(p, driverRowBudget(p.sparkSession, driverMaxRows, p.schema))._2 match {
        case Some(rows) => driver(rows)
        case None => rounds(p.sparkSession, stage)(distributed(_, p))
      }
    } finally p.unpersist(blocking = false)
  }

  /** A distributed loop's cache scope: runs `body`, writes its result
    * under a fresh `Scratch.newDir(stage)`, releases every cache the
    * scope holds, and returns the read-back. */
  def rounds(spark: SparkSession, stage: String)(body: Rounds => DataFrame): DataFrame = {
    val r = new Rounds
    try {
      val out = body(r)
      val dir = graft.sources.Scratch.newDir(spark, stage) + "/state"
      out.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
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
}
