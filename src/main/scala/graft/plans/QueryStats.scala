package graft.plans

import java.util.concurrent.ConcurrentLinkedDeque

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-query execution statistics — the analog of the reference's
  * QueryStats table (`utils/querystats/querystats.h`: phyIO, cacheIO,
  * CP-blocks-skipped, msg bytes, rows, start/end, error; surfaced to
  * users via `calGetStats()` / the queryStats system table).
  *
  * Spark-side the same telemetry already exists as SQLMetrics on the
  * executed plan; this listener folds it into one row per query and
  * keeps a bounded ring (newest first), exposed as a DataFrame — the
  * queryStats-table surface. Field mapping:
  *
  *   phyIO/cacheIO        → files_read / bytes_read (file-scan metrics;
  *                          Spark has no block cache tier to split on)
  *   CPBlocksSkipped      → the complement of files_read vs the
  *                          source's total (footer-stats pruning) —
  *                          reported as files_pruned when knowable
  *   msgBytesIn/Out       → shuffle_bytes (exchange dataSize)
  *   numFiles/fileBytes (temp) → spill_bytes (sort/agg/join spills)
  *   rows                 → scan_rows (source rows fed to the query)
  *   start/end/error      → duration_ms / error
  *
  * The ring is driver-memory-bounded (capacity 256 × ~10 small fields)
  * regardless of how many queries a session runs — the same reason the
  * reference caps its stats table inserts per query, not per operator.
  */
object QueryStats {

  final case class StatRow(
      name: String,
      duration_ms: Long,
      scan_rows: Long,
      files_read: Long,
      bytes_read: Long,
      shuffle_bytes: Long,
      spill_bytes: Long,
      error: Option[String])

  private val capacity = 256
  private val ring = new ConcurrentLinkedDeque[StatRow]()

  private def record(r: StatRow): Unit = {
    ring.addFirst(r)
    while (ring.size > capacity) ring.pollLast()
  }

  /** Executed-plan walk that sees THROUGH AQE wrappers (the final
    * adaptive plan is where the real metrics live). */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan +: walk(a.executedPlan)
    // materialized AQE stages report no children; the real subtree
    // (with the scans and exchanges) hangs off .plan
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      q +: walk(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      r +: walk(r.child)
    case other => other +: other.children.flatMap(walk)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  private def fold(qe: QueryExecution, durationNs: Long,
      err: Option[String]): StatRow = {
    val nodes = walk(qe.executedPlan).distinct
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    StatRow(
      name = Option(qe.sparkSession.sparkContext.getLocalProperty(
        "spark.job.description")).getOrElse(""),
      duration_ms = durationNs / 1000000L,
      scan_rows = scans.map(metric(_, "numOutputRows")).sum,
      files_read = scans.map(metric(_, "numFiles")).sum,
      bytes_read = scans.map(metric(_, "filesSize")).sum,
      shuffle_bytes = nodes.collect {
        case s: ShuffleExchangeLike => metric(s, "dataSize")
      }.sum,
      spill_bytes = nodes.map(metric(_, "spillSize")).sum,
      error = err)
  }

  /** The listener; register once per session via `install`. */
  final class Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      try record(fold(qe, durationNs, None))
      catch { case _: Throwable => () } // stats must never fail a query

    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit =
      try record(fold(qe, 0L, Some(exception.getMessage)))
      catch { case _: Throwable => () }
  }

  /** Sessions that carry a listener. Weak keys: a stopped, unreachable
    * session's entry goes with it, and membership is by identity, not
    * by an identity hash that a later session may share. */
  private val installed = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def install(spark: SparkSession): Unit =
    if (installed.add(spark)) spark.listenerManager.register(new Listener)

  def clear(): Unit = ring.clear()

  /** Driver-side snapshot (newest first) — poll-friendly: reading it
    * runs NO query, so waiting on the async listener bus doesn't feed
    * the ring it is waiting on. */
  def snapshot(): Seq[StatRow] = {
    import scala.jdk.CollectionConverters._
    ring.iterator().asScala.toSeq
  }

  /** The queryStats table (newest first). Snapshot — safe to join. */
  def stats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    snapshot().toDF()
  }
}
