package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 = none); every span carries the op it
  * belongs to. Times are epoch milliseconds, the clock Spark's events
  * use. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long)

/** Per-task counters folded per stage. */
final class TaskAgg {
  var tasks, runMs, cpuNs, schedDelayMs, inBytes, inRows, shWrite, shRead,
    fetchWaitMs, spill, resultBytes = 0L
}

/** Records the layers below an op through Spark's public listener
  * APIs: a `QueryExecutionListener` for each query execution's planning
  * phases and scanned files, and a `SparkListener` for SQL executions,
  * jobs, stages and task metrics. Events are buffered (task metrics
  * summed per stage) and attributed to ops after the listener bus has
  * drained. Jobs carry the op id through the `perfbench.op` local
  * property set by the harness thread. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
  private val execEnd = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()

  /** Plan walk that sees through adaptive wrappers and reused exchanges. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => q +: walk(q.plan)
    case r: ReusedExchangeExec => r +: walk(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    val files = try {
      walk(qe.executedPlan).collect { case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    } catch { case _: Throwable => 0L }
    qes.add(QeRec(qe.id, start, ms("analysis"), ms("optimization"), ms("planning"), files))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execStart.put(e.executionId, (e.time, e.rootExecutionId.getOrElse(e.executionId)))
    case e: SparkListenerSQLExecutionEnd => execEnd.put(e.executionId, e.time)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, JobRec(e.jobId, prop(Trace.OpKey).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageTimes.put(i.stageId, (s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = stageTasks.computeIfAbsent(e.stageId, _ => new TaskAgg)
    val i = e.taskInfo
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.resultBytes += m.resultSize
    }
  }

  /** Attribute everything recorded to the ops of `opSpans` (the spans
    * that SQL executions and jobs hang under, one per op) and return the
    * spans below them plus per-op counters. A query execution belongs to
    * the op whose interval holds its first planning phase; jobs name
    * their op directly. */
  def attribute(opSpans: Seq[Span]): (Seq[Span], Map[Long, Map[String, Double]]) = {
    val sorted = opSpans.sortBy(_.start)
    def opAt(t: Long): Long =
      sorted.find(s => s.start <= t && t <= s.end).map(_.op).getOrElse(0L)
    var nextId = sorted.map(_.id).foldLeft(0L)(_ max _) + 1
    def fresh(): Long = { val i = nextId; nextId += 1; i }
    val opSpanId = sorted.map(s => s.op -> s.id).toMap
    val spans = mutable.ArrayBuffer[Span]()
    val counters = mutable.Map[Long, mutable.Map[String, Double]]()
    def add(op: Long, k: String, v: Double): Unit =
      if (op != 0L) {
        val m = counters.getOrElseUpdate(op, mutable.Map[String, Double]())
        m(k) = m.getOrElse(k, 0.0) + v
      }
    val qeById = qes.asScala.map(q => q.id -> q).toMap
    // SQL executions: op from the jobs they ran, else from planning time
    val execOp = mutable.Map[Long, Long]()
    jobs.values.asScala.foreach(j => if (j.exec >= 0 && j.op != 0L) execOp(j.exec) = j.op)
    val execSpan = mutable.Map[Long, Long]()
    execStart.asScala.toSeq.sortBy(_._1).foreach { case (id, (start, root)) =>
      val op = execOp.getOrElse(id, qeById.get(id).map(q => opAt(q.start)).getOrElse(opAt(start)))
      if (op != 0L) {
        val sid = fresh()
        execSpan(id) = sid
        val parent = if (root != id) execSpan.getOrElse(root, opSpanId(op)) else opSpanId(op)
        spans += Span(sid, parent, op, "query", s"sql-$id", start,
          Option(execEnd.get(id)).getOrElse(start))
      }
    }
    qes.asScala.foreach { q =>
      val op = execOp.getOrElse(q.id, opAt(q.start))
      add(op, "plans.actions", 1)
      add(op, "plans.analysis_ms", q.analysisMs.toDouble)
      add(op, "plans.optimization_ms", q.optimizationMs.toDouble)
      add(op, "plans.planning_ms", q.planningMs.toDouble)
      add(op, "scan.files_read", q.files.toDouble)
    }
    // a job lists the stages it skips because an earlier job ran them;
    // each stage counts once, under the first job that lists it
    val seenStages = mutable.Set[Int]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val op = if (j.op != 0L) j.op else opAt(j.start)
      if (op != 0L) {
        val sid = fresh()
        spans += Span(sid, execSpan.getOrElse(j.exec, opSpanId(op)), op, "job",
          s"job-${j.id}", j.start, Option(jobEnd.get(j.id)).getOrElse(j.start))
        add(op, "exec.jobs", 1)
        j.stages.filter(seenStages.add).foreach { st =>
          Option(stageTimes.get(st)).foreach { case (s, c) =>
            spans += Span(fresh(), sid, op, "stage", s"stage-$st", s, c)
            add(op, "exec.stages", 1)
          }
          Option(stageTasks.get(st)).foreach { a =>
            add(op, "exec.tasks", a.tasks.toDouble)
            add(op, "exec.task_run_ms", a.runMs.toDouble)
            add(op, "exec.task_cpu_ms", a.cpuNs / 1e6)
            add(op, "exec.sched_delay_ms", a.schedDelayMs.toDouble)
            add(op, "scan.bytes_read", a.inBytes.toDouble)
            add(op, "scan.rows_read", a.inRows.toDouble)
            add(op, "shuffle.write_bytes", a.shWrite.toDouble)
            add(op, "shuffle.read_bytes", a.shRead.toDouble)
            add(op, "shuffle.fetch_wait_ms", a.fetchWaitMs.toDouble)
            add(op, "spill.bytes", a.spill.toDouble)
            add(op, "driver.result_bytes", a.resultBytes.toDouble)
          }
        }
      }
    }
    (spans.toSeq, counters.map { case (k, v) => k -> v.toMap }.toMap)
  }
}

object Trace {
  val OpKey = "perfbench.op"

  final case class QeRec(id: Long, start: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, files: Long)
  final case class JobRec(id: Int, op: Long, exec: Long, start: Long,
      stages: Seq[Int])

  def install(spark: SparkSession): Trace = {
    val t = new Trace
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  def uninstall(spark: SparkSession, t: Trace): Unit = {
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = curE max e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per layer: each span's duration minus the part of it
    * its child spans cover, summed per layer. */
  def selfTimeMs(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start - covered(kids, s.start, s.end)).toDouble
      }.sum
    }
  }
}
