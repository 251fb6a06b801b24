package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run-environment evidence: a daemon thread samples, twice a second,
  * the number of other JVMs alive (this process and its ancestors
  * excluded), the 1-minute load average and the machine's cumulative
  * CPU steal and total jiffies (`/proc/stat`, where it exists), so each
  * op can carry the worst co-runner and load seen while it ran and the
  * share of CPU time the host took away. */
final class EnvSampler(cpus: Int) {
  import EnvSampler.Tick
  private val ticks = new java.util.concurrent.ConcurrentLinkedQueue[Tick]()

  def start(): Unit = {
    val t = new Thread(() => {
      while (true) {
        val (steal, total) = EnvSampler.cpuJiffies()
        ticks.add(Tick(System.currentTimeMillis(), EnvSampler.otherJvms(), EnvSampler.load1(),
          steal, total))
        Thread.sleep(500)
      }
    }, "perfbench-env-sampler")
    t.setDaemon(true)
    t.start()
  }

  /** Worst co-runner count and load over [startMs, endMs], and the
    * steal share of CPU time between the samples around it. */
  def window(startMs: Long, endMs: Long): (Int, Double, Double) = {
    val all = ticks.asScala.toSeq
    val before = all.filter(_.ms < startMs).lastOption.toSeq
    val in = before ++ all.filter(t => t.ms >= startMs && t.ms <= endMs)
    if (in.isEmpty) (EnvSampler.otherJvms(), EnvSampler.load1(), 0.0)
    else {
      val (steal, total) = EnvSampler.cpuJiffies()
      val dt = total - in.head.total
      (in.map(_.jvms).max, in.map(_.load).max,
        if (dt > 0) (steal - in.head.steal).toDouble / dt else 0.0)
    }
  }

  def summary(spark: SparkSession): Map[String, Any] = {
    val all = ticks.asScala.toSeq
    val maxJvms = if (all.isEmpty) 0 else all.map(_.jvms).max
    val maxLoad = if (all.isEmpty) 0.0 else all.map(_.load).max
    val stealShare =
      if (all.size < 2 || all.last.total == all.head.total) 0.0
      else (all.last.steal - all.head.steal).toDouble / (all.last.total - all.head.total)
    val nproc = Runtime.getRuntime.availableProcessors()
    val reasons =
      (if (maxJvms > 0) Seq(s"$maxJvms other JVM(s) alive during the run") else Nil) ++
        (if (maxLoad > nproc + 1) Seq(f"1-min load $maxLoad%.2f above $nproc cpus") else Nil) ++
        (if (cpus > nproc) Seq(s"local[$cpus] exceeds $nproc cpus") else Nil) ++
        (if (stealShare > 0.05) Seq(f"host took $stealShare%.3f of CPU time (steal)") else Nil)
    Map(
      "cpus" -> cpus,
      "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "max_other_jvms" -> maxJvms,
      "max_load1" -> maxLoad,
      "steal_share" -> stealShare,
      "contaminated" -> reasons.nonEmpty,
      "contamination" -> reasons)
  }
}

object EnvSampler {
  private final case class Tick(ms: Long, jvms: Int, load: Double, steal: Long, total: Long)

  /** (steal, total) jiffies summed over all CPUs; (0, 0) without /proc. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = java.nio.file.Paths.get("/proc/stat")
      val cpu = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (cpu.length > 7) cpu(7) else 0L, cpu.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  def otherJvms(): Int = {
    val self = ProcessHandle.current()
    var ancestors = Set(self.pid)
    var p = self.parent()
    while (p.isPresent) { ancestors += p.get.pid; p = p.get.parent() }
    ProcessHandle.allProcesses().iterator().asScala.count { h =>
      !ancestors.contains(h.pid) &&
        h.info().command().map[Boolean](_.endsWith("java")).orElse(false)
    }
  }

  def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Bytes of every regular file under `root` (only `*.parquet` files
    * when `parquetOnly`). */
  def treeBytes(root: Path, parquetOnly: Boolean = false): Long = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => !parquetOnly || p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    finally walk.close()
  }
}

/** JSON rendering of the record's Scala maps, sequences and values. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  /** A JSON object of string values. */
  def read(s: String): Map[String, String] =
    mapper.readValue(s, classOf[java.util.Map[String, String]]).asScala.toMap
}
