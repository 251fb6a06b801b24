package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Executes via a noop write so the full plan —
  * including top-level ORDER BY and projection — is actually measured
  * (a bare .count() lets Catalyst eliminate sorts and prune columns,
  * under-measuring exactly the operators the suite covers).
  */
object Bench {
  /** Other JVMs alive on the box, excluding this process and its
    * ancestor chain (sbt launches the bench, so the parent java must
    * not count). Concurrent JVMs inflate timings 3–20× (three rounds
    * of driver-run-vs-committed adjudication hinged on exactly this),
    * so the count is RECORDED in the bench JSON — refusing to run
    * would zero a driver round, but an artifact that carries its own
    * contention evidence adjudicates itself. Processes whose command
    * line is unreadable are excluded — on this box those are kernel
    * threads, never JVMs, and counting unknowns would cry wolf. */
  private def corunningJvms(): Int = {
    import scala.jdk.CollectionConverters._
    val self = ProcessHandle.current()
    var ancestors = Set(self.pid)
    var p = self.parent()
    while (p.isPresent) { ancestors += p.get.pid; p = p.get.parent() }
    ProcessHandle.allProcesses().iterator().asScala.count { h =>
      !ancestors.contains(h.pid) &&
        h.info().command().map[Boolean](_.contains("java")).orElse(false)
    }
  }

  /** Cumulative stop-the-world GC milliseconds of this JVM. */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Best-effort git state of the cwd, recorded in the artifact so a
    * bench JSON can prove whether it was produced AT the committed
    * tree (VERDICT r13 #7: four rounds of is-this-the-snapshot
    * ambiguity). */
  private def gitState(): (String, Boolean) =
    try {
      def run(cmd: String*): String = {
        val pr = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(pr.getInputStream.readAllBytes, "UTF-8").trim
        pr.waitFor()
        out
      }
      (run("git", "rev-parse", "--short", "HEAD"),
        run("git", "status", "--porcelain").nonEmpty)
    } catch { case _: Throwable => ("unknown", false) }

  /** The compact line's run summary: (artifact, queries_n, sum_log_s).
    * `artifact` names the file this run wrote its full line to — the
    * per-config file on a full run, the SPARK_GRAFT_BENCH_OUT target
    * on a filtered one, which never writes the per-config file.
    * `queries_n` and `sum_log_s` cover the same queries, those with a
    * positive time, so exp(sum_log_s / queries_n) is their geomean. */
  private[graft] def compactSummary(times: Seq[Double], out: String, perConfig: String,
      filtered: Boolean): (String, Int, Double) = {
    val timed = times.filter(_ > 0)
    (if (filtered) out else perConfig, timed.size, timed.map(math.log).sum)
  }

  /** A JSON object of per-query figures, in the given order. */
  private[graft] def jsonObject(kv: Iterable[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** Classes Janino has compiled in this JVM so far. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Jobs started so far by every SparkContext [[countJobs]] was given:
    * the session restarts make a new context each time, and each new
    * one gets the same counting listener. */
  private val jobsStarted = new java.util.concurrent.atomic.AtomicLong
  private val jobCounter = new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobsStarted.incrementAndGet()
  }
  private[graft] def countJobs(spark: SparkSession): Unit =
    spark.sparkContext.addSparkListener(jobCounter)

  /** Jobs started so far, read once the listener bus has delivered
    * every queued event. */
  private[graft] def jobsSoFar(spark: SparkSession): Long = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    jobsStarted.get
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Contention sampler (VERDICT r13 "what's wrong" #2): a two-point
    // start/end sample missed a mid-run co-runner that inflated one
    // query 2.9× while the artifact said corunning_jvms = 0. A daemon
    // thread samples every 2 s into a global max AND a per-query max,
    // so the evidence covers the whole timed window query by query.
    val globalJvmMax = new java.util.concurrent.atomic.AtomicInteger(corunningJvms())
    // Per-query sampling window: a fresh Window OBJECT per query,
    // swapped in atomically (ADVICE r14: resetting shared atomics let
    // a sampler tick that STARTED during the previous query — the
    // corunningJvms() process scan takes real time — land its sample
    // after the reset, smearing one query's contention into the
    // next). The sampler captures the window reference once per tick;
    // a tick that straddles a query boundary updates the OLD window,
    // which has already been read out and is garbage — never the new
    // query's telemetry. `ticks` counts samples landed in the window,
    // so a reader can tell a genuinely-quiet query from a sub-2 s one
    // the sampler never observed (VERDICT r14 what's-wrong #2).
    final class Window {
      val jvmMax = new java.util.concurrent.atomic.AtomicInteger(0)
      val loadMax = new java.util.concurrent.atomic.AtomicInteger(0)
      val ticks = new java.util.concurrent.atomic.AtomicInteger(0)
    }
    val window = new java.util.concurrent.atomic.AtomicReference(new Window)
    // non-JVM contention (a DuckDB oracle, a compiler, anything):
    // JVM-counting alone proved blind to it the very first time it
    // mattered, so the sampler also tracks the 1-min system load
    // average (×100, integer) — at local[N] an unloaded box reads
    // ≲ N·100 while a co-runner pushes it above
    def load100(): Int =
      (java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage * 100).toInt max 0
    val sampler = new Thread(() => {
      while (true) {
        val w = window.get() // pin BEFORE the slow scan (epoch guard)
        val c = corunningJvms()
        val l = load100()
        globalJvmMax.getAndUpdate(m => m max c)
        w.jvmMax.getAndUpdate(m => m max c)
        w.loadMax.getAndUpdate(m => m max l)
        w.ticks.incrementAndGet()
        Thread.sleep(2000)
      }
    }, "bench-contention-sampler")
    sampler.setDaemon(true)
    sampler.start()
    var spark = GraftSession.get(cpus)
    countJobs(spark)
    Tables.registerAll(spark, sfDir) // once — not per query (re-done on restart)
    // untimed warmup: JIT the scan/shuffle/agg paths so the first
    // measured query isn't charged for JVM compilation
    def calibRun(): Unit =
      spark.sql("SELECT l_returnflag, count(*), sum(l_quantity) FROM lineitem " +
          "JOIN orders ON l_orderkey = o_orderkey GROUP BY l_returnflag ORDER BY 1")
        .write.format("noop").mode("overwrite").save()
    // calibRun is best-effort: if the calibration tables themselves are
    // broken the per-query loop must still run and report its own
    // failures — a thrown calibration must never zero the round's bench
    // (round 7: one bad table registration → rc=1, no timings at all).
    try calibRun() catch { case e: Throwable =>
      System.err.println(s"[bench] calib warmup failed: ${e.getMessage}")
    }
    // calibration: median-of-3 of a FIXED workload, reported in the
    // JSON. Host CPU throughput shifts run to run (measured 3-4x on
    // identical code minutes apart); dividing per-query times by
    // calib makes round-over-round comparison machine-speed-relative.
    def medianOf3(run: () => Unit): Double = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try run() catch { case _: Throwable => }
        (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    }
    val calib = medianOf3(calibRun _)
    // Watchdog: ONE wedged query must not zero the round's bench (the
    // same blast-radius rule as per-table registration). Each run
    // executes under a job group on a worker thread; past the timeout
    // the group is cancelled and the query records the elapsed wall
    // clock as its (terrible) time while the suite continues. A task
    // that ignores interruption costs its thread, not the bench — the
    // executor is replaced and the orphan thread dies with the JVM.
    val qTimeoutS = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "600").toLong
    // daemon threads: a watchdog pool must never keep the JVM alive
    // after main() returns (a lingering non-daemon worker would hang
    // the bench process at exit — the exact failure this guards)
    val daemonFactory = new java.util.concurrent.ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, "bench-query")
        t.setDaemon(true)
        t
      }
    }
    def newPool() =
      java.util.concurrent.Executors.newSingleThreadExecutor(daemonFactory)
    var pool = newPool()
    def guarded(name: String)(body: => Unit): Unit = {
      val group = s"bench-$name"
      val fut = pool.submit(new Runnable {
        def run(): Unit = {
          spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
          body
        }
      })
      try fut.get(qTimeoutS, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          System.err.println(s"[bench] $name exceeded ${qTimeoutS}s — cancelling")
          spark.sparkContext.cancelJobGroup(group)
          try fut.get(30, java.util.concurrent.TimeUnit.SECONDS)
          catch { case _: Throwable =>
            pool.shutdownNow()
            pool = newPool()
          }
        case e: java.util.concurrent.ExecutionException =>
          System.err.println(s"[bench] $name failed: ${e.getCause.getMessage}")
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    }
    // optional comma-separated query filter for targeted measurement
    // (unset = the full driver-contract run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Suite-length decay guard: the official r08 bench ran 324 queries
    // in ONE session and inflated 1.52× geomean vs the same code benched
    // in isolation (slowdown growing toward late deciles — accumulated
    // GC/listener debris, not plan regressions: the five worst queries
    // reproduced 6-18× faster standalone). Restarting the session every
    // N queries bounds that accumulation; a full GC after each restart
    // releases the dropped session's heap before the next measurement
    // window. Heap telemetry per query (below) makes any residual decay
    // diagnosable from the JSON artifact alone. The generated-class
    // cache is not such debris: it is bounded
    // (GraftSession.CodegenCacheEntries) and belongs to the JVM, so a
    // restart neither clears nor refills it; `codegen_compiles` records
    // each query's misses.
    val restartEvery =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RESTART_EVERY", "60").toInt
    var sinceRestart = 0
    // r9 residual: queries landing just after a session restart timed
    // 2-4× their standalone cost — not a plan problem, the fresh JVM's
    // C2 queue is still chewing the regenerated wide methods while the
    // timed window runs (one untimed run doesn't absorb compiler-thread
    // contention, only first-call JIT). For the first few queries after
    // each restart, repeat the untimed run until its wall time stops
    // improving, so the timed window below measures steady state.
    var stabilizeNext = 3 // the first session is the coldest of all
    val heapMb = scala.collection.mutable.LinkedHashMap[String, Long]()
    val qJvms = scala.collection.mutable.LinkedHashMap[String, Int]()
    val qLoad = scala.collection.mutable.LinkedHashMap[String, Int]()
    val qGcMs = scala.collection.mutable.LinkedHashMap[String, Long]()
    val qTicks = scala.collection.mutable.LinkedHashMap[String, Int]()
    val qCompiles = scala.collection.mutable.LinkedHashMap[String, Long]()
    val qJobs = scala.collection.mutable.LinkedHashMap[String, Long]()
    def usedHeapMb(): Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // per-query isolation: a query must not inherit a predecessor's
      // BlockManager state (round 3: two un-freed localCheckpoints in
      // the dedup block made the 57 queries after them 2.95× slower)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // ...nor a predecessor's un-collected garbage: G1 left >3 GB of
      // dead shuffle/codegen debris on the 8 GB heap at mid-window
      // positions, and the next shuffle-heavy query paid it as 2-3×
      // GC-bound inflation (r12: q_dedup_keepbest 7.3 s in-suite,
      // 3.1 s standalone — reproducible, position-dependent, and gone
      // after a forced collection). A full GC outside the timed
      // window, only when occupancy is actually high, keeps the
      // measurement the query's own cost.
      if (usedHeapMb() > 2500) System.gc()
      if (sinceRestart >= restartEvery) {
        sinceRestart = 0
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        System.gc()
        spark = GraftSession.get(cpus)
        countJobs(spark)
        Tables.registerAll(spark, sfDir)
        try calibRun() catch { case _: Throwable => } // re-JIT the new session
        stabilizeNext = 3
      }
      sinceRestart += 1
      def run(): Unit = guarded(name) {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      // one untimed run per query: wide generated code (e.g. the 64
      // bit-sum simhash aggregate) costs ~10 s of JIT on first
      // execution; steady-state is the throughput that matters
      def untimed(): Double = {
        val t0 = System.nanoTime()
        try run() catch { case _: Throwable => }
        (System.nanoTime() - t0) / 1e9
      }
      var warm = untimed()
      if (stabilizeNext > 0) {
        stabilizeNext -= 1
        var it = 0
        var improving = true
        while (improving && it < 3) {
          val nxt = untimed()
          improving = nxt < warm * 0.8
          warm = nxt
          it += 1
        }
      }
      // median of 3 timed runs for fast AND mid-weight queries:
      // single-shot timings carry GC/run-order/co-tenant noise that
      // round-over-round comparisons then misread as regressions (r6
      // saw textually unchanged sub-second queries swing 4x; the r15
      // baseline measured SAME-code 2-6 s queries swinging ±2.5×
      // between two quiet-box suite runs — q_dedup_minhash 1.18 s vs
      // 5.70 s, q_dedup_resolve 2.30 s vs 5.38 s — while family
      // totals held within 5%, i.e. pure single-shot variance, not
      // plan behavior). The median threshold is therefore 8 s (r15;
      // was 2 s — declared in OPTIMIZATION_r15.md): every query whose
      // first timed run lands under it gets median-of-3. Truly heavy
      // queries (>= 8 s: multi-micro-batch stream/DML workloads whose
      // dozens of jobs self-average) keep one timed run — two extra
      // runs would dominate the suite's wall clock for the least
      // noisy members.
      def timed(): Double = {
        val t0 = System.nanoTime()
        try run()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        (System.nanoTime() - t0) / 1e9
      }
      // per-query telemetry window: contention max (sampler above,
      // plus a fresh synchronous start sample so sub-2 s queries are
      // covered too) and this JVM's stop-the-world GC delta — the two
      // signals that explained every past driver-vs-committed timing
      // divergence, now readable per query off the artifact. The
      // window is a NEW object swapped in atomically; in-flight
      // sampler ticks finish against the previous query's window.
      val w = new Window
      window.set(w)
      w.jvmMax.set(corunningJvms())
      w.loadMax.set(load100())
      val gc0 = gcMillis()
      val compiles0 = codegenCompiles()
      val jobs0 = jobsSoFar(spark)
      val t1 = timed()
      val medianUnderS =
        sys.env.getOrElse("SPARK_GRAFT_BENCH_MEDIAN_UNDER_S", "8").toDouble
      val t = if (t1 < medianUnderS) Seq(t1, timed(), timed()).sorted.apply(1) else t1
      qGcMs(name) = gcMillis() - gc0
      // classes compiled inside the timed window: 0 while the cache
      // holds the suite, since the untimed run compiled them first
      qCompiles(name) = codegenCompiles() - compiles0
      // jobs launched by the timed runs (one, or three for a median)
      qJobs(name) = jobsSoFar(spark) - jobs0
      qJvms(name) = w.jvmMax.get()
      qLoad(name) = w.loadMax.get()
      qTicks(name) = w.ticks.get()
      heapMb(name) = usedHeapMb()
      name -> t
    }
    // calibration at BOTH ends (VERDICT r14 what's-wrong #2): the
    // start calib runs exactly where startup co-runners linger — an
    // end calib on the settled box separates "machine was slow" from
    // "machine was briefly contended at startup".
    val calibEnd = medianOf3(calibRun _)
    val total = results.map(_._2).sum
    val totalCompiles = qCompiles.values.sum
    val totalJobs = qJobs.values.sum
    val maxCorunners = globalJvmMax.get() max corunningJvms()
    val (gitHead, gitDirty) = gitState()
    // Self-certifying config block (VERDICT r14 what's-wrong #2): the
    // resolved knobs that change plans or timings, recorded so a
    // reader can distinguish "slow run" from "run at a different
    // configuration" without trusting the invoker's shell history.
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val graftEnv = sys.env.filter(_._1.startsWith("SPARK_GRAFT_")).toSeq.sorted
      .map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val config = s"""{"cpus":$cpus,"shuffle_partitions":${
        spark.conf.get("spark.sql.shuffle.partitions")
      },"restart_every":$restartEvery,"query_timeout_s":$qTimeoutS,"heap_max_mb":${
        Runtime.getRuntime.maxMemory() / (1024 * 1024)
      },"env":$graftEnv}"""
    // Dirty/contended runs brand themselves ADVISORY (VERDICT r14 #7):
    // an artifact produced off an uncommitted tree, or with a foreign
    // JVM observed inside any query's timed window, must never be
    // mistaken for the clean perf signal of the committed code.
    val contended = qJvms.filter(_._2 > 0).keys.toSeq.sorted
    val advisoryReason =
      (if (gitDirty) Seq("git_dirty") else Nil) ++
        (if (contended.nonEmpty)
          Seq(s"corunning>0 in ${contended.size} query windows") else Nil)
    val advisory =
      if (advisoryReason.isEmpty) ""
      else s""","advisory":true,"advisory_reason":${jstr(advisoryReason.mkString("; "))}"""
    if (advisoryReason.nonEmpty)
      System.err.println(s"[bench] ADVISORY artifact: ${advisoryReason.mkString("; ")}" +
        (if (contended.nonEmpty) s" (${contended.take(5).mkString(",")}...)" else ""))
    val line = s"""{"metric":"total","value":$total,"unit":"sec","calib":$calib,"calib_end":$calibEnd,"queries":${jsonObject(results)},"heap_mb":${jsonObject(heapMb)},"corunning_max":${jsonObject(qJvms)},"load100_max":${jsonObject(qLoad)},"gc_ms":${jsonObject(qGcMs)},"sampler_ticks":${jsonObject(qTicks)},"codegen_compiles":${jsonObject(qCompiles)},"jobs":${jsonObject(qJobs)},"corunning_jvms":$maxCorunners,"git_head":"$gitHead","git_dirty":$gitDirty,"config":$config$advisory,"sf":"$sfDir"}"""
    println(line)
    // Persist the full artifact — the driver's stored stdout tail clips
    // long runs, which cost round 1→2 its per-query comparison — and
    // persist it PER CONFIG (VERDICT r15 #1: the driver's 8-core
    // scaling run overwrote the 32-core artifact at the single fixed
    // path, destroying the round's per-query evidence). The legacy
    // path keeps existing tooling working; the per-config file
    // survives multi-config driver runs.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    val perConfig = s"BENCH_local_c$cpus.json"
    // full-suite runs only: a SPARK_GRAFT_BENCH_ONLY-filtered window
    // must never masquerade as the config's suite artifact
    if (out != perConfig && only.isEmpty)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(perConfig), line + "\n")
    // Compact FINAL line (VERDICT r15 #1, second half): the full line
    // above is 30–60 KB — 15 straight rounds of driver artifacts
    // stored a 2 KB stdout tail whose JSON parse therefore failed
    // ("parsed": null every round). This line carries the totals, the
    // run's self-certification and the per-query artifact paths in
    // well under 2 KB, printed LAST so any fixed-size tail ends with
    // a complete, parseable record. Suite geomean is derivable from
    // it (exp(sum_log_s / queries_n)); per-query data lives at
    // "artifact". The full contract line (with the complete "queries"
    // map) is unchanged and still printed first.
    val (artifact, queriesN, sumLog) =
      compactSummary(results.map(_._2), out, perConfig, only.nonEmpty)
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","queries_n":$queriesN,"sum_log_s":$sumLog,"calib":$calib,"calib_end":$calibEnd,"codegen_compiles":$totalCompiles,"jobs":$totalJobs,"cpus":$cpus,"corunning_jvms":$maxCorunners,"git_head":"$gitHead","git_dirty":$gitDirty,"artifact":${jstr(artifact)}$advisory,"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
