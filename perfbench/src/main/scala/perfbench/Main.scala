package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, ScaleUp, Tables}

/** Benchmark harness. Runs one workload against the engine's public
  * entry points in a closed loop with one client and writes a JSON
  * record of every sample, check and counter to `--out`; `run.py`
  * derives the reported metrics from it.
  *
  * Phases: set-up (timed `Setups` times; the first, cold one
  * is recorded apart from the warm ones, and the last one is kept), for
  * the query workloads a reference digest of each op and an untimed
  * warm-up pass that must reproduce it, a fixed number of whole passes
  * in seeded order, and end-of-run checks. A reference is computed once
  * per engine build and workload, outside the timed window, in
  * `--reference`: each op's collected result as parquet (for the DuckDB
  * oracle) and its digest in `digests.json`; later runs reuse it. With
  * `--trace 1` the window runs with listeners attached and spans
  * recorded at every layer boundary; `run.py` compares it with an
  * untraced run of the same workload for the tracing overhead.
  */
object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def now(): Long = System.currentTimeMillis()

  final case class Sample(id: Long, op: String, kind: String, pass: Int,
      startMs: Long, endMs: Long, wallS: Double, ok: Boolean, rows: Long,
      jvms: Int, load: Double, steal: Double, err: String)

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").contains("1")
    val data = arg(args, "--data").get
    val work = Paths.get(arg(args, "--work").get)
    val out = Paths.get(arg(args, "--out").get)
    val cpus = arg(args, "--cpus").get
    val scaled = arg(args, "--scaled")
    val refDir = Paths.get(arg(args, "--reference").get)

    val env = new EnvSampler(cpus.toInt)
    env.start()
    val record = mutable.LinkedHashMap[String, Any]()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = mutable.LinkedHashMap[String, Long]()
    def phase(name: String): Unit = phases(name) = now() - jvmStart
    val setupLayers = mutable.ArrayBuffer[Map[String, Double]]()
    def timedS[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- set-up: session, tables, workload state -----------------------
    var spark: SparkSession = null
    var mix: WriteMix = null
    val dir = if (workload == "bi_sf1") scaled.get else data
    for (i <- 0 until Setups) {
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      val (s, startS) = timedS(GraftSession.get(cpus))
      spark = s
      val (_, regS) = timedS(Tables.registerAll(spark, dir))
      val layers = mutable.LinkedHashMap("session.start_s" -> startS, "tables.register_s" -> regS)
      if (workload == "write_mix") {
        val root = work.resolve(s"mix$i")
        graft.queries.Q.deleteTree(root)
        val (m, createS) = timedS(new WriteMix(spark, root.toString, seed))
        mix = m
        layers("dml.create_s") = createS
      }
      setupLayers += layers.toMap
    }
    record("setup_cold") = setupLayers.head
    record("setup") = setupLayers.tail.toSeq
    phase("setup_done")

    // ---- ops -------------------------------------------------------------
    val queryNames: Seq[String] = workload match {
      case "bi_sf01" | "bi_sf1" => QueryWorkloads.biNames
      case "llm_dedup" => QueryWorkloads.dedupNames
      case "write_mix" => Nil
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sc = spark.sparkContext
    var opId = 0L
    val samples = mutable.ArrayBuffer[Sample]()
    val log = mutable.ArrayBuffer[Map[String, Any]]()
    val versionFiles = mutable.Map[Int, Seq[(String, Long)]]()
    var tracing = false

    /** One op attempt: wall time, success, rows. Errors are caught and
      * counted; the op's jobs carry its id for the trace. */
    def attempt(name: String, kind: String, pass: Int)
        (body: => (Boolean, Long)): Sample = {
      opId += 1
      sc.setLocalProperty(Trace.OpKey, opId.toString)
      sc.setJobGroup(s"op-$opId", name, interruptOnCancel = true)
      val watchdog = Watchdog.arm(sc, s"op-$opId", OpTimeoutS)
      val startMs = now()
      val t0 = System.nanoTime()
      val (ok, rows, err) =
        try { val (o, r) = body; (o, r, "") }
        catch { case e: Throwable => (false, 0L, String.valueOf(e.getMessage).take(300)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = now()
      watchdog.cancel()
      sc.clearJobGroup()
      sc.setLocalProperty(Trace.OpKey, null)
      val (jvms, load, steal) = env.window(startMs, endMs)
      if (err.nonEmpty) System.err.println(s"[perfbench] $name failed: $err")
      Sample(opId, name, kind, pass, startMs, endMs, wall, ok, rows, jvms, load, steal, err)
    }

    // reference: each op's digest, computed once per engine build outside
    // the timed window; the collected rows go to parquet for the DuckDB
    // oracle compare
    val digestFile = refDir.resolve("digests.json")
    val reference = mutable.LinkedHashMap[String, Digest]()
    if (Files.exists(digestFile))
      Json.read(Files.readString(digestFile)).foreach { case (k, v) => reference(k) = Digest.parse(v) }
    queryNames.filterNot(reference.contains).foreach { n =>
      try {
        val df = QueryWorkloads.fn(n)(spark, dir)
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(refDir.resolve(n).toString)
        reference(n) = Digest.of(rows)
        Files.createDirectories(refDir)
        Files.writeString(digestFile, Json(reference.map { case (k, v) => k -> v.toString }.toMap))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] reference $n failed: ${e.getMessage}")
      }
    }
    // warm-up: one untimed pass; an op that does not reproduce its
    // reference digest fails here as it would in the window
    val warmupBad = queryNames.filter(reference.contains).filterNot { n =>
      try reference.get(n).contains(Digest.executed(QueryWorkloads.fn(n)(spark, dir)))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up $n failed: ${e.getMessage}"); false }
    }
    val refFailed = queryNames.filterNot(reference.contains) ++ warmupBad
    phase("reference_done")
    record("reference") = reference.map { case (k, v) => k -> v.toString }.toMap
    record("reference_failed") = refFailed
    val timedNames = queryNames.filterNot(refFailed.contains)

    def runPass(p: Int): Unit = workload match {
      case "write_mix" =>
        mix.pass(p).foreach { o =>
          val kind = if (o.startsWith("read")) "read" else if (o == "refresh") "refresh" else "commit"
          var entry: Map[String, Any] = Map.empty
          val s = attempt(o, kind, p) {
            entry = mix.run(o)
            (true, entry.get("result").map(_.asInstanceOf[Seq[_]].size.toLong).getOrElse(0L))
          }
          samples += s
          if (tracing && s.ok && kind == "commit") {
            val v = entry("version").asInstanceOf[Int]
            Seq(v - 1, v).foreach(x => versionFiles.getOrElseUpdate(x, mix.files(x)))
          }
          log += entry ++ Map("op_id" -> s.id, "ok" -> s.ok, "wall_s" -> s.wallS) ++
            (if (s.ok) Map.empty else Map("op" -> o, "error" -> s.err))
        }
      case _ =>
        new scala.util.Random(seed * 1000003L + p).shuffle(timedNames).foreach { n =>
          samples += attempt(n, "query", p) {
            val d = Digest.executed(QueryWorkloads.fn(n)(spark, dir))
            (reference.get(n).contains(d), d.rows)
          }
        }
    }

    // a fixed number of whole passes, so every run does the same work:
    // `seconds` divided by the workload's nominal pass time. write_mix has
    // no warm-up pass; its set-ups have already run its write path.
    val passes = math.max(1, math.round(seconds / QueryWorkloads.nominalPassS(workload)).toInt)

    System.gc()
    val gc0 = EnvSampler.gcMillis()
    EnvSampler.resetHeapPeaks()
    val windowStart = now()
    val tr = if (trace) Some(Trace.install(spark)) else None
    tracing = trace
    (0 until passes).foreach(runPass)
    record("passes") = passes
    record("window_ms") = now() - windowStart
    tr.foreach { t =>
      org.apache.spark.ListenerDrain(sc)
      Trace.uninstall(spark, t)
      val ops = samples.map(s => Span(s.id, 0L, s.id, "op", s.op, s.startMs, s.endMs)).toSeq
      // a write_mix op is one DML or rollup call: its dml span sits
      // between the op and the SQL executions the call ran
      val anchors =
        if (mix == null) ops
        else ops.map(o => o.copy(id = o.id + (1L << 32), parent = o.id, layer = "dml"))
      val (below, counters) = t.attribute(anchors)
      val spans = (if (mix == null) ops else ops ++ anchors) ++ below
      val jobsByOp = below.filter(_.layer == "job").groupBy(_.op)
      record("trace") = Map(
        "ops" -> ops.size,
        "self_ms" -> Trace.selfTimeMs(spans),
        "counters" -> counters.map { case (k, v) => k.toString -> v },
        "job_cover_ms" -> ops.map { o =>
          o.id.toString -> Trace.covered(
            jobsByOp.getOrElse(o.op, Nil).map(b => (b.start, b.end)), o.start, o.end)
        }.toMap,
        "spans" -> spans.size)
      writeSpans(work.resolve("spans.jsonl"), spans)
      if (workload == "llm_dedup") record("dedup") = dedupRatio(spark, dir)
    }
    phase("window_done")
    record("gc_ms") = EnvSampler.gcMillis() - gc0
    record("heap_peak_mb") = EnvSampler.heapPeakMb()

    // ---- end-of-run checks -------------------------------------------------
    if (mix != null) {
      record("dml_log") = log.toSeq
      record("base_sql") = WriteMix.BaseSql
      record("row_sql") = WriteMix.rowExprs("{salt}")
      record("base_version") = 0
      record("version_files") = versionFiles.map { case (v, fs) =>
        v.toString -> fs.map { case (f, n) => Seq(f, n) } }.toMap
      val rollupOk = try mix.rollupConsistent() catch { case e: Throwable =>
        System.err.println(s"[perfbench] rollup check failed: ${e.getMessage}"); false }
      record("rollup_consistent") = rollupOk
      val loc = mix.tableLoc
      record("table_bytes") = EnvSampler.treeBytes(Paths.get(loc))
      record("live_files") = mix.table.read().inputFiles.length
      record("final_version") = mix.table.currentVersion
      // reopen the final version from a fresh session
      spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      spark = GraftSession.get(cpus)
      val compact = work.resolve("final")
      val reopened = graft.dml.VersionedTable.open(spark, loc)
      reopened.read().coalesce(1).write.mode("overwrite").parquet(compact.toString)
      record("reopened_version") = reopened.currentVersion
      record("compact_bytes") = EnvSampler.treeBytes(compact, parquetOnly = true)
    }
    record("samples") = samples.map(s => Map(
      "id" -> s.id, "op" -> s.op, "kind" -> s.kind, "pass" -> s.pass,
      "wall_s" -> s.wallS, "ok" -> s.ok, "rows" -> s.rows,
      "jvms" -> s.jvms, "load" -> s.load, "steal" -> s.steal, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "error" -> s.err)).toSeq
    record("env") = env.summary(spark)
    phase("checks_done")
    record("phase_ms") = phases.toMap
    Files.writeString(out, Json(record.toMap))
    spark.stop()
  }

  private val OpTimeoutS = 120L

  /** Set-ups per run: one cold, the rest warm. */
  private val Setups = 3

  private def writeSpans(p: Path, spans: Seq[Span]): Unit =
    Files.write(p, spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end))).asJava)

  /** Verified jaccard pairs per candidate pair (traced runs only). */
  private def dedupRatio(spark: SparkSession, dir: String): Map[String, Any] = {
    val docs = Tables.t(spark, dir, "documents")
    val cand = graft.llm.Dedup.jaccardCandidateCount(docs, 0.5)
    val pairs = graft.llm.Dedup.jaccardDupPairs(docs, threshold = 0.5).count()
    Map("candidates" -> cand, "pairs" -> pairs)
  }
}

/** Cancels an op's job group once it exceeds its time limit. */
object Watchdog {
  private val timer = new java.util.Timer("perfbench-watchdog", true)
  def arm(sc: org.apache.spark.SparkContext, group: String, seconds: Long): java.util.TimerTask = {
    val t = new java.util.TimerTask { def run(): Unit = sc.cancelJobGroup(group) }
    timer.schedule(t, seconds * 1000L)
    t
  }
}

/** Writes the DuckDB oracle SQL (`SparkEntry.oracleSql`) of every
  * query op, per workload, as JSON. Some oracle texts embed models the
  * engine trains on the corpus, so this runs once per checkout with
  * `graft.oracle.sfDir` pointing at the corpus those ops read. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val Array(out, dedupDir, cpus) = args
    sys.props("graft.oracle.sfDir") = dedupDir
    val spark = GraftSession.get(cpus)
    val sql = graft.SparkEntry.oracleSql
    val byWorkload = Map(
      "bi" -> QueryWorkloads.biNames, "llm_dedup" -> QueryWorkloads.dedupNames)
      .map { case (w, ns) => w -> ns.map(n => n -> sql(n)).toMap }
    Files.writeString(Paths.get(out), Json(byWorkload))
    spark.stop()
  }
}

/** Generates the `bi_sf1` input once per checkout with `graft.ScaleUp`
  * and records how long that took. */
object Scale {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, factor, cpus) = args
    val spark = GraftSession.get(cpus)
    val t0 = System.nanoTime()
    ScaleUp.scale(spark, src, dst, factor.toInt)
    val s = (System.nanoTime() - t0) / 1e9
    Files.writeString(Paths.get(dst, "scaleup.json"), Json(Map("scaleup.generate_s" -> s)))
    spark.stop()
  }
}
