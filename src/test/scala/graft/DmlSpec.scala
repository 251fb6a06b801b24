package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.dml.{ConcurrentWriteException, VersionedTable}

/** Copy-on-write DML: read-after-write round trips, snapshot
  * isolation of old versions, file-level rewrite granularity, and
  * vacuum reclamation. */
class DmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshLoc() = Files.createTempDirectory("graft_dml").toString

  test("insert/update/delete round trip with version history") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 100).map(i => (i.toLong, s"name_$i", i * 10.0)).toDF("id", "name", "bal"))
    assert(t.currentVersion == 0)
    assert(t.read().count() == 100)

    t.insert(Seq((101L, "name_101", 1010.0)).toDF("id", "name", "bal"))
    assert(t.read().count() == 101)

    t.update(col("id") <= 10, Map("bal" -> (col("bal") + 5)))
    val updated = t.read().filter(col("id") <= 10).select(sum("bal")).as[Double].head()
    assert(updated == (1 to 10).map(_ * 10.0 + 5).sum)
    // non-matching rows in touched files are preserved verbatim
    assert(t.read().count() == 101)
    assert(t.read().filter(col("id") === 50).select("bal").as[Double].head() == 500.0)

    t.delete(col("id") > 95 && col("id") <= 100)
    assert(t.read().count() == 96)
    assert(t.read().filter(col("id") === 101).count() == 1)

    // snapshot isolation: v0 still shows the original state
    assert(t.read(0).count() == 100)
    assert(t.read(0).filter(col("id") <= 10).select(sum("bal")).as[Double].head()
      == (1 to 10).map(_ * 10.0).sum)
  }

  test("update rewrites only files containing matches") {
    val loc = freshLoc()
    // partition by id range so matches concentrate in one file
    val df = (1 to 1000).map(i => (i.toLong, i % 7)).toDF("id", "v")
      .repartitionByRange(4, col("id"))
    val t = VersionedTable.create(spark, loc, df.sortWithinPartitions("id"), initialFiles = 4)
    // VersionedTable.create repartitions; re-create manually to control layout:
    val filesBefore = Files.walk(Paths.get(loc)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    t.update(col("id") === 1, Map("v" -> lit(99)))
    val filesAfter = Files.walk(Paths.get(loc)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))
    // copy-on-write adds new file(s) for the one touched file only;
    // old files remain on disk for snapshot reads
    assert(filesAfter < filesBefore * 2, "should not rewrite every file")
    assert(t.read().filter(col("id") === 1).select("v").as[Int].head() == 99)
    assert(t.read().filter(col("id") === 2).select("v").as[Int].head() == 2 % 7)
  }

  test("merge upserts: matched keys replaced, new keys appended, one version") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 50).map(i => (i.toLong, s"name_$i", i * 10.0)).toDF("id", "name", "bal"))
    val v0 = t.currentVersion
    val src = Seq((10L, "renamed", 0.0), (51L, "new_51", 510.0))
      .toDF("id", "name", "bal")
    t.merge(src, "id")
    assert(t.currentVersion == v0 + 1)
    val now = t.read()
    assert(now.count() == 51)
    assert(now.filter(col("id") === 10).select("name").as[String].head() == "renamed")
    assert(now.filter(col("id") === 51).select("bal").as[Double].head() == 510.0)
    assert(now.filter(col("id") === 11).select("name").as[String].head() == "name_11")
    // snapshot: previous version unchanged
    assert(t.read(v0).filter(col("id") === 10).select("name").as[String].head() == "name_10")
    // ambiguous source rejected
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "a", 1.0), (1L, "b", 2.0)).toDF("id", "name", "bal"), "id")
    }
  }

  test("optimize compacts files (optionally z-ordered), data unchanged") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 2000).map(i => (i.toLong, (i * 37 % 1000).toLong, i * 1.5))
        .toDF("id", "grp", "bal"),
      initialFiles = 16)
    val before = t.read().orderBy("id").collect().toSeq
    def fileCount(v: Int) = t.read(v).withColumn("_f", input_file_name())
      .select("_f").distinct().count()
    assert(fileCount(t.currentVersion) == 16)
    t.optimize(targetFiles = 8, zorderCols = Seq("id", "grp"))
    assert(fileCount(t.currentVersion) == 8)
    assert(t.read().orderBy("id").collect().toSeq == before)
    // z-clustering: files hold tighter id ranges than the round-robin
    // layout (where every file spans ~the whole domain); 8 files = 3
    // z-bits, so a file straddling a z-cell boundary can still span
    // ~half the domain — assert the average, with slack
    val spans = graft.sources.ZOrder.fileSpans(t.read(), "id")
    val avgSpan = spans.select(avg(col("hi") - col("lo"))).as[Double].head()
    assert(avgSpan < 2000 * 0.75, s"avg id span per file $avgSpan not clustered")
  }

  test("vacuum drops unreferenced files, latest version intact") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc, (1 to 50).map(i => (i, i)).toDF("id", "v"))
    t.delete(col("id") <= 25)
    val removed = t.vacuum(keepVersions = 1)
    assert(removed > 0)
    assert(t.read().count() == 25)
    intercept[IllegalArgumentException](t.read(0))
  }

  test("writer-writer conflict: losing commit raises, winner's state stands") {
    // Two writers that both observed version N race to publish N+1;
    // the manifest's create-exclusive is the arbiter (the DBRM
    // transaction-serialization analog). Simulate the interleaving
    // deterministically: another writer lands v1 between this
    // handle's read of currentVersion and its commit.
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 50).map(i => (i.toLong, i * 1.0)).toDF("id", "bal"))
    val hfs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(s"$loc/_graft_log")
    val v0 = new org.apache.hadoop.fs.Path(log, "v00000.manifest")
    val v0Files = {
      val in = hfs.open(v0)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    // the "other writer" publishes a no-op v1 first
    val out = hfs.create(new org.apache.hadoop.fs.Path(log, "v00001.manifest"), false)
    try out.write(v0Files.getBytes("UTF-8")) finally out.close()
    // loser: a handle that raced for v1 fails instead of silently
    // overwriting the winner's manifest
    val loser = new org.apache.hadoop.fs.Path(log, "v00001.manifest")
    intercept[java.io.IOException](hfs.create(loser, false))
    // through the API: both handles insert concurrently; every commit
    // either succeeds (bumping the version) or raises — never corrupts
    val t2 = VersionedTable.open(spark, loc)
    import scala.collection.parallel.CollectionConverters._
    val results = Seq(t, t2).par.map { h =>
      try { h.insert(Seq((999L, 9.9)).toDF("id", "bal")); "ok" }
      catch { case _: ConcurrentWriteException => "conflict" }
    }.seq
    val oks = results.count(_ == "ok")
    assert(oks >= 1, s"at least one writer must win, got $results")
    assert(t.currentVersion == 1 + oks) // v0 + fake v1 + each winning insert
    assert(t.read().count() == 50 + oks)
  }

  test("merge rejects a source whose column types drift from the target") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 20).map(i => (i.toLong, s"n$i", i * 10.0)).toDF("id", "name", "bal"))
    val v = t.currentVersion
    // bal arrives as int where the table holds double: committing it
    // would poison every later scan with conflicting parquet footers
    intercept[IllegalArgumentException] {
      t.merge(Seq((5L, "x", 1)).toDF("id", "name", "bal"), "id")
    }
    // missing column fails too (AnalysisException from the projection)
    intercept[Exception] {
      t.merge(Seq((5L, "x")).toDF("id", "name"), "id")
    }
    assert(t.currentVersion == v, "failed merge must not commit")
    assert(t.read().filter(col("id") === 5).select("bal").as[Double].head() == 50.0)
  }

  test("optimize on an empty current version commits a no-op version") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc, (1 to 10).map(i => (i, i)).toDF("id", "v"))
    t.delete(col("id") >= 0) // delete-all → empty manifest
    assert(t.read().count() == 0)
    val v = t.currentVersion
    t.optimize(targetFiles = 4)
    assert(t.currentVersion == v + 1)
    assert(t.read().count() == 0)
  }

  test("table on a non-default Hadoop FS root: all IO routes through the FS API") {
    // same physical disk, but addressed through an explicit file: URI —
    // proves no code path falls back to driver-local java.nio/java.io
    val loc = "file:" + freshLoc() + "/tbl"
    val t = VersionedTable.create(spark, loc,
      (1 to 40).map(i => (i.toLong, i * 2.0)).toDF("id", "bal"))
    t.update(col("id") <= 5, Map("bal" -> lit(0.0)))
    t.merge(Seq((41L, 41.0), (1L, -1.0)).toDF("id", "bal"), "id")
    t.optimize(targetFiles = 2)
    assert(t.read().count() == 41)
    assert(t.read().filter(col("id") === 1).select("bal").as[Double].head() == -1.0)
    assert(t.read().filter(col("id") === 3).select("bal").as[Double].head() == 0.0)
    assert(t.vacuum(keepVersions = 1) > 0)
    assert(VersionedTable.open(spark, loc).read().count() == 41)
  }

  test("changes() emits a row-level diff between versions, cost-bounded to touched files") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 100).map(i => (i.toLong, i * 10.0)).toDF("id", "bal"), initialFiles = 4)
    val v0 = t.currentVersion
    t.insert(Seq((101L, 1010.0), (102L, 1020.0)).toDF("id", "bal")) // v1
    t.update(col("id") === 7, Map("bal" -> lit(-7.0)))              // v2
    t.delete(col("id") === 50)                                      // v3
    val v3 = t.currentVersion

    // per-op feeds
    val ins = t.changes(v0, v0 + 1)
    assert(ins.filter(col("_change") === "insert").count() == 2)
    assert(ins.filter(col("_change") === "delete").count() == 0)

    val upd = t.changes(v0 + 1, v0 + 2)
    // CoW rewrote a whole file, but carried rows cancel: only the
    // changed row surfaces, as delete(old) + insert(new)
    assert(upd.count() == 2)
    assert(upd.filter(col("_change") === "delete")
      .select("bal").as[Double].head() == 70.0)
    assert(upd.filter(col("_change") === "insert")
      .select("bal").as[Double].head() == -7.0)

    val del = t.changes(v0 + 2, v3)
    assert(del.count() == 1)
    assert(del.filter(col("_change") === "delete").select("id").as[Long].head() == 50L)

    // cumulative feed composes the net effect of all three commits
    val all = t.changes(v0, v3)
    assert(all.filter(col("_change") === "insert").select("id").as[Long]
      .collect().toSet == Set(7L, 101L, 102L))
    assert(all.filter(col("_change") === "delete").select("id").as[Long]
      .collect().toSet == Set(7L, 50L))
    // self-diff and no-op diff are empty but schema-complete
    assert(t.changes(v3, v3).count() == 0)
    assert(t.changes(v3, v3).columns.toSeq == Seq("id", "bal", "_change"))
  }

  test("multi-statement transaction: atomic publish, isolation, optimistic conflict, rollback") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 20).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    val v0 = t.currentVersion
    val txn = t.begin()
    txn.insert(Seq((21L, 21.0)).toDF("id", "v"))
    txn.delete(col("id") <= 5)
    txn.update(col("id") === 10L, Map("v" -> lit(1000.0)))
    // isolation: the table still reads the base version mid-txn
    assert(t.currentVersion == v0 && t.read().count() == 20)
    // the txn reads its own writes
    assert(txn.read().count() == 16)
    val v1 = txn.commit()
    assert(v1 == v0 + 1, "three statements, ONE version")
    val now = t.read()
    assert(now.count() == 16)
    assert(now.filter(col("id") === 10L).select("v").as[Double].head() == 1000.0)
    assert(now.filter(col("id") <= 5).count() == 0)
    intercept[IllegalArgumentException](txn.insert(Seq((1L, 1.0)).toDF("id", "v")))

    // rollback: nothing published
    val txn2 = t.begin()
    txn2.delete(lit(true))
    txn2.rollback()
    assert(t.read().count() == 16)

    // optimistic conflict: a writer landing mid-txn fails the commit
    val txn3 = t.begin()
    txn3.insert(Seq((50L, 50.0)).toDF("id", "v"))
    t.insert(Seq((60L, 60.0)).toDF("id", "v")) // interloper
    intercept[ConcurrentWriteException](txn3.commit())
    assert(t.read().filter(col("id") === 50L).count() == 0)
  }

  test("rollback reverts state as a NEW version; history and CDC survive") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v"))
    t.delete(col("id") > 5) // v1
    t.insert(Seq((99L, 99.0)).toDF("id", "v")) // v2
    val v2 = t.currentVersion
    val rb = t.rollback(0)
    assert(rb == v2 + 1, "rollback is append-only")
    assert(t.read().count() == 10)
    assert(!t.read().select("id").as[Long].collect().contains(99L))
    // CDC across the rollback: 99 deleted, ids 6-10 re-inserted
    val diff = t.changes(v2, rb)
    assert(diff.filter(col("_change") === "delete").select("id").as[Long]
      .collect().toSet == Set(99L))
    assert(diff.filter(col("_change") === "insert").select("id").as[Long]
      .collect().toSet == Set(6L, 7L, 8L, 9L, 10L))
    // old versions still readable (history intact)
    assert(t.read(v2).count() == 6)
    intercept[IllegalArgumentException](t.rollback(rb + 5))
  }

  test("time travel: versionAsOf resolves by commit wall clock") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc, Seq((1L, "a")).toDF("id", "s"))
    Thread.sleep(1100)
    val mid = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1100)
    t.insert(Seq((2L, "b")).toDF("id", "s"))
    assert(t.versionAsOf(mid) == 0)
    assert(t.readAsOf(mid).count() == 1)
    assert(t.versionAsOf(new java.sql.Timestamp(System.currentTimeMillis()))
      == t.currentVersion)
    intercept[IllegalArgumentException](
      t.versionAsOf(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
  }

  test("concurrent reader stays pinned at its version across writer commits") {
    // The VSS contract (versioning/BRM/vss.h:167-198): a reader that
    // opened at version N keeps seeing N's state while writers commit
    // N+1, N+2 — here because a version's DataFrame plans against an
    // immutable manifest file list, and CoW never mutates data files.
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 200).map(i => (i.toLong, i * 1.0)).toDF("id", "bal"))
    val v0 = t.currentVersion
    val reader = t.read(v0) // pinned BEFORE any writer activity

    // writer transaction 1: update rewrites touched files (N+1)
    t.update(col("id") <= 50, Map("bal" -> (col("bal") * 100)))
    // writer transaction 2: delete drops rows (N+2)
    t.delete(col("id") > 150)
    assert(t.currentVersion == v0 + 2)

    // the pinned reader evaluates AFTER both commits: still sees v0
    assert(reader.count() == 200)
    assert(reader.filter(col("id") <= 50).select(sum("bal")).as[Double].head()
      == (1 to 50).map(_ * 1.0).sum)
    assert(reader.filter(col("id") > 150).count() == 50)
    // a fresh reader at latest sees both commits
    val latest = t.read()
    assert(latest.count() == 150)
    assert(latest.filter(col("id") <= 50).select(sum("bal")).as[Double].head()
      == (1 to 50).map(_ * 100.0).sum)
    // writer commits again while BOTH readers hold plans — isolation
    // still holds for each pinned snapshot
    t.insert(Seq((999L, 9.99)).toDF("id", "bal"))
    assert(reader.count() == 200)
    assert(latest.count() == 150) // pinned at v0+2, not affected by insert
    assert(t.read().count() == 151)
  }

  private def parquetFiles(loc: String): Int =
    Files.walk(Paths.get(loc)).iterator().asScala.count(_.toString.endsWith(".parquet"))

  test("update keeps a DECIMAL column's declared type across rewritten and untouched files") {
    val loc = freshLoc()
    def rows(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id"), (col("id") * 10).cast("decimal(10,2)").as("bal"))
    val t = VersionedTable.create(spark, loc, rows(1, 101))
    t.insert(rows(101, 201)) // files of their own: ids 101-200
    val decType = org.apache.spark.sql.types.DecimalType(10, 2)
    // `bal + 1` is DECIMAL(11,2); the statement casts it back. Each
    // update rewrites one side's files and leaves the other's as they are
    t.update(col("id") <= 10, Map("bal" -> (col("bal") + 1)))
    val txn = t.begin()
    txn.update(col("id") > 190, Map("bal" -> (col("bal") + 1)))
    txn.commit()
    val v = t.currentVersion
    assert(t.changes(v - 2, v).count() == 40)
    // v holds the first update's files, untouched, next to the txn's
    assert(t.read(v).inputFiles.toSet.intersect(t.read(v - 1).inputFiles.toSet).nonEmpty)
    assert(t.read(v).schema("bal").dataType == decType)
    val sums = t.read(v).agg(sum("bal"), count(lit(1))).head()
    assert(sums.getDecimal(0) == new java.math.BigDecimal((1 to 200).map(_ * 10).sum + 20)
      .setScale(2))
    assert(sums.getLong(1) == 200L)
    assert(t.read(v).where(col("id") === 5 || col("id") === 195).select("bal")
      .as[java.math.BigDecimal].collect().toSet ==
      Set(new java.math.BigDecimal("51.00"), new java.math.BigDecimal("1951.00")))
    // a reopened handle infers the same schema from the mixed files
    assert(VersionedTable.open(spark, loc).read(v).schema("bal").dataType == decType)
  }

  test("insert aligns columns by name and rejects a drifted type before writing") {
    val loc = freshLoc()
    val t = VersionedTable.create(spark, loc,
      (1 to 20).map(i => (i.toLong, s"n$i", i * 10.0)).toDF("id", "name", "bal"))
    val v = t.currentVersion
    val files = parquetFiles(loc)
    // bal as int where the table holds double
    intercept[IllegalArgumentException](
      t.insert(Seq((21L, "x", 1)).toDF("id", "name", "bal")))
    val txn = t.begin()
    intercept[IllegalArgumentException](
      txn.insert(Seq((21L, "x", 1)).toDF("id", "name", "bal")))
    txn.rollback()
    assert(t.currentVersion == v, "failed insert must not commit")
    assert(parquetFiles(loc) == files, "failed insert must not write a data file")

    // a reordered column list lands in the table's column order
    t.insert(Seq((210.0, 21L, "n21")).toDF("bal", "id", "name"))
    val txn2 = t.begin()
    txn2.insert(Seq(("n22", 220.0, 22L)).toDF("name", "bal", "id"))
    txn2.commit()
    val now = t.read()
    assert(now.columns.toSeq == Seq("id", "name", "bal"))
    assert(now.where(col("id") >= 21).orderBy("id").as[(Long, String, Double)]
      .collect().toSeq == Seq((21L, "n21", 210.0), (22L, "n22", 220.0)))
  }
}
