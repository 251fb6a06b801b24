package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dml.{IncrementalJoinRollup, IncrementalRollup, VersionedTable}

/** Incremental aggregate maintenance (`dml/IncrementalRollup.scala`,
  * `dml/IncrementalJoinRollup.scala`): after every DML mix,
  * refresh-from-file-diff must equal from-scratch. */
class RollupSpec extends SparkSpec {

  private def canon(df: DataFrame): Seq[String] =
    df.select("l_returnflag", "_cnt", "_sum_l_quantity")
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def freshDirs(): (String, String) = {
    val root = java.nio.file.Files.createTempDirectory("rollup").toString
    (s"$root/table", s"$root/view")
  }

  test("insert / delete / update deltas all fold in exactly") {
    val (tloc, vloc) = freshDirs()
    val base = Tables.t(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val vt = VersionedTable.create(spark, tloc, base)
    val view = IncrementalRollup.create(vt, vloc,
      Seq("l_returnflag"), Seq("l_quantity"))
    assert(view.baseVersion === vt.currentVersion)

    // 1. pure insert
    vt.insert(base.where(col("l_orderkey") % 7 === 0)
      .withColumn("l_quantity", col("l_quantity") + 1))
    view.refresh()
    assert(canon(view.read()) === canon(view.full()))

    // 2. pure delete
    vt.delete(col("l_orderkey") % 5 === 0)
    view.refresh()
    assert(canon(view.read()) === canon(view.full()))

    // 3. update (CDC feeds delete+insert of the rewritten rows)
    vt.update(col("l_orderkey") % 3 === 1,
      Map("l_quantity" -> (col("l_quantity") * 2)))
    view.refresh()
    assert(canon(view.read()) === canon(view.full()))

    // 4. several versions folded in ONE refresh
    vt.insert(base.where(col("l_orderkey") % 11 === 3))
    vt.delete(col("l_orderkey") % 13 === 2)
    view.refresh()
    assert(canon(view.read()) === canon(view.full()))

    // refresh with no table movement is a no-op
    val v = view.baseVersion
    assert(view.refresh() === v)
  }

  test("fully-deleted group leaves the view; derived avg tracks sum/count") {
    val (tloc, vloc) = freshDirs()
    import spark.implicits._
    val df = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0)).toDF("k", "v")
    val vt = VersionedTable.create(spark, tloc, df)
    val view = IncrementalRollup.create(vt, vloc, Seq("k"), Seq("v"))
    vt.delete(col("k") === "b")
    view.refresh()
    val rows = view.read().collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a"))
    assert(rows.head.getAs[Double]("_avg_v") === 15.0)
  }

  // Synthetic sides with DECIMAL and DOUBLE measures: `left` is keyed
  // uniquely by k; `right` holds several rows per ok (a multiset join
  // side), some with no left partner.
  private def leftRows(lo: Long, hi: Long, salt: Int): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"),
      (col("id") % 3).cast("string").as("s"),
      ((col("id") * 37 + salt) % 1000 / 8).cast("decimal(12,2)").as("price"))

  private def rightRows(lo: Long, hi: Long, salt: Int): DataFrame =
    spark.range(lo, hi).select((col("id") % 500).as("ok"),
      (col("id") % 2).cast("string").as("f"),
      ((col("id") * 13 + salt) % 400 / 4).cast("decimal(10,2)").as("qty"),
      ((col("id") * 7 + salt) % 90 * 1.5).as("w"))

  /** Every commit kind once, in order, on `t`; `rows` makes fresh rows
    * of `t`'s schema and `key` is its merge key. */
  private def commits(t: VersionedTable, rows: (Long, Long, Int) => DataFrame,
      key: String, measure: String): Seq[(String, () => Unit)] = Seq(
    "insert" -> (() => { t.insert(rows(2000, 2060, 1)); () }),
    "update" -> (() => {
      t.update(col(key) % 7 === 1, Map(measure -> (col(measure) + 1))); ()
    }),
    "delete" -> (() => { t.delete(col(key) % 5 === 0); () }),
    "merge" -> (() => { t.merge(rows(150, 190, 2), key); () }),
    "optimize" -> (() => { t.optimize(2, Seq(key)); () }),
    "rollback" -> (() => { t.rollback(t.currentVersion - 3); () }))

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(c).cast("string")): _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  test("single-table refresh equals full after every commit kind") {
    val (tloc, vloc) = freshDirs()
    val vt = VersionedTable.create(spark, tloc, rightRows(0, 1200, 0))
    val view = IncrementalRollup.create(vt, vloc, Seq("f"), Seq("qty", "w"))
    val cols = view.full().columns.toSeq
    commits(vt, rightRows, "ok", "qty").foreach { case (name, run) =>
      run()
      assert(view.refresh() === vt.currentVersion)
      assert(rows(view.read(), cols) === rows(view.full(), cols), s"after $name")
    }
  }

  test("join refresh equals full after every commit kind on either side") {
    val root = java.nio.file.Files.createTempDirectory("rollup").toString
    val a = VersionedTable.create(spark, s"$root/a", leftRows(0, 400, 0))
    val b = VersionedTable.create(spark, s"$root/b", rightRows(0, 1200, 0))
    val view = IncrementalJoinRollup.create(a, b, s"$root/view",
      leftKey = "k", rightKey = "ok",
      groupCols = Seq("s", "f"), sumCols = Seq("qty", "price", "w"))
    val cols = view.full().columns.toSeq
    val leftCommits = commits(a, leftRows, "k", "price").map { case (n, r) => (s"left $n", r) }
    val rightCommits = commits(b, rightRows, "ok", "qty").map { case (n, r) => (s"right $n", r) }
    leftCommits.zip(rightCommits).flatMap { case (l, r) => Seq(l, r) }.foreach {
      case (name, run) =>
        run()
        assert(view.refresh() === ((a.currentVersion, b.currentVersion)))
        assert(rows(view.read(), cols) === rows(view.full(), cols), s"after $name")
    }
  }

  test("steady state: a read plus a refresh launch no job outside a SQL execution") {
    val (tloc, vloc) = freshDirs()
    val vt = VersionedTable.create(spark, tloc, rightRows(0, 1200, 0))
    val view = IncrementalRollup.create(vt, vloc, Seq("f"), Seq("qty", "w"))
    vt.update(col("ok") % 7 === 1, Map("qty" -> (col("qty") + 1)))
    view.refresh()
    vt.update(col("ok") % 7 === 2, Map("qty" -> (col("qty") + 1)))
    val v = vt.currentVersion

    val (sqlJobs, otherJobs) = jobs {
      vt.read(v).collect()
      assert(view.refresh() === v)
    }
    assert(sqlJobs > 0, "the listener saw no job at all")
    assert(otherJobs === 0)
  }

  test("a single-table refresh is one aggregate: two jobs") {
    val (tloc, vloc) = freshDirs()
    val vt = VersionedTable.create(spark, tloc, rightRows(0, 1200, 0))
    val view = IncrementalRollup.create(vt, vloc, Seq("f"), Seq("qty", "w"))
    // an update rewrites the files it touches: the diff has both
    // added and removed files
    vt.update(col("ok") % 7 === 1, Map("qty" -> (col("qty") + 1)))
    val (sqlJobs, otherJobs) = jobs { view.refresh() }
    // the fold's shuffle map stage and the state write
    assert(sqlJobs + otherJobs === 2)
  }

  test("create over an existing rollup location starts it afresh") {
    val (tloc, vloc) = freshDirs()
    val vt = VersionedTable.create(spark, tloc, rightRows(0, 1200, 0))
    val old = IncrementalRollup.create(vt, vloc, Seq("f"), Seq("qty", "w"))
    vt.insert(rightRows(2000, 2060, 1))
    old.refresh()
    vt.delete(col("ok") % 5 === 0)
    old.refresh()
    val other = VersionedTable.create(spark, s"$tloc-other", rightRows(0, 300, 3))
    val view = IncrementalRollup.create(other, vloc, Seq("f"), Seq("qty", "w"))
    assert(view.baseVersion === other.currentVersion)
    val cols = view.full().columns.toSeq
    assert(rows(view.read(), cols) === rows(view.full(), cols))
  }

  private def liveNames(loc: String): Set[String] =
    new java.io.File(loc).list().toSet.filterNot(_.startsWith("."))

  private def generation(loc: String): Int =
    liveNames(loc).collect { case n if n.startsWith("_meta.g") => n.stripPrefix("_meta.g").toInt }.max

  /** What a publish of the next generation leaves when it is cut after
    * writing the state and the tmp pointer but before the rename. */
  private def interruptPublish(loc: String): Unit = {
    val next = generation(loc) + 1
    spark.range(3).select(col("id").cast("string").as("f"))
      .write.parquet(s"$loc/state_g$next")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$loc/_meta.tmp$next"),
      s"$loc/state_g$next\n0\n$next\n")
  }

  /** Interrupt a publish at `loc`, then check the residue changes
    * neither `read` nor the next refresh, and that refresh sweeps it. */
  private def survivesCrash(loc: String, read: () => DataFrame, full: () => DataFrame,
      commit: () => Unit, refresh: () => Unit): Unit = {
    val cols = full().columns.toSeq
    val before = rows(read(), cols)
    interruptPublish(loc)
    assert(rows(read(), cols) === before)
    commit()
    refresh()
    assert(rows(read(), cols) === rows(full(), cols))
    val g = generation(loc)
    assert(liveNames(loc) === Set(s"_meta.g${g - 1}", s"_meta.g$g", s"state_g${g - 1}", s"state_g$g"))
  }

  test("a reopened single-table rollup keeps its base and survives a cut publish") {
    val (tloc, vloc) = freshDirs()
    val vt = VersionedTable.create(spark, tloc, rightRows(0, 1200, 0))
    val made = IncrementalRollup.create(vt, vloc, Seq("f"), Seq("qty", "w"))
    vt.insert(rightRows(2000, 2060, 1))
    made.refresh()
    val view = IncrementalRollup.open(vt, vloc, Seq("f"), Seq("qty", "w"))
    assert(view.baseVersion === made.baseVersion)
    val cols = view.full().columns.toSeq
    vt.delete(col("ok") % 5 === 0)
    assert(view.refresh() === vt.currentVersion)
    assert(rows(view.read(), cols) === rows(view.full(), cols))
    survivesCrash(vloc, () => view.read(), () => view.full(),
      () => { vt.update(col("ok") % 7 === 1, Map("qty" -> (col("qty") + 1))); () },
      () => { view.refresh(); () })
  }

  test("a reopened join rollup keeps its bases and survives a cut publish") {
    val root = java.nio.file.Files.createTempDirectory("rollup").toString
    val a = VersionedTable.create(spark, s"$root/a", leftRows(0, 400, 0))
    val b = VersionedTable.create(spark, s"$root/b", rightRows(0, 1200, 0))
    def open(make: (VersionedTable, VersionedTable, String, String, String,
        Seq[String], Seq[String]) => IncrementalJoinRollup) =
      make(a, b, s"$root/view", "k", "ok", Seq("s", "f"), Seq("qty", "price", "w"))
    val made = open(IncrementalJoinRollup.create)
    b.insert(rightRows(2000, 2060, 1))
    made.refresh()
    val view = open(IncrementalJoinRollup.open)
    assert(view.baseVersions === made.baseVersions)
    val cols = view.full().columns.toSeq
    a.delete(col("k") % 5 === 0)
    assert(view.refresh() === ((a.currentVersion, b.currentVersion)))
    assert(rows(view.read(), cols) === rows(view.full(), cols))
    survivesCrash(s"$root/view", () => view.read(), () => view.full(),
      () => { b.update(col("ok") % 7 === 1, Map("qty" -> (col("qty") + 1))); () },
      () => { view.refresh(); () })
  }
}
