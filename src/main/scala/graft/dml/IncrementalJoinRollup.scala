package graft.dml

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Incrementally-maintained JOIN rollup over two [[VersionedTable]]s —
  * the two-table extension of [[IncrementalRollup]]: materialize
  * `SELECT g, COUNT(*), SUM(m)… FROM A JOIN B ON A.lk = B.rk GROUP BY g`
  * and refresh it from the signed file diffs of BOTH base tables,
  * never by re-joining the tables.
  *
  * Maintenance uses the signed-multiset delta-join identity (the
  * classical incremental view maintenance result, also the DBSP/
  * differential-dataflow bilinear rule): with Δ = rows of the added
  * files (+1) ∪ rows of the removed files (−1) as signed multisets,
  *
  *   Δ(A ⋈ B) = ΔA ⋈ B_new  ∪  A_old ⋈ ΔB
  *
  * (exact, not approximate: expanding (A_old+ΔA)⋈(B_old+ΔB) −
  * A_old⋈B_old leaves A_old⋈ΔB + ΔA⋈B_old + ΔA⋈ΔB, and the last two
  * terms regroup as ΔA⋈B_new). Signs multiply through the join and
  * fold into the same mergeable COUNT/SUM partial state the
  * single-table rollup keeps, so every commit kind maintains exactly.
  * Δ is taken from the manifest FILE diff, not the row diff: a row
  * copy-on-write carried from a removed file into an added one joins
  * with +1 and −1 and cancels in the linear partials, so a refresh
  * needs no row-level `exceptAll`. `VersionedTable.changes` (that row
  * diff) serves CDC readers only.
  *
  * The reference ships the ingredients — VSS version diffs
  * (`versioning/BRM/vss.h`) and mergeable 2-phase aggregate state
  * (`utils/rowgroup/rowaggregation.cpp`) — but not the composed
  * operator; warehouse users re-run the join. At 100 TB the refresh
  * here is: two delta-sized file-diff reads, a delta⋈table join per
  * side that moved
  * (the delta side is a handful of files, so AQE broadcasts it and
  * the big side is scanned once with the join key filterable by
  * row-group stats — never shuffled), and a state-sized merge. The
  * base join is computed exactly once, at `create`. Both tables'
  * schemas are fixed at create, and the state is read with the schema
  * `partial` derives from them, so no read launches a
  * schema-inference job.
  *
  * Same crash-safe persistence contract as [[IncrementalRollup]]:
  * parquet state generations + an atomically-renamed `_meta` pointer.
  */
final class IncrementalJoinRollup private (
    val left: VersionedTable,
    val right: VersionedTable,
    location: String,
    leftKey: String,
    rightKey: String,
    groupCols: Seq[String],
    sumCols: Seq[String]) {

  private val spark: SparkSession = left.spark
  private val fs: FileSystem =
    new HPath(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private case class Meta(stateDir: String, baseLeft: Int, baseRight: Int, gen: Int)

  // Generation-suffixed meta files, latest-wins by listing: every
  // publish renames a tmp file to a NEW name (_meta.gN), which is
  // atomic on HDFS/local without ever deleting the previous pointer —
  // a crash at any step leaves the prior generation readable. (The
  // earlier single-_meta delete+rename fallback had a window with NO
  // pointer on filesystems without rename-overwrite.)
  private val metaGenRe = """_meta\.g(\d+)""".r

  private def latestMetaPath(): HPath = {
    val gens = fs.listStatus(new HPath(location)).flatMap { st =>
      st.getPath.getName match {
        case metaGenRe(g) => Some((g.toInt, st.getPath))
        case _ => None
      }
    }
    if (gens.nonEmpty) gens.maxBy(_._1)._2
    else {
      // Legacy layout: the pre-generation format published a single
      // un-suffixed `_meta` — states persisted by an older build must
      // stay readable. An empty listing is a caller error (not an
      // initialized state), reported as such rather than as a bare
      // `empty.maxBy` from the collections library.
      val legacy = new HPath(location, "_meta")
      require(fs.exists(legacy),
        s"$location has no _meta.gN (or legacy _meta) pointer — " +
          "not an initialized rollup state")
      legacy
    }
  }

  private def readMeta(): Meta = {
    val in = fs.open(latestMetaPath())
    val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    val p = s.trim.split("\n")
    Meta(p(0), p(1).toInt, p(2).toInt, p(3).toInt)
  }

  private def writeMeta(m: Meta): Unit = {
    val tmp = new HPath(location, s"_meta.tmp${m.gen}")
    val out = fs.create(tmp, true)
    try out.write(s"${m.stateDir}\n${m.baseLeft}\n${m.baseRight}\n${m.gen}\n"
      .getBytes("UTF-8"))
    finally out.close()
    val dst = new HPath(location, s"_meta.g${m.gen}")
    require(fs.rename(tmp, dst), s"meta publish failed at $dst")
    // sweep stale tmp files from crashed publishes (this gen's tmp was
    // just renamed away; anything older is an orphan no pointer names)
    val tmpRe = """_meta\.tmp(\d+)""".r
    fs.listStatus(new HPath(location)).foreach { st =>
      st.getPath.getName match {
        case tmpRe(g) if g.toInt <= m.gen => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    // keep the previous generation for crash-safety; drop older ones
    fs.listStatus(new HPath(location)).foreach { st =>
      st.getPath.getName match {
        case metaGenRe(g) if g.toInt < m.gen - 1 => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** Join two frames that each carry a `_sign` column; output rows
    * carry the product sign (+1·+1 = +1, +1·−1 = −1, …). */
  private def signedJoin(l: DataFrame, r: DataFrame): DataFrame = {
    val ll = l.withColumnRenamed("_sign", "_sl")
    val rr = r.withColumnRenamed("_sign", "_sr")
    val joined = ll.join(rr, ll(leftKey) === rr(rightKey))
    // same-named keys would otherwise emit duplicate columns and blow
    // up the downstream groupBy/unionByName — keep the left side's
    val dedup = if (leftKey == rightKey) joined.drop(rr(rightKey)) else joined
    dedup.withColumn("_sign", col("_sl") * col("_sr"))
      .drop("_sl", "_sr")
  }

  /** Exact-decimal signed partial state for one joined frame. */
  private def partial(joined: DataFrame): DataFrame = {
    val aggs =
      sum(col("_sign")).cast(LongType).as("_cnt") +:
        sumCols.map(c =>
          sum(col(c).cast(DecimalType(18, 2)) * col("_sign"))
            .cast(DecimalType(38, 2)).as(s"_sum_$c"))
    joined.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def s1(df: DataFrame): DataFrame = df.withColumn("_sign", lit(1))

  /** Signed rows of `t`'s file diff between two versions: the added
    * files' rows at +1, the removed files' at −1; None when no file
    * changed. */
  private def signedDiff(t: VersionedTable, from: Int, to: Int): Option[DataFrame] = {
    val (added, removed) = t.fileDiff(from, to)
    Seq(added -> 1, removed -> -1).collect {
      case (files, sign) if files.nonEmpty => t.readFiles(files).withColumn("_sign", lit(sign))
    }.reduceOption(_ unionByName _)
  }

  /** The state's schema, derived from `partial`'s output type by
    * analysis alone — reading state files with it plans no footer
    * read. */
  private lazy val stateSchema =
    partial(signedJoin(s1(left.readFiles(Nil)), s1(right.readFiles(Nil)))).schema

  private def readState(dir: String): DataFrame =
    spark.read.schema(stateSchema).parquet(dir)

  /** From-scratch state at the given base versions (init + audits). */
  def full(lv: Int = left.currentVersion,
      rv: Int = right.currentVersion): DataFrame =
    partial(signedJoin(s1(left.read(lv)), s1(right.read(rv))))

  /** Current view contents (groups + count + sums + derived avg). */
  def read(): DataFrame = {
    val st = readState(readMeta().stateDir)
    sumCols.foldLeft(st) { (d, c) =>
      d.withColumn(s"_avg_$c",
        col(s"_sum_$c").cast(DecimalType(38, 2)).cast("double") / col("_cnt"))
    }
  }

  def baseVersions: (Int, Int) = {
    val m = readMeta(); (m.baseLeft, m.baseRight)
  }

  private def writeState(df: DataFrame, lv: Int, rv: Int, gen: Int): Unit = {
    val dir = new HPath(location, s"state_g$gen")
    df.write.mode("overwrite").parquet(dir.toString)
    writeMeta(Meta(dir.toString, lv, rv, gen))
  }

  /** Fold both tables' signed file diffs since the recorded base
    * versions into the state. Returns the new (left, right) base
    * versions. */
  def refresh(): (Int, Int) = {
    val m = readMeta()
    val (lv, rv) = (left.currentVersion, right.currentVersion)
    if (lv == m.baseLeft && rv == m.baseRight) return (lv, rv)
    // ΔA ⋈ B_new ∪ A_old ⋈ ΔB — each term delta-sized on one side,
    // so the planner broadcasts the delta and never shuffles the table;
    // a side whose files did not change contributes no term
    val terms =
      signedDiff(left, m.baseLeft, lv).map(signedJoin(_, s1(right.read(rv)))) ++
        signedDiff(right, m.baseRight, rv).map(signedJoin(s1(left.read(m.baseLeft)), _))
    val deltas = terms.reduceOption(_ unionByName _).map(partial)
    // state parquet holds only _cnt/_sum_* — avg is derived in read()
    val merged = deltas.foldLeft(readState(m.stateDir))(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum("_cnt").cast(LongType).as("_cnt"),
        sumCols.map(c => sum(col(s"_sum_$c"))
          .cast(DecimalType(38, 2)).as(s"_sum_$c")): _*)
      .where(col("_cnt") > 0) // groups whose last joined row left the view
    writeState(merged, lv, rv, m.gen + 1)
    val keep = Set(s"state_g${m.gen}", s"state_g${m.gen + 1}")
    fs.listStatus(new HPath(location)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("state_g") && !keep(n)) fs.delete(st.getPath, true)
    }
    (lv, rv)
  }
}

object IncrementalJoinRollup {
  /** Initialize (or re-initialize) a join view at `location` from both
    * tables' current versions. Group/sum columns are columns of the
    * JOINED frame; key columns may differ in name between the sides
    * (`leftKey`/`rightKey`) — when they share a name, the joined frame
    * keeps one copy of the key. Non-key column names must not
    * collide. */
  def create(left: VersionedTable, right: VersionedTable, location: String,
      leftKey: String, rightKey: String,
      groupCols: Seq[String], sumCols: Seq[String]): IncrementalJoinRollup = {
    val v = new IncrementalJoinRollup(
      left, right, location, leftKey, rightKey, groupCols, sumCols)
    v.fs.mkdirs(new HPath(location))
    v.writeState(v.full(), left.currentVersion, right.currentVersion, 0)
    v
  }

  /** Open an existing view (column lists must match creation). */
  def open(left: VersionedTable, right: VersionedTable, location: String,
      leftKey: String, rightKey: String,
      groupCols: Seq[String], sumCols: Seq[String]): IncrementalJoinRollup =
    new IncrementalJoinRollup(
      left, right, location, leftKey, rightKey, groupCols, sumCols)
}
