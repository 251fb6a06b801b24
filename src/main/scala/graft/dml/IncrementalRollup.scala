package graft.dml

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Incrementally-maintained aggregate rollup over a [[VersionedTable]]
  * — the materialized-view maintenance pattern every 100 TB deployment
  * ends up needing: a dashboard GROUP BY refreshed from the DELTA of
  * the last transactions, never by rescanning the corpus.
  *
  * The reference has the ingredients but not the operator: its VSS
  * version diff (the analog of the manifest file diff) tells you
  * what a transaction touched, and its 2-phase aggregation engine
  * (`utils/rowgroup/rowaggregation.cpp`) is exactly a mergeable-state
  * evaluator. This composes the two: maintained state = the PARTIAL
  * (merge-phase) aggregate per group, and the versions since the last
  * refresh merge in as `state ⊕ partial(added files) ⊖ partial(removed
  * files)`.
  *
  * Maintained exactly under arbitrary insert/delete/update/merge/
  * optimize/rollback: COUNT and SUM — the self-inverse, linear
  * aggregates — plus anything derivable from them (AVG = sum/count).
  * Linearity is what lets a refresh fold the signed FILE diff instead
  * of a row diff: a row copy-on-write carried from a removed file into
  * an added one counts +1 and −1 and cancels exactly in the long
  * counts and DECIMAL sums. `VersionedTable.changes` (the row-level
  * diff, two `exceptAll` shuffles) serves CDC readers only.
  * MIN/MAX are NOT delta-invertible under deletes; the standard
  * fallback (recompute only the groups whose delta removed rows) is
  * intentionally out of scope — callers who need it compose a
  * group-targeted recompute from the table itself.
  *
  * Scale shape per refresh: one partial aggregate over the added files
  * and one over the removed files (the files the versions since the
  * last refresh wrote or dropped, never the untouched ones) + one
  * state-sized merge aggregate. The untouched base table is never
  * read; only an OPTIMIZE, which rewrites every file, makes the next
  * refresh read all of it (twice, and the two halves cancel). No read
  * launches a
  * schema-inference job: the table's schema is fixed at create, and
  * the state is read with the schema `partial` derives from it. State
  * persists as parquet generations under `location` with an
  * atomically-renamed `_meta` pointer (same FS-contract as the
  * VersionedTable manifests), so a crashed refresh leaves the old
  * generation live. */
final class IncrementalRollup private (
    val table: VersionedTable,
    location: String,
    groupCols: Seq[String],
    sumCols: Seq[String]) {

  private val spark: SparkSession = table.spark
  private val fs: FileSystem =
    new HPath(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private case class Meta(stateDir: String, baseVersion: Int, gen: Int)

  // Generation-suffixed meta files, latest-wins by listing (see
  // IncrementalJoinRollup): each publish renames to a NEW name, atomic
  // without deleting the previous pointer — no window with no _meta.
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
    val parts = s.trim.split("\n")
    Meta(parts(0), parts(1).toInt, parts(2).toInt)
  }

  private def writeMeta(m: Meta): Unit = {
    val tmp = new HPath(location, s"_meta.tmp${m.gen}")
    val out = fs.create(tmp, true)
    try out.write(s"${m.stateDir}\n${m.baseVersion}\n${m.gen}\n".getBytes("UTF-8"))
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
    fs.listStatus(new HPath(location)).foreach { st =>
      st.getPath.getName match {
        case metaGenRe(g) if g.toInt < m.gen - 1 => fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  /** Exact-decimal partial state for one input frame; `sign` is +1
    * for inserts, -1 for deletes. */
  private def partial(df: DataFrame, sign: Int): DataFrame = {
    val aggs =
      (count(lit(1)) * sign).cast(LongType).as("_cnt") +:
        sumCols.map(c =>
          (sum(col(c).cast(DecimalType(18, 2))) * sign)
            .cast(DecimalType(38, 2)).as(s"_sum_$c"))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The state's schema, derived from `partial`'s output type by
    * analysis alone — reading state files with it plans no footer
    * read. */
  private lazy val stateSchema = partial(table.readFiles(Nil), 1).schema

  private def readState(dir: String): DataFrame =
    spark.read.schema(stateSchema).parquet(dir)

  /** From-scratch state at a given table version (init + audits). */
  def full(version: Int = table.currentVersion): DataFrame =
    partial(table.read(version), 1)

  /** Current rollup contents (groups + count + sums + derived avg). */
  def read(): DataFrame = {
    val st = readState(readMeta().stateDir)
    val derived = sumCols.foldLeft(st) { (d, c) =>
      d.withColumn(s"_avg_$c",
        col(s"_sum_$c").cast(DecimalType(38, 2)).cast("double") / col("_cnt"))
    }
    derived
  }

  /** The table version the state is current as of. */
  def baseVersion: Int = readMeta().baseVersion

  private def writeState(df: DataFrame, base: Int, gen: Int): Unit = {
    val dir = new HPath(location, s"state_g$gen")
    df.write.mode("overwrite").parquet(dir.toString)
    writeMeta(Meta(dir.toString, base, gen))
  }

  /** Fold the signed file diff since `baseVersion` into the state.
    * Returns the new base version (== old when the table hasn't
    * moved). */
  def refresh(): Int = {
    val m = readMeta()
    val to = table.currentVersion
    if (to == m.baseVersion) return to
    val (added, removed) = table.fileDiff(m.baseVersion, to)
    val deltas = Seq(added -> 1, removed -> -1).collect {
      case (files, sign) if files.nonEmpty => partial(table.readFiles(files), sign)
    }
    // merge partials: state-sized + delta-sized, never table-sized
    val merged = deltas.foldLeft(readState(m.stateDir))(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum("_cnt").cast(LongType).as("_cnt"),
        sumCols.map(c => sum(col(s"_sum_$c"))
          .cast(DecimalType(38, 2)).as(s"_sum_$c")): _*)
      .where(col("_cnt") > 0) // fully-deleted groups leave the view
    writeState(merged, to, m.gen + 1)
    // old generations stay for crash-safety; vacuum keeps the last two
    val keep = Set(s"state_g${m.gen}", s"state_g${m.gen + 1}")
    fs.listStatus(new HPath(location)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("state_g") && !keep(n)) fs.delete(st.getPath, true)
    }
    to
  }
}

object IncrementalRollup {
  /** Initialize (or re-initialize) a rollup at `location` from the
    * table's current version. */
  def create(table: VersionedTable, location: String,
      groupCols: Seq[String], sumCols: Seq[String]): IncrementalRollup = {
    val r = new IncrementalRollup(table, location, groupCols, sumCols)
    r.fs.mkdirs(new HPath(location))
    r.writeState(r.full(), table.currentVersion, 0)
    r
  }

  /** Open an existing rollup (column lists must match creation). */
  def open(table: VersionedTable, location: String,
      groupCols: Seq[String], sumCols: Seq[String]): IncrementalRollup =
    new IncrementalRollup(table, location, groupCols, sumCols)
}
