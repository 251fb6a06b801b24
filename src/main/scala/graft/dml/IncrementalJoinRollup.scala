package graft.dml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * terms regroup as ΔA⋈B_new). A joined row's sign is the product of
  * its two sides' signs, and the signed joined rows fold into the same
  * COUNT/SUM state as the single-table rollup ([[RollupCore]]), so
  * every commit kind maintains exactly. A row copy-on-write carried
  * from a removed file into an added one joins with +1 and −1 and
  * cancels, so a refresh needs no row-level `exceptAll`.
  *
  * The reference ships the ingredients — VSS version diffs
  * (`versioning/BRM/vss.h`) and mergeable 2-phase aggregate state
  * (`utils/rowgroup/rowaggregation.cpp`) — but not the composed
  * operator; warehouse users re-run the join.
  *
  * Scale shape per refresh: a delta⋈table join per side that moved
  * (the delta side is a handful of files, so AQE broadcasts it and the
  * big side is scanned once with the join key filterable by row-group
  * stats — never shuffled), then ONE aggregate over the state ∪ the
  * signed joined rows. The base join is computed exactly once, at
  * `create`. */
final class IncrementalJoinRollup private (
    val left: VersionedTable,
    val right: VersionedTable,
    location: String,
    leftKey: String,
    rightKey: String,
    groupCols: Seq[String],
    sumCols: Seq[String]) {

  private val core = new RollupCore(left.spark, location, groupCols, sumCols,
    signedJoin(s1(left.readFiles(Nil)), s1(right.readFiles(Nil))))

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

  private def s1(df: DataFrame): DataFrame = df.withColumn("_sign", lit(1))

  /** From-scratch state at the given base versions (init + audits). */
  def full(lv: Int = left.currentVersion,
      rv: Int = right.currentVersion): DataFrame =
    core.full(signedJoin(s1(left.read(lv)), s1(right.read(rv))))

  /** Current view contents (groups + count + sums + derived avg). */
  def read(): DataFrame = core.read()

  def baseVersions: (Int, Int) = {
    val Seq(l, r) = core.bases; (l, r)
  }

  /** Fold both tables' signed file diffs since the recorded base
    * versions into the state. Returns the new (left, right) base
    * versions. */
  def refresh(): (Int, Int) = {
    val (lv, rv) = (left.currentVersion, right.currentVersion)
    core.refresh(Seq(lv, rv)) { case Seq(baseLeft, baseRight) =>
      // ΔA ⋈ B_new ∪ A_old ⋈ ΔB — each term delta-sized on one side,
      // so the planner broadcasts the delta and never shuffles the
      // table; a side whose files did not change contributes no term
      left.signedDiff(baseLeft, lv).map(signedJoin(_, s1(right.read(rv)))).toSeq ++
        right.signedDiff(baseRight, rv).map(signedJoin(s1(left.read(baseLeft)), _))
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
    val (lv, rv) = (left.currentVersion, right.currentVersion)
    v.core.create(v.full(lv, rv), Seq(lv, rv))
    v
  }

  /** Open an existing view (column lists must match creation). */
  def open(left: VersionedTable, right: VersionedTable, location: String,
      leftKey: String, rightKey: String,
      groupCols: Seq[String], sumCols: Seq[String]): IncrementalJoinRollup =
    new IncrementalJoinRollup(
      left, right, location, leftKey, rightKey, groupCols, sumCols)
}
