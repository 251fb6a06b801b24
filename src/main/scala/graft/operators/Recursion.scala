package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Recursive-query evaluation — the `WITH RECURSIVE` surface of the
  * reference's SQL front end (MariaDB 10.2+ CTEs execute against
  * ColumnStore tables through the server's plan; the engine sees the
  * expanded iterative plan, `dbcon/mysql/ha_mcs_pushdown` hands the
  * non-pushable recursion back to the server loop). Spark has no
  * native recursive CTE, so this is the semantic-fixpoint analog:
  * seed ∪ step(seed) ∪ step²(seed) ∪ … until a step produces no rows.
  *
  * Scale design:
  *  - Each round evaluates `step` against ONLY the previous round's
  *    frontier (linear recursion, the same restriction SQL imposes:
  *    the recursive term references the recursive table once), so
  *    per-round work ∝ frontier × join selectivity, never ∝ the
  *    accumulated result. One shuffle per round when `step` joins on
  *    a key.
  *  - The frontier is persisted and the previous round's is unpersisted
  *    — O(1) cached partitions at any time, the dupClusters discipline.
  *    The termination check (`frontier.isEmpty`) is the one action per
  *    round and is served from that cache.
  *  - Accumulated output is a lazy union of per-round frontiers; depth
  *    bounds the lineage, and results stay distributed end to end.
  *  - `maxIter` is the cycle guard SQL leaves to the user (MariaDB:
  *    max_recursive_iterations, default 1000) — we fail rather than
  *    loop forever on cyclic input, because UNION ALL recursion over a
  *    cycle never reaches a fixpoint.
  *
  * Not on [[Fixpoint]]'s round loop: that loop returns (and stages)
  * the converged state, while a recursive query's result is the union
  * of EVERY round's frontier, and `iterateDistinct` must keep every
  * round's cache alive for its growing `seen` side.
  */
object Recursion {

  /** UNION ALL recursion (DuckDB/MariaDB `WITH RECURSIVE x AS
    * (base UNION ALL step)`): rows accumulate per round; the step sees
    * only the previous round's rows. The input graph must be acyclic
    * (or `step` must bound depth) — `maxIter` aborts otherwise.
    */
  def iterate(base: DataFrame, step: DataFrame => DataFrame,
              maxIter: Int = 1000): DataFrame = {
    var frontier = base.persist(StorageLevel.MEMORY_AND_DISK)
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var n = 0
    var done = frontier.isEmpty
    while (!done) {
      n += 1
      if (n > maxIter)
        throw new IllegalStateException(
          s"recursion exceeded $maxIter rounds — cyclic input or missing depth bound")
      val next = step(frontier).persist(StorageLevel.MEMORY_AND_DISK)
      done = next.isEmpty
      frontier.unpersist(blocking = false)
      frontier = next
      if (!done) rounds += next
    }
    frontier.unpersist(blocking = false)
    rounds.reduce(_.unionByName(_))
  }

  /** UNION (distinct) recursion: like `iterate` but a row already seen
    * in ANY earlier round is removed from the frontier before the next
    * step — the SQL `UNION` variant that terminates on cyclic graphs
    * (reachability closure). Each round anti-joins the (small) frontier
    * against the accumulated result — the per-round dedup cost any
    * engine pays for UNION recursion. Rows compare on all columns.
    * Every round's frontier stays persisted by design — each feeds the
    * growing `seen` side and the returned union reads them — so the
    * round caches outlive the call and peak cache is O(|result|), the
    * closure itself.
    */
  def iterateDistinct(base: DataFrame, step: DataFrame => DataFrame,
                      maxIter: Int = 1000): DataFrame = {
    var frontier = base.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    var seen = frontier
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](frontier)
    var n = 0
    var done = frontier.isEmpty
    while (!done) {
      n += 1
      if (n > maxIter)
        throw new IllegalStateException(
          s"recursion exceeded $maxIter rounds — raise maxIter for deep graphs")
      val next = step(frontier).except(seen)
        .persist(StorageLevel.MEMORY_AND_DISK)
      done = next.isEmpty
      if (done) next.unpersist(blocking = false)
      else {
        rounds += next
        seen = seen.unionByName(next)
      }
      frontier = next
    }
    rounds.reduce(_.unionByName(_))
  }
}
