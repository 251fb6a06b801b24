package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one way a projection battery and its DuckDB oracle are written.
  * Every output column is a [[Battery.Cell]] carrying its name, its
  * Spark expression and its hand-written DuckDB twin; [[Battery.build]]
  * emits both the Spark frame and the oracle SQL from that single list,
  * so alias order, row scope and output order cannot drift apart
  * between the engines — only each cell's own two expressions are
  * written twice, and they sit on adjacent lines.
  *
  * Cells stay native Catalyst expressions (no UDF), so a battery runs
  * inside whole-stage codegen like any hand-written projection.
  */
private[queries] object Battery {
  import Q._

  /** One output column: name + Spark expression + DuckDB twin. */
  final case class Cell(name: String, spark: Column, duck: String)

  /** Where a battery's rows come from and how its output is ordered.
    *  - `table`: the one input table;
    *  - `keys`: the leading output cells;
    *  - `filter`: an optional row predicate, Spark and DuckDB twin;
    *  - `lets`: named cells staged in order after the filter. A let
    *    may read the table's columns and every earlier let; the output
    *    cells read them as `col(name)` on Spark and by name in DuckDB
    *    (one `WITH` stage per let). A let must not reuse a column name
    *    of the table;
    *  - `byKeys`: order the output by the keys (ascending, NULLs
    *    first); otherwise it carries the [[Q.sortAll]] total order. */
  final case class Scope(table: String, keys: Seq[Cell],
      filter: Option[(Column, String)] = None, lets: Seq[Cell] = Nil,
      byKeys: Boolean = false)

  /** The unordered projection and its oracle text up to (not
    * including) ORDER BY. */
  def project(scope: Scope, cells: Seq[Cell]): (QFn, String) = {
    val out = scope.keys ++ cells
    val q: QFn = (s, dir) => {
      val rows = t(s, dir, scope.table)
      val scoped = scope.filter.fold(rows)(f => rows.filter(f._1))
      scope.lets.foldLeft(scoped)((df, c) => df.withColumn(c.name, c.spark))
        .select(out.map(c => c.spark.as(c.name)): _*)
    }
    val from = scope.table + scope.filter.fold("")(f => s" WHERE ${f._2}")
    val stages = scope.lets.zipWithIndex.map { case (c, i) =>
      val src = if (i == 0) from else s"s${i - 1}"
      s"s$i AS (SELECT *, ${c.duck} AS ${c.name} FROM $src)"
    }
    val last = if (stages.isEmpty) from else s"s${stages.size - 1}"
    val o = (if (stages.isEmpty) "" else stages.mkString("WITH ", ",\n", "\n")) +
      out.map(c => s"  ${c.duck} AS ${c.name}").mkString("SELECT\n", ",\n", s"\nFROM $last")
    (q, o)
  }

  /** The (query, oracle) pair of one battery. */
  def build(scope: Scope, cells: Seq[Cell]): (QFn, String) = {
    val (p, o) = project(scope, cells)
    val ks = scope.keys.map(_.name)
    val q: QFn =
      if (scope.byKeys) (s, dir) => p(s, dir).orderBy(ks.map(col): _*)
      else (s, dir) => sortAll(p(s, dir))
    val order =
      if (scope.byKeys) ks.map(k => s"$k NULLS FIRST").mkString("ORDER BY ", ", ", "")
      else oSortAll
    (q, s"$o\n$order")
  }
}
