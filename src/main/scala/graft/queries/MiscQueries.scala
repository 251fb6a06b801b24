package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.UdfSdk

/** Remaining operator-inventory fills (SURVEY §2.2, §2.4, §2.5,
  * §2.11): constant/no-table projection, pseudocolumns, windowed
  * percentile/median, windowed custom aggregate, and the UDAF SDK
  * examples. */
object MiscQueries {
  import Q._

  private val sameSql: Map[String, String] = Map(
    // Constant / no-table projection (ref tupleconstantstep.cpp).
    "q_const_projection" ->
      """SELECT 2 + 2 AS four, concat('a', 'b') AS ab,
        |  CAST(3.5 AS DOUBLE) * 2 AS dbl, CAST(NULL AS INT) AS nul,
        |  CAST(length('graft') AS INT) AS n""".stripMargin,

    // PERCENTILE_CONT / MEDIAN over a window partition
    // (ref utils/windowfunction/wf_percentile.cpp).
    "q_window_percentile" ->
      """SELECT l_suppkey, l_linenumber, l_quantity,
        |  median(l_quantity) OVER (PARTITION BY l_suppkey) AS med_qty,
        |  min(l_quantity) OVER (PARTITION BY l_suppkey) AS min_qty
        |FROM lineitem WHERE l_suppkey < 10
        |ORDER BY l_suppkey, l_linenumber, l_quantity""".stripMargin
  )

  val queries: Map[String, QFn] = sameSql.map { case (n, s) =>
    n -> ((sp: SparkSession, dir: String) => Q.sql(sp, dir, s))
  } ++ Map[String, QFn](
    // Pseudocolumns ($partition/$segmentdir/$extentid family,
    // ref dbcon/execplan/pseudocolumn.h:39-51, pseudocc.cpp) — on
    // Spark the file-metadata struct plays this role.
    "q_skew_audit" -> ((s, dir) => {
      // key-skew audit (plans/SkewJoin.keySkewAudit): the distribution
      // shape that decides salting / AQE skew factors — NDV, totals,
      // max/mean ratio, p99/p50 key mass, Gini — for two join keys.
      // Integer inputs + single double divisions keep it engine-exact.
      import graft.plans.SkewJoin
      val a = SkewJoin.keySkewAudit(t(s, dir, "lineitem"), "l_partkey")
        .withColumn("keyname", lit("l_partkey"))
      val b = SkewJoin.keySkewAudit(t(s, dir, "events"), "user_id")
        .withColumn("keyname", lit("user_id"))
      a.unionByName(b)
        // oracle parity (r08 red row): keyname leads, percentile keys
        // are exact BIGINTs — per-key counts are integers, so the
        // percentile_disc DOUBLE→LONG cast is lossless.
        .select(col("keyname"), col("ndv"), col("total"), col("max_key"),
          round(col("max_mean_ratio"), 6).as("max_mean_ratio"),
          col("p99_key").cast("long").as("p99_key"),
          col("p50_key").cast("long").as("p50_key"), col("gini"))
        .orderBy(col("keyname"))
    }),
    "q_pseudocols" -> ((s, dir) => {
      // no data column projected: count(1) per file needs only the
      // constant-per-file metadata struct, so ReadSchema stays empty
      // group on the raw path, regexp AFTER aggregation: the filename
      // extraction is constant per FILE, so it belongs on the
      // files-sized grouped result, not on every row (measured ~4x on
      // this query at sf0.1)
      t(s, dir, "lineitem")
        .groupBy(col("_metadata.file_path").as("fp")).agg(count(lit(1)).as("n"))
        .select(regexp_extract(col("fp"), "[^/]+$", 0).as("fname"), col("n"))
        .orderBy(col("fname"))
    }),

    // Windowed custom aggregate: GROUP_CONCAT over a window frame
    // (ref utils/windowfunction/wf_udaf.cpp — windowed UDAF path).
    "q_window_groupconcat" -> ((s, dir) => {
      graft.functions.ConcatAggs.register(s)
      Q.sql(s, dir,
        """SELECT o_custkey, o_orderkey,
          |  group_concat(o_orderstatus, o_orderkey, ',')
          |    OVER (PARTITION BY o_custkey) AS statuses
          |FROM orders WHERE o_custkey < 30
          |ORDER BY o_custkey, o_orderkey""".stripMargin)
    }),

    // UDAF SDK examples (ref utils/udfsdk/ssq.cpp, median.cpp,
    // distinct_count.cpp via the Aggregator SDK surface).
    "q_udaf_sdk" -> ((s, dir) => {
      UdfSdk.register(s)
      Q.sql(s, dir,
        """SELECT l_returnflag,
          |  udaf_ssq(l_quantity) AS ssq,
          |  udaf_median(l_quantity) AS med,
          |  udaf_distinct_count(l_suppkey) AS dsupp
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    })
  )

  private def skewAuditSql(table: String, key: String): String =
    s"""SELECT '$key' AS keyname, CAST(count(*) AS BIGINT) AS ndv,
      |  CAST(sum(c) AS BIGINT) AS total, CAST(max(c) AS BIGINT) AS max_key,
      |  round(max(c) / (sum(c) / count(*)), 6) AS max_mean_ratio,
      |  CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_key,
      |  CAST(quantile_disc(c, 0.5) AS BIGINT) AS p50_key,
      |  round(CAST(2 * sum(i * c) AS DOUBLE) / (count(*) * sum(c))
      |    - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) AS gini
      |FROM (SELECT c, row_number() OVER (ORDER BY c, k) AS i
      |      FROM (SELECT $key AS k, count(*) AS c FROM $table GROUP BY 1))""".stripMargin

  val oracle: Map[String, String] = sameSql ++ Map(
    "q_skew_audit" ->
      (skewAuditSql("lineitem", "l_partkey") + "\nUNION ALL\n" +
        skewAuditSql("events", "user_id") + "\nORDER BY keyname"),
    "q_pseudocols" ->
      """SELECT 'lineitem.parquet' AS fname, COUNT(*) AS n FROM lineitem""".stripMargin,
    "q_window_groupconcat" ->
      """SELECT o_custkey, o_orderkey,
        |  string_agg(o_orderstatus, ',')
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS statuses
        |FROM orders WHERE o_custkey < 30
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_udaf_sdk" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ssq,
        |  median(l_quantity) AS med,
        |  COUNT(DISTINCT l_suppkey) AS dsupp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  )
}
