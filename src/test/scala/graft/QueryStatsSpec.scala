package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._
import graft.plans.QueryStats

/** queryStats-table analog (`plans/QueryStats.scala`; reference
  * `utils/querystats/querystats.h`). The listener is async — each
  * assertion polls the ring. */
class QueryStatsSpec extends SparkSpec {

  private def await[A](what: String)(f: => Option[A]): A = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var r = f
    while (r.isEmpty && System.nanoTime() < deadline) { Thread.sleep(50); r = f }
    r.getOrElse(fail(s"timed out waiting for $what"))
  }

  test("a file-scan aggregate records scan, shuffle and timing telemetry") {
    QueryStats.clear()
    val n = Tables.t(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(sum("l_quantity")).collect().length
    assert(n > 0)
    val row = await("stats row with a file scan") {
      QueryStats.stats(spark).collect()
        .find(r => r.getAs[Long]("files_read") > 0)
    }
    assert(row.getAs[Long]("scan_rows") > 0)
    assert(row.getAs[Long]("bytes_read") > 0)
    assert(row.getAs[Long]("shuffle_bytes") > 0,
      "groupBy must surface exchange dataSize")
    assert(row.getAs[String]("error") == null)
  }

  test("the ring is bounded and newest-first") {
    QueryStats.clear()
    import spark.implicits._
    (1 to 3).foreach { i => Seq(i).toDF("x").agg(sum("x")).collect() }
    val rows = await("3 stats rows") {
      val r = QueryStats.stats(spark).collect()
      if (r.length >= 3) Some(r) else None
    }
    // newest first: every row is a local (no-file) query
    assert(rows.take(3).forall(_.getAs[Long]("files_read") === 0L))
  }

  test("a session made after install records its queries, each once") {
    QueryStats.install(spark)
    val other = spark.newSession()
    QueryStats.install(other)
    QueryStats.install(other) // idempotent: still one listener
    val sc = spark.sparkContext
    ListenerBusDrain(sc) // no earlier query's row lands after the clear
    QueryStats.clear()
    other.range(5).agg(sum("id")).collect()
    await("the second session's stats row") {
      QueryStats.snapshot().headOption
    }
    ListenerBusDrain(sc)
    assert(QueryStats.snapshot().size == 1)
  }
}
