package graft

import org.apache.spark.sql.functions._
import graft.operators.Bounds

/** The one-job bounded collect + budget derivation backing the r16
  * single-action driver fast paths (dupClusters, the jaccard rank
  * map) and the maxResultSize-derived collect gates. */
class BoundsSpec extends SparkSpec {
  import spark.implicits._

  test("driverRowBudget ceilings the request by maxResultSize") {
    // session default maxResultSize is 1g ⇒ budget = min(req, 1g/2/B)
    val oneG = 1024L * 1024 * 1024
    assert(Bounds.driverRowBudget(spark, 100L, 16L) == 100L)
    assert(Bounds.driverRowBudget(spark, Long.MaxValue / 4, 16L) == oneG / 2 / 16)
  }

  test("bounded collect returns the complete pair multiset when under budget") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 7 % 1000).as("y"))
      .repartition(8)
    val got = Bounds.collectLongPairsBounded(df, 1000L)
    assert(got.isDefined)
    val pairs = got.get.grouped(2).map(a => (a(0), a(1))).toSeq
    assert(pairs.size == 1000)
    assert(pairs.toSet == (0L until 1000L).map(i => (i, i * 7 % 1000)).toSet)
  }

  test("bounded collect declines over-budget inputs instead of shipping them") {
    val df = spark.range(0, 1000).select(col("id"), col("id").as("y"))
    assert(Bounds.collectLongPairsBounded(df, 999L).isEmpty)
    assert(Bounds.collectLongPairsBounded(df, 0L).isEmpty)
    // exact-boundary input is complete
    assert(Bounds.collectLongPairsBounded(df, 1000L).map(_.length) == Some(2000))
  }

  test("a budget near Long.MaxValue saturates instead of wrapping to the floor cap") {
    // one partition of 10,000 rows: above the 4096-row floor, so a
    // wrapped 2·budget (negative) would cap the partition and decline
    val df = spark.range(0, 10000, 1, 1).select(col("id"), (col("id") + 1).as("y"))
    for (budget <- Seq(Long.MaxValue, Long.MaxValue - 1, Long.MaxValue / 2 + 1)) {
      val got = Bounds.collectLongPairsBounded(df, budget)
      assert(got.map(_.length) == Some(20000), s"budget $budget")
    }
  }
}
