package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.Fixpoint

/** The one-job bounded collect and the budget derivation behind the
  * adaptive fixpoint gate (`Fixpoint.collectBounded`,
  * `Fixpoint.driverRowBudget`). */
class BoundsSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(rows: Option[Array[org.apache.spark.sql.Row]]) =
    rows.map(_.map(r => (r.getLong(0), r.getLong(1))).toSeq)

  test("driverRowBudget ceilings the request by maxResultSize") {
    // session default maxResultSize is 1g ⇒ budget = min(req, 1g/2/B),
    // B = 4 B length prefix + 8 B null bits + 8 B per field + the
    // default size of each variable-length field
    val oneG = 1024L * 1024 * 1024
    val longs = StructType(Seq(StructField("x", LongType), StructField("y", LongType)))
    val strings = StructType(Seq(StructField("x", StringType), StructField("y", StringType)))
    assert(Fixpoint.driverRowBudget(spark, 100L, longs) == 100L)
    assert(Fixpoint.driverRowBudget(spark, Long.MaxValue / 4, longs) == oneG / 2 / 28)
    assert(Fixpoint.driverRowBudget(spark, Long.MaxValue / 4, strings) == oneG / 2 / 68)
  }

  test("bounded collect returns the complete pair multiset when under budget") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") * 7 % 1000).as("y"))
      .repartition(8)
    val (n, got) = Fixpoint.collectBounded(df, 1000L)
    assert(n == 1000L)
    val ps = pairs(got).get
    assert(ps.size == 1000)
    assert(ps.toSet == (0L until 1000L).map(i => (i, i * 7 % 1000)).toSet)
  }

  test("bounded collect declines over-budget inputs instead of shipping them") {
    val df = spark.range(0, 1000).select(col("id"), col("id").as("y"))
    // one row over the budget, and budget 0: the count, no rows
    assert(Fixpoint.collectBounded(df, 999L) == ((1000L, None)))
    assert(Fixpoint.collectBounded(df, 0L) == ((1000L, None)))
    // exact-boundary input is complete
    assert(pairs(Fixpoint.collectBounded(df, 1000L)._2).map(_.size) == Some(1000))
  }

  test("a skewed partition past its cap declines although the total is within budget") {
    // 8 partitions, one holding 5,000 rows and seven one row each:
    // cap = max(2·budget/8, 4096) = 4096 < 5,000, so that partition
    // ships only its count
    val df = spark.range(0, 5000, 1, 1).union(spark.range(5000, 5007, 1, 7))
      .select(col("id"), col("id").as("y"))
    assert(df.rdd.getNumPartitions == 8)
    assert(Fixpoint.collectBounded(df, 10000L) == ((5007L, None)))
  }

  test("a budget near Long.MaxValue saturates instead of wrapping to the floor cap") {
    // one partition of 10,000 rows: above the 4096-row floor, so a
    // wrapped 2·budget (negative) would cap the partition and decline
    val df = spark.range(0, 10000, 1, 1).select(col("id"), (col("id") + 1).as("y"))
    for (budget <- Seq(Long.MaxValue, Long.MaxValue - 1, Long.MaxValue / 2 + 1)) {
      val got = Fixpoint.collectBounded(df, budget)
      assert(pairs(got._2).map(_.size) == Some(10000), s"budget $budget")
    }
  }

  test("bounded collect returns string and NULL cells intact") {
    val rows = Seq((1L, Option("a")), (2L, Option("")), (3L, None: Option[String]),
      (4L, Option("ü𝄞 long enough to spill past one word")))
    val df = rows.toDF("k", "s").repartition(3)
    val (n, got) = Fixpoint.collectBounded(df, 10L)
    assert(n == 4L)
    assert(got.get.map(r => (r.getLong(0), Option(r.getString(1)))).toSet == rows.toSet)
  }
}
