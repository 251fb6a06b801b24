package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact final line of `graft.Bench` is what a fixed-size stdout
  * tail keeps, so it must name a file that exists and give a geomean
  * over one consistent query set. */
class BenchSpec extends AnyFunSuite {

  test("the compact line names the file the run wrote") {
    val filtered = Bench.compactSummary(Seq(1.0), "/x/out.json", "BENCH_local_c8.json",
      filtered = true)
    assert(filtered._1 == "/x/out.json")
    val full = Bench.compactSummary(Seq(1.0), "BENCH_local.json", "BENCH_local_c8.json",
      filtered = false)
    assert(full._1 == "BENCH_local_c8.json")
  }

  test("queries_n counts exactly the queries sum_log_s sums") {
    val (_, n, sumLog) = Bench.compactSummary(Seq(2.0, 0.0, 8.0, -1.0), "o", "p",
      filtered = false)
    assert(n == 2)
    assert(math.abs(math.exp(sumLog / n) - 4.0) < 1e-12)
  }

  test("per-query figures print as one JSON object in query order") {
    assert(Bench.jsonObject(Seq("q_b" -> 0L, "q_a" -> 3L)) == """{"q_b":0,"q_a":3}""")
    assert(Bench.jsonObject(Nil) == "{}")
  }

  test("the job counter counts every job of a session it was given") {
    val spark = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    Bench.countJobs(spark)
    val j0 = Bench.jobsSoFar(spark)
    spark.range(10).collect()
    spark.range(20).collect()
    assert(Bench.jobsSoFar(spark) - j0 == 2)
  }
}
