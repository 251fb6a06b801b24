package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared session base for the specs: one local session, smallest
  * scale factor, same engine config as the library surface. */
abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` and returns (jobs launched inside a SQL execution,
    * jobs launched outside one). Schema inference, for one, runs its
    * job outside any SQL execution. */
  def jobs(body: => Unit): (Int, Int) = {
    val sqlJobs, otherJobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val inSql = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).isDefined
        (if (inSql) sqlJobs else otherJobs).incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    (sqlJobs.get, otherJobs.get)
  }

  override def afterAll(): Unit = {
    // keep the shared session alive across suites (getOrCreate)
  }
}
