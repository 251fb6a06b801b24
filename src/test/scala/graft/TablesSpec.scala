package graft

import java.nio.file.{Files, Path}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.queries.Q

/** The table loader (`Tables`): schemas are inferred once per process
  * and re-inferred when a file or a parquet setting changes, and a
  * session's views follow the dir of its latest `registerAll`. */
class TablesSpec extends SparkSpec {

  private def tempDir(tag: String): Path = Files.createTempDirectory(s"tables_$tag")

  test("a warm cache: Q.t and registerAll in a fresh session launch no inference job") {
    Seq("lineitem", "events").foreach(Q.t(spark, sfDir, _))
    val (sqlJobs, otherJobs) = jobs {
      Seq("lineitem", "events").foreach(n => Q.t(spark, sfDir, n).limit(1).collect())
    }
    assert(sqlJobs > 0, "the listener saw no job at all")
    assert(otherJobs === 0)

    Tables.registerAll(spark.newSession(), sfDir)
    val fresh = spark.newSession()
    assert(jobs(Tables.registerAll(fresh, sfDir)) === ((0, 0)))
    assert(fresh.table("lineitem").schema === Q.t(spark, sfDir, "lineitem").schema)
  }

  test("rewriting a table with another schema: the next read has the new schema") {
    val dir = tempDir("rewrite").toString
    spark.range(4).toDF("a").write.parquet(s"$dir/region.parquet")
    val inferred = Tables.t(spark, dir, "region").schema
    assert(inferred.fieldNames.toSeq === Seq("a"))
    assert(Tables.t(spark, dir, "region").schema === inferred, "a hit reads another schema")
    spark.range(4).selectExpr("id AS a", "CAST(id AS STRING) AS b")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    val df = Tables.t(spark, dir, "region")
    assert(df.schema.map(f => (f.name, f.dataType)) === Seq("a" -> LongType, "b" -> StringType))
    assert(df.orderBy("a").collect().map(_.getString(1)).toSeq === Seq("0", "1", "2", "3"))
  }

  test("a changed parquet setting keys another entry: nanosAsLong") {
    // a TIMESTAMP(NANOS) column, which Spark reads as int64 only under
    // spark.sql.legacy.parquet.nanosAsLong
    val dir = tempDir("nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new HPath(s"$dir/region.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1234567L))
    finally w.close()

    // the schema each reader reports, or the error it fails with
    val s: SparkSession = spark.newSession()
    def answer(read: => StructType) = Try(read).fold(e => s"error: ${e.getMessage}", _.toString)
    def viaTables = answer(Tables.t(s, dir, "region").schema)
    def viaSpark = answer(s.read.parquet(s"$dir/region.parquet").schema)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val asLong = viaTables
    assert(asLong === new StructType().add("ts", LongType).toString)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val asIs = viaSpark
    assert(asIs != asLong, "the setting changed nothing")
    assert(viaTables === asIs)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(viaTables === asLong)
  }

  test("registerAll A, then B, then A again: the views read A") {
    val a = sfDir
    val b = tempDir("viewdir")
    Tables.all.foreach(n =>
      Files.createSymbolicLink(b.resolve(s"$n.parquet"), java.nio.file.Paths.get(a, s"$n.parquet")))
    val s = spark.newSession()
    Tables.registerAll(s, a)
    assert(s.table("lineitem").inputFiles.forall(_.contains(s"$a/lineitem.parquet")))
    Tables.registerAll(s, b.toString)
    assert(s.table("lineitem").inputFiles.forall(_.contains(s"$b/lineitem.parquet")))
    Tables.registerAll(s, a)
    val files = s.table("lineitem").inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"$a/lineitem.parquet")), files.toSeq)
  }
}
