package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table loader over the driver-generated parquet directories.
  *
  * One table = one parquet file/dir — the analog of the reference's
  * column-segment-files-per-table layout (extent map described in
  * SURVEY.md §1; `versioning/BRM/extentmap.h`). Parquet row-group
  * min/max stats stand in for the reference's casual-partitioning
  * extent elimination (`dbcon/joblist/lbidlist.cpp`).
  *
  * Each table's schema is learned once per process, as the reference
  * looks a table's columns up in its system catalog
  * (`dbcon/execplan/calpontsystemcatalog.h`) instead of re-deriving
  * them per query. The first read of a table path runs Spark's own
  * footer inference (one Spark job outside any SQL execution) and
  * keeps the schema; every later read supplies it, so the scan is
  * planned without opening a footer and launches no job. The cache
  * key is all a schema depends on: each leaf file's (path, length,
  * modification time) plus the session's `spark.sql.parquet.*`,
  * `spark.sql.legacy.parquet.*` and `spark.sql.caseSensitive`
  * settings. It names no session, so an entry outlives `spark.stop()`
  * and serves the next session of the JVM; a rewritten file or a
  * changed setting misses and infers again. One entry is kept per
  * table path, so the cache holds at most one schema per table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // The events table has shipped with BOTH parquet timestamp
      // encodings across driver testdata generations: TIMESTAMP(NANOS)
      // (no native Spark type — surfaces as int64 under nanosAsLong)
      // and TIMESTAMP(MICROS) (loads directly). Branch on the LOADED
      // dtype rather than hard-coding either contract: a hard-coded
      // nanos path cost round 7 its bench and 13 correctness entries
      // when the fixture regenerated as micros. nanosAsLong is set in
      // GraftSession.builder; guard here for externally-built sessions.
      if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = parquet(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // nanos file: floor-divide to micros — the same truncation
          // DuckDB applies narrowing TIMESTAMP_NS on read, so oracle
          // comparisons see identical values.
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // micros file without UTC adjustment: loads NTZ. Session tz is
          // UTC (GraftSession), so casting to TIMESTAMP is value-
          // preserving and keeps every downstream query + Verify dump on
          // the same type the engine has always exposed.
          df.withColumn("ts", df("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df // already TIMESTAMP — pass through
      }
    case _ => parquet(spark, s"$dir/$name.parquet")
  }

  /** What a table path's schema was inferred under; see the object doc. */
  private final case class SchemaKey(
      files: Seq[(String, Long, Long)], conf: Seq[(String, String)])

  /** Table path -> the key its schema was inferred under, and the schema. */
  private val schemas = new ConcurrentHashMap[String, (SchemaKey, StructType)]()

  private def schemaKey(spark: SparkSession, path: String): SchemaKey = {
    val p = new HPath(path)
    val files = Seq.newBuilder[(String, Long, Long)]
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val conf = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }
    SchemaKey(files.result().sorted, conf.sorted)
  }

  /** Read one table path: on a hit with the cached schema (a file
    * source exposes every column nullable either way, as
    * `dml.VersionedTable.readFiles` relies on), on a miss with Spark's
    * inference, whose schema is then cached. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = schemaKey(spark, path)
    Option(schemas.get(path)) match {
      case Some((k, s)) if k == key => spark.read.schema(s).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(path, (key, df.schema))
        df
    }
  }

  /** The directory each session's table views read. Weak keys: a
    * stopped, unreachable session's entry goes with it. */
  private val viewDirs = new java.util.WeakHashMap[SparkSession, String]()

  /** Register every table as a temp view (for spark.sql surface).
    * Idempotent per session while the dir stays the same: round-1
    * re-registered 10 parquet views on every SQL-path query, which
    * dominated the bench (the five slowest queries were all SQL-path).
    * A call with another dir re-registers, so the views always read
    * the dir of the session's latest call.
    *
    * Per-table isolation: one unreadable/contract-breaking table must
    * cost only the queries that touch it, never the whole entry point —
    * round 7's events-encoding drift escaped registerAll and zeroed the
    * entire bench (BENCH_r07 rc=1, no timings). */
  def registerAll(spark: SparkSession, dir: String): Unit = viewDirs.synchronized {
    if (viewDirs.get(spark) != dir) {
      all.foreach { n =>
        try t(spark, dir, n).createOrReplaceTempView(n)
        catch { case e: Throwable =>
          System.err.println(s"[tables] register '$n' failed: ${e.getMessage}")
        }
      }
      viewDirs.put(spark, dir)
    }
  }
}
