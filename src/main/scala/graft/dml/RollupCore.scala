package graft.dml

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** The state store and the one fold behind [[IncrementalRollup]] and
  * [[IncrementalJoinRollup]]. The reference aggregates in two phases,
  * partial state merged into final state (`RowAggregation` →
  * `RowAggregationUM`, `utils/rowgroup/rowaggregation.cpp`); a rollup's
  * stored state is already merge-phase state, so the signed rows of a
  * file diff are just more input to that one merge.
  *
  * Signed rows carry the front end's columns plus `_sign` (±1). Each
  * is weighted as `(g…, _cnt = _sign, _sum_c = c·_sign)`, and the fold
  * is ONE aggregate over the union of the previous state and those
  * rows: group by `g`, sum `_cnt` and every `_sum_c`, keep the groups
  * with `_cnt > 0`. COUNT and SUM are linear, so a row copy-on-write
  * carried from a removed file into an added one counts +1 and −1 and
  * cancels exactly in the long counts and DECIMAL(38,2) sums; AVG is
  * derived from them at read. MIN/MAX are not invertible under
  * deletes and are out of scope.
  *
  * Persistence: each fold is written as a parquet generation
  * `state_gN`, then published by renaming a tmp file to a NEW pointer
  * name `_meta.gN` (latest wins by listing), so no step ever leaves
  * the location without a readable pointer and a crashed refresh
  * leaves the previous generation live. The pointer's first line is
  * the state dir, its last line the generation, and the lines between
  * are the base table versions the state is current as of. The state
  * is read with the schema the fold derives by analysis, so no read
  * opens a footer. */
private[dml] final class RollupCore(spark: SparkSession, location: String,
    groupCols: Seq[String], sumCols: Seq[String], emptySigned: => DataFrame) {

  private val fs: FileSystem =
    new HPath(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private case class Meta(stateDir: String, bases: Seq[Int], gen: Int)

  private val metaRe = """_meta\.g(\d+)""".r
  private val stateRe = """state_g(\d+)""".r
  private val tmpRe = """_meta\.tmp\d+""".r

  private def listing(): Seq[HPath] =
    fs.listStatus(new HPath(location)).toSeq.map(_.getPath)

  private def readMeta(): Meta = {
    val gens = listing().map(_.getName).collect { case metaRe(g) => g.toInt }
    require(gens.nonEmpty,
      s"$location has no _meta.gN pointer — not an initialized rollup state")
    val in = fs.open(new HPath(location, s"_meta.g${gens.max}"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.split("\n")
    finally in.close()
    Meta(lines.head, lines.slice(1, lines.length - 1).map(_.toInt).toSeq, lines.last.toInt)
  }

  /** Write `state` as generation `gen`, publish its pointer, then drop
    * what no live pointer names: tmp files of crashed publishes and
    * every pointer and state but this generation's and the previous
    * one (kept for crash-safety). */
  private def publish(state: DataFrame, bases: Seq[Int], gen: Int): Unit = {
    val dir = new HPath(location, s"state_g$gen").toString
    state.write.mode("overwrite").parquet(dir)
    val tmp = new HPath(location, s"_meta.tmp$gen")
    val out = fs.create(tmp, true)
    try out.write((dir +: bases :+ gen).mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new HPath(location, s"_meta.g$gen")
    require(fs.rename(tmp, dst), s"meta publish failed at $dst")
    def dead(g: String) = g.toInt != gen && g.toInt != gen - 1
    listing().foreach { p =>
      val stale = p.getName match {
        case tmpRe() => true
        case metaRe(g) => dead(g)
        case stateRe(g) => dead(g)
        case _ => false
      }
      if (stale) fs.delete(p, true)
    }
  }

  private def weigh(signed: DataFrame): DataFrame =
    signed.select(groupCols.map(col) ++ (col("_sign").cast(LongType).as("_cnt") +:
      sumCols.map(c => (col(c).cast(DecimalType(18, 2)) * col("_sign"))
        .cast(DecimalType(38, 2)).as(s"_sum_$c"))): _*)

  private def fold(parts: Seq[DataFrame]): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(sum("_cnt").as("_cnt"), sumCols.map(c => sum(s"_sum_$c").as(s"_sum_$c")): _*)
      .where(col("_cnt") > 0) // fully-deleted groups leave the view

  private lazy val stateSchema = full(emptySigned).schema

  private def readState(dir: String): DataFrame = spark.read.schema(stateSchema).parquet(dir)

  /** The rollup of `signed` alone: the fold with no previous state. */
  def full(signed: DataFrame): DataFrame = fold(Seq(weigh(signed)))

  /** Initialize (or re-initialize) the location with `state`, a
    * [[full]] result current as of `bases`. */
  def create(state: DataFrame, bases: Seq[Int]): Unit = {
    fs.mkdirs(new HPath(location))
    publish(state, bases, 0)
  }

  /** Current groups, `_cnt`, `_sum_c` and the derived `_avg_c`. */
  def read(): DataFrame =
    sumCols.foldLeft(readState(readMeta().stateDir)) { (d, c) =>
      d.withColumn(s"_avg_$c", col(s"_sum_$c").cast("double") / col("_cnt"))
    }

  def bases: Seq[Int] = readMeta().bases

  /** Fold the signed rows between the recorded bases and `to` into the
    * state; `signedSince` gets the recorded bases. No-op when the bases
    * are already `to`. */
  def refresh(to: Seq[Int])(signedSince: Seq[Int] => Seq[DataFrame]): Unit = {
    val m = readMeta()
    if (m.bases != to)
      publish(fold(readState(m.stateDir) +: signedSince(m.bases).map(weigh)), to, m.gen + 1)
  }
}
