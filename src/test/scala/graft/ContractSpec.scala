package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract hygiene: the queries/oracle maps are flattened from
  * ~20 modules, and Map semantics make three classes of mistake silent —
  * a name defined twice (later module shadows the earlier operator,
  * which then vanishes from the correctness gate with no error; within one
  * Map literal the first entry is simply dead code) and an oracle whose
  * key matches no query (the query quietly downgrades to a rows-only
  * check). All must stay empty. */
class ContractSpec extends AnyFunSuite {

  /** Query-name keys per Map of one source file: every `val`/`def`
    * declared as a `Map[...]` opens a new map, and every line that
    * starts with a `"q…" ->` entry adds a key to the open one. A Map
    * literal keeps only the last of two equal keys, so the duplicate is
    * visible only in the source. */
  private def mapKeys(f: Path): Seq[(String, String)] = {
    val decl = """^\s*(?:private\s+)?(?:lazy\s+)?(?:val|def)\s+(\w+)\s*:\s*Map\[.*""".r
    val key = """^\s*"(q\w*)"\s*->.*""".r
    var open = ""
    Files.readAllLines(f).asScala.toSeq.flatMap {
      case decl(name) => open = name; None
      case key(k) => Some(open -> k)
      case _ => None
    }
  }

  test("no query module gives one name to two entries of one map") {
    val dir = Paths.get("src/main/scala/graft/queries")
    val files = Files.list(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no query modules under $dir")
    val dups = for {
      f <- files.sortBy(_.toString)
      ((map, k), hits) <- mapKeys(f).groupBy(identity).toSeq.sortBy(_._1) if hits.size > 1
    } yield s"${f.getFileName}:$map:$k"
    assert(dups.isEmpty, s"names given twice in one map (the first entry is dead): $dups")
  }

  test("no query name is defined by two modules") {
    assert(SparkEntry.duplicateQueryNames.isEmpty,
      s"shadowed queries: ${SparkEntry.duplicateQueryNames}")
  }

  test("every oracle key names an existing query") {
    assert(SparkEntry.orphanOracleNames.isEmpty,
      s"orphan oracles: ${SparkEntry.orphanOracleNames}")
  }

  test("flagship entry and headline queries exist") {
    val qs = SparkEntry.queries.keySet
    for (name <- Seq("q1_agg", "q3_shipping", "q_dedup_exact", "q_ann_brute"))
      assert(qs.contains(name), s"missing headline query $name")
  }
}
