package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Driver-contract invariants that must never drift: every registered
  * query has a DuckDB oracle (a missing oracle silently downgrades the
  * oracle check to rows-only), names stay collision-free across the
  * contributing modules, and every session comes from [[Session]].
  */
class ContractSpec extends AnyFunSuite {

  test("every query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("module maps contribute unique names (no silent overwrite)") {
    val maps = Seq(
      graft.queries.ReferenceQueries.queries,
      graft.queries.RelationalQueries.queries,
      graft.queries.TextQueries.queries,
      graft.queries.DedupQueries.queries,
      graft.queries.SimilarityQueries.queries,
      graft.queries.MultimodalQueries.queries,
      graft.queries.CorpusQueries.queries,
      graft.queries.CdcQueries.queries,
      graft.queries.AnalyticsQueries.queries)
    val all = maps.flatMap(_.keys)
    val dups = all.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"duplicate query names across modules: $dups")
    assert(all.size == SparkEntry.queries.size)
  }

  test("sessions are built only by graft.Session (mains and specs alike)") {
    val builder = """SparkSession\s*\.\s*builder\b|\.builder\(\)""".r
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)), s"run from the repo root, not ${sys.props("user.dir")}")
    val hits = roots.flatMap { root =>
      val files = Files.walk(root)
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString.replace('\\', '/'))
    assert(hits == Seq("src/main/scala/graft/Session.scala"), s"session builders outside graft.Session: $hits")
  }
}
