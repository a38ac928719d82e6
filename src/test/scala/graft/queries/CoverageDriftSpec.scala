package graft.queries

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** COVERAGE.md is the hand-maintained operator-inventory document and
  * cites gates by name throughout. This spec makes it self-verifying:
  * every full gate token it mentions must exist in the live registry,
  * and every registered gate must be documented — a future rename or
  * new gate fails the suite instead of drifting silently.
  */
class CoverageDriftSpec extends AnyFunSuite {

  // full gate names only (qNN_foo / qNNb_foo); bare "qNN" shorthand is
  // intentionally NOT matched, and NOT allowed to satisfy the reverse
  // direction either — the document must carry the greppable full name
  private val gateToken = """q\d+[a-z]?_[a-z0-9_]+""".r

  test("COVERAGE.md gate citations and the live registry agree both ways") {
    val path = Paths.get("COVERAGE.md")
    assert(Files.exists(path), s"COVERAGE.md not found under ${sys.props("user.dir")}")
    val mentioned = gateToken.findAllIn(Files.readString(path)).toSet
    val registered = graft.SparkEntry.queries.keySet

    val phantom = (mentioned -- registered).toSeq.sorted
    assert(phantom.isEmpty,
      s"COVERAGE.md cites gates missing from SparkEntry.queries: ${phantom.mkString(", ")}")

    val undocumented = (registered -- mentioned).toSeq.sorted
    assert(undocumented.isEmpty,
      s"registered gates never cited in COVERAGE.md: ${undocumented.mkString(", ")}")
  }

  test("SCALING.md gate citations exist in the live registry") {
    // SCALING.md is the adjudication record the performance verdicts
    // lean on (~100 gates cited with measured numbers); a gate rename
    // must not silently orphan that evidence trail. One-way only:
    // cited ⇒ registered — most gates legitimately have no scaling
    // adjudication.
    val path = Paths.get("SCALING.md")
    assert(Files.exists(path), s"SCALING.md not found under ${sys.props("user.dir")}")
    val mentioned = gateToken.findAllIn(Files.readString(path)).toSet
    val phantom = (mentioned -- graft.SparkEntry.queries.keySet).toSeq.sorted
    assert(phantom.isEmpty,
      s"SCALING.md cites gates missing from SparkEntry.queries: ${phantom.mkString(", ")}")
  }

  test("every registered gate has an oracle (static or dynamic), none has both") {
    val oracles = graft.SparkEntry.oracleSql.keySet
    val dyn = graft.SparkEntry.dynamicOracleSql.keySet
    val none = (graft.SparkEntry.queries.keySet -- oracles -- dyn).toSeq.sorted
    assert(none.isEmpty, s"gates with no oracle of either kind: ${none.mkString(", ")}")
    val both = (oracles intersect dyn).toSeq.sorted
    assert(both.isEmpty, s"gates with BOTH static and dynamic oracles: ${both.mkString(", ")}")
  }

  test("the registry rejects two gates that share a name") {
    val run: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new UnsupportedOperationException
    val a = QueryDef("q0_twice", run, None)
    val e = intercept[IllegalArgumentException](graft.SparkEntry.registry(
      Seq(a, QueryDef("q1_once", run, None), a.copy(oracle = Some("SELECT 1")))))
    assert(e.getMessage.contains("duplicate gate names: q0_twice"), e.getMessage)
    assert(!e.getMessage.contains("q1_once"), e.getMessage)
  }
}
