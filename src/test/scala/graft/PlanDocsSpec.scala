package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Plan-audit coverage guard (VERDICT r10 #4): every query name in the
  * `SparkEntry` registry must appear in the plan-audit docs
  * (PLANS.md's per-query index or EXPLAINS.md), so a reviewer can grep
  * any registry name and find its plan rationale. A query added
  * without a doc row fails here by name instead of silently drifting
  * out of the audit.
  */
class PlanDocsSpec extends AnyFunSuite {

  test("every SparkEntry query name appears in PLANS.md or EXPLAINS.md") {
    val docs = Seq("PLANS.md", "EXPLAINS.md")
      .map(p => Files.readString(Paths.get(p))).mkString("\n")
    val missing = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(docs.contains)
    assert(missing.isEmpty,
      s"queries with no plan-doc entry: ${missing.mkString(", ")} — " +
        "add a row to PLANS.md's per-query index")
  }

  test("every >=1 s query has a pinned EXPLAINS section") {
    // Explain.expensive is the >=1 s set (BENCH_r12 medians); each
    // name must be a headline entry AND have its generated `## name`
    // section in EXPLAINS.md, so plan drift on the expensive set
    // fails here by name instead of silently aging out of the audit.
    val headlineNames = Explain.headline.map(_._1).toSet
    val missingHeadline = Explain.expensive.filterNot(headlineNames)
    assert(missingHeadline.isEmpty,
      s"expensive queries not in Explain.headline: " +
        missingHeadline.mkString(", "))
    val explains = Files.readString(Paths.get("EXPLAINS.md"))
    val sections = explains.linesIterator
      .filter(_.startsWith("## ")).map(_.drop(3).trim).toSet
    val missingSection = Explain.expensive.filterNot(sections)
    assert(missingSection.isEmpty,
      s"expensive queries with no EXPLAINS.md section (re-run " +
        s"`sbt \"runMain graft.Explain\"`): ${missingSection.mkString(", ")}")
    // every headline name must be a real registry entry (a renamed
    // query would otherwise leave a stale pin behind)
    val unknown = Explain.headline.map(_._1)
      .filterNot(SparkEntry.queries.keySet)
    assert(unknown.isEmpty,
      s"Explain.headline names not in the registry: ${unknown.mkString(", ")}")
  }

  /** The `from_json(` calls in query `name`'s pinned EXPLAINS plan. */
  private def parsesIn(name: String): Int = {
    val explains = Files.readString(Paths.get("EXPLAINS.md"))
    val from = explains.indexOf(s"\n## $name\n")
    assert(from >= 0, s"EXPLAINS.md has no $name section")
    val open = explains.indexOf("```", from)
    val plan = explains.substring(open, explains.indexOf("```", open + 3))
    "from_json\\(".r.findAllMatchIn(plan).size
  }

  test("q28's pinned plan parses each tweet's JSON once") {
    val parses = parsesIn("q28_pipeline_e2e")
    assert(parses == 1,
      s"q28's plan holds $parses from_json( calls, want one on the parse path")
  }

  test("q136's pinned plan parses each record's JSON once") {
    val parses = parsesIn("q136_parse_quarantine")
    assert(parses == 1,
      s"q136's plan holds $parses from_json( calls, want one")
  }

  test("every oracle key has a registered query and vice versa") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert((os -- qs).isEmpty,
      s"oracle entries with no query: ${(os -- qs).toSeq.sorted.mkString(", ")}")
    assert((qs -- os).isEmpty,
      s"queries with no oracle (driver would record a weaker rows-only " +
        s"check): ${(qs -- os).toSeq.sorted.mkString(", ")}")
  }
}
