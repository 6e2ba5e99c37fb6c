package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Kills the recurring README test-count drift (stale three rounds
  * running) by ASSERTING the count instead of hand-maintaining it: the
  * number README quotes must equal the number of test cases declared in
  * the sources. The metric is the static declaration count —
  * `test("...")` + `property("...")` at the start of a line — which equals
  * sbt's "Passed: Total N" (ScalaTest test cases + ScalaCheck property
  * groups run once each). When a test is added or removed, this suite
  * fails until the README line is refreshed.
  */
class DocCountSpec extends AnyFunSuite {

  private def repoRoot: Path = {
    // tests run with cwd = the sbt project root; be tolerant of forked JVMs
    // started one level down
    val cwd = Paths.get(".").toAbsolutePath.normalize
    Iterator.iterate(cwd)(_.getParent).take(4)
      .find(p => p != null && Files.exists(p.resolve("README.md"))
        && Files.exists(p.resolve("build.sbt")))
      .getOrElse(fail("could not locate the repo root from " + cwd))
  }

  test("README's quoted test count matches the declared test cases") {
    val root = repoRoot
    val decl = raw"^\s*(test|property)\(".r
    val testDir = root.resolve("src/test")
    val walked = Files.walk(testDir)
    val declared =
      try walked.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .map(p => Files.readAllLines(p).asScala
          .count(l => decl.findFirstIn(l).isDefined))
        .sum
      finally walked.close()
    val readme = Files.readString(root.resolve("README.md"))
    val quoted = raw"sbt test\s+# (\d+) test cases".r
      .findFirstMatchIn(readme)
      .getOrElse(fail(
        "README.md no longer contains the 'sbt test  # N test cases' line " +
          "this suite asserts — keep the anchor or update DocCountSpec"))
      .group(1).toInt
    assert(quoted == declared,
      s"README quotes $quoted test cases but the sources declare $declared" +
        " — refresh the README line")
  }

  test("README and COVERAGE query counts match SparkEntry.queries") {
    // same drift class as the test count, same cure: assert, don't maintain
    // each catalog entry carries its own oracle, so the maps cannot drift
    // apart; what can still go wrong is a name used twice, which would
    // silently drop an entry from the maps
    val all = catalog.Catalog.all
    val n = SparkEntry.queries.size
    assert(n == all.size && SparkEntry.oracleSql.size == n)
    val e = intercept[IllegalArgumentException](
      catalog.Catalog.distinctNames(all :+ all.head))
    assert(e.getMessage.contains(all.head.name))
    val root = repoRoot
    val readme = Files.readString(root.resolve("README.md"))
    val rq = raw"— (\d+) queries".r.findFirstMatchIn(readme)
      .getOrElse(fail("README.md lost its '— N queries' anchor")).group(1).toInt
    assert(rq == n, s"README quotes $rq queries but SparkEntry has $n")
    val coverage = Files.readString(root.resolve("COVERAGE.md"))
    val cq = raw"\((\d+)/(\d+) queries oracled".r.findFirstMatchIn(coverage)
      .getOrElse(fail("COVERAGE.md lost its '(N/N queries oracled' anchor"))
    assert(cq.group(1).toInt == n && cq.group(2).toInt == n,
      s"COVERAGE quotes ${cq.group(1)}/${cq.group(2)} but SparkEntry has $n")
  }
}
