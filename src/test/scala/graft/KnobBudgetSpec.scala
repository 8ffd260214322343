package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The environment variables the main code reads are a fixed budget: a
  * core count and two paths. A new option has to change this test on
  * purpose, and every read must name its key as a string literal so the
  * scan below sees it.
  */
class KnobBudgetSpec extends AnyFunSuite {
  private val Budget = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_REPO")

  private val read = """(?:sys\.env|System\.getenv)""".r
  private val keyed =
    """(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)\(\s*"([^"]+)"""".r

  test("src/main reads exactly the budgeted environment variables, each by a literal key") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20, s"found only ${sources.size} sources under $root")
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val reads = sources.map(p => p -> text(p))
    val unkeyed = reads.collect {
      case (p, s) if read.findAllIn(s).size != keyed.findAllIn(s).size => root.relativize(p)
    }
    assert(unkeyed.isEmpty, "environment reads without a literal key")
    val keys = reads.flatMap { case (_, s) => keyed.findAllMatchIn(s).map(_.group(1)) }.toSet
    assert(keys === Budget)
  }
}
