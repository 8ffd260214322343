package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The main code holds what a workload runs. A `def` whose name appears
  * on no other non-comment line of src/main is reached only from specs;
  * the ones below stay on purpose, each for the reason its scaladoc
  * states. A new spec-only function has to change this test on purpose.
  * Overrides are called by Spark, not by name, and are not counted.
  */
class SurfaceBudgetSpec extends AnyFunSuite {
  private val Budget = Set(
    // test oracles
    "shingleArrayZipWith", "bandedJaccard", "embeddingCosinePairs", "l2Normalize",
    // the streaming-equals-batch floor
    "firstEventsStream", "exactlyOnceParquet", "readIncrementalView", "gcIncremental",
    // the release API
    "clearAll", "invalidate")

  private val comment = """^\s*(?://|/\*|\*)""".r
  private val word = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val defined = """\bdef\s+([A-Za-z_][A-Za-z0-9_]*)""".r

  test("the defs only specs call are exactly the budgeted ones") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(sources.size > 20, s"found only ${sources.size} sources under $root")
    def lines(p: Path) = Files.readAllLines(p).asScala.toSeq
    val code = sources.flatMap(lines).filter(comment.findPrefixOf(_).isEmpty)
    val linesNaming = code.flatMap(l => word.findAllIn(l).toSet).groupBy(identity)
      .map { case (w, ws) => w -> ws.size }
    val specOnly = code.filterNot(_.contains("override "))
      .flatMap(l => defined.findAllMatchIn(l).map(_.group(1)))
      .filter(linesNaming(_) == 1).toSet
    assert(specOnly === Budget)
  }
}
