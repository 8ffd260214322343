package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** An operator stage is written once. The scan below reads the operator
  * sources in windows of 6 consecutive code lines (whitespace
  * normalised; comment lines and lines of only brackets skipped) and
  * fails when a window occurs twice: the shared stage belongs in one
  * helper that each caller passes what differs. A clone kept on purpose
  * is listed here with its reason.
  */
class CloneBudgetSpec extends AnyFunSuite {
  private val Dirs = Seq("operators", "streaming", "functions", "etl", "plans", "tables")
  private val Width = 6

  private val Allowed: Map[Seq[String], String] = Map(
    Seq(
      "import events.sparkSession.implicits._",
      "import org.apache.spark.sql.streaming.TimeMode",
      "twsReady(events.sparkSession)",
      """events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))""",
      ".as[(Long, Timestamp, Long, String)]",
      ".groupByKey(_._1)") ->
      ("the typed transformWithState preamble of statefulScdRuns and statefulTransitions: " +
        "each processor has its own output type, and the encoder it needs comes from the " +
        "session's implicits at the call"))

  private val comment = """^\s*(?://|/\*|\*)""".r
  private val bracketsOnly = """[\s{}()\[\],;]*""".r

  test("no 6-line window of the operator code occurs twice, apart from the allowed ones") {
    val root = Paths.get("src/main/scala/graft")
    val sources = Dirs.flatMap(d => Files.walk(root.resolve(d)).iterator().asScala)
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
    assert(sources.size > 20, s"found only ${sources.size} sources under $root")
    def code(p: Path): Seq[(Int, String)] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (l, i) if comment.findPrefixOf(l).isEmpty && !bracketsOnly.matches(l) =>
          (i + 1, l.trim.split("\\s+").mkString(" "))
      }
    val windows = for {
      p <- sources
      w <- code(p).sliding(Width) if w.size == Width
    } yield w.map(_._2) -> s"${root.relativize(p)}:${w.head._1}"
    val clones = windows.groupBy(_._1).collect { case (w, at) if at.size > 1 => w -> at.map(_._2) }
    val unexplained = clones.filter { case (w, _) => !Allowed.contains(w) }.toSeq
      .sortBy(_._2.head)
      .map { case (w, at) => at.mkString(", ") + w.mkString("\n    ", "\n    ", "") }
    assert(unexplained.isEmpty,
      s"${unexplained.size} windows occur more than once:\n" + unexplained.mkString("\n"))
    assert(Allowed.keySet.filterNot(clones.contains).isEmpty, "allowed clones the code no longer has")
  }
}
