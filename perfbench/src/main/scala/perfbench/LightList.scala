package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The rule the light workload's query list is drawn by, from the survey of
  * every engine query (`results/survey.jsonl`, written by `Main survey`).
  *
  *  1. Candidates: queries that ran without error and whose warm full
  *     result (build plus noop write, mean of the survey's second and third
  *     run) took under `MaxWarmS`.
  *  2. From each family in `Families`, in that order, `PerFamily` candidates
  *     are drawn: the family's candidates in name order, shuffled by one
  *     `Random(Seed)` shared across the families.
  *  3. For each plan feature a per-layer metric counts (a `TopKPerKeyExec`
  *     node, a `CodegenFallback` expression), if no drawn query has it, the
  *     fastest candidate that has it is added, so that the metric can move.
  *
  * One query per family keeps the list short: every run repeats it for a
  * cold pass, warm-up passes and a measured window, and a run has to stay
  * within about a minute. */
object LightList {
  val Families: Seq[String] = Seq("p", "a", "st", "x")
  val PerFamily = 1
  val MaxWarmS = 0.5
  val Seed = 1L

  final case class Surveyed(query: String, warmS: Double, topkNodes: Int, interpretedExprs: Int) {
    def family: String = query.takeWhile(_.isLetter)
  }

  def surveyFile(bench: Path): Path = bench.resolve("results/survey.jsonl")

  def load(file: Path): Seq[Surveyed] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(file).asScala.filter(_.trim.nonEmpty).map(mapper.readTree).flatMap { j =>
      val times = Seq("build_s", "exec_s").map(k => j.get(k).elements().asScala.map(_.asDouble).toSeq)
      val ok = j.get("error").isNull && !j.get("topk_nodes").isNull && times.flatten.forall(_ >= 0)
      if (!ok) None
      else Some(Surveyed(j.get("query").asText,
        times.map(ts => ts(1) + ts(2)).sum / 2,
        j.get("topk_nodes").asInt, j.get("interpreted_exprs").asInt))
    }.toSeq
  }

  def select(survey: Seq[Surveyed]): Seq[String] = {
    val candidates = survey.filter(_.warmS < MaxWarmS).sortBy(_.query)
    val rnd = new scala.util.Random(Seed)
    val drawn = Families.flatMap(f => rnd.shuffle(candidates.filter(_.family == f)).take(PerFamily))
    val features: Seq[Surveyed => Boolean] = Seq(_.topkNodes > 0, _.interpretedExprs > 0)
    features.foldLeft(drawn) { (list, has) =>
      if (list.exists(has)) list else list ++ candidates.filter(has).sortBy(_.warmS).take(1)
    }.map(_.query)
  }
}
