package perfbench

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** The light list is the one `LightList`'s rule draws from the committed
  * survey, and it covers every family and plan feature the rule asks for. */
class LightListSpec extends AnyFunSuite {
  private val survey = LightList.load(LightList.surveyFile(Paths.get(".").toAbsolutePath.normalize))

  test("the survey covers every engine query") {
    assert(survey.map(_.query).toSet.size > 250)
  }

  test("Workloads.Light is the list the rule draws from the survey") {
    assert(LightList.select(survey) == Workloads.Light)
  }

  test("the list has every family, and a query with each counted plan feature") {
    val byName = survey.map(s => s.query -> s).toMap
    val drawn = Workloads.Light.map(byName)
    assert(LightList.Families.forall(f => drawn.count(_.family == f) >= LightList.PerFamily))
    assert(drawn.forall(_.warmS < LightList.MaxWarmS))
    assert(drawn.exists(_.topkNodes > 0) && drawn.exists(_.interpretedExprs > 0))
  }
}
