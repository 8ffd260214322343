package perfbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the harness name the same workloads and metrics. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(Paths.get("..", "BENCHMARK.json").toFile)

  private def metrics(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("workloads match") {
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Workloads.Names)
  }

  test("end-to-end and per-layer metrics match, with units") {
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
  }

  test("every query in a workload list has a committed expected digest") {
    val want = QueryData.loadExpected(Paths.get(".").toAbsolutePath.normalize)
    assert(Workloads.Light.forall(want.contains))
  }
}
