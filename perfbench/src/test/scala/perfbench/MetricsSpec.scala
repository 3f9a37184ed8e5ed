package perfbench

import graft.util.Json
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** BENCHMARK.json and the metrics the benchmark prints must agree. */
class MetricsSpec extends AnyFunSuite {
  private lazy val spec = {
    val p = Seq(Paths.get("BENCHMARK.json"), Paths.get("..", "BENCHMARK.json")).find(Files.exists(_))
      .getOrElse(fail("BENCHMARK.json not found"))
    Json.parse(Files.readString(p))
  }

  private def listed(key: String): Vector[(String, String)] =
    spec(key).asArray.map(m => (m("name").asString, m("unit").asString))

  test("end-to-end metrics match BENCHMARK.json") {
    assert(listed("end_to_end") == Metrics.endToEnd)
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(listed("per_layer") == Metrics.perLayer)
  }

  test("workloads match BENCHMARK.json") {
    assert(spec("workloads").asArray.map(_("name").asString).toSet == Main.workloads.keySet)
  }

  test("a traced run prints every per-layer metric, an untraced one refuses a missing metric") {
    val r = new Report
    r.set("spark.jobs", 3)
    assert(r.metricsFor(trace = true).map(_._1) == Metrics.perLayer.map(_._1))
    assert(intercept[RuntimeException](r.metricsFor(trace = false)).getMessage
      .contains("not measured"))
    assertThrows[IllegalArgumentException](r.set("no.such_metric", 1))
  }
}
