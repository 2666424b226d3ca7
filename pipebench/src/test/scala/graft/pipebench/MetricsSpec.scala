package graft.pipebench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper
  private val benchmark = mapper.readTree(new File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    benchmark.get(key).elements.asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("printed end-to-end metric names and units match BENCHMARK.json") {
    assert(Metrics.endToEnd == declared("end_to_end"))
  }

  test("printed per-layer metric names and units match BENCHMARK.json") {
    assert(Metrics.perLayer == declared("per_layer"))
  }

  test("every declared workload exists, and every workload is declared") {
    val names = benchmark.get("workloads").elements.asScala.map(_.get("name").asText).toSeq
    assert(names == Workloads.all.map(_.name))
  }

  test("the result line is JSON with exactly the contract's keys") {
    val line = Metrics.json(correct = true, attempted = 3, failed = 0,
      Metrics.endToEnd.map { case (n, u) => (n, u, 1.25) })
    val node: JsonNode = mapper.readTree(line)
    assert(node.fieldNames.asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(node.get("metrics").get("wall_s").get("value").asDouble == 1.25)
    assert(node.get("metrics").get("wall_s").get("unit").asText == "s")
  }

  test("quantiles interpolate linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Metrics.median(xs) == 2.5)
    assert(Metrics.quantile(xs, 0.75) == 3.25)
    assert(Metrics.quantile(Seq(7.0), 0.75) == 7.0)
  }
}
