package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val spec = {
    val f = Seq(Paths.get("../BENCHMARK.json"), Paths.get("BENCHMARK.json")).find(Files.exists(_)).get
    new ObjectMapper().readTree(f.toFile)
  }
  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("every end-to-end metric printed is declared with its unit") {
    assert(Metrics.endToEnd.toSet == declared("end_to_end").toSet)
  }

  test("every per-layer metric printed is declared with its unit") {
    assert(Metrics.perLayer.toSet == declared("per_layer").toSet)
  }

  test("every declared workload is implemented") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workloads.names)
  }
}
