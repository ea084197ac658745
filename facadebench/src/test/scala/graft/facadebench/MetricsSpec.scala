package graft.facadebench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names the metrics the benchmark prints */
class MetricsSpec extends AnyFunSuite {

  private val json = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")

  private def section(key: String): Seq[(String, String)] = {
    val from = json.indexOf(s"\"$key\"")
    val body = json.substring(from, json.indexOf("]", from))
    "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("end_to_end lists exactly Metrics.endToEnd") {
    assert(section("end_to_end") == Metrics.endToEnd.map(d => d.name -> d.unit))
  }

  test("per_layer lists exactly Metrics.perLayer") {
    assert(section("per_layer") == Metrics.perLayer.map(d => d.name -> d.unit))
  }
}
