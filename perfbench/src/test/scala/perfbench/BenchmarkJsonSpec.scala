package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares exactly the metrics the harness prints. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.toSeq.map(m => m.get("name").asText -> m.get("unit").asText)

  test("end-to-end and per-layer metrics match the harness, names and units") {
    assert(declared("end_to_end") == Layers.EndToEnd)
    assert(declared("per_layer") == Layers.PerLayer)
  }

  test("workloads match the harness") {
    assert(json.get("workloads").elements().asScala.toSeq.map(_.get("name").asText) == Workloads.names)
  }

  test("the result line carries every metric of its mode") {
    val rec = new Recorder
    rec.attempted = 3
    val line = Layers.resultLine(rec, Map("op_p50_ms" -> 1.5), trace = false)
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.get("correct").asBoolean && parsed.get("attempted").asLong == 3)
    assert(parsed.get("metrics").fieldNames().asScala.toSeq == Layers.EndToEnd.map(_._1))
    assert(parsed.get("metrics").get("op_p50_ms").get("value").asDouble == 1.5)
    val traced = new ObjectMapper().readTree(Layers.resultLine(rec, Map.empty, trace = true))
    assert(traced.get("metrics").fieldNames().asScala.toSeq == Layers.PerLayer.map(_._1))
  }
}
