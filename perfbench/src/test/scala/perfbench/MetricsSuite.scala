package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricsSuite extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  /** BENCHMARK.json sits at the root of the repository, above this build. */
  private lazy val benchmark: JsonNode = {
    val f = Seq("../BENCHMARK.json", "BENCHMARK.json").map(new java.io.File(_)).find(_.isFile)
      .getOrElse(fail("BENCHMARK.json not found"))
    mapper.readTree(f)
  }

  private def declared(section: String): Seq[(String, String)] =
    benchmark.get(section).elements.asScala.toSeq.map(m => m.get("name").asText -> m.get("unit").asText)

  test("printed end-to-end metric names and units match BENCHMARK.json") {
    assert(Metrics.EndToEnd == declared("end_to_end"))
  }

  test("printed per-layer metric names and units match BENCHMARK.json") {
    assert(Metrics.PerLayer == declared("per_layer"))
  }

  test("the result line has exactly the contract's keys") {
    val line = Metrics.resultLine(40, 1, Seq(("run_s", "s", 12.5), ("setup_s", "s", 3.25)))
    val node = mapper.readTree(line)
    assert(node.fieldNames.asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(!node.get("correct").asBoolean)
    assert(node.get("attempted").asInt == 40 && node.get("failed").asInt == 1)
    val run = node.get("metrics").get("run_s")
    assert(run.get("value").asDouble == 12.5 && run.get("unit").asText == "s")
  }

  test("every workload names families that exist and no family is in two workloads") {
    val fams = Workloads.families.values.toSeq
    assert(fams.flatten.size == fams.flatten.distinct.size)
    val names = benchmark.get("workloads").elements.asScala.map(_.get("name").asText).toSet
    assert(names.subsetOf(Workloads.families.keySet))
  }
}
