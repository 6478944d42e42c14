package searchbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares what the benchmark prints; keep the two in step. */
class BenchmarkFileSpec extends AnyFunSuite {

  private lazy val root: JsonNode = {
    val f = new File(sys.props("user.dir")).getAbsoluteFile.getParentFile
    new ObjectMapper().readTree(new File(f, "BENCHMARK.json"))
  }

  private def metrics(key: String): Seq[(String, String)] =
    root.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("workloads are the ones the benchmark runs") {
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText).toSet == Main.Specs.keySet)
  }

  test("end-to-end metrics match what a --trace 0 run prints") {
    assert(metrics("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match what a --trace 1 run prints") {
    assert(metrics("per_layer") == Main.PerLayer)
  }
}
