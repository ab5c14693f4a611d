package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `BENCHMARK.json` declares exactly the metrics the runs print. */
class DeclaredMetricsSpec extends AnyFunSuite {
  private val declared = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def names(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("end-to-end metrics") { assert(names("end_to_end") == Metrics.EndToEnd) }

  test("per-layer metrics") { assert(names("per_layer") == Metrics.PerLayer) }

  test("workloads") {
    assert(declared.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Seq("ingest", "table_rw", "curate"))
  }
}
