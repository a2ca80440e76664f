package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {
  private val all = Metrics.endToEnd ++ Metrics.perLayer

  test("metric names are valid and unique, units and directions well-formed") {
    all.foreach { m =>
      assert(m.name.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), m.name)
      assert(m.unit.matches("[A-Za-z0-9_/%.-]{1,16}"), m.unit)
      assert(Set("lower", "higher").contains(m.better), m.better)
    }
    assert(all.map(_.name).distinct.size === all.size)
  }

  test("BENCHMARK.json lists exactly the catalogued metrics and workloads") {
    val spec = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String): Seq[(String, String, String)] =
      spec.get(key).elements().asScala.toSeq.map((m: JsonNode) =>
        (m.get("name").asText, m.get("unit").asText, m.get("better").asText))
    def catalogued(ms: Seq[Metric]) = ms.map(m => (m.name, m.unit, m.better))
    assert(listed("end_to_end") === catalogued(Metrics.endToEnd))
    assert(listed("per_layer") === catalogued(Metrics.perLayer))
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ===
      Workload.Names)
  }

  test("the result line has exactly the contract's keys") {
    val line = Metrics.resultJson(correct = true, 20, 0,
      Seq(Metrics.byName("setup_s") -> 48.5808, Metrics.byName("ok_share") -> 1.0))
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSeq === Seq("correct", "attempted", "failed", "metrics"))
    assert(node.get("metrics").get("setup_s").get("value").asDouble === 48.5808)
    assert(node.get("metrics").get("setup_s").get("unit").asText === "s")
    assertThrows[IllegalArgumentException](
      Metrics.resultJson(correct = true, 1, 0, Seq(Metrics.byName("setup_s") -> Double.NaN)))
  }

  test("the traced run's overhead compares its traced cycles with its untraced ones") {
    val stats = TraceStep("stats", "query.Forward", "forward+GeocodeStats", () => Map.empty)
    def call(n: Int, traced: Boolean, wall: Double, statsWall: Double) =
      Main.CallRec(n, traced, 0, 0, Outcome(10, 0, 0, wall),
        if (traced) Seq((stats, 0L, 0L, Map("stats.wall" -> statsWall,
          "forward.pm_join_rows" -> 40.0, "forward.results_rows" -> 10.0)))
        else Nil)
    val calls = Seq(call(0, false, 2.0, 0), call(1, true, 2.5, 4.0),
      call(2, false, 2.0, 0), call(3, true, 2.5, 4.0))
    val m = Main.perLayer(new Recorder, calls, cycle = 1, cores = 4).toMap
    assert(m("trace.overhead_share") === (2.5 + 4.0) / 2.0 - 1)
    assert(m("trace.call_overhead_share") === 2.5 / 2.0 - 1)
    assert(m("trace.stats_overhead_share") === 4.0 / 2.5 - 1)
    assert(m("forward.results_per_pm_row") === 0.25)
    assert(!m.contains("stats.wall"))
  }

  test("argument parsing rejects unknown workloads and options") {
    val ok = Main.parseArgs(Seq("--workload", "reverse", "--seed", "7", "--seconds", "5",
      "--trace", "1"))
    assert(ok === Main.Args("reverse", 7, 5, trace = true, "."))
    assertThrows[IllegalArgumentException](Main.parseArgs(Seq("--workload", "nope",
      "--seed", "1", "--seconds", "5", "--trace", "0")))
    assertThrows[IllegalArgumentException](Main.parseArgs(Seq("--workload", "reverse",
      "--seed", "1", "--seconds", "5", "--trace", "0", "--extra", "x")))
  }
}
