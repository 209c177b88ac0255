package perfbench

import java.util.Locale

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class OutputSpec extends AnyFunSuite {

  private def withLocale[A](l: Locale)(body: => A): A = {
    val prev = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(prev)
  }

  private val metrics = Map(
    "wall_s" -> Main.metric(1234.5678, "s"),
    "latency_p50_ms" -> Main.metric(0.000123, "ms"),
    "cpu_s" -> Main.metric(1e21, "s"))

  test("the result parses under a de_DE default locale, numbers intact") {
    val text = withLocale(Locale.GERMANY) {
      assert(String.format("%.1f", Double.box(1.5)) == "1,5") // the locale is in effect
      Main.json.writeValueAsString(
        Main.result("batch_queries", 10, 0, metrics, Map("note" -> "a\"b\n"), 1.76e9))
    }
    val tree = new ObjectMapper().readTree(text)
    assert(tree.get("metrics").get("wall_s").get("value").asDouble == 1234.5678)
    assert(tree.get("metrics").get("latency_p50_ms").get("value").asDouble == 0.000123)
    assert(tree.get("metrics").get("cpu_s").get("value").asDouble == 1e21)
    assert(tree.get("report").get("note").asText == "a\"b\n")
  }

  test("200 failures give a count, not a list, and the line stays short") {
    val execs = (0 until 200).map(i => BatchWorkload.Exec(s"q$i", 0.1, 0.2, ok = false))
    val failed = execs.count(!_.ok)
    val text = withLocale(Locale.GERMANY) {
      Main.json.writeValueAsString(
        Main.result("batch_queries", 207, failed, metrics, Map.empty, 1.76e9))
    }
    val tree = new ObjectMapper().readTree(text)
    assert(tree.get("failed").asInt == 200)
    assert(tree.get("attempted").asInt == 207)
    assert(!text.contains("q199"))
    assert(text.length < 400)
  }
}
