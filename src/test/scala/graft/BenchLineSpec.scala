package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.lines]]: both result lines are valid JSON under a
  * comma-decimal default locale, and the compact line stays inside
  * [[Bench.CompactBudget]] whatever the failure count. Pure string
  * building; no Spark session. */
class BenchLineSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val best = names.zipWithIndex.map { case (n, i) => n -> (0.1234 + i * 1.5) }
  private val mapper = new ObjectMapper()

  private def underGermanLocale[A](body: => A): A = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try body finally Locale.setDefault(saved)
  }

  for (nFailed <- Seq(0, names.size)) {
    test(s"lines parse as JSON under de_DE and fit the budget ($nFailed failed)") {
      val failed = names.take(nFailed)
      val (fullLine, compactLine) = underGermanLocale {
        assert(f"${1.5}%.3f" == "1,500") // the locale really is comma-decimal
        Bench.lines(best, failed, reps = 2, repTotals = Seq(1234.5678, 999.25),
          sfDir = "/data/sf0.1", fullFile = "BENCH_FULL_c4.json")
      }
      assert(compactLine.length <= Bench.CompactBudget, compactLine)

      val compact = mapper.readTree(compactLine)
      val full = mapper.readTree(fullLine)
      val total = best.map(_._2).sum
      assert(math.abs(compact.get("value").asDouble - total) < 1e-3)
      assert(full.get("value").asDouble == total)
      assert(compact.get("rep_totals").elements.asScala.map(_.asDouble).toSeq
        == Seq(1234.568, 999.25))
      assert(compact.get("failed_total").asInt == nFailed)
      assert(compact.get("failed").size == math.min(nFailed, Bench.CompactFailed))
      assert(full.get("failed").elements.asScala.map(_.asText).toSeq == failed)
      assert(full.get("queries").size == names.size)
      assert(compact.get("queries_total").asInt == names.size)
      val inLine = compact.get("queries").size
      assert(inLine > 0 && compact.get("queries_in_line").asInt == inLine)
      // the compact map keeps the most expensive queries
      assert(compact.get("queries").fieldNames.asScala.toSet ==
        best.sortBy(-_._2).take(inLine).map(_._1).toSet)
    }
  }
}
