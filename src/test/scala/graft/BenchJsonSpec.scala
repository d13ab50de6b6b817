package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's hand-built JSON fragments must not depend on the JVM locale: a
  * comma-decimal default (de_DE) turns `%.3f` into `1,500`, which splits
  * one JSON number into two. */
class BenchJsonSpec extends AnyFunSuite {
  private def parses(fragment: String) =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{" + fragment.stripPrefix(",") + "}")

  test("canary and canary-normalized fragments parse as JSON under a de_DE default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(1.5)) === "1,500", "premise: de_DE uses a decimal comma")
      val canary = parses(Bench.canaryFragment(3, 1.5, 2.25)).get("canary")
      assert(canary.get("probes").asInt === 3)
      assert(canary.get("start_sec").asDouble === 1.5)
      assert(canary.get("end_sec").asDouble === 2.25)
      assert(canary.get("drift").asDouble === 1.5)
      assert(parses(Bench.normFragment("total_canary_norm", 62.9, 2.0))
        .get("total_canary_norm").asDouble === 31.45)
    } finally java.util.Locale.setDefault(saved)
  }

  test("a series is normalized by the mean of the canary probes bracketing it; a failed probe omits the field") {
    // count series: (start, end); hash series: (end, after hash)
    val (start, end, afterHash) = (Some(1.0), Some(2.0), Some(4.0))
    assert(Bench.bracketMean(start, end) === Some(1.5))
    assert(Bench.bracketMean(end, afterHash) === Some(3.0))
    assert(Bench.bracketMean(end, None) === None)
    assert(Bench.bracketMean(None, afterHash) === None)
    assert(Bench.bracketMean(Some(0.0), afterHash) === None)
  }
}
