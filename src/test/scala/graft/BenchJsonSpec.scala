package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's stdout lines and artifacts are its output contract: their
  * field names, field order and escaping are pinned here. The hand-built
  * fragments must not depend on the JVM locale either: a comma-decimal
  * default (de_DE) turns `%.3f` into `1,500`, which splits one JSON number
  * into two. */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def parses(fragment: String) =
    mapper.readTree("{" + fragment.stripPrefix(",") + "}")
  private def fields(line: String): Seq[String] =
    mapper.readTree(line).fieldNames().asScala.toSeq

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

  test("QTime's line and a StreamBench record keep their numbers under a de_DE default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(0.734)) === "0,734", "premise: de_DE uses a decimal comma")
      // the regex the sf10/sf100 graph gates read QTime's output with
      val qtime = """\[qtime\] (\S+) rows=(\d+) min=([\d.]+) s""".r.unanchored
      QTime.line("q_a", 42L, Seq(1.25, 0.734)) match {
        case qtime(name, rows, min) =>
          assert((name, rows, min) === ("q_a", "42", "0.734"))
        case other => fail(s"no match: $other")
      }
      val rec = mapper.readTree(StreamBench.recordJson(
        1000L, 2.5, Seq(10L, 20L), s""","mv_read_sec":${Harness.fixed(0.25, 2)}"""))
      assert(rec.get("wall_sec").asDouble === 2.5)
      assert(rec.get("rows_per_sec").asLong === 400L)
      assert(rec.get("batch_ms").size === 2)
      assert(rec.get("mv_read_sec").asDouble === 0.25)
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

  test("every Bench line keeps its field names in order") {
    val (probeMain, probeShort) = Bench.probeFailedLines("/data/sf0.1", "schema drift: \"ts\"")
    assert(fields(probeMain) === Seq("metric", "value", "unit", "queries", "failed", "errors", "sf"))
    assert(fields(probeShort) === Seq("metric", "short", "value", "unit", "n", "failed", "sf"))
    assert(mapper.readTree(probeMain).get("errors").get("_schema_probe").asText === "schema drift: \"ts\"")

    val counts = Bench.Series(Seq("q_a" -> 1.5, "q_b" -> -1.0), Seq("q_b" -> "RuntimeException: boom"))
    val hashes = Bench.Series(Seq("q_a" -> 2.0, "q_b" -> 0.5), Nil)
    val tail = Bench.lineTail(4, 4, "/data/sf0.1")
    val canary = Bench.canaryFragment(4, 1.0, 1.25)
    val norm = Bench.normFragment("total_canary_norm", counts.total, 1.0)
    val hashNorm = Bench.normFragment("total_hash_canary_norm", hashes.total, 1.0)
    val tailFields = Seq("cpus", "default_parallelism", "sf")

    val main = Bench.countLine(counts, 2, Some(181), canary, norm, tail)
    assert(fields(main) === Seq("metric", "value", "unit", "queries", "passes", "agg", "failed",
      "errors", "subset", "registry", "canary", "total_canary_norm") ++ tailFields)
    val m = mapper.readTree(main)
    assert(m.get("value").asDouble === 1e9, "a failed key fails the total closed")
    assert(m.get("failed").elements().asScala.map(_.asText).toSeq === Seq("q_b"))
    assert(m.get("queries").get("q_b").asDouble === -1.0)
    assert(m.get("errors").get("q_b").asText === "RuntimeException: boom")
    assert(m.get("subset").asInt === 2)
    assert(fields(Bench.countLine(counts, 2, None, canary, "", tail)) === Seq("metric", "value",
      "unit", "queries", "passes", "agg", "failed", "errors", "canary") ++ tailFields)

    assert(fields(Bench.shortLine("total", counts, norm, tail, provisional = true)) === Seq("metric",
      "short", "provisional", "value", "unit", "n", "failed", "total_canary_norm") ++ tailFields)

    val hash = Bench.hashLine(hashes, 2, Some(181), counts.total, hashNorm, tail)
    assert(fields(hash) === Seq("metric", "value", "unit", "consumer", "queries", "passes", "agg",
      "failed", "errors", "subset", "registry", "count_total_same_jvm",
      "total_hash_canary_norm") ++ tailFields)
    assert(mapper.readTree(hash).get("value").asDouble === 2.5)
    assert(fields(Bench.shortLine("total_hash", hashes, hashNorm, tail)) === Seq("metric", "short",
      "value", "unit", "n", "failed", "total_hash_canary_norm") ++ tailFields)

    val last = Bench.shortLine("total", counts, norm, tail, totalHash = Some(hashes.total))
    assert(fields(last) === Seq("metric", "short", "value", "unit", "n", "failed", "total_hash",
      "total_canary_norm") ++ tailFields)
    assert(mapper.readTree(last).get("total_hash").asDouble === 2.5)
  }

  test("the shared JSON escape round-trips quotes, backslashes, control chars and non-ASCII text") {
    val raw = "a\"b\\c\r\n\td\u0001 é 日本"
    assert(Harness.jq(raw) === "\"a\\\"b\\\\c\\r\\n\\td\\u0001 é 日本\"")
    assert(mapper.readTree(s"[${Harness.jq(raw)}]").get(0).asText === raw)
  }
}
