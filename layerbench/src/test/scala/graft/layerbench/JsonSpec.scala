package graft.layerbench

import java.util.Locale

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {
  private def withLocale[T](l: Locale)(body: => T): T = {
    val prev = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(prev)
  }

  test("numbers render with a '.' decimal point under a comma-decimal default locale") {
    withLocale(Locale.GERMANY) {
      // the failure mode being guarded against
      assert(String.format("%.3f", Double.box(1.5)) == "1,500")
      val out = Json.render(ListMap(
        "correct" -> true, "attempted" -> 12L, "failed" -> 0,
        "metrics" -> ListMap(
          "latency_ms" -> ListMap("value" -> 1234567.125, "unit" -> "ms"),
          "small" -> 1e-7, "whole" -> 3.0, "nan" -> Double.NaN),
        "list" -> Seq[Any](1, 2.5f), "text" -> "a\"b\\c\n"))
      assert(out ==
        """{"correct":true,"attempted":12,"failed":0,"metrics":{"latency_ms":{"value":1234567.125,"unit":"ms"},""" +
          """"small":0.0000001,"whole":3.0,"nan":null},"list":[1,2.5],"text":"a\"b\\c\n"}""")
    }
  }

  test("span self time subtracts the union of child intervals") {
    assert(Tracer.unionNs(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Tracer.unionNs(Seq((3L, 3L))) == 0L)
  }
}
