package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import java.util.Locale

class JsonSpec extends AnyFunSuite {
  private def underLocale[T](l: Locale)(body: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(l)
    try body finally Locale.setDefault(saved)
  }

  test("the result line parses back under a decimal-comma default locale") {
    val values = Seq("setup_s" -> 0.318923234, "pass_s" -> 1234567.5, "tiny" -> 1.5e-7,
      "count" -> 93.0, "neg" -> -0.9058723500000001)
    val text = underLocale(Locale.GERMANY) {
      Json.render(Json.obj(
        "correct" -> Json.Bool(true), "attempted" -> Json.Num(39), "failed" -> Json.Num(0),
        "metrics" -> Json.Obj(values.map { case (n, v) =>
          n -> Json.obj("value" -> Json.Num(v), "unit" -> Json.Str("s"))
        })))
    }
    val tree = new ObjectMapper().readTree(text)
    assert(tree.get("attempted").asLong == 39L)
    assert(tree.get("correct").asBoolean)
    for ((n, v) <- values) {
      assert(tree.get("metrics").get(n).get("value").asDouble == v, n)
      assert(tree.get("metrics").get(n).get("unit").asText == "s")
    }
  }

  test("human-read numbers use a decimal point in every locale") {
    underLocale(Locale.GERMANY) {
      assert(Json.fixed(1.5, 2) == "1.50")
      assert(Json.number(0.25) == "0.25")
    }
  }

  test("strings are escaped and non-finite numbers refused") {
    assert(Json.quote("a\"b\\c\n\u0001") == "\"a\\\"b\\\\c\\n\\u0001\"")
    intercept[IllegalArgumentException](Json.number(Double.NaN))
    intercept[IllegalArgumentException](Json.number(Double.PositiveInfinity))
  }
}
