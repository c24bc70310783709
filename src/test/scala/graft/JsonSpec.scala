package graft

import graft.plans.Json
import org.scalatest.funsuite.AnyFunSuite

/** The one JSON codec: strict output (no bare NaN), escaped strings, kept
  * field order and printed precision, strict parse. */
class JsonSpec extends AnyFunSuite {

  test("render: field order, nesting, escapes, non-finite doubles as null") {
    val s = Json.render("b" -> 1, "a" -> "x",
      "nan" -> Double.NaN, "inf" -> Double.PositiveInfinity, "d" -> 3.0,
      "l" -> 1L, "none" -> null,
      "arr" -> Seq(1.5, Double.NaN), "obj" -> Json.Obj(Seq("z" -> 0, "y" -> "")))
    assert(s == """{"b":1,"a":"x","nan":null,"inf":null,""" +
      """"d":3.0,"l":1,"none":null,"arr":[1.5,null],""" +
      """"obj":{"z":0,"y":""}}""")
    val nasty = "q\"\\\t\n\u0001/"
    val e = Json.render(nasty -> nasty)
    assert(!e.exists(_ < ' '), e)
    assert(Json.parse(e).get(nasty).asText == nasty)
  }

  test("fixed keeps the %.Nf digits, plain notation, null when non-finite") {
    assert(Json.render("x" -> Json.fixed(2.5, 3)) == """{"x":2.500}""")
    assert(Json.render("x" -> Json.fixed(1.04e9, 0)) == """{"x":1040000000}""")
    assert(Json.render("x" -> Json.fixed(0.00001, 4)) == """{"x":0.0000}""")
    for (v <- Seq(0.125, 0.15, 2.675, 1234.5678, 1e-3); d <- 0 to 4)
      assert(Json.fixed(v, d).toString == s"%.${d}f".format(v), s"$v at $d")
    assert(Json.fixed(Double.NaN, 1) == null)
  }

  test("parse is strict: NaN tokens and trailing content are rejected") {
    assert(Json.parse("""{"a":[1,null]}""").get("a").get(1).isNull)
    for (bad <- Seq("""{"a":NaN}""", """{"a":Infinity}""", """{"a":1} {"b":2}"""))
      assert(scala.util.Try(Json.parse(bad)).isFailure, bad)
  }
}
