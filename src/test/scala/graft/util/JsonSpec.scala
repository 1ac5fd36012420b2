package graft.util

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("render/parse round-trip preserves order, integral doubles, escapes") {
    val v = Json.parse("""{"b":1,"a":[1.5,true,null,"x\ny"],"c":{"k":"v"}}""")
    assert(Json.render(v) === """{"b":1,"a":[1.5,true,null,"x\ny"],"c":{"k":"v"}}""")
    val ctl = "cr\rtab\tsoh\u0001"
    assert(Json.render(ctl) === "\"cr\\rtab\\tsoh\\u0001\"")
    assert(Json.parse(Json.render(ctl)) === ctl)
  }

  test("non-finite doubles and floats render as null, keeping the output parseable") {
    assert(Json.render(Double.NaN) === "null")
    assert(Json.render(Double.PositiveInfinity) === "null")
    assert(Json.render(Double.NegativeInfinity) === "null")
    assert(Json.render(Float.NaN) === "null")
    assert(Json.render(Float.NegativeInfinity) === "null")
    assert(Json.render(1.5f) === "1.5")
    assert(Json.render(2.0f) === "2")
    assert(Json.parse(Json.render(Map("x" -> Double.NaN))) === Map("x" -> null))
  }
}
