package graft

import org.json4s.JString
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("Json.string output parses back to the same string with json4s") {
    val raw = "q46,\"x\\y\"\tsf\r0.01\u0001/data\n"
    val text = Json.string(raw)
    assert(!text.exists(_ < ' '), text)
    assert(JsonMethods.parse(s"""{"bench_only":$text}""") \ "bench_only" === JString(raw))
  }
}
