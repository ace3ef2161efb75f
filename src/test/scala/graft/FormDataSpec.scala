package graft

import graft.model.{FormData, SplitOptions}
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._

/** Binder semantics ported from `api/formdata.go` (largest test surface
  * of the reference, formdata_test.go): defaults on absent/empty keys,
  * accumulated errors, mandatory variants, duration/inches/list parses.
  */
class FormDataSpec extends AnyFunSuite {

  test("defaults apply for absent and empty values; errors accumulate") {
    val f = FormData(Map("b" -> "notabool", "i" -> "NaN", "empty" -> ""))
    assert(f.string("missing", "dflt") === "dflt")
    assert(f.string("empty", "dflt") === "dflt")
    assert(f.bool("b", default = true) === true)   // invalid → default + error
    assert(f.int("i", 7) === 7)
    assert(f.errors.length === 2)
    assert(f.validate().isLeft)
    assert(f.validate().left.toOption.get.startsWith("Invalid form data:"))
  }

  test("mandatory variants error on absence") {
    val f = FormData(Map("x" -> "1"))
    assert(f.mandatoryInt("x") === 1)
    f.mandatoryString("nope")
    assert(f.errors === Seq("form field 'nope' is required"))
  }

  test("duration parse: Go time.ParseDuration subset") {
    val dflt = 7.millis
    def parsed(v: String): Option[Duration] = {
      val f = FormData(Map("d" -> v))
      val d = f.duration("d", dflt)
      if (f.errors.isEmpty) Some(d) else { assert(d === dflt); None }
    }
    assert(parsed("300ms") === Some(300.millis))
    assert(parsed("1.5s") === Some(1500.millis))
    assert(parsed("1m30s") === Some(90000.millis))
    assert(parsed("2h") === Some(2.hours: Duration))
    assert(parsed("-2s") === Some(-2.seconds: Duration))
    assert(parsed("0") === Some(Duration.Zero))
    assert(parsed("3\u03bcs") === Some(Duration.Zero)) // Greek mu, truncated to ms
    assert(parsed("10") === None)
    assert(parsed("5 seconds") === None)
  }

  test("int list accepts JSON-ish and bare comma forms") {
    val f = FormData(Map("a" -> "[499,599]", "b" -> "301, 302", "c" -> "[x]"))
    assert(f.intList("a", Nil) === Seq(499, 599))
    assert(f.intList("b", Nil) === Seq(301, 302))
    assert(f.intList("c", Seq(1)) === Seq(1))
    assert(f.errors.length === 1)
  }

  test("page options bind with reference defaults") {
    val o = FormData.bindPageOptions(FormData(Map.empty))
    assert(o.failOnHttpStatusCodes === Seq(499, 599))
    assert(!o.singlePage && !o.generateTaggedPdf)
  }

  test("print options: inches with unit suffixes, scale bounds") {
    val f = FormData(Map("paperWidth" -> "72pt", "marginTop" -> "25.4mm", "scale" -> "3.0"))
    val o = FormData.bindPrintOptions(f)
    assert(o.paperWidth === 1.0)
    assert(o.marginTop === 25.4 * (1.0 / 25.4)) // exact reference arithmetic, NOT 1.0
    assert(o.paperHeight === 11.0) // default
    assert(f.errors.exists(_.contains("scale")))
  }

  test("split options: mode gates span; unify only for pages") {
    assert(FormData.bindSplitOptions(FormData(Map.empty)) === SplitOptions())
    val f = FormData(Map("splitMode" -> "intervals", "splitUnify" -> "true"))
    FormData.bindSplitOptions(f)
    assert(f.errors.exists(_.contains("splitSpan")), f.errors)
    assert(f.errors.exists(_.contains("splitUnify")))
    val ok = FormData(Map("splitMode" -> "pages", "splitSpan" -> "1-2", "splitUnify" -> "true"))
    assert(FormData.bindSplitOptions(ok) === SplitOptions("pages", "1-2", unify = true))
    assert(ok.errors.isEmpty)
  }

  test("encrypt options default-true permissions") {
    val o = FormData.bindEncryptOptions(FormData(Map("userPassword" -> "u", "allowCopying" -> "false")))
    assert(o.userPassword === "u" && !o.allowCopying && o.allowPrinting)
  }
}
