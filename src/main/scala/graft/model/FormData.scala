package graft.model

import graft.functions.TextFunctions

import scala.concurrent.duration.{Duration, DurationLong}

/** Typed option binder — the Spark-side twin of the reference's
  * `FormData` (`pkg/modules/api/formdata.go:39-250,614-686`): every
  * route binds a fixed, typed option set against a loose string map;
  * parse failures ACCUMULATE (the reference joins them into one 400);
  * missing/empty keys take the default; `Mandatory*` variants error on
  * absence. In the engine, the "form" is a per-row options map column
  * and the binder runs at plan/build time (options are constants per
  * route invocation) — the error list becomes the error-row payload.
  */
final class FormData(values: Map[String, String]) {

  private val errs = scala.collection.mutable.ArrayBuffer.empty[String]

  private def raw(key: String): Option[String] = values.get(key).filter(_.nonEmpty)

  def errors: Seq[String] = errs.toSeq

  def addError(msg: String): Unit = errs += msg

  def validate(): Either[String, Unit] =
    if (errs.isEmpty) Right(()) else Left(s"Invalid form data: ${errs.mkString("; ")}")

  private def bind[A](key: String, default: A, parse: String => Option[A]): A =
    raw(key) match {
      case None => default
      case Some(v) => parse(v).getOrElse {
        errs += s"form field '$key' is invalid (got '$v')"
        default
      }
    }

  private def mandatory[A](key: String, parse: String => Option[A], zero: A): A =
    raw(key) match {
      case None => errs += s"form field '$key' is required"; zero
      case Some(v) => parse(v).getOrElse {
        errs += s"form field '$key' is invalid (got '$v')"; zero
      }
    }

  def string(key: String, default: String = ""): String = raw(key).getOrElse(default)
  def mandatoryString(key: String): String = mandatory[String](key, Some(_), "")

  def bool(key: String, default: Boolean): Boolean = bind(key, default, parseBool)
  def mandatoryBool(key: String): Boolean = mandatory(key, parseBool, false)

  def int(key: String, default: Int): Int = bind(key, default, _.toIntOption)
  def mandatoryInt(key: String): Int = mandatory(key, _.toIntOption, 0)

  def float64(key: String, default: Double): Double = bind(key, default, _.toDoubleOption)
  def mandatoryFloat64(key: String): Double = mandatory(key, _.toDoubleOption, 0.0)

  /** Go `time.ParseDuration`, in whole milliseconds
    * ([[TextFunctions.parseGoDuration]]): `300ms`, `1.5s`, `1m30s`, `-2s`, `0`.
    */
  def duration(key: String, default: Duration): Duration =
    bind(key, default, TextFunctions.parseGoDuration(_).map(_.millis))
  def mandatoryDuration(key: String): Duration =
    mandatory(key, TextFunctions.parseGoDuration(_).map(_.millis), 0L.millis)

  def inches(key: String, default: Double): Double =
    bind(key, default, TextFunctions.toInches)
  def mandatoryInches(key: String): Double =
    mandatory(key, TextFunctions.toInches, 0.0)

  /** Comma/JSON-ish int list: `[499,599]` or `499,599`. */
  def intList(key: String, default: Seq[Int]): Seq[Int] =
    bind(key, default, parseIntList)

  def stringList(key: String, default: Seq[String]): Seq[String] =
    raw(key) match {
      case None => default
      case Some(v) => v.stripPrefix("[").stripSuffix("]")
        .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    }

  private def parseBool(s: String): Option[Boolean] = s.toLowerCase match {
    case "true" | "1" | "t" => Some(true)
    case "false" | "0" | "f" => Some(false)
    case _ => None
  }

  private def parseIntList(s: String): Option[Seq[Int]] = {
    val parts = s.stripPrefix("[").stripSuffix("]").split(",").map(_.trim).filter(_.nonEmpty)
    val parsed = parts.flatMap(_.toIntOption)
    if (parsed.length == parts.length) Some(parsed.toSeq) else None
  }
}

object FormData {
  def apply(values: Map[String, String]): FormData = new FormData(values)

  /** Chromium page-option binding (`chromium/routes.go:279-335` +
    * defaults `chromium/chromium.go:222-242`).
    */
  def bindPageOptions(form: FormData): PageOptions = PageOptions(
    failOnHttpStatusCodes = form.intList("failOnHttpStatusCodes", Seq(499, 599)),
    failOnResourceHttpStatusCodes = form.intList("failOnResourceHttpStatusCodes", Nil),
    ignoreResourceHttpStatusDomains =
      form.stringList("ignoreResourceHttpStatusDomains", Nil),
    singlePage = form.bool("singlePage", default = false),
    generateDocumentOutline = form.bool("generateDocumentOutline", default = false),
    generateTaggedPdf = form.bool("generateTaggedPdf", default = false),
    omitBackground = form.bool("omitBackground", default = false),
    printBackground = form.bool("printBackground", default = false))

  /** Print options subset that carries dataflow semantics (paper size /
    * margins in inches with unit suffixes; scale bounds per
    * `chromium/chromium.go:245-333`).
    */
  final case class PrintOptions(
      landscape: Boolean, scale: Double,
      paperWidth: Double, paperHeight: Double,
      marginTop: Double, marginBottom: Double, marginLeft: Double, marginRight: Double,
      pageRanges: String, preferCssPageSize: Boolean)

  def bindPrintOptions(form: FormData): PrintOptions = {
    val o = PrintOptions(
      landscape = form.bool("landscape", default = false),
      scale = form.float64("scale", 1.0),
      paperWidth = form.inches("paperWidth", 8.5),
      paperHeight = form.inches("paperHeight", 11.0),
      marginTop = form.inches("marginTop", 0.39),
      marginBottom = form.inches("marginBottom", 0.39),
      marginLeft = form.inches("marginLeft", 0.39),
      marginRight = form.inches("marginRight", 0.39),
      pageRanges = form.string("pageRanges"),
      preferCssPageSize = form.bool("preferCssPageSize", default = false))
    if (o.scale < 0.1 || o.scale > 2.0)
      form.addError(s"form field 'scale' must be within [0.1, 2.0] (got '${o.scale}')")
    o
  }

  /** Split options (`pdfengines/routes.go:106-169`): mode ∈
    * {intervals, pages}; span mandatory when mode set; unify only in
    * pages mode.
    */
  def bindSplitOptions(form: FormData): SplitOptions = {
    val mode = form.string("splitMode")
    if (mode.isEmpty) SplitOptions()
    else {
      if (mode != "intervals" && mode != "pages")
        form.addError(s"form field 'splitMode' must be 'intervals' or 'pages' (got '$mode')")
      val span = form.mandatoryString("splitSpan")
      val unify = form.bool("splitUnify", default = false)
      if (unify && mode == "intervals")
        form.addError("form field 'splitUnify' only applies to 'pages' mode")
      SplitOptions(mode, span, unify)
    }
  }

  /** Encrypt options (`pdfengines/routes.go:448-452,688-697`). */
  def bindEncryptOptions(form: FormData): EncryptOptions = EncryptOptions(
    userPassword = form.string("userPassword"),
    ownerPassword = form.string("ownerPassword"),
    allowPrinting = form.bool("allowPrinting", default = true),
    allowModifying = form.bool("allowModifying", default = true),
    allowCopying = form.bool("allowCopying", default = true),
    allowAnnotating = form.bool("allowAnnotating", default = true),
    allowFillingForms = form.bool("allowFillingForms", default = true),
    allowAccessibility = form.bool("allowAccessibility", default = true))
}
