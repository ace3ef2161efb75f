package graft

import graft.model.OptionColumns
import org.apache.spark.sql.functions._

class OptionColumnsSpec extends SparkSpec {

  test("cookies JSON parses to typed structs with sameSite canonicalized") {
    import spark.implicits._
    val df = Seq(
      ("""[{"name":"a","value":"1","domain":"d.test","sameSite":"lax"},
          {"name":"b","value":"2","domain":"d.test","secure":true,"sameSite":"STRICT"}]""",
        """{"X-Api":"k","User-Agent":"g"}""",
        """{"Author":"Ada","Title":"T"}""",
        """[499,599]"""),
      ("not json", null, null, null))
      .toDF("cookies", "extraHttpHeaders", "metadata", "failOnHttpStatusCodes")
    val out = OptionColumns.bindNested(df)
    val r0 = out.collect()(0)
    val cookies = r0.getSeq[org.apache.spark.sql.Row](0)
    assert(cookies.map(_.getAs[String]("sameSite")) === Seq("Lax", "Strict"))
    assert(cookies(1).getAs[Boolean]("secure"))
    assert(r0.getMap[String, String](1).get("X-Api") === Some("k"))
    assert(r0.getMap[String, String](2).get("Author") === Some("Ada"))
    assert(r0.getSeq[Int](3) === Seq(499, 599))
    // malformed JSON → null (error-row guard, not a crash)
    val r1 = out.collect()(1)
    assert(r1.isNullAt(0))
  }

  test("bookmarks JSON binds to the capped recursive schema and bridges to the SpanOps tree") {
    import spark.implicits._
    val json =
      """[{"title":"Part I","page":1,"children":[
        |  {"title":"Chapter 1","page":1,"children":[{"title":"Section 1.1","page":2}]},
        |  {"title":"Chapter 2","page":3}]},
        | {"title":"Part II","page":4,"children":[{"title":"Chapter 3","page":5}]}]""".stripMargin
    val out = Seq(json).toDF("bookmarks")
    val bound = OptionColumns.bindNested(out).collect()(0)
    val tree = OptionColumns.rowToBookmarks(bound.getSeq[org.apache.spark.sql.Row](0))
    val expected = Seq(
      graft.model.Bookmark("Part I", 1, Seq(
        graft.model.Bookmark("Chapter 1", 1, Seq(graft.model.Bookmark("Section 1.1", 2))),
        graft.model.Bookmark("Chapter 2", 3))),
      graft.model.Bookmark("Part II", 4, Seq(graft.model.Bookmark("Chapter 3", 5))))
    assert(tree === expected)
    // bridge: the parsed tree drives T11 write/read round-trip
    val doc = graft.operators.SpanOps.writeBookmarks(
      graft.model.Doc("d", (0 until 5).map(i => graft.model.DocSpan("page", s"P$i", "", i))), tree)
    assert(graft.operators.SpanOps.readBookmarks(doc) === tree)
    // nesting beyond the cap parses down to the cap (no crash)
    val deep = (1 to 10).foldLeft("""[{"title":"leaf","page":1}]""") { (acc, d) =>
      s"""[{"title":"d$d","page":$d,"children":$acc}]"""
    }
    val deepRow = OptionColumns.bindNested(Seq(deep).toDF("bookmarks")).collect()(0)
    assert(!deepRow.isNullAt(0)) // truncated at maxDepth, not rejected
  }

  test("emulatedMediaFeatures map binds to name-sorted structs (routes.go:233-250)") {
    import spark.implicits._
    val df = Seq("""{"prefers-color-scheme":"dark","hover":"none"}""")
      .toDF("emulatedMediaFeatures")
    val row = OptionColumns.bindNested(df).collect()(0)
    val feats = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getString(1)))
    assert(feats === Seq("hover" -> "none", "prefers-color-scheme" -> "dark"))
  }

  test("waitDelay binds via the Go-duration parser (chromium/routes.go:113)") {
    import graft.functions.TextFunctions.parseGoDuration
    assert(parseGoDuration("300ms") === Some(300L))
    assert(parseGoDuration("1.5s") === Some(1500L))
    assert(parseGoDuration("1m30s") === Some(90000L))
    assert(parseGoDuration("2h") === Some(7200000L))
    assert(parseGoDuration("1us") === Some(0L)) // sub-ms floors
    assert(parseGoDuration("0") === Some(0L))
    assert(parseGoDuration("-2s") === Some(-2000L))
    assert(parseGoDuration("5") === None)   // Go: missing unit
    assert(parseGoDuration("") === None)
    assert(parseGoDuration("s") === None)   // Go: missing number
    assert(parseGoDuration("3d") === None)  // Go: unknown unit
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq("250ms", "2s", "oops").toDF("d")
      .select(OptionColumns.waitDelayMsCol(col("d"))).as[Option[Long]].collect()
    assert(rows.toSeq === Seq(Some(250L), Some(2000L), None))
  }

  test("emulatedMediaType enum guard and wait-expression lowering (routes.go:219-232)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val mt = Seq("", "screen", "print", "paper").toDF("m")
      .select(OptionColumns.emulatedMediaTypeCol(col("m"))).as[Option[String]].collect()
    assert(mt.toSeq === Seq(Some(""), Some("screen"), Some("print"), None))
    val we = Seq(("ready", ""), ("ready", "window.x > 1"), ("", ""), ("", "expr"))
      .toDF("wws", "wfe")
      .select(OptionColumns.effectiveWaitExpression(col("wws"), col("wfe")))
      .as[String].collect()
    assert(we.toSeq === Seq("window.status === 'ready'", "window.x > 1", "", "expr"))
  }
}
