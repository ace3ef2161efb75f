package graft

import graft.functions.{AlphaSort, IpFunctions, TextFunctions, UrlFunctions}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Property + table tests for the pure scalar ports (SURVEY.md §7.1:
  * "ScalaCheck here first — everything downstream depends on exact
  * parity").
  */
class ScalarsSpec extends AnyFunSuite {

  /** Deterministic sampling harness over a ScalaCheck Gen (the
    * scalatestplus bridge is not in the offline cache).
    */
  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    var seed = seed0
    (0 until n).foreach { _ =>
      gen.apply(org.scalacheck.Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  // ---------------- AlphanumericSort (sort.go:26-110) ----------------

  test("alphanumeric sort: reference cases from gotenberg issues 805/1287") {
    // prefix numbers sort numerically
    assert(AlphaSort.sorted(Seq("10_b.pdf", "2_c.pdf", "1_a.pdf")) ===
      Seq("1_a.pdf", "2_c.pdf", "10_b.pdf"))
    // ext-suffix numbers: rest first, then number
    assert(AlphaSort.sorted(Seq("page10.pdf", "page2.pdf", "page1.pdf")) ===
      Seq("page1.pdf", "page2.pdf", "page10.pdf"))
    // trailing numbers, no extension
    assert(AlphaSort.sorted(Seq("b2", "a10", "a9")) === Seq("a9", "a10", "b2"))
    // numbered before unnumbered
    assert(AlphaSort.sorted(Seq("zebra.pdf", "1_a.pdf")) === Seq("1_a.pdf", "zebra.pdf"))
    // neither numbered: lexicographic
    assert(AlphaSort.sorted(Seq("beta", "alpha")) === Seq("alpha", "beta"))
    // mixed prefix vs suffix: rest compared, tie → prefix first
    assert(AlphaSort.less("1_doc.pdf", "doc1.pdf") ===
      ("_doc.pdf" < "doc.pdf")) // rests differ → rest order decides
  }

  test("extractNumber four-way location semantics") {
    assert(AlphaSort.extractNumber("12_a.pdf") === ((12L, "_a.pdf", AlphaSort.NumberPrefix)))
    assert(AlphaSort.extractNumber("a_12.pdf") === ((12L, "a_.pdf", AlphaSort.NumberExtSuffix)))
    assert(AlphaSort.extractNumber("a_12") === ((12L, "a_", AlphaSort.NumberSuffix)))
    assert(AlphaSort.extractNumber("abc.pdf") === ((-1L, "abc.pdf", AlphaSort.NumberNone)))
    // path components are stripped like filepath.Base
    assert(AlphaSort.extractNumber("/x/y/3_a.pdf")._1 === 3L)
  }

  private val nameGen: Gen[String] = for {
    pre <- Gen.option(Gen.choose(0, 120))
    base <- Gen.alphaLowerStr.map(_.take(6))
    suf <- Gen.option(Gen.choose(0, 120))
    ext <- Gen.oneOf("", ".pdf", ".docx")
  } yield pre.map(_.toString).getOrElse("") + base + suf.map(_.toString).getOrElse("") + ext

  test("alphanumeric ordering is total and sorting is idempotent") {
    forAll(Gen.listOfN(30, nameGen)) { names =>
      val once = AlphaSort.sorted(names)
      assert(AlphaSort.sorted(once) === once)
      assert(once.length === names.length)
      // antisymmetry of less on the sorted output
      once.sliding(2).foreach {
        case Seq(a, b) => assert(!AlphaSort.less(b, a) || !AlphaSort.less(a, b))
        case _ =>
      }
    }
  }

  test("O2: digit-suffix order reassembles split parts (pdfcpu.go:226)") {
    val parts = Seq("doc_10.pdf", "doc_2.pdf", "doc_0.pdf", "doc_1.pdf")
    assert(parts.sorted(AlphaSort.digitSuffixOrdering) ===
      Seq("doc_0.pdf", "doc_1.pdf", "doc_2.pdf", "doc_10.pdf"))
  }

  // ---------------- IsPublicIP (outbound.go:69-114) ----------------

  test("IsPublicIP: v4 classes") {
    val nonPublic = Seq("127.0.0.1", "127.8.9.10", "10.0.0.1", "10.255.255.255",
      "172.16.0.1", "172.31.9.9", "192.168.1.1", "169.254.1.1", "224.0.0.1",
      "239.9.9.9", "0.0.0.0")
    val public = Seq("8.8.8.8", "93.184.216.34", "172.15.0.1", "172.32.0.1",
      "192.167.1.1", "11.0.0.1", "223.255.255.255", "1.1.1.1")
    nonPublic.foreach(ip => assert(!IpFunctions.isPublicIp(ip), ip))
    public.foreach(ip => assert(IpFunctions.isPublicIp(ip), ip))
  }

  test("IsPublicIP: v6 classes incl. the 8 deprecated/translation prefixes") {
    val nonPublic = Seq(
      "::1", "::", "fe80::1", "fc00::1", "fd12:3456::1", "ff02::1", "ff01::1",
      "2002::1",            // 6to4
      "2001:0:abcd::1",     // Teredo
      "64:ff9b::a.b.c.d".replace("a.b.c.d", "8.8.8.8"), // NAT64 well-known
      "64:ff9b:1::1",       // NAT64 local-use
      "fec0::1",            // site-local
      "::8.8.8.8",          // v4-compatible
      "2001:db8::1",        // documentation
      "100::1",             // discard
      "::ffff:127.0.0.1",   // v4-mapped loopback (unmap first!)
      "::ffff:10.0.0.1")
    val public = Seq("2606:4700::1111", "2a00:1450:4001::1", "::ffff:8.8.8.8",
      "2001:4860:4860::8888")
    nonPublic.foreach(ip => assert(!IpFunctions.isPublicIp(ip), ip))
    public.foreach(ip => assert(IpFunctions.isPublicIp(ip), ip))
  }

  test("IsPublicIP: invalid addresses are not public") {
    Seq("", "not-an-ip", "256.1.1.1", "1.2.3", "12345::zz", "example.com")
      .foreach(ip => assert(!IpFunctions.isPublicIp(ip), ip))
  }

  // ---------------- URL canonicalization ----------------

  test("canonicalize: seen-dup fixture cases (case, default port, slash)") {
    val want = "https://host1.example.test/page/7"
    assert(UrlFunctions.canonicalizeUrl("https://HOST1.example.test/page/7") === want)
    assert(UrlFunctions.canonicalizeUrl("https://host1.example.test:443/page/7") === want)
    assert(UrlFunctions.canonicalizeUrl("https://host1.example.test/page/7/") === want)
    assert(UrlFunctions.canonicalizeUrl("HTTPS://host1.example.test/page/7") === want)
    assert(UrlFunctions.canonicalizeUrl("http://h.x:80/") === "http://h.x/")
    assert(UrlFunctions.canonicalizeUrl("http://h.x:8080/a") === "http://h.x:8080/a")
    assert(UrlFunctions.canonicalizeUrl("https://h.x") === "https://h.x/")
    assert(UrlFunctions.canonicalizeUrl("https://h.x/a?b=1#frag") === "https://h.x/a?b=1")
  }

  test("canonicalize is idempotent") {
    // a port that does not parse keeps the authority whole as host: no
    // throw, and the URL is already canonical
    Seq("http://h:99999999999/x", "http://[::1]:/x", "http://[::1]:abc/x", "http://h:abc/x")
      .foreach(url => assert(UrlFunctions.canonicalizeUrl(url) === url))
    forAll(Gen.oneOf(
      Gen.const("https://Host.Example.COM:443/Path/"),
      for {
        scheme <- Gen.oneOf("http", "https", "HTTP")
        host <- Gen.alphaLowerStr.map(h => if (h.isEmpty) "h" else h.take(8))
        port <- Gen.oneOf("", ":80", ":443", ":8080")
        path <- Gen.alphaLowerStr.map(p => "/" + p.take(5))
      } yield s"$scheme://$host$port$path")) { url =>
      val c1 = UrlFunctions.canonicalizeUrl(url)
      assert(UrlFunctions.canonicalizeUrl(c1) === c1)
    }
  }

  test("normalizeUrl lowercases scheme+host only (outbound.go:268-270)") {
    assert(UrlFunctions.normalizeUrl("HTTPS://Example.COM/PaTh?Q=V") ===
      "https://example.com/PaTh?Q=V")
  }

  // ---------------- status expansion (events.go:215-227) ----------------

  test("x99 sentinels expand to their century") {
    assert(UrlFunctions.expandStatusCodes(Seq(499)).toSet === ((400 to 499).toSet + 499))
    assert(UrlFunctions.expandStatusCodes(Seq(404)).toSet === Set(404))
    assert(UrlFunctions.statusMatches(450, Seq(499)))
    assert(!UrlFunctions.statusMatches(399, Seq(499)))
    assert(UrlFunctions.statusMatches(500, Seq(599)))
    assert(UrlFunctions.statusMatches(404, Seq(404, 599)))
    assert(!UrlFunctions.statusMatches(302, Seq(499, 599)))
  }

  // ---------------- domain normalize/match (events.go:307-360) ----------------

  test("domain normalization accepts every documented input shape") {
    assert(UrlFunctions.normalizeDomain("example.com") === "example.com")
    assert(UrlFunctions.normalizeDomain("*.example.com") === "example.com")
    assert(UrlFunctions.normalizeDomain(".example.com") === "example.com")
    assert(UrlFunctions.normalizeDomain("https://example.com/path") === "example.com")
    assert(UrlFunctions.normalizeDomain("example.com:443") === "example.com")
    assert(UrlFunctions.normalizeDomain("  EXAMPLE.com ") === "example.com")
    assert(UrlFunctions.normalizeDomain("") === "")
  }

  test("domain match: exact or dot-suffix only") {
    val ds = Seq("example.com")
    assert(UrlFunctions.matchesAnyDomain("example.com", ds))
    assert(UrlFunctions.matchesAnyDomain("a.b.example.com", ds))
    assert(!UrlFunctions.matchesAnyDomain("badexample.com", ds))
    assert(!UrlFunctions.matchesAnyDomain("example.com.evil.io", ds))
    assert(!UrlFunctions.matchesAnyDomain("", ds))
  }

  // ---------------- sanitize + inches + sameSite + bytesize ----------------

  test("sanitizeFilename strips separators/control chars, NFC-normalizes") {
    assert(TextFunctions.sanitizeFilename("/a/b/c.pdf") === "c.pdf")
    assert(TextFunctions.sanitizeFilename("a\\b\\evil.pdf") === "evil.pdf")
    assert(TextFunctions.sanitizeFilename("xy.pdf") === "xy.pdf")
    // NFC: e + combining acute → é
    assert(TextFunctions.sanitizeFilename("é.pdf") === "é.pdf")
  }

  test("sanitizeFilename is idempotent") {
    forAll(Gen.asciiStr) { s =>
      val once = TextFunctions.sanitizeFilename(s)
      assert(TextFunctions.sanitizeFilename(once) === once)
    }
    forAll(Gen.listOf(Gen.oneOf('a', '/', '\\', '\u0001', 'é', '.', ' ')).map(_.mkString)) { s =>
      val once = TextFunctions.sanitizeFilename(s)
      assert(TextFunctions.sanitizeFilename(once) === once)
    }
  }

  test("inches conversion uses the exact formdata.go divisors") {
    assert(TextFunctions.toInches("72pt") === Some(1.0))
    assert(TextFunctions.toInches("96px") === Some(1.0))
    assert(TextFunctions.toInches("2in") === Some(2.0))
    assert(TextFunctions.toInches("25.4mm") === Some(25.4 * (1.0 / 25.4)))
    assert(TextFunctions.toInches("2.54cm") === Some(2.54 * (1.0 / 2.54)))
    assert(TextFunctions.toInches("6pc") === Some(1.0))
    assert(TextFunctions.toInches("1.5") === Some(1.5)) // unitless
    assert(TextFunctions.toInches("") === None)
    assert(TextFunctions.toInches("abcpt") === None)
  }

  test("sameSite normalization (routes.go:27-30)") {
    assert(TextFunctions.normalizeSameSite("lax") === "Lax")
    assert(TextFunctions.normalizeSameSite("STRICT") === "Strict")
    assert(TextFunctions.normalizeSameSite("nOnE") === "None")
    assert(TextFunctions.normalizeSameSite("weird") === "weird")
  }

  test("byte-size parse") {
    assert(TextFunctions.parseByteSize("5MB") === Some(5000000L))
    assert(TextFunctions.parseByteSize("1KiB") === Some(1024L))
    assert(TextFunctions.parseByteSize("42") === Some(42L))
    assert(TextFunctions.parseByteSize("x") === None)
  }

  // ---------------- markdown (F9) ----------------

  test("markdown renders the commonmark subset deterministically") {
    val html = TextFunctions.markdownToHtml("# Title\n\npara **bold** *em* `c`\n\n- a\n- b")
    assert(html.contains("<h1>Title</h1>"))
    assert(html.contains("<strong>bold</strong>"))
    assert(html.contains("<em>em</em>"))
    assert(html.contains("<code>c</code>"))
    assert(html.contains("<li>a</li>"))
  }

  test("sanitizer drops scripts and handlers (bluemonday-UGC posture)") {
    val out = TextFunctions.sanitizeHtml(
      """<p onclick="x()">hi</p><script>evil()</script><a href="javascript:e()">l</a><iframe src="x"/>""")
    assert(!out.contains("script"))
    assert(!out.contains("onclick"))
    assert(!out.contains("javascript:"))
    assert(!out.contains("iframe"))
    assert(out.contains("<p"))
  }

  // ---------------- murmur3 parity ----------------

  test("Scala murmur3 matches Spark's hash() bit-for-bit") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.hash
    val inputs = Seq("", "a", "https://host1.example.test/page/7", "日本語テキスト", "x" * 1000)
    val sparkHashes = inputs.toDF("s").select(hash($"s")).collect().map(_.getInt(0))
    val scalaHashes = inputs.map(UrlFunctions.murmur3)
    assert(sparkHashes.toSeq === scalaHashes)
  }

  test("pathTemplateCol collapses every digit run, leaves non-digits alone") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val cases = Seq(
      "/item/123" -> "/item/{n}",
      "/calendar/2024/7/28" -> "/calendar/{n}/{n}/{n}",
      "/a1b22c" -> "/a{n}b{n}c",
      "/no/digits/" -> "/no/digits/",
      "" -> "",
      "42" -> "{n}")
    val got = cases.map(_._1).toDF("p")
      .select(UrlFunctions.pathTemplateCol($"p")).collect().map(_.getString(0))
    assert(got.toSeq === cases.map(_._2))
  }
}
