package graft

import graft.frontier.RobotsFilter
import graft.model.{HostIps, RobotsRule}
import graft.sources.SyntheticWeb
import org.scalacheck.Gen

import java.util.regex.Pattern

/** Robots rule matching: dropping a leading `.*` keeps `rlike`'s
  * find-anywhere answer on every input.
  */
class RobotsFilterSpec extends SparkSpec {
  import spark.implicits._

  private def finds(p: String, s: String) = Pattern.compile(p).matcher(s).find()

  /** The workload's rule patterns, q34's, and the forms that stay. */
  private val knownPatterns = SyntheticWeb.defaultRobots.map(_.host_pattern) ++
    Seq(""".*banned\.net.*""", ".*+x", ".*{2}x", "(?s).*x", ".*?/page/1$", ".*", ".*?",
      ".*^https", ".*(?<!/)x", "(?m).*$")

  private val adversarialUrls = Seq("", "\n", "x\n", "\nx", "a\nbanned.net", "/page/1337\n",
    "https://host97.example.test/\n/page/1337", "https://h.example.test/page/1337",
    "https://h.example.test/page/13370", "https://banned.net/", "xxxx", "x" * 200 + "/page/1337",
    "https://h/" + "a/" * 100, "https://host197.example.test/a")

  // short: `.*{2}x` and `.*.*x` backtrack in O(n³)
  private val urlGen: Gen[String] = Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.oneOf(
    Gen.const("/page/1337"), Gen.const("banned.net"), Gen.const("x"), Gen.const("\n"),
    Gen.const("https://"), Gen.const("host97.example.test"), Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("/", ".", "$", "?", "é", "\r")))).map(_.mkString)

  private val patternGen: Gen[String] = for {
    prefix <- Gen.oneOf("", ".*", ".*?", ".*.*")
    n <- Gen.choose(0, 8)
    body <- Gen.listOfN(n, Gen.oneOf("x", "a", "/", "\\.", "$", "^", "[ab]", ".", "x+", "(x|/)",
      "\\d", "x*", "(?s)", "\n", "(?=x)", "banned"))
  } yield prefix + body.mkString

  test("a leading .* or .*? is dropped; other quantifiers and flags are kept") {
    assert(RobotsFilter.withoutLeadingDotStar(".*/page/1337$") === "/page/1337$")
    assert(RobotsFilter.withoutLeadingDotStar(""".*banned\.net.*""") === """banned\.net.*""")
    assert(RobotsFilter.withoutLeadingDotStar(".*?x") === "x")
    Seq(".*+x", ".*{2}x", "(?s).*x", ".*??x", """^https://host\d*97\.example\.test/.*""", "x.*")
      .foreach(p => assert(RobotsFilter.withoutLeadingDotStar(p) === p, p))
  }

  test("property: the stripped pattern finds exactly where the original does") {
    val urls = adversarialUrls ++
      Gen.listOfN(200, urlGen)(Gen.Parameters.default, org.scalacheck.rng.Seed(7L)).get
    knownPatterns.foreach { p =>
      val q = RobotsFilter.withoutLeadingDotStar(p)
      urls.foreach(s => assert(finds(q, s) === finds(p, s), s"pattern $p on ${s.take(80)}"))
    }
    sample(Gen.zip(patternGen, Gen.listOfN(20, urlGen)), 300) { case (p, ss) =>
      val q = RobotsFilter.withoutLeadingDotStar(p)
      (adversarialUrls ++ ss).foreach(s =>
        assert(finds(q, s) === finds(p, s), s"pattern $p on ${s.take(80)}"))
    }
  }

  test("decide's deny verdicts equal find() of the original rule patterns") {
    val urls = adversarialUrls ++ Seq("https://h1.example.test/page/1337",
      "https://h1.example.test/page/1337/x", "https://host97.example.test/page/2")
    val hostMap = Seq.empty[HostIps].toDS()
    knownPatterns.foreach { p =>
      val rules = Seq(RobotsRule(p, "deny", deny_private_ips = false, deny_public_ips = false))
      val got = RobotsFilter.decide(spark, urls.toDF("url"), "url", rules, hostMap,
        assumeNormalized = true).select("url", "robots_verdict")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      urls.foreach { s =>
        assert((got(s) == "denied: matches denied list") === finds(p, s), s"pattern $p on $s")
      }
    }
  }
}
