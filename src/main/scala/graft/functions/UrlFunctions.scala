package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** URL canonicalization + hashing + domain matching.
  *
  * Reference semantics:
  *   - normalization lowercases scheme+host before filtering
  *     (`pkg/gotenberg/outbound.go:268-270`);
  *   - domain normalize/match for resource-status ignore lists
  *     (`pkg/modules/chromium/events.go:307-360`);
  *   - x99 status sentinels expand to their whole century
  *     (`pkg/modules/chromium/events.go:215-227`).
  *
  * The engine-side canonical form (documented contract for the URL-seen
  * set) additionally strips default ports, drops fragments, and collapses
  * the trailing slash, so the FIXTURES.md `seen-dup` cases (case, default
  * port, trailing slash) canonicalize equal.
  *
  * The pure Scala functions are the reference model: the straight-line
  * crawl twin (`ReferenceCrawl`) calls them directly, and the hot path
  * calls the URL parsers through the codegen expressions in
  * [[UrlExprs]] (pinned by `UrlExprParitySpec`). Hashing, salting and
  * status matching also have Column twins built from built-ins, pinned
  * by `ColumnParitySpec`.
  */
object UrlFunctions {

  private val UrlRe =
    """^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$""".r

  final case class ParsedUrl(scheme: String, host: String, port: Int, path: String, query: String) {
    def hostPort: String = if (port >= 0) s"$host:$port" else host
  }

  /** Tolerant parse; returns None for anything without `scheme://`. */
  def parseUrl(raw: String): Option[ParsedUrl] = raw match {
    case UrlRe(scheme, authority, path, query, _) =>
      // strip userinfo, split port
      val hostPort = authority.substring(authority.lastIndexOf('@') + 1)
      // a port that does not parse as an Int (empty, non-numeric, out of
      // range) keeps the authority whole as host, with port -1
      def withPort(host: String, p: String): (String, Int) =
        p.toIntOption.fold((hostPort, -1))(n => (host, n))
      val (host, port) = hostPort.lastIndexOf(':') match {
        case i if i >= 0 && !hostPort.startsWith("[") =>
          val p = hostPort.substring(i + 1)
          if (p.forall(_.isDigit)) withPort(hostPort.substring(0, i), p)
          else (hostPort, -1)
        case i if i >= 0 && hostPort.startsWith("[") =>
          // [v6]:port
          val close = hostPort.indexOf(']')
          if (close >= 0 && close + 1 < hostPort.length && hostPort.charAt(close + 1) == ':')
            withPort(hostPort.substring(0, close + 1), hostPort.substring(close + 2))
          else (hostPort, -1)
        case _ => (hostPort, -1)
      }
      Some(ParsedUrl(scheme.toLowerCase, host.toLowerCase, port,
        Option(path).getOrElse(""), Option(query).getOrElse("")))
    case _ => None
  }

  /** Reference normalization only: lowercase scheme+host
    * (`outbound.go:268-270`), everything else untouched.
    */
  def normalizeUrl(raw: String): String = parseUrl(raw) match {
    case Some(p) =>
      val rest = raw.substring(raw.indexOf("://") + 3)
      val authorityLen = rest.segmentLength(c => c != '/' && c != '?' && c != '#')
      p.scheme + "://" + rest.substring(0, authorityLen).toLowerCase + rest.substring(authorityLen)
    case None => raw
  }

  private def isDefaultPort(scheme: String, port: Int): Boolean =
    (scheme == "http" && port == 80) || (scheme == "https" && port == 443)

  /** Engine canonical form for the URL-seen set. */
  def canonicalizeUrl(raw: String): String = parseUrl(raw.trim) match {
    case Some(p) =>
      val port = if (isDefaultPort(p.scheme, p.port)) -1 else p.port
      val path0 = if (p.path.isEmpty) "/" else p.path
      val path = if (path0.length > 1 && path0.endsWith("/")) path0.dropRight(1) else path0
      val hp = if (port >= 0) s"${p.host}:$port" else p.host
      s"${p.scheme}://$hp$path${p.query}"
    case None => raw.trim
  }

  /** Hostname extraction (`events.go:299-305`): lowercase host, no port. */
  def hostOf(raw: String): String = parseUrl(raw).map(_.host).getOrElse("")

  def schemeOf(raw: String): String = parseUrl(raw).map(_.scheme).getOrElse("")

  // ---------------------------------------------------------------------
  // Hashing. North rule: murmur3 over the canonical URL. We use the exact
  // same Murmur3_x86_32 (seed 42) Spark's `hash()` uses, so the Column
  // side is just functions.hash and the Scala side matches bit-for-bit.
  // ---------------------------------------------------------------------
  def murmur3(s: String): Int = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Murmur3_x86_32.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42)
  }

  /** url_hash is the murmur3 widened to long (schema wants int64). */
  def urlHash(canon: String): Long = murmur3(canon).toLong

  def urlHashCol(canon: Column): Column = hash(canon).cast("long")

  /** Salted host hash — partition key. The salt divides one hot host
    * across `salts` buckets while the per-host budget stays global
    * (deterministic quota split, SURVEY.md §7.4). Salt is derived from
    * url_hash so it is a pure function of the row.
    */
  def hostSalt(host: String, urlHash: Long, salts: Int): Int = {
    val s = if (salts <= 1) 0 else (Math.floorMod(urlHash, salts.toLong)).toInt
    murmur3(host) * 31 + s
  }

  def hostSaltCol(host: Column, urlHash: Column, salts: Int): Column = {
    // compute in long, then wrap to 32-bit two's-complement explicitly:
    // ANSI mode rejects the silent int overflow the JVM twin relies on
    val v = hash(host).cast("long") * lit(31L) + pmod(urlHash, lit(salts.toLong))
    (pmod(v + lit(2147483648L), lit(4294967296L)) - lit(2147483648L)).cast("int")
  }

  // ---------------------------------------------------------------------
  // Domain normalize / match (`events.go:307-360`).
  // ---------------------------------------------------------------------
  def normalizeDomain(domain: String): String = {
    var d = domain.trim.toLowerCase
    if (d.isEmpty) return ""
    if (d.contains("://") || d.startsWith("//")) {
      parseUrl(if (d.startsWith("//")) "https:" + d else d).foreach(p => if (p.host.nonEmpty) d = p.host)
    } else {
      parseUrl("https://" + d).foreach(p => if (p.host.nonEmpty) d = p.host)
    }
    d = d.stripPrefix("*.").stripPrefix(".")
    d
  }

  def matchesAnyDomain(host: String, domains: Seq[String]): Boolean =
    host.nonEmpty && domains.exists(d => host == d || host.endsWith("." + d))

  /** `host == d OR host LIKE '%.d'` as a Column (broadcast-small list). */
  def matchesAnyDomainCol(host: Column, domains: Seq[String]): Column =
    domains.map(d => host === lit(d) || host.endsWith(lit("." + d)))
      .foldLeft(lit(false))(_ || _)

  // ---------------------------------------------------------------------
  // Status-code sentinel expansion (`events.go:215-227`): each of
  // 199/299/399/499/599 present in the list pulls in its whole century.
  // ---------------------------------------------------------------------
  def expandStatusCodes(codes: Seq[Int]): Seq[Int] = {
    val sentinels = Seq(199, 299, 399, 499, 599)
    codes ++ sentinels.filter(codes.contains).flatMap(c => (c - 99) to c)
  }

  def statusMatches(status: Int, codes: Seq[Int]): Boolean =
    expandStatusCodes(codes).contains(status)

  /** Column predicate: status covered by `codes` after expansion. */
  def statusMatchesCol(status: Column, codes: Seq[Int]): Column = {
    val expanded = expandStatusCodes(codes).distinct
    // centuries compress to range predicates (no 600-element IN list)
    val centuries = Seq(199, 299, 399, 499, 599).filter(codes.contains)
    val exact = codes.filterNot(centuries.contains)
    val rangePred = centuries.map(c => status >= lit(c - 99) && status <= lit(c))
      .foldLeft(lit(false))(_ || _)
    val _ = expanded
    if (exact.isEmpty) rangePred else rangePred || status.isin(exact.map(Integer.valueOf): _*)
  }

  // ---------------------------------------------------------------------
  // URL path templating — crawler-trap detection. Collapsing digit runs
  // to a `{n}` placeholder folds /item/123, /item/124, … into one
  // template; a template whose URL count explodes relative to its peers
  // is the signature of a trap (infinite calendars, session-id paths,
  // pagination loops) that a frontier must cap. The reference's crawl
  // options expose per-route URL filters (`pkg/modules/api/context.go`
  // allow/deny lists) — template mining is how those lists get WRITTEN
  // at web scale.
  // ---------------------------------------------------------------------

  /** Digit runs → `{n}` (pure codegen regex projection). */
  def pathTemplateCol(path: Column): Column =
    regexp_replace(path, "[0-9]+", "{n}")
}
