package graft.frontier

import graft.functions.{IpFunctions, UrlExprs, UrlFunctions}
import graft.model.{HostIps, RobotsRule}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Robots / allow-deny admission filter — the Spark re-expression of
  * `DecideOutbound` (`pkg/gotenberg/outbound.go:258-340`):
  *
  *   1. normalize = lowercase scheme+host (`outbound.go:268-270`);
  *   2. non-empty allow-list: OR-match required; a match BYPASSES the
  *      IP-class checks (`outbound.go:272-296,317-319`);
  *   3. deny-list always applies, even to allow-matched URLs — deny is
  *      checked after allow matching but before the bypass return
  *      (`outbound.go:298-315`);
  *   4. non-http(s) scheme: passes with no IP check (`outbound.go:321-323`);
  *   5. empty host → filtered (`outbound.go:325-328`);
  *   6. resolve host once and apply denyPrivate/denyPublic per address
  *      (`outbound.go:121-166`): with denyPrivate, ANY non-public
  *      resolved address rejects the URL; unresolvable host rejects.
  *
  * The rule set is tiny (operator-configured), so the regex ORs are
  * baked into Column expressions at plan time — fully codegen'd `rlike`,
  * no UDF, no shuffle; the host_map (synthetic DNS) join is a broadcast.
  *
  * Output: the input rows plus `robots_verdict` ("ok" | reason) — error
  * routing keeps rejected rows for the fetch_log, mirroring the
  * reference's ErrFiltered classification.
  */
object RobotsFilter {

  private def orMatch(c: Column, patterns: Seq[String]): Column =
    patterns.foldLeft(lit(false))((acc, p) => acc || c.rlike(withoutLeadingDotStar(p)))

  /** `p` without a leading `.*` or `.*?`. `rlike` asks whether the
    * pattern matches anywhere (`Matcher.find`), and `.*X` matches
    * somewhere exactly when `X` does: `.*` may match the empty string
    * at X's own start. The prefix only costs time — greedy, it runs to
    * the end of the input and backtracks at every start, O(n²) in the
    * URL's length. A prefix followed by `+`, `*`, `?` or `{` is a
    * different quantifier (possessive, nested, counted) and stays.
    */
  private[graft] def withoutLeadingDotStar(p: String): String = {
    val prefix = if (p.startsWith(".*?")) 3 else if (p.startsWith(".*")) 2 else 0
    if (prefix == 0 || (p.length > prefix && "+*?{".indexOf(p.charAt(prefix)) >= 0)) p
    else p.substring(prefix)
  }

  /** Adds `robots_verdict`. `urlCol` must be the RAW url column name;
    * `hostMap` is the synthetic DNS table.
    */
  def decide(
      spark: SparkSession,
      df: DataFrame,
      urlCol: String,
      rules: Seq[RobotsRule],
      hostMap: Dataset[HostIps],
      assumeNormalized: Boolean = false
  ): DataFrame = {
    val allows = rules.filter(_.rule == "allow").map(_.host_pattern)
    val denies = rules.filter(_.rule == "deny").map(_.host_pattern)
    val denyPrivate = rules.exists(_.deny_private_ips)
    val denyPublic = rules.exists(_.deny_public_ips)

    // normalization lowercases scheme+host; on an already-canonical
    // column it is the identity, so the UDF is skipped (hot path)
    val norm =
      if (assumeNormalized) col(urlCol)
      else udf(UrlFunctions.normalizeUrl _).apply(col(urlCol))

    val withNorm = df
      .withColumn("__norm", norm)
      .withColumn("__scheme", regexp_extract(col("__norm"), "^([a-z][a-z0-9+.-]*)://", 1))
      .withColumn("__host", UrlExprs.host(col("__norm")))
      .withColumn("__allow_matched",
        if (allows.isEmpty) lit(false) else orMatch(col("__norm"), allows))
      .withColumn("__deny_matched",
        if (denies.isEmpty) lit(false) else orMatch(col("__norm"), denies))

    // IP-class policy: broadcast-join the host map, classify each pinned
    // address with the exact IsPublicIP port. http-like schemes (http,
    // https, ws, wss — `outbound.go:224-231`) are subject to resolution
    // + IP-class rejection; anything else passes with no check.
    val httpLike = col("__scheme").isin("http", "https", "ws", "wss")
    val needIpCheck = lit(denyPrivate || denyPublic) && httpLike &&
      !col("__allow_matched")
    val anyNonPublic = udf { (host: String, ips: Seq[String]) =>
      val resolved = if (ips != null && ips.nonEmpty) ips
        else if (IpFunctions.parseIp(host).isDefined) Seq(host)
        else Seq.empty
      if (resolved.isEmpty) None // unresolvable
      else Some(resolved.exists(ip => !IpFunctions.isPublicIp(ip)))
    }
    val anyPublic = udf { (host: String, ips: Seq[String]) =>
      val resolved = if (ips != null && ips.nonEmpty) ips
        else if (IpFunctions.parseIp(host).isDefined) Seq(host)
        else Seq.empty
      if (resolved.isEmpty) None
      else Some(resolved.exists(ip => IpFunctions.isPublicIp(ip)))
    }

    val joined = withNorm.join(
      broadcast(hostMap.toDF().withColumnRenamed("host", "__host")),
      Seq("__host"), "left")

    val verdict =
      when(lit(allows.nonEmpty) && !col("__allow_matched"),
          lit("denied: no allow-list match")) // allow-miss precedes deny (outbound.go:272-296)
        .when(col("__deny_matched"), lit("denied: matches denied list"))
        .when(col("__allow_matched"), lit("ok")) // bypass: no IP checks
        .when(!httpLike, lit("ok")) // non-http-like scheme: no IP check (outbound.go:318-323)
        .when(col("__host") === "", lit("denied: no host"))
        .when(lit(denyPrivate) && needIpCheck &&
          coalesce(anyNonPublic(col("__host"), col("ips")), lit(true)),
          lit("denied: non-public address"))
        .when(lit(denyPublic) && needIpCheck &&
          coalesce(anyPublic(col("__host"), col("ips")), lit(true)),
          lit("denied: public address"))
        .otherwise(lit("ok"))

    joined
      .withColumn("robots_verdict", verdict)
      .drop("__norm", "__scheme", "__host", "__allow_matched", "__deny_matched", "ips")
  }
}
