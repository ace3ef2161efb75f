package graft

import graft.functions.{CosineSimilarityExpr, IpFunctions, TextFunctions, UrlFunctions}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** SQL-facing surface of the engine: `GraftFunctions.register(spark)`
  * registers the scalar ports as session functions on an existing
  * session, so `spark.sql` users get the same semantics as the
  * Column/Dataset API.
  */
object GraftFunctions {

  /** Column API for the native expression. */
  def cosine_similarity(a: Column, b: Column): Column = CosineSimilarityExpr.cosine(a, b)

  /** Analysis-time input cast for the native-expression SQL builders
    * (the same cast the Column API applies before handing bytes to the
    * fused loops).
    */
  private[graft] def castTo(e: org.apache.spark.sql.catalyst.expressions.Expression,
                            ddl: String): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e,
      org.apache.spark.sql.types.DataType.fromDDL(ddl))

  /** Register every scalar port on an existing session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity",
      exprs => CosineSimilarityExpr(exprs.head, exprs(1)), "scala_udf")
    spark.udf.register("url_canonicalize", udf(UrlFunctions.canonicalizeUrl _))
    spark.udf.register("url_normalize", udf(UrlFunctions.normalizeUrl _))
    spark.udf.register("url_host", udf(UrlFunctions.hostOf _))
    spark.udf.register("is_public_ip", udf(IpFunctions.isPublicIp _))
    spark.udf.register("sanitize_filename", udf(TextFunctions.sanitizeFilename _))
    spark.udf.register("to_inches", udf((s: String) =>
      TextFunctions.toInches(s).map(java.lang.Double.valueOf).orNull))
    spark.udf.register("markdown_to_html", udf(TextFunctions.markdownToHtml _))
    spark.udf.register("normalize_domain", udf(UrlFunctions.normalizeDomain _))
    // native codegen expressions (not UDFs): the SQL surface gets the
    // same fused loops as the Column API. Each builder validates arity
    // and inserts the input cast the Column API applies (a raw child of
    // the wrong type would read garbage bytes — getDouble on a float
    // array — or fail janino compilation, instead of a clean analysis
    // error).
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", { exprs =>
        require(exprs.length == 1, "simhash64(text) takes exactly 1 argument")
        graft.functions.SimHashExpr(castTo(exprs.head, "string"))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sq8_round_trip", { exprs =>
        require(exprs.length == 1, "sq8_round_trip(vec) takes exactly 1 argument")
        graft.functions.Sq8RoundTripExpr(castTo(exprs.head, "array<double>"))
      }, "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "word_shingles", { exprs =>
        require(exprs.length == 2, "word_shingles(text, k) takes exactly 2 arguments")
        require(exprs(1).foldable, "word_shingles k must be a literal")
        val k = exprs(1).eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case s: Short => s.toInt
          case b: Byte => b.toInt
          case other => throw new IllegalArgumentException(
            s"word_shingles k must be an integer literal, got $other")
        }
        graft.functions.ShinglesExpr(castTo(exprs.head, "string"), k)
      }, "scala_udf")
    spark.udf.register("rolling_fingerprint", udf((s: String) =>
      graft.datatools.TextAnalysis.rollingFingerprint(s)))
    // fused text-analysis scalars + the DuckDB-compatible md5 hash
    spark.udf.register("lang_id", udf(graft.datatools.TextAnalysis.langIdScala _))
    spark.udf.register("quality_score", udf(graft.datatools.TextAnalysis.qualityScoreScala _))
    spark.udf.register("token_count", udf(graft.datatools.TextAnalysis.tokenCountScala _))
    spark.udf.register("md5_number_lower", udf(graft.datatools.TextAnalysis.md5Lower64 _))
  }
}
