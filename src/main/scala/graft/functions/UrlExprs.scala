package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expressions for the URL scalars: the one Column form
  * of [[UrlFunctions.canonicalizeUrl]] and [[UrlFunctions.hostOf]] that
  * the crawl, the robots filter and the queries use.
  *
  * Three candidate implementations were measured at bench scale
  * (~4M URL rows/round):
  *   - Scala UDF over [[UrlFunctions.canonicalizeUrl]] — fast parser,
  *     but pays the serde + lambda boundary per row and blocks
  *     whole-stage codegen;
  *   - a built-in regex Column stack — codegen'd but evaluates 6 regex
  *     automata per row;
  *   - THIS: a unary expression whose generated code calls the static
  *     hand-rolled parser directly — single pass per row, no serde, no
  *     regex, stays inside the WholeStageCodegen stage.
  * UrlExprParitySpec pins both expressions to the Scala functions.
  */
case class CanonicalizeUrlExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(UrlFunctions.canonicalizeUrl(input.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.UrlFunctions.canonicalizeUrl($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "canonicalize_url"
}

/** Lowercased hostname of a URL — static-call twin of
  * [[UrlFunctions.hostOf]].
  */
case class HostOfExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(UrlFunctions.hostOf(input.toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"UTF8String.fromString(graft.functions.UrlFunctions.hostOf($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "url_host"
}

object UrlExprs {
  def canonicalize(url: Column): Column =
    GraftBridge.column(CanonicalizeUrlExpr(GraftBridge.expression(url)))
  def host(url: Column): Column =
    GraftBridge.column(HostOfExpr(GraftBridge.expression(url)))
}
