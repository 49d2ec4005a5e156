package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions exposing graft's native expressions to SQL
  * (`SELECT ascii_clean(text) …`, `SELECT ws_tokens(line) …`). Installed
  * by `EngineSession.local`; external users pass `spark.sql.extensions=graft.expressions.GraftExtensions`.
  *
  * DataFrame-API callers don't need this — `TextFunctions.cleanLine` and
  * `TextFunctions.tokens` build the expressions directly — it exists so the
  * SQL surface is complete.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("ascii_clean"),
      new ExpressionInfo(classOf[AsciiClean].getName, "ascii_clean"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => AsciiClean(c)
        case _ => throw new IllegalArgumentException(
          s"ascii_clean expects exactly 1 argument, got ${children.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("ws_tokens"),
      new ExpressionInfo(classOf[WsTokens].getName, "ws_tokens"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => WsTokens(c)
        case _ => throw new IllegalArgumentException(
          s"ws_tokens expects exactly 1 argument, got ${children.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => DotProduct(a, b)
        case _ => throw new IllegalArgumentException(
          s"dot_product expects exactly 2 arguments, got ${children.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("hex_msb_mask"),
      new ExpressionInfo(classOf[HexMsbMask].getName, "hex_msb_mask"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => HexMsbMask(c)
        case _ => throw new IllegalArgumentException(
          s"hex_msb_mask expects exactly 1 argument, got ${children.size}")
      }))
    // the two windowed kernels take a plan-time-constant width: the SQL
    // form requires a foldable INT second argument (matching how the
    // DataFrame callers pass a Scala constant)
    def constWidth(name: String)(mk: (Expression, Int) => Expression)
        : Seq[Expression] => Expression = {
      case Seq(c, w) if w.foldable &&
          w.dataType == org.apache.spark.sql.types.IntegerType =>
        mk(c, w.eval(null).asInstanceOf[Int])
      case children => throw new IllegalArgumentException(
        s"$name expects (ARRAY<STRING>, constant INT), got ${children.size} args")
    }
    ext.injectFunction((
      new FunctionIdentifier("gram_multiset_stats"),
      new ExpressionInfo(classOf[GramMultisetStats].getName, "gram_multiset_stats"),
      (children: Seq[Expression]) => children match {
        case Seq(c, w, h) if w.foldable &&
            w.dataType == org.apache.spark.sql.types.IntegerType &&
            h.foldable &&
            h.dataType == org.apache.spark.sql.types.BooleanType =>
          GramMultisetStats(c, w.eval(null).asInstanceOf[Int],
            h.eval(null).asInstanceOf[Boolean])
        case children => throw new IllegalArgumentException(
          "gram_multiset_stats expects (ARRAY<STRING>, constant INT, " +
            s"constant BOOLEAN), got ${children.size} args")
      }))
    ext.injectFunction((
      new FunctionIdentifier("gopher_gram_stats"),
      new ExpressionInfo(classOf[GopherGramStats].getName, "gopher_gram_stats"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => GopherGramStats(c)
        case _ => throw new IllegalArgumentException(
          s"gopher_gram_stats expects exactly 1 argument, got ${children.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("gopher_line_stats"),
      new ExpressionInfo(classOf[GopherLineStats].getName, "gopher_line_stats"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => GopherLineStats(c)
        case _ => throw new IllegalArgumentException(
          s"gopher_line_stats expects exactly 1 argument, got ${children.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("line_filter_stats"),
      new ExpressionInfo(classOf[LineFilterStats].getName, "line_filter_stats"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => LineFilterStats(c)
        case _ => throw new IllegalArgumentException(
          s"line_filter_stats expects exactly 1 argument, got ${children.size}")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cdc_boundary_ends"),
      new ExpressionInfo(classOf[CdcBoundaryEnds].getName, "cdc_boundary_ends"),
      constWidth("cdc_boundary_ends")(CdcBoundaryEnds.apply)))
    ext.injectFunction((
      new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "winnow_fps"),
      constWidth("winnow_fps")(WinnowFps.apply)))
    // upgrade hand-composed regex cleanup chains to the native expression
    ext.injectOptimizerRule(_ => graft.plans.CleanupChainRule)
  }
}
