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
    def inject(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    // the kernels whose arguments are plain columns, checked by count
    Seq[(String, Class[_], Int, Seq[Expression] => Expression)](
      ("ascii_clean", classOf[AsciiClean], 1, c => AsciiClean(c.head)),
      ("ws_tokens", classOf[WsTokens], 1, c => WsTokens(c.head)),
      ("dot_product", classOf[DotProduct], 2, c => DotProduct(c(0), c(1))),
      ("hex_msb_mask", classOf[HexMsbMask], 1, c => HexMsbMask(c.head)),
      ("gopher_gram_stats", classOf[GopherGramStats], 1, c => GopherGramStats(c.head)),
      ("gopher_line_stats", classOf[GopherLineStats], 1, c => GopherLineStats(c.head)),
      ("line_filter_stats", classOf[LineFilterStats], 1, c => LineFilterStats(c.head))
    ).foreach { case (name, cls, arity, mk) =>
      inject(name, cls) { children =>
        if (children.size == arity) mk(children)
        else throw new IllegalArgumentException(s"$name expects exactly $arity " +
          s"argument${if (arity == 1) "" else "s"}, got ${children.size}")
      }
    }
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
    inject("gram_multiset_stats", classOf[GramMultisetStats]) {
      case Seq(c, w, h) if w.foldable &&
          w.dataType == org.apache.spark.sql.types.IntegerType &&
          h.foldable &&
          h.dataType == org.apache.spark.sql.types.BooleanType =>
        GramMultisetStats(c, w.eval(null).asInstanceOf[Int],
          h.eval(null).asInstanceOf[Boolean])
      case children => throw new IllegalArgumentException(
        "gram_multiset_stats expects (ARRAY<STRING>, constant INT, " +
          s"constant BOOLEAN), got ${children.size} args")
    }
    inject("cdc_boundary_ends", classOf[CdcBoundaryEnds])(
      constWidth("cdc_boundary_ends")(CdcBoundaryEnds.apply))
    inject("winnow_fps", classOf[WinnowFps])(constWidth("winnow_fps")(WinnowFps.apply))
    // upgrade hand-composed regex cleanup chains to the native expression
    ext.injectOptimizerRule(_ => graft.plans.CleanupChainRule)
  }
}
