package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's custom Catalyst expressions for SQL use.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.functions.GraftExtensions` at
  *    session build time (the SparkSessionExtensions route), or
  *  - [[GraftFunctions.register]] on a live session.
  *
  * After either, `SELECT array_dot(a, b)` / `simhash60(hs)` /
  * `xhash60(s, 7)` / `minhash_sig(h) ... GROUP BY` work in spark.sql
  * strings as well as the Column API — the full custom-expression
  * surface is reachable from pure SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    // the interval-join planner rule (a live session gets the same
    // rule via graft.plans.GraftPlans.install)
    e.injectOptimizerRule(_ => graft.plans.RewriteRangeOverlapJoin)
  }
}

object GraftFunctions {

  /** The bin-width argument of SQL `range_overlap(s1,e1,s2,e2, w)`
    * must be a foldable integer literal — planning metadata, like the
    * xhash60 salt. */
  private def longLitOf(e: Expression): Long = {
    require(e.foldable, s"range_overlap bin width must be a literal, got $e")
    e.eval() match {
      case i: Int  => i.toLong
      case l: Long => l
      case other   => sys.error(s"range_overlap bin width must be an integer literal, got $other")
    }
  }

  /** The salt argument of SQL `xhash60(s, salt)` must be a foldable
    * integer literal — it is baked into the generated code, exactly
    * like the Column API's `Int` parameter. */
  private def saltOf(e: Expression): Int = {
    require(e.foldable, s"xhash60 salt must be a literal, got $e")
    e.eval() match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => sys.error(s"xhash60 salt must be an integer literal, got $other")
    }
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "array_dot"   -> (exprs => ArrayDotProduct(exprs(0), exprs(1))),
    "simhash60"   -> (exprs => SimHash60(exprs.head)),
    "xhash60"     -> (exprs => Xhash60Expr(exprs(0), saltOf(exprs(1)))),
    "minhash_sig" -> (exprs => MinHashSigAgg(exprs.head).toAggregateExpression()),
    "mg_topk"     -> (exprs => MgTopKAgg(exprs.head).toAggregateExpression()),
    "cms_sketch"  -> (exprs => CmsAgg(exprs.head).toAggregateExpression()),
    "range_overlap" -> (exprs =>
      RangeOverlap(exprs(0), exprs(1), exprs(2), exprs(3), longLitOf(exprs(4)))))

  /** Imperative registration on an existing session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
