package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Lower, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{BoundedEnds, CosineSim, RollingHash, TopKFreq}

/** The library's `SparkSessionExtensions` entry point — enable with
  *
  *   spark.sql.extensions=graft.plans.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions()(_))` on the session builder).
  * Injects:
  *   - the native SQL functions `rolling_hash(text)` (codegen scalar,
  *     functions/RollingHash.scala), `cosine_sim(a, b)` (fused codegen
  *     cosine over float arrays, functions/CosineSim.scala),
  *     `top_k_freq(col, k[, capacity])` (bounded Misra-Gries aggregate,
  *     functions/TopKFreq.scala) and `bounded_ends(col, k)` (exact
  *     O(k)-memory k-smallest/k-largest aggregate,
  *     functions/BoundedEnds.scala), so pure-SQL users get them without
  *     touching the Scala API;
  *   - [[CollapseRepeatedCaseFold]], a small sound algebraic rule
  *     (idempotent case-folds collapse).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.rollingHashDescriptor)
    ext.injectFunction(GraftExtensions.topKFreqDescriptor)
    ext.injectFunction(GraftExtensions.cosineSimDescriptor)
    ext.injectFunction(GraftExtensions.boundedEndsDescriptor)
    ext.injectOptimizerRule(_ => CollapseRepeatedCaseFold)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"top_k_freq: $what must be an integer literal, got $other")
  }

  val rollingHashDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head))

  val cosineSimDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1)))

  val boundedEndsDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("bounded_ends"),
      new ExpressionInfo(classOf[BoundedEnds].getName, "bounded_ends"),
      (exprs: Seq[Expression]) =>
        BoundedEnds(exprs.head, intArg(exprs(1), "k")).toAggregateExpression())

  val topKFreqDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("top_k_freq"),
      new ExpressionInfo(classOf[TopKFreq].getName, "top_k_freq"),
      (exprs: Seq[Expression]) => {
        val k = intArg(exprs(1), "k")
        val capacity =
          if (exprs.length > 2) intArg(exprs(2), "capacity") else 1024
        TopKFreq(exprs.head, k, capacity).toAggregateExpression()
      })
}

/** lower(lower(x)) → lower(x), upper(upper(x)) → upper(x): case-folding is
  * idempotent, so the inner fold is pure per-row waste (shows up when users
  * compose normalizers that each defensively fold, e.g.
  * fingerprint(lower(x))). NOTE deliberately NOT lower(upper(x)) → lower(x):
  * that identity is unsound under Unicode (ß → upper SS → lower ss ≠ ß).
  */
object CollapseRepeatedCaseFold extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Lower(inner @ Lower(_)) => inner
      case Upper(inner @ Upper(_)) => inner
    }
}
