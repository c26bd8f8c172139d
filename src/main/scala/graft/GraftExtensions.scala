package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, ExpressionInfo, InterpretedOrdering}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{LOCAL_RELATION, SORT}

import graft.plans.{DotLong, DotProduct, GramHashExpression, MultisetOverlapExpression, NumToWordsExpression, ShingleHashExpression, SqDistLong, TokenNgramsExpression}

/** Engine SQL surface: registers graft-native functions so
  * `spark.sql("SELECT num_to_words(n) ...")` works in any session
  * configured with
  * `spark.sql.extensions=graft.GraftExtensions`, and the
  * [[SortLocalRelation]] optimizer rule.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SortLocalRelation)
    ext.injectFunction((
      new FunctionIdentifier("num_to_words"),
      new ExpressionInfo(classOf[NumToWordsExpression].getName,
        "num_to_words"),
      (children: Seq[Expression]) => NumToWordsExpression(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (children: Seq[Expression]) =>
        DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_l"),
      new ExpressionInfo(classOf[DotLong].getName, "vec_dot_l"),
      (children: Seq[Expression]) =>
        DotLong(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_sqdist_l"),
      new ExpressionInfo(classOf[SqDistLong].getName, "vec_sqdist_l"),
      (children: Seq[Expression]) =>
        SqDistLong(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hash64"),
      new ExpressionInfo(classOf[ShingleHashExpression].getName,
        "shingle_hash64"),
      (children: Seq[Expression]) =>
        ShingleHashExpression(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hash64_all"),
      new ExpressionInfo(classOf[GramHashExpression].getName,
        "shingle_hash64_all"),
      (children: Seq[Expression]) =>
        GramHashExpression(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("token_ngrams"),
      new ExpressionInfo(classOf[TokenNgramsExpression].getName,
        "token_ngrams"),
      (children: Seq[Expression]) =>
        TokenNgramsExpression(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("multiset_overlap"),
      new ExpressionInfo(classOf[MultisetOverlapExpression].getName,
        "multiset_overlap"),
      (children: Seq[Expression]) =>
        MultisetOverlapExpression(children(0), children(1))))
  }
}

/** A global sort of rows the driver already holds runs on the driver:
  * `Sort` over a non-streaming `LocalRelation`, with deterministic
  * order expressions, becomes the relation with its rows sorted, so
  * no range-partitioned exchange (and its sampling job) is planned.
  * The ordering is the one `SortExec` evaluates.
  */
object SortLocalRelation extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithPruning(
      _.containsAllPatterns(SORT, LOCAL_RELATION)) {
    case Sort(order, true, r: LocalRelation, _)
        if !r.isStreaming && order.forall(_.deterministic) =>
      val ordering = new InterpretedOrdering(
        BindReferences.bindReferences(order, r.output))
      r.copy(data = r.data.sorted(ordering))
  }
}
