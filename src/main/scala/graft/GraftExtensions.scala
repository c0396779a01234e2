package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{And, Expression, ExpressionInfo, PredicateHelper, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{DotF64, DotI8, Murmur3Seed}

/** Optimizer rule (SURVEY §4 item 3): within a Filter's conjunction,
  * evaluate cheap codegen-able predicates BEFORE ScalaUDF-bearing
  * ones. Spark evaluates And-conjuncts left to right and Catalyst
  * does not cost-reorder them, so `udfPred && cheapPred` pays the UDF
  * serialization boundary for every row even when the cheap predicate
  * would discard it — exactly the reference's quality-gate
  * short-circuit concern (`gatekeeper_logic.py:348-365`). Safe only
  * when every conjunct is deterministic (reordering non-deterministic
  * predicates changes semantics), and a fixed point, so the optimizer
  * converges. */
object CheapPredicatesFirst extends Rule[LogicalPlan]
    with PredicateHelper {
  private def hasUdf(e: Expression): Boolean =
    e.exists(_.isInstanceOf[ScalaUDF])
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val (udf, cheap) = conjuncts.partition(hasUdf)
      if (udf.nonEmpty && cheap.nonEmpty &&
          conjuncts != cheap ++ udf &&
          conjuncts.forall(_.deterministic))
        Filter((cheap ++ udf).reduce(And), child)
      else f
  }
}

/** SparkSessionExtensions entry point (SURVEY §4): registers the
  * engine's custom Catalyst expressions in the SQL function registry,
  * so `spark.sql` users get them too:
  *
  *   graft_murmur3(str_or_bin[, seed]) → INT   (mmh3-compatible)
  *   dot_f64(arr, arr) → DOUBLE                (sequential dot product)
  *
  * plus the [[CheapPredicatesFirst]] optimizer rule.
  *
  * Activate with:
  *   SparkSession.builder().withExtensions(new GraftExtensions)  or
  *   --conf spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_murmur3"),
      new ExpressionInfo(classOf[Murmur3Seed].getName, "graft_murmur3"),
      GraftExtensions.murmur3Builder))
    ext.injectFunction((
      new FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[DotF64].getName, "dot_f64"),
      GraftExtensions.dotBuilder))
    ext.injectFunction((
      new FunctionIdentifier("dot_i8"),
      new ExpressionInfo(classOf[DotI8].getName, "dot_i8"),
      GraftExtensions.dotI8Builder))
    ext.injectOptimizerRule(_ => CheapPredicatesFirst)
    ext.injectOptimizerRule(_ => graft.plans.BucketedRangeJoin)
    ext.injectPlannerStrategy(_ => graft.plans.GraftAsOfStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.CosineTopKStrategy)
  }
}

object GraftExtensions {
  private[graft] val murmur3Builder: Seq[Expression] => Expression = {
    case Seq(c) => Murmur3Seed(c, 0)
    case Seq(c, seed) => Murmur3Seed(c,
      seed.eval().asInstanceOf[Number].intValue())
    case _ => throw new IllegalArgumentException(
      "graft_murmur3(input[, seed])")
  }
  private[graft] val dotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotF64(a, b)
    case _ => throw new IllegalArgumentException("dot_f64(a, b)")
  }
  private[graft] val dotI8Builder: Seq[Expression] => Expression = {
    case Seq(a, b) => DotI8(a, b)
    case _ => throw new IllegalArgumentException("dot_i8(a, b)")
  }

  /** Register on an already-running session (getOrCreate ignores
    * builder extensions when a session exists). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_murmur3", murmur3Builder,
      "scala_udf")
    reg.createOrReplaceTempFunction("dot_f64", dotBuilder, "scala_udf")
    reg.createOrReplaceTempFunction("dot_i8", dotI8Builder, "scala_udf")
  }
}
