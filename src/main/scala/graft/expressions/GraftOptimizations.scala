package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{
  Add, And, ArrayAggregate, AttributeSet, Divide, Expression,
  LambdaFunction, Literal, Multiply, NamedLambdaVariable,
  PredicateHelper, Sqrt, Subtract, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.{
  Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.plans.AsOfJoinPlan

/** Catalyst optimizer rule: algebraic simplification of the engine's
  * native expressions. Currently: `array_cosine(x, x)` → 1.0 for any
  * deterministic non-null x (self-cosine identity) — the kind of rewrite
  * that turns an accidental O(n·d) self-comparison into a constant.
  */
object SimplifySelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayCosine(l, r)
          if l.deterministic && l.semanticEquals(r) && !l.nullable =>
        Literal(1.0, DoubleType)
    }
}

/** Catalyst optimizer rule: FUSE the naive higher-order-function cosine
  * composition — `aggregate(zip_with(a,b,*),0,+) / (sqrt(dot(a,a)) *
  * sqrt(dot(b,b)))`, six array walks across four HOF evaluations — into
  * the single-pass native [[ArrayCosine]] kernel. A user (or a generated
  * query) writing the textbook formulation gets the fused loop without
  * knowing the engine has one.
  *
  * Semantics: [[ArrayCosine]] mirrors the HOF on every input shape —
  * left-to-right accumulation → bit-identical doubles; NULL on ragged
  * input, where zip_with pads with null; NULL on a null element, which
  * poisons the HOF aggregate — with ONE documented canonicalization:
  * a zero-norm (or empty) vector divides 0/0, which under ANSI mode is
  * a DIVIDE_BY_ZERO error in the unfused form but IEEE NaN from the
  * native kernel. The rewrite deliberately maps that degenerate case to
  * the engine's native cosine semantics (the direct
  * [[graft.operators.Similarity.cosine]] API has always returned NaN
  * there) instead of preserving the runtime error. The match requires
  * the three dot-product subtrees to be semantically equal,
  * deterministic, double-array-typed trees of the exact
  * aggregate/zip_with shape the dot kernel produces. */
object CosineFusion extends Rule[LogicalPlan] {

  /** Matches aggregate(zip_with(a, b, (x,y) => x*y), 0.0,
    * (acc,v) => acc+v, id) — the HOF dot product. */
  private object Dot {
    def unapply(e: Expression): Option[(Expression, Expression)] =
      e match {
        case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(
              Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
              Seq(ax: NamedLambdaVariable, ay: NamedLambdaVariable), _)),
            Literal(zero, DoubleType),
            LambdaFunction(
              Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _),
              Seq(aacc: NamedLambdaVariable, av: NamedLambdaVariable), _),
            LambdaFunction(fin: NamedLambdaVariable,
              Seq(afin: NamedLambdaVariable), _))
          if zero == 0.0 &&
            x.exprId == ax.exprId && y.exprId == ay.exprId &&
            acc.exprId == aacc.exprId && v.exprId == av.exprId &&
            fin.exprId == afin.exprId =>
          Some((a, b))
        case _ => None
      }
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Divide(Dot(a, b),
          Multiply(Sqrt(Dot(a2, a3)), Sqrt(Dot(b2, b3)), _), _)
        if a.deterministic && b.deterministic &&
          isDoubleArray(a) && isDoubleArray(b) &&
          a.semanticEquals(a2) && a.semanticEquals(a3) &&
          b.semanticEquals(b2) && b.semanticEquals(b3) =>
        ArrayCosine(a, b)
    }
}

/** Catalyst optimizer rule: FUSE the textbook higher-order-function
  * squared-L2 — `aggregate(zip_with(a, b, (x,y) => (x−y)·(x−y)), 0.0,
  * +)`, which materializes a difference array and walks it again — into
  * the single-pass native [[ArrayL2Sq]] kernel. Sibling of
  * [[CosineFusion]], and STRICTLY semantics-preserving: identical
  * left-to-right IEEE operations (bit-equal doubles, L2ParitySpec),
  * identical NULL behavior on ragged/null-element input, and no
  * division anywhere so not even the zero-norm ANSI canonicalization
  * the cosine rewrite documents. */
object L2Fusion extends Rule[LogicalPlan] {

  /** Matches aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0,
    * (acc,v) => acc+v, id) — the HOF squared-L2. */
  private object SqDiffSum {
    def unapply(e: Expression): Option[(Expression, Expression)] =
      e match {
        case ArrayAggregate(
            ZipWith(a, b, LambdaFunction(
              Multiply(
                Subtract(x1: NamedLambdaVariable, y1: NamedLambdaVariable, _),
                Subtract(x2: NamedLambdaVariable, y2: NamedLambdaVariable, _),
                _),
              Seq(ax: NamedLambdaVariable, ay: NamedLambdaVariable), _)),
            Literal(zero, DoubleType),
            LambdaFunction(
              Add(acc: NamedLambdaVariable, v: NamedLambdaVariable, _),
              Seq(aacc: NamedLambdaVariable, av: NamedLambdaVariable), _),
            LambdaFunction(fin: NamedLambdaVariable,
              Seq(afin: NamedLambdaVariable), _))
          if zero == 0.0 &&
            x1.exprId == ax.exprId && y1.exprId == ay.exprId &&
            x2.exprId == ax.exprId && y2.exprId == ay.exprId &&
            acc.exprId == aacc.exprId && v.exprId == av.exprId &&
            fin.exprId == afin.exprId =>
          Some((a, b))
        case _ => None
      }
  }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case SqDiffSum(a, b)
        if a.deterministic && b.deterministic &&
          isDoubleArray(a) && isDoubleArray(b) =>
        ArrayL2Sq(a, b)
    }
}

/** Optimizer rules for the custom as-of join node. A LogicalPlan Catalyst
  * doesn't know is an optimization BARRIER — filters stop above it and
  * every column survives to the exchange. These two rules restore the
  * pieces that matter at scale:
  *
  *  - left-side filter pushdown: as-of output rows correspond 1:1 to left
  *    rows, so any deterministic predicate over left attributes commutes
  *    with the join and can run before the shuffle;
  *  - right-side column pruning: only the join keys, the timestamp, and
  *    right columns the parent actually uses need to be shuffled.
  */
object AsOfJoinPushdown extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, a: AsOfJoinPlan) =>
      val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(a.left.outputSet))
      if (push.isEmpty) f
      else {
        val pushed = a.copy(left = Filter(push.reduce(And), a.left))
        if (keep.isEmpty) pushed else Filter(keep.reduce(And), pushed)
      }
    case p @ Project(list, a: AsOfJoinPlan) =>
      val needed = AttributeSet(list.flatMap(_.references)) ++ a.references
      val rKeep = a.right.output.filter(needed.contains)
      if (rKeep.length < a.right.output.length)
        Project(list, a.copy(right = Project(rKeep, a.right)))
      else p
  }
}

/** SparkSessionExtensions entry point — registers the graft optimizer
  * rules and planner strategies on a foreign session, via the builder's
  * `withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.expressions.GraftExtensions`. Sessions
  * from [[graft.Sessions]] do not install it: graft queries register
  * what they need through `GraftExprBridge.ensure*`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CosineFusion)
    e.injectOptimizerRule(_ => L2Fusion)
    e.injectOptimizerRule(_ => SimplifySelfCosine)
    e.injectOptimizerRule(_ => AsOfJoinPushdown)
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
  }
}
