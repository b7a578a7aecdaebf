package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType

/** Optimizer rule: rewrite truncating-division comparisons into raw-
  * column comparisons so they reach parquet as pushable filters.
  *
  *   `a div k >  c`  ⟹  `a >= (c+1)·k`
  *   `a div k >= c`  ⟹  `a >= c·k`        (k > 0, c ≥ 0)
  *
  * Motivation: watermark predicates over integer event time are
  * naturally written against a derived unit (`ts div 1000000 > wmMillis`
  * with `ts` in nanos — the reference splices its watermark into SQL the
  * same way, pipeline_architecture.py:221-224). The derived form is an
  * arithmetic expression the parquet source can't evaluate, so the scan
  * reads everything; the rewritten form lands in `PushedFilters` and
  * prunes row groups by ingestion time. `graft.etl.Pipeline.extract`
  * hand-applies this rewrite; the rule makes any ad-hoc query get it
  * for free.
  *
  * Soundness (`div` truncates toward zero, both operands long, k > 0):
  *   - trunc(a/k) > c  ⟺ a ≥ (c+1)·k   for c ≥ 0 (negatives included:
  *     (c+1)·k > 0);
  *   - trunc(a/k) ≥ c  ⟺ a ≥ c·k       for c ≥ 1; at c = 0 every
  *     a in (-k, 0) also truncates to 0, so the rewrite is a > -k;
  *   - trunc(a/k) < c  ⟺ a < c·k       for c ≥ 1; at c = 0 (trunc ≤ -1)
  *     it is a ≤ -k, i.e. a < 1-k;
  *   - trunc(a/k) ≤ c  ⟺ a < (c+1)·k   for c ≥ 0;
  *   - trunc(a/k) = c  ⟺ c·k ≤ a < (c+1)·k for c ≥ 1; at c = 0 it is
  *     -k < a < k.
  * Negative c is left untouched (truncation flips direction), as is any
  * product that would overflow Long.
  */
object DivComparisonPushdown extends Rule[LogicalPlan] {

  private def prod(c: Long, k: Long): Option[Long] = {
    val r = c * k
    // overflow check: Math.multiplyHigh-free version valid for k > 0
    if (c != 0 && r / c != k) None else Some(r)
  }

  /** (c+1)·k, None when c+1 itself overflows (c = Long.MaxValue). Without
    * this guard a tautological literal like `a div 1 <= Long.MaxValue`
    * would wrap c+1 to Long.MinValue and rewrite to an always-false
    * predicate, silently dropping every row.
    */
  private def prodSucc(c: Long, k: Long): Option[Long] =
    if (c == Long.MaxValue) None else prod(c + 1, k)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case GreaterThan(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(c: Long, LongType)) if k > 0 && c >= 0 =>
      prodSucc(c, k) match {
        case Some(bound) => GreaterThanOrEqual(a, Literal(bound, LongType))
        case None => GreaterThan(IntegralDivide(a, Literal(k, LongType)), Literal(c, LongType))
      }
    case GreaterThanOrEqual(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(0L, LongType)) if k > 0 =>
      // trunc(a/k) >= 0 ⟺ a > -k (a in (-k, 0) truncates to 0 too)
      GreaterThan(a, Literal(-k, LongType))
    case GreaterThanOrEqual(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(c: Long, LongType)) if k > 0 && c >= 1 =>
      prod(c, k) match {
        case Some(bound) => GreaterThanOrEqual(a, Literal(bound, LongType))
        case None => GreaterThanOrEqual(IntegralDivide(a, Literal(k, LongType)), Literal(c, LongType))
      }
    case LessThan(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(0L, LongType)) if k > 0 =>
      // trunc(a/k) < 0 ⟺ a <= -k
      LessThan(a, Literal(1 - k, LongType))
    case LessThan(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(c: Long, LongType)) if k > 0 && c >= 1 =>
      prod(c, k) match {
        case Some(bound) => LessThan(a, Literal(bound, LongType))
        case None => LessThan(IntegralDivide(a, Literal(k, LongType)), Literal(c, LongType))
      }
    case LessThanOrEqual(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(c: Long, LongType)) if k > 0 && c >= 0 =>
      prodSucc(c, k) match {
        case Some(bound) => LessThan(a, Literal(bound, LongType))
        case None => LessThanOrEqual(IntegralDivide(a, Literal(k, LongType)), Literal(c, LongType))
      }
    case EqualTo(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(0L, LongType)) if k > 0 =>
      // trunc(a/k) = 0 ⟺ -k < a < k
      And(GreaterThan(a, Literal(-k, LongType)), LessThan(a, Literal(k, LongType)))
    case EqualTo(
        IntegralDivide(a, Literal(k: Long, LongType), _),
        Literal(c: Long, LongType)) if k > 0 && c >= 1 =>
      (prod(c, k), prodSucc(c, k)) match {
        case (Some(lo), Some(hi)) =>
          And(GreaterThanOrEqual(a, Literal(lo, LongType)), LessThan(a, Literal(hi, LongType)))
        case _ => EqualTo(IntegralDivide(a, Literal(k, LongType)), Literal(c, LongType))
      }
  }
}

/** Session extensions for the engine: inject the pushdown rule (and
  * any future rules/strategies) via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or the
  * `spark.sql.extensions=graft.plans.GraftExtensions` config.
  * Constructing one also installs the engine's JVM-wide defaults
  * ([[GraftExtensions.installEngineDefaults]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  GraftExtensions.installEngineDefaults()

  private def binary(name: String)(build: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length != 2) {
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name,
          "expectedNum" -> "2",
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    }
    build(exprs(0), exprs(1))
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DivComparisonPushdown)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    // session-wide SQL registration of the custom codegen expressions
    // (graft.functions.VectorFunctions.register remains for sessions
    // built without extensions)
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName, "cosine_sim"),
      binary("cosine_sim")(graft.functions.CosineSimilarity(_, _))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("l2_dist"),
      new ExpressionInfo(classOf[graft.functions.L2Distance].getName, "l2_dist"),
      binary("l2_dist")(graft.functions.L2Distance(_, _))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("dot_vec"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "dot_vec"),
      binary("dot_vec")(graft.functions.DotProduct(_, _))))
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier("l2sq_dist"),
      new ExpressionInfo(classOf[graft.functions.L2SquaredDistance].getName, "l2sq_dist"),
      binary("l2sq_dist")(graft.functions.L2SquaredDistance(_, _))))
  }
}

object GraftExtensions {
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Capacity of Spark's JVM-wide cache of compiled generated classes.
    *
    * Spark reads the capacity once, when `CodeGenerator` initializes,
    * and defaults it to 100. Every engine statement runs through
    * whole-stage codegen, and the engine's statement mix needs more: a
    * whole lake run (MERGE, DELETE and reads on all five layouts, index
    * upkeep, table services, `Pipeline.run`) compiles 312 entries, the
    * LLM-data operator queries 110. At 100 the LRU evicts classes a round
    * compiled a moment before, and the round compiles them again: 225
    * compiles (1.8 s) in a timed lake round, against 18 (0.2 s) at 1,000;
    * those 18 differ in a predicate or commit-number literal. 1,000 is
    * over twice the largest set measured. The 312 entries hold 636
    * classes of 1.9 KB mean bytecode, 1.2 MB.
    */
  val CodegenCacheEntries = 1000

  /** Install the engine's defaults as `spark.*` system properties, which
    * the next `new SparkConf()` (the one `getOrCreate()` builds) reads.
    * A value already set as a system property is left alone, and a
    * builder's `.config(...)` still wins over it. A session that installs
    * the extensions through the `spark.sql.extensions` conf, or that
    * starts on an existing SparkContext, keeps Spark's own 100: its
    * SparkConf was read before this ran.
    */
  def installEngineDefaults(): Unit =
    System.getProperties.putIfAbsent(CodegenCacheKey, CodegenCacheEntries.toString)
}
