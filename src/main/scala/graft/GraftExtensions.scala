package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{DotD, MinHash32, NormD, SimHash32}

/** The engine's `SparkSessionExtensions` hook — the one registration
  * path for every custom Catalyst surface the library ships (brief
  * §custom-operators tier (b)/(c)):
  *
  *  - `AsofJoinStrategy` planner strategy (the native as-of join
  *    LogicalPlan → SparkPlan mapping, [[graft.plans.AsofJoin]])
  *  - `simhash32(tokens)` / `minhash32(shingles, k)` native expressions
  *    (real `doGenCode`, [[graft.functions.SimHash32]] /
  *    [[graft.functions.MinHash32]])
  *  - `dot_d(a, b)` / `norm_d(v)` vector folds
  *    ([[graft.functions.VecMath]])
  *
  * Two callers read the list in the companion object:
  * [[GraftSession.builder]] applies this class through `withExtensions`
  * (deployments can also pass
  * `--conf spark.sql.extensions=graft.GraftExtensions`), and
  * [[GraftExtensions.setup]] installs the same surfaces on a session
  * built outside the engine.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def function(name: String, cls: Class[_], arity: Int)(
      build: FunctionBuilder): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), exprs => {
      require(exprs.length == arity, s"$name takes $arity arg(s), got ${exprs.length}")
      build(exprs)
    })

  private val functions = Seq(
    function("simhash32", classOf[SimHash32], 1)(e => SimHash32(e.head)),
    function("minhash32", classOf[MinHash32], 2)(MinHash32.fromExprs),
    function("dot_d", classOf[DotD], 2)(e => DotD(e(0), e(1))),
    function("norm_d", classOf[NormD], 1)(e => NormD(e.head)))

  private val strategies = Seq(graft.plans.AsofJoinStrategy)

  /** Installs the engine's functions, planner strategy and runtime SQL
    * defaults ([[GraftSession.sqlDefaults]]) on a session built outside
    * [[GraftSession]], such as a caller's own. Idempotent: it only adds
    * what the session lacks, and a conf key the session already holds
    * keeps its value. The pattern is Pathling's `SqlStrategy.setup`.
    */
  def setup(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    val planned = spark.sessionState.planner.strategies
    val missing = strategies.filterNot(planned.contains)
    if (missing.nonEmpty)
      spark.experimental.extraStrategies = missing ++ spark.experimental.extraStrategies
    GraftSession.sqlDefaults.foreach { case (k, v) =>
      if (!spark.sessionState.conf.contains(k)) spark.conf.set(k, v)
    }
  }
}
