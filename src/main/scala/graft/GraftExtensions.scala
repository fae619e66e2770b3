package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.expressions.{MovingAvg, PolyHash}
import graft.plans.{AsofJoinStrategy, ParamLiteralStrategy}

/**
 * SparkSessionExtensions entry point: registers the engine's native
 * expressions under SQL names, so plain `spark.sql` users get them:
 *
 *   spark.sql("SELECT graft_moving_avg(arr, 3) FROM t")
 *   spark.sql("SELECT graft_poly_hash(text) FROM docs")
 *
 * and the engine's planner strategies (see [[GraftExtensions.install]]).
 *
 * Enable with
 *   .config("spark.sql.extensions", "graft.GraftExtensions")
 * or inject programmatically via `SparkSession.builder.withExtensions`.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // whole-operator extension: the native as-of join strategy
    // (graft.plans.AsofJoin -> AsofJoinExec)
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    // request values reach generated code as parameters
    ext.injectPlannerStrategy(ParamLiteralStrategy(_))
  }
}

object GraftExtensions {

  /** The function descriptors, shared by extension injection (new
    * sessions) and direct registry registration (existing sessions). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      FunctionIdentifier("graft_moving_avg"),
      new ExpressionInfo(classOf[MovingAvg].getName, "graft_moving_avg"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_moving_avg(array, k)")
        val k = args(1) match {
          case Literal(v: Int, _) => v
          case Literal(v: Long, _) => v.toInt
          case other => throw new IllegalArgumentException(
            s"graft_moving_avg: k must be a literal integer, got $other")
        }
        MovingAvg(args.head, k)
      }),
    (
      FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_poly_hash(str)")
        PolyHash(args.head)
      }),
    (
      FunctionIdentifier("graft_cosine_sim"),
      new ExpressionInfo(
        classOf[graft.functions.expressions.CosineSim].getName,
        "graft_cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine_sim(arr, arr)")
        // same implicit widening the Scala API applies: CosineSim has
        // no ImplicitCastInputTypes, so an uncast array<float>/<int>
        // argument would fail type-check through SQL while the
        // identical call works via cosine_sim()
        val dbl = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)
        graft.functions.expressions.CosineSim(
          org.apache.spark.sql.catalyst.expressions.Cast(args(0), dbl),
          org.apache.spark.sql.catalyst.expressions.Cast(args(1), dbl))
      }))

  /** Install the planner strategies on an EXISTING session, which
    * was built without `spark.sql.extensions` (or `getOrCreate` ignored
    * `withExtensions`). Idempotent: a strategy the session's planner
    * already has, injected or installed, is not added again. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.experimental.synchronized {
      val present = spark.sessionState.planner.strategies.map(_.getClass)
      val missing = Seq(AsofJoinStrategy, ParamLiteralStrategy(spark))
        .filterNot(s => present.contains(s.getClass))
      if (missing.nonEmpty)
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies ++ missing
    }

  /** Register into an EXISTING session (getOrCreate ignores
    * withExtensions once a session exists). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}
