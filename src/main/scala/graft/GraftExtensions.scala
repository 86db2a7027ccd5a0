package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: makes graft's native expressions
  * available to ANY session built with
  * `spark.sql.extensions=graft.GraftExtensions` (spark-submit, JDBC
  * gateways, notebooks) — the deployment-grade injection path, mirroring
  * how the reference registers built-ins once in FunctionRegistry's
  * static block (ql/exec/FunctionRegistry.java:193).
  *
  * `Engine.prepare` registers the same function lists at runtime for
  * sessions built without the config (e.g. one handed in by a caller
  * that built its own).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    (graft.functions.Registry.native ++ graft.functions.TableFunctions.all)
      .foreach { case (name, builder, usage) =>
        e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
      }
    // the HiveQL dialect surface as a session parser (inert until the
    // session sets spark.graft.dialect=true) — the Spark Connect /
    // JDBC-gateway remote entry, mirroring HiveServer2's SQLOperation
    e.injectParser((session, delegate) =>
      new GraftSqlParser(session, delegate))
    e.injectOptimizerRule(_ => graft.plans.StatsAnswerRule())
    e.injectResolutionRule(_ => graft.plans.HiveCharCoercion)
    e.injectResolutionRule(_ => graft.plans.HiveCasts)
    e.injectPostHocResolutionRule(_ => graft.plans.HiveCharArgStrip)
    e.injectPostHocResolutionRule(_ =>
      graft.plans.HiveInSubqueryCoercion)
  }
}
