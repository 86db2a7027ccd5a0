package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan

/** Bridge to `private[sql]` Catalyst plumbing (Column <-> Expression).
  * Lives under org.apache.spark.sql solely for access; no Spark internals
  * are modified. Used by graft's custom Catalyst expressions.
  */
object GraftSqlShim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The DataFrame of a (possibly unresolved) logical plan; a command
    * plan runs eagerly, exactly once. */
  def dataFrame(session: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Eagerly converts the Column's node tree to a Catalyst expression.
    * Needed when an expression built from Column API (e.g. a typed UDAF
    * invocation) is returned from a FunctionRegistry builder — the lazy
    * ColumnNodeExpression wrapper would never be converted there. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Collects `df` through a plan that never goes adaptive, without
    * touching any conf: the session, and every query other threads plan
    * on it meanwhile, keep their AQE setting. (A cloned session would
    * do too, but each clone misses the generated-code cache.) */
  def collectNonAdaptive(df: DataFrame): Array[Row] = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = new QueryExecution(session, df.queryExecution.logical) {
      override protected def preparations: Seq[Rule[SparkPlan]] =
        super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
    }
    new classic.Dataset[Row](qe, ExpressionEncoder(qe.analyzed.schema)).collect()
  }

  /** Waits until every listener event posted so far is delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
