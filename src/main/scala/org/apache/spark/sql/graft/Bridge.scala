package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 keeps `ExpressionUtils` (and friends)
  * `private[sql]`; placing this one-file shim inside the `org.apache.spark
  * .sql` namespace is the standard library-extension access path — no Spark
  * internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → Expression through the REAL node converter. `expression`
    * wraps the column node in a lazy `ColumnNodeExpression`, which only
    * Dataset-API plan conversion unwraps — an expression handed to the SQL
    * function registry keeps the wrapper all the way to codegen and dies
    * `Unevaluable`. This eager conversion yields plain catalyst nodes
    * (`UnresolvedFunction` children included, which the SQL analyzer then
    * resolves normally) — use it when a Column-built expression must enter
    * a SQL plan.
    */
  def sqlExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `c` as `spark`'s own analyzer resolves it over a relation with the
    * columns `inputs`, bound to their positions: the expression a plan over
    * such rows evaluates, for an interpreted projection on the driver.
    * Analysis runs under `spark`'s conf, so the result types, the decimal
    * precision and the ANSI mode in the expression are that session's. */
  def boundExpression(spark: org.apache.spark.sql.SparkSession, c: Column,
      inputs: org.apache.spark.sql.types.StructType): Expression = {
    val rel = org.apache.spark.sql.catalyst.plans.logical.LocalRelation(inputs)
    val analyzed = org.apache.spark.sql.classic.Dataset
      .ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], rel)
      .select(c).queryExecution.analyzed
    val e = analyzed.expressions.head match {
      case org.apache.spark.sql.catalyst.expressions.Alias(child, _) => child
      case other => other
    }
    org.apache.spark.sql.catalyst.expressions.BindReferences.bindReference(e, rel.output)
  }

  /** `body` with `spark`'s conf as the thread's active one. */
  def withConf[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A =
    org.apache.spark.sql.internal.SQLConf.withExistingConf(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf)(body)

  /** The materialized RDD behind a `localCheckpoint`ed DataFrame (its plan
    * is a `LogicalRDD` over the checkpoint blocks). Exposed so iterative
    * drivers can `unpersist` a SUPERSEDED checkpoint deterministically —
    * the ContextCleaner only frees those blocks at driver GC time.
    */
  def checkpointRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Unload every loaded streaming state-store provider. A finished
    * AvailableNow query leaves its providers registered until the periodic
    * maintenance thread next fires; deleting the query's checkpoint
    * directory first leaves maintenance pointed at vanished files — a race
    * that intermittently failed a LATER streaming query in the same session
    * (observed in a full Verify run). Gates call this after
    * `awaitTermination`, BEFORE deleting their checkpoint temp dirs.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Count the shuffle exchanges an EXECUTED plan actually ran, descending
    * through AQE's final plan and into materialized query stages (including
    * shuffles hidden inside broadcast-stage subtrees). InMemoryTableScan is
    * a leaf: a cache's internal build exchange is the cache's cost, not the
    * consuming plan's — which is exactly the distinction the LSH
    * candidate-stage plan pin needs ("the self-join adds NO exchange beyond
    * the cache build"). Run an action first; on an unexecuted AQE plan the
    * count reflects the initial plan.
    */
  def countShuffleExchanges(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Int = p.collect {
      case s: QueryStageExec => walk(s.plan)
      case _: ShuffleExchangeLike => 1
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    }.sum
    walk(df.queryExecution.executedPlan)
  }

  /** Whether a catalyst predicate can be translated into a data-source
    * `Filter` (i.e. is pushdown-eligible). Used by the plan-shape
    * regression spec to tell "scan ignored a pushable filter" (a bug)
    * apart from "filter is inherently non-pushable" (md5 ranges etc.).
    */
  def isPushable(e: Expression): Boolean =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true).isDefined
}
