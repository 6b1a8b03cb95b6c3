/* Bridge into Spark's private[sql] helpers — the conventional pattern
 * for Spark-extension libraries that build custom logical plans (the
 * DataFrame constructor and Column→Expression conversion are not
 * otherwise reachable from user code), or that manage a streaming
 * query's state-store providers. Contains NO engine logic of its own.
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.streaming.StreamingQuery

object GraftSqlBridge {

  /** Wrap a custom LogicalPlan as a DataFrame on this session. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression behind a (classic) Column, EAGERLY
    * converted — ExpressionUtils.expression returns a lazy
    * ColumnNodeExpression wrapper that only resolves when the plan goes
    * through standard Dataset constructors, which a custom LogicalPlan
    * node does not.
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** -0.0/NaN canonicalization for float/double (struct/array included)
    * grouping keys — identity for types that don't need it. Custom
    * operators must apply this themselves: Spark's optimizer rule only
    * covers its own Aggregate/Join/Window nodes.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Every state-store provider `q`'s last executed plan uses: one per
    * stateful operator, state partition and store name. Empty for a
    * query that planned no batch or is not a classic query.
    */
  def stateStoreProviderIds(q: StreamingQuery): Seq[StateStoreProviderId] = q match {
    case w: StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).toSeq
        .flatMap(_.executedPlan.collect { case s: StateStoreWriter => s })
        .flatMap { s =>
          val info = s.getStateInfo
          for (p <- 0 until info.numPartitions; name <- s.stateStoreNames)
            yield StateStoreProviderId(info, p, name)
        }
    case _ => Nil
  }

  /** Close and unload every state-store provider of `q`'s last plan
    * that this JVM holds; other queries' providers stay loaded.
    */
  def releaseStateStores(q: StreamingQuery): Unit =
    stateStoreProviderIds(q).foreach(StateStore.removeFromLoadedProvidersAndClose(_))

  /** Whether this JVM holds a loaded provider for `id`. */
  def stateStoreLoaded(id: StateStoreProviderId): Boolean = StateStore.isLoaded(id)
}
