package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.{Alias => NodeAlias, UnresolvedAttribute => NodeAttr}

/** Minimal access shim: `ExpressionUtils` is `private[sql]`, so the
  * Column↔Expression bridge our native expressions need lives in an
  * `org.apache.spark.sql` subpackage (the conventional technique for
  * Spark extension libraries).  Nothing else reaches into internals. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bounded top-k collect aggregate: the buffer is a k-bounded
    * priority queue, so map-side partials hold at most k elements and
    * the shuffle carries O(groups × k) — the reduction analog of
    * ORDER BY ... LIMIT k without ever sorting a whole group.
    * `reverse = false` keeps the k LARGEST items under the natural
    * ordering of `item`'s type (struct items compare field-wise). */
  def collectTopK(item: Column, k: Int, reverse: Boolean = false): Column =
    ExpressionUtils.column(
      new CollectTopK(ExpressionUtils.expression(item), k, reverse, 0, 0)
        .toAggregateExpression())

  /** Reliable-checkpoint file behind a `df.checkpoint()` result (the
    * plan is a LogicalRDD over the checkpointed internal RDD) — None
    * for anything else.  Lets iterative algorithms delete superseded
    * round checkpoints, which Spark never cleans by default. */
  def checkpointFile(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
      case _ => None
    }

  /** Unset the SparkContext-global checkpoint dir (`checkpointDir` is
    * `private[spark]` and has no public unset).  Lets code that must
    * TEMPORARILY set the dir — the closure loop's reliable-checkpoint
    * rounds — restore a previously-unset global instead of leaving it
    * pointed at a scratch dir, which matters now that
    * [[graft.ext.Components.materializeOnce]] dispatches on it. */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None

  /** Drain the async listener bus — metric-asserting tests (shuffle
    * byte ceilings) must not race event delivery.  `listenerBus` is
    * `private[spark]`, hence the shim home. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The schema a parquet scan reports for data written under
    * `schema`: every field, element and value nullable
    * (`StructType.asNullable` is `private[spark]`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** Output-column name a Column binds to: its alias, or its
    * attribute name.  None for nameless computed expressions. */
  def columnName(c: Column): Option[String] = c.node match {
    case a: NodeAlias => a.name.lastOption
    case u: NodeAttr  => u.nameParts.lastOption
    case _            => None
  }

  /** Strip a top-level alias (meaningless inside ORDER BY). */
  def stripAlias(c: Column): Column = c.node match {
    case a: NodeAlias => Column(a.child)
    case _            => c
  }
}
