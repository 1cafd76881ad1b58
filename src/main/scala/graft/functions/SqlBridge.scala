/* Lives in org.apache.spark.sql because Spark 4.x marks the classic
 * Expression<->Column conversions and the session FunctionRegistry
 * private[sql]. This is the standard pattern Spark extension libraries use
 * to expose a custom Catalyst Expression as a Column / SQL function; no
 * Spark internals are modified. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

object GraftSqlBridge {
  /** Wrap a Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Extract the Catalyst Expression backing a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register an Expression builder as a SQL-callable temp function,
    * once: registering it again would replace it and log a warning. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Unpersist the block storage behind a `localCheckpoint`ed Dataset.
    * `Dataset.unpersist` only talks to the cache manager; a local
    * checkpoint's blocks belong to the checkpointed RDD inside the
    * plan's `LogicalRDD` leaf and otherwise live until the DataFrame is
    * GC'd and the ContextCleaner gets around to them — build paths that
    * checkpoint a bounded fit slice free it EAGERLY with this once the
    * learned artifact is extracted (r11 verdict: accumulated checkpoint
    * blocks showed up as multi-second GC in later queries' stages).
    *
    * MUST be called on the checkpointed dataset ITSELF (whose analyzed
    * plan is exactly the one `LogicalRDD` leaf the checkpoint created),
    * never on something derived from it: localCheckpoint truncates
    * lineage, so freed blocks are unrecoverable, and a derived plan —
    * e.g. a join of two checkpointed inputs — would silently free EVERY
    * reachable checkpoint, breaking later actions on the inputs. That
    * call is a bug at the call site, so it throws instead of freeing
    * (r12 advice: the multi-leaf behavior was a footgun). No-op on
    * plans with no LogicalRDD leaf (already freed / never pinned). */
  def freeLocalCheckpoint(ds: Dataset[_]): Unit = {
    val leaves = ds.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
      .collect { case lr: org.apache.spark.sql.execution.LogicalRDD => lr }
    require(leaves.size <= 1,
      s"freeLocalCheckpoint on a ${leaves.size}-leaf plan: call it on " +
        "each checkpointed dataset itself, not on a plan derived from " +
        "several (freeing all reachable checkpoints would be silent " +
        "data loss for the others' consumers)")
    leaves.foreach(_.rdd.unpersist(blocking = false))
  }
}
