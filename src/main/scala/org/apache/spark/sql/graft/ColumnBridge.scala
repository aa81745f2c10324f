package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters so graft's
  * custom Catalyst expressions can expose Column entry points (the same
  * pattern every Spark extension library uses to wrap native expressions).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame — `Dataset.ofRows` is
    * private[sql]; needed to expose custom logical operators like
    * graft's AsOfJoin through the public Dataset API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Drop a checkpointed frame's captured physical layout claims whose
    * expressions reference attributes OUTSIDE the frame's own output.
    *
    * `Dataset.localCheckpoint` captures the executed plan's
    * outputPartitioning/outputOrdering into the `LogicalRDD`
    * (`LogicalRDD.fromDataset`). Under non-adaptive execution
    * (`spark.sql.adaptive.enabled=false`; every
    * [[graft.ops.LoopScope.ckpt]] passes through here) a step whose
    * physical tail is a sort-merge join or window SORTS BY columns the final
    * projection then drops or renames — the captured SortOrder keeps
    * the PRE-projection attribute, producing a LogicalRDD whose
    * outputOrdering references attributes not in its output. That
    * frame is fine to execute, but any DESCENDANT plan that inherits
    * the ordering (logical order-preserving projects) and gets
    * `persist()`ed creates an InMemoryRelation whose cache reuse
    * crashes in `InMemoryRelation.withOutput` ("key not found",
    * Spark 4.1.2 InMemoryRelation.scala:474 — the ordering-remap
    * AttributeMap covers only the relation's output). Measured round
    * 15 on q90/q92/q144 and the streaming-service specs.
    *
    * This helper rebuilds the LogicalRDD with only the SELF-CONSISTENT
    * layout claims (ordering whose references ⊆ output; partitioning
    * likewise, else UnknownPartitioning) — semantics and the
    * materialized RDD are untouched; stats carry over. Non-LogicalRDD
    * plans pass through unchanged.
    */
  def stripDanglingLayout(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val cds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    cds.queryExecution.analyzed match {
      case l: LogicalRDD =>
        // field access, not `val Some(...) = LogicalRDD.unapply(l)` — a
        // refutable pattern bind compiles with a suppressible warning
        // and would MatchError if Spark ever changed unapply (scalac
        // warnings are load-bearing here, the round-7/round-9 rule)
        val (out, rdd, part, ord) =
          (l.output, l.rdd, l.outputPartitioning, l.outputOrdering)
        val outSet = AttributeSet(out)
        // PREFIX truncation, not filtering: an ordering claim is only
        // true for prefixes — dropping a middle column from
        // (src, cos, dst) would fabricate "sorted by (src, dst)",
        // which is false within equal-src runs and could elide a
        // required sort downstream
        val cleanOrd = ord.takeWhile(_.references.subsetOf(outSet))
        val cleanPart = part match {
          case e: Expression if !e.references.subsetOf(outSet) => UnknownPartitioning(0)
          case p => p
        }
        if (cleanOrd == ord && cleanPart == part) df
        else ofRows(df.sparkSession, LogicalRDD(out, rdd, cleanPart, cleanOrd, l.isStreaming, l.stream)(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(l.stats), None))
      case _ => df
    }
  }
}
