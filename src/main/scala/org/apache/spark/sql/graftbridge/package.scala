package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge. Spark 4 made the classic converters
  * `private[sql]`, so third-party Catalyst expressions need this minimal
  * shim inside the sql package to surface as user-facing Columns (the
  * same technique Spark-ecosystem libraries use; no internals are
  * modified, only re-exported).
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The schema union Parquet `mergeSchema` applies to file footers:
    * `a`'s fields in order, then `b`'s new ones; shared fields must have
    * compatible types (else it throws), under the session's case
    * sensitivity. Every field comes out nullable, as Spark writes and
    * infers file-source columns.
    */
  def mergeSchemas(a: StructType, b: StructType): StructType =
    a.asNullable.merge(b.asNullable, SQLConf.get.caseSensitiveAnalysis)

  /** Rebuild a checkpoint-backed DataFrame's scan with
    * `UnknownPartitioning`, working around a Spark canonicalization gap
    * that silently disables exchange reuse under iterative operators.
    *
    * `Dataset.localCheckpoint` records the plan's physical output
    * partitioning on the resulting `LogicalRDD` (e.g.
    * `hashpartitioning(u, v, 8)` after a `distinct()`). When the
    * checkpointed frame is then self-joined or self-unioned, analysis
    * dedup gives each instance FRESH attribute ids — and
    * `RDDScanExec.outputPartitioning` is not normalized by plan
    * canonicalization, so two structurally identical subtrees over the
    * SAME checkpoint RDD compare unequal and `ReuseExchange` never
    * fires. Measured on the connected-components round: the `large`
    * two-join subtree recomputed once per consumer — six extra
    * 16-task stages per round at bench scale, and the same silent
    * plan-tree duplication at any scale.
    *
    * Dropping the recorded partitioning is free here: a checkpoint
    * consumed through fresh exchanges can never exploit it (the
    * downstream keys differ), and every iterative-operator round
    * re-shuffles on its own keys by construction. Origin stats are not
    * reattachable (constructor-private), so consumers see unknown
    * size — conservative for join-side planning, which is exactly what
    * node-scale graph tables want (never broadcast).
    *
    * The recorded `outputOrdering` (and origin constraints) are dropped
    * along with the partitioning: `SortOrder` carries the same
    * per-instance attribute references the canonicalization gap trips
    * on, and no caller checkpoints a sorted frame — the iterative
    * operators this serves re-shuffle every round. A future caller that
    * DOES checkpoint a sorted frame stays correct but pays a redundant
    * downstream sort; re-derive the ordering claim before preserving it
    * here.
    */
  def eraseScanPartitioning(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case l: LogicalRDD if l.outputPartitioning != UnknownPartitioning(0) =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        val cleaned = LogicalRDD(l.output, l.rdd, UnknownPartitioning(0),
          Nil, l.isStreaming, l.stream)(session, None, None)
        classic.Dataset.ofRows(session, cleaned)
      case _ => df
    }
}
