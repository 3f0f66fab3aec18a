package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Column ⇄ Expression bridge, and frames staged behind an RDD leaf.
  * Spark 4 made the constructors `private[sql]`; a library shipping
  * custom Catalyst expressions needs this one-file shim inside the sql
  * namespace (standard extension-library pattern — no Spark internals
  * are modified). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df`'s rows, collected in one SQL execution as `collect()` runs
    * them, as encoded rows decoded one at a time by the iterator: the
    * driver holds the compressed result blocks, never a boxed `Row` or
    * a decoded copy of every row. */
  def collectEncoded(df: DataFrame): Iterator[InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollectIterator()._2)
  }

  /** Free the block-manager storage behind a `localCheckpoint`ed
    * frame. `df.unpersist()` only reaches CacheManager entries; a
    * local checkpoint's blocks belong to the materialized RDD inside
    * the plan's LogicalRDD leaf and otherwise live until driver GC +
    * ContextCleaner get around to them — which is how an iterative
    * fixpoint loop (one checkpoint per round) accumulates O(rounds)
    * scratch instead of O(1). Safe ONLY once nothing will read the
    * frame again: a local checkpoint has no lineage to rebuild from.
    * No-op for plans without a LogicalRDD leaf. */
  def unpersistLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** `df` behind a leaf: its rows as an RDD persisted at `level`,
    * read back through a `LogicalRDD`. Plans built on the result are
    * analysed, optimised and AQE-re-planned over that one leaf instead
    * of `df`'s whole subtree, and however often they reference it, the
    * rows are computed once per partition (by the first job that reads
    * them) and read from the block manager after that.
    *
    * Lazy when `df`'s plan has no exchange (building an adaptive
    * plan's RDD runs its shuffle stages). The caller prunes `df` to the
    * columns downstream needs first — nothing is pushed through the
    * leaf.
    * Unlike `localCheckpoint` the RDD keeps its lineage, so a lost or
    * evicted block is recomputed, never a failed job. The blocks live
    * until the RDD is unreachable; ContextCleaner then removes them. */
  def stage(df: DataFrame, level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rows = ds.queryExecution.toRdd.map(_.copy()).persist(level)
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rows, ds, isStreaming = false))
  }
}
