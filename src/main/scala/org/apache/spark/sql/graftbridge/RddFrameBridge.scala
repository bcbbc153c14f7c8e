package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Wrap an already-planned `RDD[InternalRow]` (e.g. `queryExecution.toRdd`)
  * back into a DataFrame (VERDICT/ADVICE r11 on `Tables.spread`): a plan
  * probed via `toRdd` under AQE has already materialized its shuffle
  * stages, and re-deriving a NEW query from the original logical plan
  * (`df.repartition(n)`) re-executes them — new QueryExecution, new
  * shuffle ids, no reuse. Building the follow-up query ON THE PROBED RDD
  * instead keeps the RDD identity, so its shuffle dependencies are
  * already satisfied and the scheduler skips those stages.
  *
  * Goes through Spark's own `LogicalRDD.fromDataset` — the
  * `Dataset.localCheckpoint` plan-construction path minus the block
  * persistence — because it CARRIES THE ORIGIN FRAME'S STATISTICS and
  * constraints: a bare `LogicalRDD` reports `defaultSizeInBytes` (8 EiB),
  * which poisons every downstream join-strategy estimate (measured this
  * round: q_minhash_dedup +34% from lost broadcasts before this was
  * routed through fromDataset). Rows are defensively copied, exactly as
  * the checkpoint path does: `toRdd` iterators may reuse UnsafeRow
  * instances and downstream buffering operators must see stable rows.
  * `fromDataset` / `Dataset.ofRows` are `private[sql]`, hence this bridge
  * (the ColumnBridge pattern).
  */
object RddFrameBridge {
  def wrap(df: DataFrame, rdd: RDD[InternalRow]): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    ClassicDataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(rdd.map(_.copy()), ds, isStreaming = false))
  }

  /** A DataFrame over a DSv2 table that no catalog names (a snapshot
    * pinned to a file subset): the same relation `spark.table` would
    * plan, so pushdown and column pruning apply. `withMetadata` adds the
    * table's metadata columns to the output. */
  def tableFrame(spark: org.apache.spark.sql.SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table,
      withMetadata: Boolean): DataFrame = {
    val rel = DataSourceV2Relation.create(table, None, None)
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession],
      if (withMetadata) rel.withMetadataColumns() else rel)
  }
}
