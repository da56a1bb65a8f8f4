package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** `private[sql]` accessor (the GraftColumnAccess precedent):
  * [[graft.plans.Lineage.truncate]] re-wraps a checkpointed frame to
  * reset the leaf's carried statistics. The public `createDataFrame`
  * route decodes every InternalRow to an external Row and re-encodes it
  * on every downstream read — a per-row, per-round tax inside iterative
  * operators. This bridge wraps the ALREADY-materialized InternalRow
  * RDD directly (fresh `LogicalRDD`, default stats, zero conversion).
  */
object GraftInternalFrameAccess {
  /** A frame over an already-built plan — [[graft.Tables]] serves its
    * cached source relations through this (the `Dataset.ofRows` bridge). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def wrap(spark: SparkSession, rdd: RDD[InternalRow],
           schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  def internalRdd(df: DataFrame): RDD[InternalRow] =
    df.queryExecution.toRdd
}
