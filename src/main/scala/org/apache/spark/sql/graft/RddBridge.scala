package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Bridge to the private[sql] `LogicalRDD` constructor: a frame over
  * rows of `output` that declares the partitioning and ordering the rows
  * already have, and their size, the way `Dataset.localCheckpoint`
  * declares its checkpointed plan's. A consumer whose required
  * distribution or ordering the declaration satisfies plans no exchange
  * and no sort for it. The caller vouches for the declaration: a false
  * one gives wrong results. Same seam pattern as [[ColumnBridge]].
  */
object RddBridge {
  def frame(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
            partitioning: Partitioning, ordering: Seq[SortOrder],
            rows: Long, bytes: Long): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val stats = Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))
    classic.Dataset.ofRows(s, LogicalRDD(output, rdd, partitioning, ordering)(s, Some(stats)))
  }
}
