package org.apache.spark.sql.graft

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Bridge to the private[spark] block release under `RDD.unpersist`.
  * For a locally checkpointed RDD, `unpersist` logs a WARN on every call
  * (its lineage was truncated, so it cannot be recomputed once the blocks
  * are gone). `graft.store.Checkpoints.free` and the suffix-array scratch
  * runs release such RDDs on purpose, once their last reader is done, so
  * the warning carries no news. `SparkContext.unpersistRDD` frees the
  * same blocks and posts the same unpersist event without it. Same seam
  * pattern as [[ListenerBridge]].
  */
object CheckpointBridge {
  def unpersist(rdd: RDD[_]): Unit = rdd.checkpointData match {
    case Some(_: LocalRDDCheckpointData[_]) =>
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    case _ => rdd.unpersist(blocking = false)
  }
}
