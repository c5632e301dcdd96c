package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Prompt release for localCheckpoint-backed frames.
  *
  * `Dataset.unpersist` only clears CacheManager entries, and a
  * checkpointed frame has none: its materialized blocks belong to the
  * RDD inside the plan's `LogicalRDD` leaf, which `localCheckpoint`
  * persisted directly. Those blocks are otherwise freed only when the
  * ContextCleaner notices the RDD is garbage — i.e. at some future GC,
  * not when the engine evicts a memo or supersedes a doubling round.
  * On a long-lived session over 100 TB-scale state that lag is real
  * block-manager pressure, so every eviction path calls `free`, which
  * walks the analyzed plan and unpersists the checkpointed RDDs
  * themselves (plus the CacheManager call, for frames that were ALSO
  * persisted). Safe on arbitrary frames: non-persisted RDDs treat
  * unpersist as a no-op.
  *
  * Each checkpointed RDD is unpersisted once per call, however many
  * leaves reach it: a frame that unions a checkpoint with itself, or
  * frames freed together that share one, would otherwise remove the
  * same blocks again (a WARN and "block does not exist" lines each).
  */
private[graft] object Checkpoints {
  def free(dfs: DataFrame*): Unit = {
    dfs.foreach(_.unpersist(blocking = false))
    dfs.flatMap(_.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd })
      .distinctBy(_.id)
      .foreach(_.unpersist(blocking = false))
  }
}
