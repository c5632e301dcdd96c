package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CleanerBridge, ListenerBridge}

import graft.llm.Dedup
import graft.store.Checkpoints

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("free releases localCheckpoint blocks promptly, through derived plans") {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val ck = spark.range(0, 1000).toDF("x").localCheckpoint()
    val created = spark.sparkContext.getPersistentRDDs.keySet -- pre
    assert(created.nonEmpty, "localCheckpoint must register persistent blocks")
    // Dataset.unpersist alone is a no-op for checkpoint blocks — the
    // frame is not in the CacheManager; prove the hazard free() fixes
    ck.unpersist(blocking = false)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(created) == created,
      "plain Dataset.unpersist should NOT have released checkpoint blocks")
    // free() must find the LogicalRDD under derived operators (the memo
    // caches store renamed/projected frames, not the raw checkpoint)
    val derived = ck.withColumnRenamed("x", "y").filter(col("y") >= 0)
    Checkpoints.free(derived)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(created).isEmpty,
      "free must unpersist the checkpointed RDD itself")
  }

  test("free on a plain (never-persisted) frame is a harmless no-op") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    Checkpoints.free(df)
    assert(df.count() == 2L, "frame must stay computable after free")
  }

  test("free unpersists each checkpointed RDD once over a connectedComponents call") {
    // the CC exit frees the edge cache, whose plan reaches the pair
    // checkpoint p0 through four union branches, together with p0
    // itself: five leaves, one RDD, so exactly one unpersist
    val sc = spark.sparkContext
    val unpersisted, cleaned = new ConcurrentLinkedQueue[Int]()
    // RDDs the ContextCleaner reclaims after a GC are unpersisted again
    // by it; those are not the engine's calls
    CleanerBridge.onRddCleaned(sc)(id => cleaned.add(id))
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.add(e.rddId)
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    val labels = try {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
      val out = Dedup.connectedComponents(pairs)
      ListenerBridge.drain(sc)
      out
    } finally sc.removeSparkListener(listener)
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val byCleaner = cleaned.asScala.groupMapReduce(identity)(_ => 1)(_ + _)
    val byEngine = unpersisted.asScala.groupMapReduce(identity)(_ => 1)(_ + _)
      .map { case (id, n) => id -> (n - byCleaner.getOrElse(id, 0)) }
      .filter(_._2 > 0)
    assert(byEngine.nonEmpty, "connectedComponents freed no checkpoint")
    assert(byEngine.values.forall(_ == 1),
      s"RDDs unpersisted more than once: ${byEngine.filter(_._2 > 1)}")
  }
}
