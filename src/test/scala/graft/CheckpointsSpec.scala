package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CleanerBridge, ListenerBridge}

import graft.llm.{CorpusSuffix, Dedup, TextAnalysis}
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
    // the CC loop's exit frees the edge cache, whose plan reaches the
    // pair checkpoint p0 through four union branches, together with p0
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
      val out = Dedup.connectedComponentsWith(pairs, localMaxEdgeRows = 0)
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

  test("connectedComponents' union-find path leaves no persisted RDD behind") {
    // the pair checkpoint is collected, then freed; the labels frame is
    // driver-built slices, persisted nowhere
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet.toSet
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
    assert((sc.getPersistentRDDs.keySet.toSet -- pre).isEmpty,
      s"left persisted: ${sc.getPersistentRDDs.keySet.toSet -- pre}")
    assert(out.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("free releases a local checkpoint without a WARN line") {
    // capture the root logger's events; the control shows the capture
    // sees the WARN RDD.unpersist logs for a locally checkpointed RDD
    def warnsDuring(f: => Unit): Seq[String] = {
      val events = new ConcurrentLinkedQueue[LogEvent]()
      val appender = new AbstractAppender("free-capture", null, null, true, Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit = events.add(e.toImmutable)
      }
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val root = ctx.getConfiguration.getRootLogger
      appender.start()
      root.addAppender(appender, null, null)
      ctx.updateLoggers()
      try f finally {
        root.removeAppender(appender.getName)
        ctx.updateLoggers()
        appender.stop()
      }
      events.asScala.filter(_.getLevel.isMoreSpecificThan(Level.WARN))
        .map(_.getMessage.getFormattedMessage).toSeq
    }
    def checkpointRdd(df: DataFrame) =
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.head
    val control = spark.range(0, 100).toDF("x").localCheckpoint()
    val controlWarns = warnsDuring(checkpointRdd(control).unpersist(blocking = false))
    assert(controlWarns.exists(_.contains("locally checkpointed")),
      s"the capture must see RDD.unpersist's WARN: $controlWarns")
    val sc = spark.sparkContext
    val ck = spark.range(0, 100).toDF("x").localCheckpoint()
    val id = checkpointRdd(ck).id
    assert(sc.getPersistentRDDs.contains(id))
    val warns = warnsDuring(Checkpoints.free(ck.filter(col("x") >= 0)))
    assert(warns.isEmpty, s"free logged: $warns")
    assert(!sc.getPersistentRDDs.contains(id), "free must still release the blocks")
  }

  test("winnowOverlap and crossDocMax leave only their result's own checkpoint persisted") {
    // their scratch checkpoints are released with free once the result
    // is materialized; Dataset.unpersist would leave them pinned until GC
    val sc = spark.sparkContext
    val dir = "/root/testdata/sf0.001"
    def createdBy(call: => DataFrame): (Set[Int], Set[Int]) = {
      val pre = sc.getPersistentRDDs.keySet
      val out = call
      val own = out.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
      (sc.getPersistentRDDs.keySet.toSet -- pre, own)
    }
    val (winnow, winnowOwn) =
      createdBy(TextAnalysis.winnowOverlap(Tables.documents(spark, dir), "text", "doc_id"))
    assert(winnowOwn.size == 1 && winnow == winnowOwn, s"winnowOverlap left $winnow")
    CorpusSuffix.crossDocMaxQuery(spark, dir).count() // the ranks memo is built here
    val (crossDoc, crossDocOwn) = createdBy(CorpusSuffix.crossDocMaxQuery(spark, dir))
    assert(crossDocOwn.size == 1 && crossDoc == crossDocOwn, s"crossDocMax left $crossDoc")
  }
}
