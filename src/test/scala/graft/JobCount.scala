package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.ListenerBridge

/** Spark jobs started by a block of code, for specs that pin job counts:
  * the per-job fixed cost dominates the small-data paths, so a job that
  * pays for no needed exchange is a regression even when the output is
  * right.
  */
trait JobCount { this: SparkSpec =>

  /** One job: its call site (the action that started its SQL execution,
    * else its final stage's call site), whether it ran inside a SQL
    * execution at all, and its stage count (more than one: the job ran or
    * skipped a shuffle map stage).
    */
  case class Job(site: String, sql: Boolean, stages: Int)

  private val tagKey = "graft.test.jobs"
  private val tagSeq = new AtomicLong()

  /** Runs `f` and returns the jobs it started, AQE pool threads included. */
  def jobsOf[T](f: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = s"jobs-${tagSeq.incrementAndGet()}"
    val sites = new ConcurrentHashMap[Long, String]()
    val jobs = ArrayBuffer[Job]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sites.put(s.executionId, s.description)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(tagKey) == tag)) {
          val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
          val site = exec.flatMap(id => Option(sites.get(id))).getOrElse(
            if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
          jobs.synchronized(jobs += Job(site, exec.isDefined, e.stageInfos.size))
        }
      }
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tagKey, tag)
    try {
      val out = f
      ListenerBridge.drain(sc)
      (out, jobs.synchronized(jobs.toList))
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
