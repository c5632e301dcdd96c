package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds. `op` is the id of
  * the op span the interval belongs to (0 = outside every op, such as a
  * streaming poll between ops); `parent` is the enclosing span. `tag` is
  * the engine module of an op and the call-site file of a job.
  */
final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String,
                      start: Double, end: Double, attrs: Map[String, Double], tag: String = "") {
  def dur: Double = math.max(0.0, end - start)
}

/** In-memory span recorder, installed only for traced runs.
  *
  * The benchmark's own code opens the `op`, `build` and `action` spans
  * around each call into the engine. Spark listeners add the layers
  * below them: a `job` span per Spark job (parent: the build or action
  * that submitted it) and a `stage` span per stage (parent: its job),
  * carrying the stage's task metrics. A job names its parent through
  * the local properties `perfbench.op` / `perfbench.span`, which Spark
  * copies into every job the client thread starts, also from the pool
  * threads of adaptive execution and broadcasts. Jobs without them (a
  * streaming query's own thread) take the span open when the listener
  * bus delivers their start; the bus is drained whenever a span opens
  * or closes, so that is the span open when they started. Query-planning
  * phases, codegen compile time and streaming progress are recorded as
  * counters on the op that was open when they arrived. Nothing is
  * written until `spans` is read at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  @volatile private var curOp = 0L
  @volatile private var curChild = 0L
  private val opCounters = new java.util.concurrent.ConcurrentHashMap[Long, mutable.Map[String, Double]]()

  private def bump(op: Long, key: String, v: Double): Unit = {
    val m = opCounters.computeIfAbsent(op, _ => mutable.Map.empty[String, Double])
    m.synchronized { m(key) = m.getOrElse(key, 0.0) + v }
  }

  // ---- client side: op / build / action -----------------------------------

  private var opStart = 0.0
  private var opName = ""
  private var codegenAtStart = (0L, 0L)

  private def codegenNow: (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def drainBus(): Unit = org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)

  private def setSpan(op: Long, span: Long): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProp, if (op == 0) null else op.toString)
    sc.setLocalProperty(Trace.SpanProp, if (span == 0) null else span.toString)
  }

  def beginOp(name: String): Unit = {
    drainBus()
    opStart = nowMs; opName = name; curOp = ids.incrementAndGet()
    setSpan(curOp, curOp)
    codegenAtStart = codegenNow
  }

  def endOp(module: String): Unit = {
    val op = curOp
    drainBus()
    setSpan(0, 0)
    val (ct, cc) = codegenNow
    bump(op, "codegen.compile_s", (ct - codegenAtStart._1) / 1e9)
    bump(op, "codegen.classes", (cc - codegenAtStart._2).toDouble)
    val counters = Option(opCounters.remove(op)).map(_.toMap).getOrElse(Map.empty)
    done.add(Span(op, 0, op, "op", opName, opStart, nowMs, counters, module))
    curOp = 0
  }

  def child[T](kind: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    drainBus()
    val s = nowMs
    curChild = id
    setSpan(curOp, id)
    try f finally {
      val e = nowMs
      drainBus()
      curChild = 0
      setSpan(curOp, curOp)
      done.add(Span(id, curOp, curOp, kind, kind, s, e, Map.empty))
    }
  }

  // ---- Spark side ----------------------------------------------------------

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Trace.OpenJob]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val taskOverheadMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()

  private val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        sqlSites.put(s.executionId, s.description)
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = ids.incrementAndGet()
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).map(_.toLong)
      val (op, parent) = prop(Trace.OpProp) match {
        case Some(o) => (o, prop(Trace.SpanProp).getOrElse(o))
        case None =>
          val o = curOp
          (o, if (o == 0) 0L else if (curChild != 0) curChild else o)
      }
      // a job's call site: the action that started its SQL execution (jobs
      // of adaptive query execution run on a pool thread whose own call site
      // says nothing), else the short call site of its final stage
      val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id.toLong)))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs.put(e.jobId, Trace.OpenJob(id, parent, op, e.time.toDouble, site))
      e.stageIds.foreach { s => stageJob.put(s, id); stageOp.put(s, op) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { j =>
        done.add(Span(j.id, j.parent, j.op, "job", j.site, j.start, e.time.toDouble, Map.empty, siteFile(j.site)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val over = e.taskInfo.duration - e.taskMetrics.executorRunTime
        taskOverheadMs.merge(e.stageId, math.max(0L, over).toDouble, (a, b) => a + b)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val parent: Long = Option(stageJob.get(si.stageId)).getOrElse(0L)
      val op: Long = Option(stageOp.get(si.stageId)).getOrElse(0L)
      val start = si.submissionTime.getOrElse(0L).toDouble
      val end = si.completionTime.getOrElse(si.submissionTime.getOrElse(0L)).toDouble
      val attrs: Map[String, Double] = if (m == null) Map("sched.tasks" -> si.numTasks.toDouble) else Map(
        "sched.tasks" -> si.numTasks.toDouble,
        "sched.task_overhead_s" -> Option(taskOverheadMs.remove(si.stageId)).map(_.doubleValue).getOrElse(0.0) / 1e3,
        "exec.run_s" -> m.executorRunTime / 1e3,
        "exec.cpu_s" -> m.executorCpuTime / 1e9,
        "exec.gc_s" -> m.jvmGCTime / 1e3,
        "shuffle.write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle.write_s" -> m.shuffleWriteMetrics.writeTime / 1e9,
        "shuffle.read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble,
        "shuffle.fetch_wait_s" -> m.shuffleReadMetrics.fetchWaitTime / 1e3,
        "spill.memory_bytes" -> m.memoryBytesSpilled.toDouble,
        "spill.disk_bytes" -> m.diskBytesSpilled.toDouble,
        "scan.bytes" -> m.inputMetrics.bytesRead.toDouble,
        "scan.rows" -> m.inputMetrics.recordsRead.toDouble,
        "store.rows_written" -> m.outputMetrics.recordsWritten.toDouble)
      done.add(Span(ids.incrementAndGet(), parent, op, "stage", si.name, start, end, attrs))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val op = curOp
      val ph = qe.tracker.phases
      def p(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      bump(op, "plan.analysis_s", p("analysis"))
      bump(op, "plan.optimization_s", p("optimization"))
      bump(op, "plan.planning_s", p("planning"))
      bump(op, "plan.actions", 1.0)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala
        def ms(k: String) = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
        val op = curOp
        bump(op, "stream.batches", 1.0)
        bump(op, "stream.input_rows", p.numInputRows.toDouble)
        bump(op, "stream.trigger_s", ms("triggerExecution"))
        bump(op, "stream.add_batch_s", ms("addBatch"))
        bump(op, "stream.commit_s", ms("commitOffsets") + ms("walCommit"))
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.start, s.id))

  private def siteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.substring(at + 4) else site
    loc.takeWhile(_ != ':').stripSuffix(".scala").stripSuffix(".java")
  }
}

object Trace {
  private[perfbench] final case class OpenJob(id: Long, parent: Long, op: Long, start: Double, site: String)

  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  /** Clock slack of one span against its parent, in ms: Spark stamps job
    * and stage events in whole milliseconds.
    */
  val ClockSlackMs = 2.0

  /** Time of `job` and `stage` spans that lies outside their parent span,
    * beyond the clock slack, summed (ms). `selfTimes` clips it off, so a
    * job charged to the wrong parent shows here and nowhere else. Spans
    * outside every op (op 0) are not counted.
    */
  def clippedMs(all: Seq[Span]): Double = {
    val byId = all.map(s => s.id -> s).toMap
    all.filter(s => (s.kind == "job" || s.kind == "stage") && s.op != 0).map { s =>
      byId.get(s.parent).fold(s.dur) { p =>
        val outside = math.max(0.0, p.start - s.start) + math.max(0.0, s.end - p.end)
        math.max(0.0, math.min(s.dur, outside) - ClockSlackMs)
      }
    }.sum
  }

  /** Exclusive ("self") time of every span of one op, in ms: each instant
    * of the op's interval is charged to the deepest span open at that
    * instant, so the self times of one op add up to its wall time. Child
    * intervals are clipped to their parents.
    */
  def selfTimes(op: Span, all: Seq[Span]): Map[Long, Double] = {
    val byParent = all.groupBy(_.parent)
    val depthOf = mutable.Map[Long, (Int, Double, Double)]()
    def walk(s: Span, depth: Int, lo: Double, hi: Double): Unit = {
      val a = math.max(s.start, lo); val b = math.min(s.end, hi)
      if (b > a) {
        depthOf(s.id) = (depth, a, b)
        byParent.getOrElse(s.id, Nil).filter(_.id != s.id).foreach(c => walk(c, depth + 1, a, b))
      }
    }
    walk(op, 0, op.start, op.end)
    val points = depthOf.values.flatMap { case (_, a, b) => Seq(a, b) }.toSeq.distinct.sorted
    val self = mutable.Map[Long, Double]().withDefaultValue(0.0)
    points.sliding(2).foreach {
      case Seq(a, b) =>
        val mid = (a + b) / 2
        val open = depthOf.filter { case (_, (_, s, e)) => s <= mid && mid < e }
        if (open.nonEmpty) {
          val (id, _) = open.maxBy { case (i, (d, _, _)) => (d, i) }
          self(id) += b - a
        }
      case _ => ()
    }
    self.toMap
  }
}
