package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Engine

/** Benchmark process: set up one workload, run its units for the given
  * number of seconds with one closed-loop client, check every op's output,
  * and print the metrics. `perfbench/run.py` builds the classes, generates
  * the inputs and starts this process; see perfbench/README.md.
  */
object Main {

  final case class Sample(unit: Int, traced: Boolean, name: String, latency: Double, error: Option[String])

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(s"--$k")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def need(args: Array[String], k: String): String =
    arg(args, k).getOrElse(throw new IllegalArgumentException(s"missing --$k"))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Harrell–Davis estimate of the median: the mean of the order statistics
    * weighted by a Beta((n+1)/2, (n+1)/2) distribution over their ranks.
    * The ops of a unit fall into a few clusters of unlike latency, and the
    * sample median of a run's few ops sits on the edge of one of them; this
    * weighted mean of the middle ranks moves less from run to run.
    */
  def hdMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val a = (s.size + 1) / 2.0
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, a)
    if (s.isEmpty) Double.NaN
    else s.indices.map(i => (cdf((i + 1.0) / s.size) - cdf(i.toDouble / s.size)) * s(i)).sum
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private def readExpected(path: Option[String], workload: String, corrupt: Set[String]): Map[String, Digest.Result] =
    path.filter(p => Files.exists(Paths.get(p))).toSeq.flatMap { p =>
      Files.readAllLines(Paths.get(p)).asScala.map(_.split('\t')).collect {
        case Array(w, q, rows, hash) if w == workload =>
          q -> Digest.Result(rows.toLong, if (corrupt(q)) hash.reverse else hash)
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val workloadName = need(args, "workload")
    val seed = need(args, "seed").toLong
    val seconds = need(args, "seconds").toDouble
    val trace = arg(args, "trace").contains("1")
    val cores = arg(args, "cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = need(args, "work")
    val inject = arg(args, "inject").toSeq.flatMap(_.split(",")).toSet
    val corrupt = arg(args, "corrupt").toSeq.flatMap(_.split(",")).toSet
    val record = arg(args, "record").map(p => new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(p))))
    val expected = readExpected(arg(args, "expected"), workloadName, corrupt)
    val data = need(args, "data")
    val wl: Workload = workloadName match {
      case "dashboard" => new Dashboard(data, seed, expected, record, inject, arg(args, "dump"))
      case "curation" => new Curation(data, seed, need(args, "copies").toInt, expected, record, inject)
      case "ingest" => new Ingest(need(args, "batches"), work, need(args, "trigger-ms").toLong, inject)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def newSession(): SparkSession =
      Engine.session(appName = s"perfbench-$workloadName", master = s"local[$cores]",
        shufflePartitions = cores, warehouseDir = Some(s"$work/warehouse"))

    val t0Nano = System.nanoTime()
    val t0Ms = System.currentTimeMillis().toDouble
    def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

    // ---- set-up: JVM start until the session and the workload are ready --
    val spark = newSession()
    val c0 = nowMs
    wl.cachedInputs(spark)
    val cachedMs = nowMs - c0
    wl.start(spark)
    val sessionSecs = (nowMs - jvmStartMs - cachedMs) / 1e3

    val samples = ArrayBuffer[Sample]()
    var tracer: Tracer = null
    // JVM-wide counters read around each traced op (checks excluded)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def jvmNow: Map[String, Double] = {
      val st = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      def stat(k: String): Double = st.flatMap(s => Option(s.getLong(k))).fold(0.0)(_.toDouble)
      Map("jvm.gc_s" -> gcBeans.map(_.getCollectionTime).sum / 1e3,
        "jvm.gc_count" -> gcBeans.map(_.getCollectionCount).sum.toDouble,
        "store.bytes_written" -> stat("bytesWritten"), "fs.bytes_read" -> stat("bytesRead"),
        "store.files_written" -> filesUnder(work).toDouble)
    }
    val layerDelta = mutable.Map[String, Double]().withDefaultValue(0.0)
    def addDelta(before: Map[String, Double], after: Map[String, Double]): Unit =
      after.foreach { case (k, v) => layerDelta(k) += v - before(k) }
    // Runs one unit and returns its wall time. The output checks run after
    // the unit's wall time is taken, so their Spark jobs are not counted.
    def runUnit(index: Int, traced: Boolean, cold: Boolean): Double = {
      wl.beforeUnit(spark, cold)
      val ops = wl.unit(spark, index)
      val u0 = nowMs
      val timer = new Timer {
        def build[T](f: => T): T = if (traced) tracer.child("build")(f) else f
        def action[T](f: => T): T = if (traced) tracer.child("action")(f) else f
      }
      val ran = ops.map { op =>
        val before = if (traced) jvmNow else Map.empty[String, Double]
        if (traced) tracer.beginOp(op.name)
        val s = nowMs
        val check = try Right(op.run(timer)) catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val lat = nowMs - s
        if (traced) { tracer.endOp(op.module); addDelta(before, jvmNow) }
        (op, check, lat)
      }
      val wall = (nowMs - u0) / 1e3
      ran.foreach { case (op, check, lat) =>
        val err = check.fold(Some(_), c => try c() catch { case e: Throwable => Some(s"check failed: $e") })
        System.err.println(f"[perfbench] unit $index op ${op.name} ${lat / 1e3}%.3f s" + err.fold("")(e => s" FAILED: $e"))
        samples += Sample(index, traced, op.name, lat / 1e3, err)
      }
      wall
    }

    // ---- untimed warm-up unit (part of set-up) ----------------------------
    val warmupSecs = runUnit(0, traced = false, cold = true)
    val setupS = sessionSecs + warmupSecs

    // ---- timed units ------------------------------------------------------
    val memory = ManagementFactory.getMemoryMXBean
    // Heap in use after full collections, repeated until the reading stops
    // falling: each collection lets Spark's ContextCleaner drop the blocks
    // of frames found unreachable (and what only they referenced), which a
    // later one frees, so the reading does not depend on the cleaner's timing.
    def liveHeapMb(): Double = {
      def collect(): Double = { System.gc(); memory.getHeapMemoryUsage.getUsed / 1048576.0 }
      var best = collect()
      var falling = true
      var i = 0
      while (falling && i < 8) {
        Thread.sleep(200)
        val now = collect()
        falling = now < best - 0.5
        best = math.min(best, now)
        i += 1
      }
      best
    }
    if (trace) { tracer = new Tracer(spark) }
    val unitWall = ArrayBuffer[(Boolean, Double)]()
    var peakHeap = 0.0
    val rows0 = wl.landedRows
    var index = 1
    // Untraced runs: as many units as fit in `seconds` at the workload's
    // nominal unit time on the reference box (at least one). The count
    // does not follow the measured speed, so a fast run does not warm the
    // JIT further than a slow one. Traced runs: untraced, traced,
    // untraced, so that drift over the run cancels out of the tracing
    // overhead.
    val TracedSchedule = Seq(false, true, false)
    val units = if (trace) TracedSchedule.size else math.max(1, (seconds / wl.nominalUnitSeconds).toInt)
    while (index <= units) {
      val traced = trace && TracedSchedule(index - 1)
      val counted = wl.counters
      if (traced) tracer.install()
      val wall = runUnit(index, traced, cold = true)
      if (traced) { tracer.uninstall(); addDelta(counted, wl.counters) }
      unitWall += traced -> wall
      peakHeap = math.max(peakHeap, liveHeapMb())
      index += 1
    }
    val timedRows = wl.landedRows - rows0

    // Traced runs: one more untraced unit with the memos in the other
    // state (warm for curation, whose units start cold; cold for the
    // others), compared op by op with the untraced unit just before it.
    var memoBuild = Double.NaN
    if (trace) {
      val probeCold = wl.memoProbeCold
      if (probeCold) Engine.clearCaches(spark)
      runUnit(index, traced = false, cold = !probeCold)
      def lat(u: Int) = samples.filter(_.unit == u).map(_.latency).sum
      memoBuild = if (probeCold) lat(index) - lat(index - 1) else lat(index - 1) - lat(index)
    }

    val extra = wl.extraReport(spark)
    wl.stop(spark)
    record.foreach(_.close())

    // ---- metrics ------------------------------------------------------------
    val timed = samples.filter(s => s.unit >= 1 && s.unit < index && s.traced == trace)
    val attempted = samples.size
    val failed = samples.count(_.error.isDefined)
    val lat = timed.map(_.latency).toSeq
    val walls = unitWall.filter(_._1 == trace).map(_._2).toSeq
    val out = ArrayBuffer[(String, Double, String)]()
    if (!trace) {
      out += (("setup_s", setupS, "s"))
      out += (("wall_s", median(walls), "s"))
      out += (("latency_p50_s", hdMedian(lat), "s"))
      out += (("peak_live_heap_mb", peakHeap, "MB"))
    }
    val report = ArrayBuffer[(String, Double, String)]()
    report += (("ops_timed", lat.size.toDouble, "count"))
    report += (("units_timed", walls.size.toDouble, "count"))
    if (lat.size >= 100) report += (("latency_p90_s", percentile(lat, 0.9), "s"))
    report += (("error_rate", failed.toDouble / math.max(1, attempted), "ratio"))
    if (workloadName == "ingest") {
      report += (("rows_per_s", timedRows / math.max(1e-9, unitWall.map(_._2).sum), "1/s"))
      report ++= extra
    }

    if (trace) {
      val spans = tracer.spans
      val per = 1.0 / math.max(1, walls.size)
      val layer = mutable.LinkedHashMap[String, (Double, String)]()
      def put(k: String, v: Double, unit: String): Unit = layer(k) = (v, unit)
      val ops = spans.filter(_.kind == "op")
      val jobs = spans.filter(_.kind == "job")
      val stages = spans.filter(_.kind == "stage")
      def opSum(k: String) = ops.map(_.attrs.getOrElse(k, 0.0)).sum * per
      def stageSum(k: String) = stages.filter(_.op != 0).map(_.attrs.getOrElse(k, 0.0)).sum * per
      val self = ops.map(o => o -> Trace.selfTimes(o, spans)).toMap
      val kindOf = spans.map(s => s.id -> s.kind).toMap
      def selfSum(kinds: Set[String]) =
        self.values.flatMap(_.collect { case (id, ms) if kinds(kindOf(id)) => ms }).sum / 1e3 * per
      val tracedWall = median(walls)
      val overhead = median(unitWall.filter(_._1).map(_._2).toSeq) - median(unitWall.filter(!_._1).map(_._2).toSeq)

      put("session.start_s", sessionSecs, "s")
      put("session.warmup_s", warmupSecs, "s")
      put("plan.analysis_s", opSum("plan.analysis_s"), "s")
      put("plan.optimization_s", opSum("plan.optimization_s"), "s")
      put("plan.planning_s", opSum("plan.planning_s"), "s")
      put("plan.actions", opSum("plan.actions"), "count")
      put("codegen.compile_s", opSum("codegen.compile_s"), "s")
      put("codegen.classes", opSum("codegen.classes"), "count")
      put("driver.nonjob_s", selfSum(Set("op", "build", "action")), "s")
      put("sched.jobs", jobs.count(_.op != 0) * per, "count")
      put("sched.stages", stages.count(_.op != 0) * per, "count")
      put("sched.tasks", stageSum("sched.tasks"), "count")
      put("sched.task_overhead_s", stageSum("sched.task_overhead_s"), "s")
      put("sched.job_self_s", selfSum(Set("job")), "s")
      put("exec.run_s", stageSum("exec.run_s"), "s")
      put("exec.cpu_s", stageSum("exec.cpu_s"), "s")
      put("exec.gc_s", stageSum("exec.gc_s"), "s")
      put("exec.busy_frac", stageSum("exec.run_s") / (tracedWall * cores), "ratio")
      Seq("shuffle.write_bytes", "shuffle.read_bytes", "spill.memory_bytes", "spill.disk_bytes",
        "scan.bytes", "scan.rows", "store.rows_written").foreach { k =>
        put(k, stageSum(k), if (k.endsWith("bytes")) "B" else "count")
      }
      put("shuffle.write_s", stageSum("shuffle.write_s"), "s")
      put("shuffle.fetch_wait_s", stageSum("shuffle.fetch_wait_s"), "s")
      put("op.build_s", spans.filter(_.kind == "build").map(_.dur).sum / 1e3 * per, "s")
      put("op.action_s", spans.filter(_.kind == "action").map(_.dur).sum / 1e3 * per, "s")
      put("memo.build_s", memoBuild, "s")
      Seq("store.bytes_written", "store.files_written", "fs.bytes_read").foreach { k =>
        put(k, layerDelta(k) * per, if (k.contains("bytes")) "B" else "count")
      }
      put("validate.quarantined_files", layerDelta("validate.quarantined_files") * per, "count")
      put("validate.rejected_rows", layerDelta("validate.rejected_rows") * per, "count")
      put("stream.batches", opSum("stream.batches"), "count")
      put("stream.input_rows", opSum("stream.input_rows"), "count")
      put("jvm.gc_s", layerDelta("jvm.gc_s") * per, "s")
      put("jvm.gc_count", layerDelta("jvm.gc_count") * per, "count")
      put("trace.overhead_s", overhead, "s")
      put("trace.clipped_ms", Trace.clippedMs(spans), "ms")

      // job time by the engine file at the job's call site; jobs whose call
      // site is elsewhere (the benchmark's own action, Spark's adaptive
      // execution threads) belong to the module of the op that ran them
      val opModule = ops.map(o => o.id -> o.tag).toMap
      val byModule = jobs.filter(_.op != 0).groupBy { j =>
        if (Modules.Files.contains(j.tag)) j.tag else opModule.getOrElse(j.op, "?")
      }
      Modules.Files.foreach { m =>
        val js = byModule.getOrElse(m, Nil)
        put(s"module.$m.jobs", js.size * per, "count")
        put(s"module.$m.job_s", js.map(_.dur).sum / 1e3 * per, "s")
      }
      // layer times only the ingest workload exercises
      if (workloadName == "ingest") {
        put("validate.gate_s", jobs.filter(_.name.startsWith("collect at Orchestrate.scala")).map(_.dur).sum / 1e3 * per, "s")
        put("stream.trigger_s", opSum("stream.trigger_s"), "s")
        put("stream.add_batch_s", opSum("stream.add_batch_s"), "s")
        put("stream.commit_s", opSum("stream.commit_s"), "s")
        Seq("pos_batch", "inventory_batch", "web_drain", "crm_drain").foreach { n =>
          put(s"pipeline.${n}_s",
            timed.filter(_.name == n).map(_.latency).sum * per, "s")
        }
      }
      layer.foreach { case (k, (v, u)) => out += ((k, v, u)) }
      arg(args, "trace-out").foreach(p => writeSpans(p, spans, self))
    }

    (report ++ out).foreach { case (k, v, u) => println(f"[perfbench] $workloadName%-9s $k%-34s ${fmt(v)}%14s $u") }
    val metricsJson = out.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metricsJson}}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else new java.math.BigDecimal(v).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString

  /** Data files under the run's work dir (Spark's own scratch space excluded). */
  private def filesUnder(dir: String): Long = {
    var n = 0L
    Files.walkFileTree(Paths.get(dir), new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
      override def preVisitDirectory(d: java.nio.file.Path, a: java.nio.file.attribute.BasicFileAttributes) =
        if (d.getFileName.toString == "spark-local") java.nio.file.FileVisitResult.SKIP_SUBTREE
        else java.nio.file.FileVisitResult.CONTINUE
      override def visitFile(f: java.nio.file.Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        val name = f.getFileName.toString
        if (a.isRegularFile && !name.startsWith(".") && !name.startsWith("_")) n += 1
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: java.nio.file.Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    n
  }

  private def writeSpans(path: String, spans: Seq[Span], self: Map[Span, Map[Long, Double]]): Unit = {
    val selfById = self.values.flatten.toMap
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val w = new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(path)))
    try {
      w.println("[")
      spans.zipWithIndex.foreach { case (s, i) =>
        val attrs = s.attrs.map { case (k, v) => s"${q(k)}: ${fmt(v)}" }.mkString(", ")
        w.print(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "kind": ${q(s.kind)}, "name": ${q(s.name)}, "tag": ${q(s.tag)}, """ +
          s""""start_ms": ${fmt(s.start)}, "end_ms": ${fmt(s.end)}, "self_ms": ${fmt(selfById.getOrElse(s.id, 0.0))}, "attrs": {$attrs}}""")
        w.println(if (i + 1 < spans.size) "," else "")
      }
      w.println("]")
    } finally w.close()
  }
}
