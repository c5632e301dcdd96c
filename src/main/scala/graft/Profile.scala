package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.graft.ListenerBridge

import graft.BenchSweep.{jstr, num}
import graft.llm.{CorpusSuffix, Dedup, Suffix, TextAnalysis}
import graft.store.Checkpoints

/** What a registered query planned and ran, one record per query: the
  * executed plan's join and sort operators, the formatted plan, the row
  * count and the SparkListener totals of one steady-state run (jobs,
  * stages, tasks, shuffle read/write, spill, executor run and GC time,
  * exchanges run and reused) plus its per-job and per-stage lines, and
  * for a query in [[corpusStats]] the corpus statistics its cost
  * follows. The listener sees EVERY job the query runs, including
  * RDD-level checkpoint materializations that SQL plan dumps never show
  * (the CC loop's per-round jobs, eager localCheckpoints), so
  * exchange-removal claims are checkable as shuffle-byte deltas.
  *
  * Usage: [SPARK_GRAFT_PROFILE_QUERY=q1,q2] [SPARK_GRAFT_SCALES=40,80]
  *        [SPARK_GRAFT_PROFILE_OUT=dir] sbt "runMain graft.Profile"
  * Without a query list every registered query is profiled. Each scale k
  * adds a `ScaleBench.ensureScaled` point, keyed `<q>_x<k>`. One JSON
  * line goes to stdout, with the JVM's max heap and the session's cores;
  * with an out dir it is also written to `profile.json` there, next to
  * one formatted plan per record (`<q>[_x<k>].txt`). Compare two runs by
  * giving them two dirs.
  */
object Profile {

  /** Plans the registered queries hide behind their eager checkpoints,
    * built LAZILY with the registered parameters, so the joins that flip
    * with scale stay visible. Each form returns the plan frame and the
    * frames it pinned, released with [[Checkpoints.free]] once the plan
    * is read (`Dataset.unpersist` frees no checkpoint block).
    */
  private[graft] val lazyForms
      : Map[String, (SparkSession, String) => (DataFrame, Seq[DataFrame])] = {
    def pinned(split: (DataFrame, DataFrame)) = (split._2, Seq(split._1))
    Map(
      // the CC round exactly as graph_components' round loop runs it; at
      // bench SF the co-purchase graph is under the union-find bound, so
      // the query itself runs this loop only on graphs above the bound
      "graph_components" -> ((s, d) => Dedup.ccRoundPlan(
        graft.ops.Graph.coPurchaseEdges(s, d).select(col("a").as("id_a"), col("b").as("id_b")))),
      "llm_cross_doc_max" -> ((s, d) => pinned(CorpusSuffix.crossDocMaxPlanQuery(s, d))),
      "llm_cross_doc_spans" -> ((s, d) => pinned(CorpusSuffix.crossDocSpansPlanQuery(s, d))),
      "llm_winnow_overlap" -> ((s, d) => pinned(
        TextAnalysis.winnowOverlapPlan(Tables.documents(s, d), "text", "doc_id"))),
      "llm_winnow_probe" -> ((s, d) => pinned(TextAnalysis.winnowProbePlan(s,
        s"${TextAnalysis.winnowPostingsRoot(s, d)}/postings",
        Tables.documents(s, d).filter(pmod(col("doc_id"), lit(25L)) === 7), "text", "doc_id",
        TextAnalysis.WinnowBands.toInt, TextAnalysis.WinnowMinShared,
        Some(TextAnalysis.WinnowDfCap)))),
      // the whole minhash-verify family serves from this plan's memo
      "llm_dedup_ngram_jaccard" -> ((s, d) => (Dedup.verifiedPairsPlan(s, d), Nil)),
      // the declarative doubling stack: no per-round checkpoints, no early exit
      "llm_suffix_array" -> ((s, d) => (Suffix.suffixRanks(Suffix.sampled(s, d), "text",
        "doc_id", materializeRounds = false).orderBy(col("doc_id"), col("pos")), Nil)))
  }

  /** Corpus statistics per query, added to its record as `corpus` and
    * computed after the profiled pass, outside its totals.
    */
  private val corpusStats: Map[String, (SparkSession, String) => Seq[(String, Long)]] = Map(
    "llm_dedup_containment" -> ((s, d) => Dedup.containmentCorpus(Tables.documents(s, d), "text")))

  /** Listener totals over one profiled run. It counts every job posted on
    * the context while attached, so the profiling loop must be the only
    * job source (ContextCleaner jobs are possible but byte-trivial). As a
    * query-execution listener it also sums the exchanges of every SQL
    * action the run completes ([[exchangeCounts]]).
    */
  private class Acc extends SparkListener with QueryExecutionListener {
    var stages, tasks, exchanges, reusedExchanges = 0
    var shufWrite, shufRead, spillMem, spillDisk, runTimeMs, gcMs = 0L
    val jobLines, stageLines = ArrayBuffer.empty[String]
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val (e, r) = exchangeCounts(qe.executedPlan)
        exchanges += e
        reusedExchanges += r
      }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobLines += s"""{"id":${j.jobId},"stages":[${j.stageIds.mkString(",")}],""" +
        s""""callsite":${jstr(Option(j.properties.getProperty("callSite.short")).getOrElse("?"))}}"""
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val m = s.stageInfo.taskMetrics
      stages += 1
      tasks += s.stageInfo.numTasks
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      shufRead += m.shuffleReadMetrics.totalBytesRead
      spillMem += m.memoryBytesSpilled
      spillDisk += m.diskBytesSpilled
      runTimeMs += m.executorRunTime
      gcMs += m.jvmGCTime
      stageLines += s"""{"id":${s.stageInfo.stageId},"tasks":${s.stageInfo.numTasks},""" +
        s""""run_ms":${m.executorRunTime},"cpu_ms":${m.executorCpuTime / 1000000},""" +
        s""""shuffle_write":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""rdds":${jstr(s.stageInfo.rddInfos.map(_.name).mkString("|").take(150))}}"""
    }
  }

  /** (exchanges, reused exchanges) of an executed plan: under AQE the
    * final plan, descending into each query stage's own plan and into
    * subqueries, so every exchange that ran is counted once and every
    * stage served from another stage's output counts as reused.
    */
  private[graft] def exchangeCounts(plan: SparkPlan): (Int, Int) =
    (PlanWalk.collectWithSubqueries(plan) { case e: Exchange => e }.size,
      PlanWalk.collectWithSubqueries(plan) { case r: ReusedExchangeExec => r }.size)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** The executed plan's join and sort operator lines. */
  private def joinsAndSorts(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("Join") || l.contains("Sort "))
      .map(_.trim.take(160)).toSeq

  /** Formatted plan and join/sort lines of `q`'s lazy form, releasing
    * every block the form pinned.
    */
  private[graft] def lazyPlan(spark: SparkSession, q: String, dir: String): (String, Seq[String]) = {
    val (plan, toFree) = lazyForms(q)(spark, dir)
    try (plan.queryExecution.explainString(FormattedMode), joinsAndSorts(plan))
    finally Checkpoints.free(toFree: _*)
  }

  /** One record (a JSON object) for registered query `q` over `dir`: an
    * untimed warm pass, so session memos are paid outside the profile,
    * then the profiled pass. The plan is the lazy form's when `q` has
    * one, else the profiled frame's; `planFile` receives it formatted.
    */
  def record(spark: SparkSession, q: String, dir: String, planFile: Option[Path] = None): String = {
    val query = SparkEntry.queries(q)
    query(spark, dir).count()
    val sc = spark.sparkContext
    val acc = new Acc
    sc.addSparkListener(acc)
    spark.listenerManager.register(acc)
    sc.setJobDescription(s"profile:$q")
    val (df, rows, sec) = try {
      val t0 = System.nanoTime()
      val df = query(spark, dir)
      val rows = df.count()
      (df, rows, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.setJobDescription(null)
      // listener events are posted async; drain before reading
      ListenerBridge.drain(sc)
      spark.listenerManager.unregister(acc)
      sc.removeSparkListener(acc)
    }
    val (formatted, joins) =
      if (lazyForms.contains(q)) lazyPlan(spark, q, dir)
      else (df.queryExecution.explainString(FormattedMode), joinsAndSorts(df))
    planFile.foreach(Files.writeString(_, formatted))
    val corpus = corpusStats.get(q).fold("")(_(spark, dir)
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString(""","corpus":{""", ",", "}"))
    acc.synchronized {
      s"""{"sec":${num(sec, 3)},"rows":$rows,"jobs":${acc.jobLines.size},"stages":${acc.stages},""" +
        s""""tasks":${acc.tasks},"shuffle_write":${acc.shufWrite},""" +
        s""""shuffle_read":${acc.shufRead},"spill_mem":${acc.spillMem},""" +
        s""""spill_disk":${acc.spillDisk},"exec_run_ms":${acc.runTimeMs},""" +
        s""""exec_gc_ms":${acc.gcMs},"exchanges":${acc.exchanges},""" +
        s""""reused_exchanges":${acc.reusedExchanges}$corpus,""" +
        s""""joins_sorts":${joins.map(jstr).mkString("[", ",", "]")},""" +
        s""""job_detail":${acc.jobLines.mkString("[", ",", "]")},""" +
        s""""stage_detail":${acc.stageLines.mkString("[", ",", "]")}}"""
    }
  }

  /** The queries a run covers: `named`, each checked against the
    * registry before any work, or every registered query when empty.
    */
  private[graft] def selected(named: Seq[String]): Seq[String] = {
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_PROFILE_QUERY must list registered queries; unknown: ${unknown.mkString(", ")}")
    if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
  }

  def main(args: Array[String]): Unit = {
    def list(knob: String) =
      sys.env.getOrElse(knob, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val qnames = selected(list("SPARK_GRAFT_PROFILE_QUERY"))
    val scales = list("SPARK_GRAFT_SCALES").map(_.toInt)
    val outDir = sys.env.get("SPARK_GRAFT_PROFILE_OUT")
      .map(d => Files.createDirectories(Paths.get(d)))
    val (spark, sfDir) = BenchSweep.buildSession()
    val rows = (None +: scales.map(Some(_))).flatMap { k =>
      val dir = k.fold(sfDir)(ScaleBench.ensureScaled(spark, sfDir, _))
      qnames.map { q =>
        val key = q + k.fold("")(x => s"_x$x")
        s"${jstr(key)}:${record(spark, q, dir, outDir.map(_.resolve(s"$key.txt")))}"
      }
    }
    val line = rows.mkString("{\"profile\":{", ",", "},") +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""boot_epoch":${BenchSweep.bootEpoch},"sf":${jstr(sfDir)}}"""
    println(line)
    outDir.foreach(d => Files.writeString(d.resolve("profile.json"), line + "\n"))
    spark.stop()
  }
}
