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
  * count, the cold and warm wall times, and the SparkListener totals of
  * one steady-state run (jobs, stages, tasks, shuffle read/write, spill,
  * executor run and GC time, exchanges run and reused) plus its per-job
  * and per-stage lines, and for a query in [[corpusStats]] the corpus
  * statistics its cost follows. The listener sees EVERY job the query
  * runs, including RDD-level checkpoint materializations that SQL plan
  * dumps never show (the CC loop's per-round jobs, eager
  * localCheckpoints), so exchange-removal claims are checkable as
  * shuffle-byte deltas.
  *
  * Usage: [SPARK_GRAFT_PROFILE_QUERY=q1,q2] [SPARK_GRAFT_SCALES=40,80]
  *        [SPARK_GRAFT_PROFILE_OUT=dir] sbt "runMain graft.Profile"
  * Without a query list every registered query is profiled, and each
  * scale k adds a `ScaleBench.ensureScaled` point over [[scaleTargets]],
  * keyed `<q>_x<k>`; a query list names the queries of every point. Each
  * point starts with `Engine.clearCaches`, so a record's `cold_s` pays
  * the session memos no earlier query of the point built. A scale
  * record's `metamorphic` checks its `rows` against the query's 1×
  * record of the same run ([[Relation]]). One JSON line goes to stdout,
  * with the JVM's max heap and the session's cores; with an out dir it
  * is also written to `profile.json` there, next to one formatted plan
  * per record (`<q>[_x<k>].txt`). Compare two runs by giving them two
  * dirs. A range-partitioned `CorpusSuffix` query (`llm_cross_doc_max`,
  * `llm_cross_doc_spans`) samples its range boundaries from an RDD id,
  * so its tasks and shuffle bytes depend on what ran before it in the
  * session: compare its records only across runs with the same query
  * list and order.
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

  /** How a scale point's row count follows the replication factor k of
    * `ScaleBench.ensureScaled`, given the 1× count r₁ of the same run:
    * copies share no keys and, by the cipher, no letters, so a query
    * whose output is per-copy-local is [[Linear]], one whose output is a
    * fixed-size answer over one copy is [[Constant]], and a query the
    * replication does not replicate is [[Excluded]] with the cause.
    */
  sealed trait Relation
  /** rows = k·r₁ */
  case object Linear extends Relation
  /** rows = r₁ */
  case object Constant extends Relation
  final case class Excluded(reason: String) extends Relation

  /** The queries scale points cover by default, with their row relations:
    * the families whose growth class VERDICT r14 flagged for measurement
    * (suffix arrays, dedup candidate volumes, ER blocking, winnowing
    * probes, distributed BPE, the fixed-point graph operators), the
    * families the r19 flip sweep re-pinned, and the r20 single-exchange
    * basket build whose removed exchange only shows at scale.
    */
  private[graft] val ScaleTargets: Seq[(String, Relation)] = {
    def winnowResampled(perCopy: String) = Excluded("winnowing keeps the minimum gram " +
      "hash per window and the cipher changes every letter gram's hash, so each copy " +
      "selects another fingerprint subset of the same text and pairs near the shared " +
      s"and overlap floors flip per copy (sf0.001 rows per copy $perCopy, none across copies)")
    Seq(
      "llm_suffix_array" -> Linear, "llm_corpus_sa" -> Linear, "llm_suffix_lrs" -> Linear,
      "llm_dedup_exact" -> Linear, "llm_dedup_minhash" -> Linear,
      "llm_dedup_containment" -> Linear,
      "er_customer_pairs" -> Linear, "er_customer_clusters" -> Linear,
      "er_incremental" -> Linear,
      "llm_winnow_overlap" -> winnowResampled("31/31/30"),
      "llm_winnow_probe" -> winnowResampled("4276/4083/4291"),
      "llm_bpe_merges_dist" -> Constant,
      "graph_pagerank" -> Constant, "graph_components" -> Linear,
      "graph_triangles" -> Constant,
      "llm_cross_doc_max" -> Linear, "llm_cross_doc_spans" -> Constant,
      "llm_substring_dup" -> Linear,
      "llm_contamination_report" -> Excluded("one row per train doc, and the " +
        "train/val/test split hashes doc_id, which each copy offsets, so each copy " +
        "draws its own split (sf0.001 train docs per copy 439/456/444)"),
      "er_golden_records" -> Linear,
      "mm_image_neardup" -> Excluded("images are a pure function of doc_id (pixels " +
        "hash it, sizes follow it mod 3 and 5, ids below 8 are corrupt), so each copy " +
        "is a fresh image set (sf0.001 pairs per copy 93/99/94)"),
      "basket_pairs" -> Constant)
  }

  /** The embedding scale paths, covered only when `ScaleBench.embSignFlip`
    * re-identifies each copy's vectors (copies with identical vectors
    * grow every embedding answer k² by corpus construction). The near-dup
    * pairs are the twins `plantTwins` adds once over the table, and the
    * kNN/IVF queries probe a fixed query set, so those answers stay at r₁.
    */
  private[graft] val EmbedTargets: Seq[(String, Relation)] = Seq(
    "llm_embed_neardup_lsh" -> Constant, "llm_embed_clusters_lsh" -> Constant,
    "llm_embed_neardup_lsh_auto" -> Constant, "llm_embed_clusters_lsh_auto" -> Constant,
    "llm_ann_ivf_kmeans" -> Constant, "llm_ann_ivf_indexed" -> Constant,
    "llm_knn_quantized" -> Constant, "llm_knn_pq" -> Constant,
    "llm_semdedup" -> Excluded("one row per vector plus the 24 twins plantTwins adds " +
      "once over the whole table: rows = k·n + 24 (sf0.001: 524/1024/1524)"),
    "llm_kcenter_select" -> Linear)

  /** The scale list of this replication mode. */
  private[graft] def scaleTargets: Seq[(String, Relation)] =
    if (ScaleBench.embSignFlip) ScaleTargets ++ EmbedTargets else ScaleTargets

  /** `ok`, `fail` or `excluded`: `rows` at scale k against the 1× count
    * `r1` under `q`'s declared relation; a query off the scale list has
    * none.
    */
  private[graft] def metamorphic(q: String, k: Int, r1: Long, rows: Long): String =
    scaleTargets.toMap.getOrElse(q, Excluded("not on the scale list")) match {
      case Linear => if (rows == k * r1) "ok" else "fail"
      case Constant => if (rows == r1) "ok" else "fail"
      case Excluded(_) => "excluded"
    }

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

  /** One record (a JSON object) for registered query `q` over `dir`, with
    * its row count: a timed first call (`cold_s`), so session memos are
    * paid outside the profile, then the profiled pass (`sec`) and one
    * more timed pass; `warm_s` is the faster of the two. The plan is the
    * lazy form's when `q` has one, else the profiled frame's; `planFile`
    * receives it formatted. `scale` = (k, rows of `q`'s 1× record) makes
    * it a scale record, which adds `metamorphic`.
    */
  def record(spark: SparkSession, q: String, dir: String, planFile: Option[Path] = None,
             scale: Option[(Int, Long)] = None): (Long, String) = {
    val query = SparkEntry.queries(q)
    def timed[T](run: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val out = run
      (out, (System.nanoTime() - t0) / 1e9)
    }
    val (_, cold) = timed(query(spark, dir).count())
    val sc = spark.sparkContext
    val acc = new Acc
    sc.addSparkListener(acc)
    spark.listenerManager.register(acc)
    sc.setJobDescription(s"profile:$q")
    val ((df, rows), sec) = try timed {
      val df = query(spark, dir)
      (df, df.count())
    } finally {
      sc.setJobDescription(null)
      // listener events are posted async; drain before reading
      ListenerBridge.drain(sc)
      spark.listenerManager.unregister(acc)
      sc.removeSparkListener(acc)
    }
    val (_, again) = timed(query(spark, dir).count())
    val (formatted, joins) =
      if (lazyForms.contains(q)) lazyPlan(spark, q, dir)
      else (df.queryExecution.explainString(FormattedMode), joinsAndSorts(df))
    planFile.foreach(Files.writeString(_, formatted))
    val corpus = corpusStats.get(q).fold("")(_(spark, dir)
      .map { case (k, v) => s"${jstr(k)}:$v" }.mkString(""","corpus":{""", ",", "}"))
    val check = scale.fold("") { case (k, r1) =>
      s""","metamorphic":${jstr(metamorphic(q, k, r1, rows))}""" }
    rows -> acc.synchronized {
      s"""{"sec":${num(sec, 3)},"cold_s":${num(cold, 3)},"warm_s":${num(sec min again, 3)},""" +
        s""""rows":$rows$check,"jobs":${acc.jobLines.size},"stages":${acc.stages},""" +
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
    val named = list("SPARK_GRAFT_PROFILE_QUERY")
    val qnames = selected(named)
    val scaled = if (named.nonEmpty) qnames else scaleTargets.map(_._1)
    val scales = list("SPARK_GRAFT_SCALES").map(_.toInt)
    val outDir = sys.env.get("SPARK_GRAFT_PROFILE_OUT")
      .map(d => Files.createDirectories(Paths.get(d)))
    val (spark, sfDir) = BenchSweep.buildSession()
    val base = scala.collection.mutable.Map.empty[String, Long]
    val rows = ((None, qnames) +: scales.map(k => (Some(k), scaled))).flatMap { case (k, qs) =>
      val dir = k.fold(sfDir)(ScaleBench.ensureScaled(spark, sfDir, _))
      Engine.clearCaches(spark)
      qs.map { q =>
        val key = q + k.fold("")(x => s"_x$x")
        val (n, rec) = record(spark, q, dir, outDir.map(_.resolve(s"$key.txt")),
          k.map(_ -> base(q)))
        if (k.isEmpty) base(q) = n
        s"${jstr(key)}:$rec"
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
