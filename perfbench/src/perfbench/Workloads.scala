package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import graft.{Engine, ScaleBench, SparkEntry}
import graft.pipeline.{Crm, Orchestrate, Web}
import graft.schema.Schemas
import graft.store.Versioned
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.stream.MicroBatch

/** Times the phases of one op: `build` around constructing the work
  * (including any eager jobs the engine runs there), `action` around
  * running it.
  */
trait Timer {
  def build[T](f: => T): T
  def action[T](f: => T): T
}

/** One call into the engine. `run` does the timed work and returns the
  * check, which runs after the timer stops and returns an error message
  * for a wrong output.
  */
final case class Op(name: String, module: String, run: Timer => (() => Option[String]))

/** A workload: what one set-up prepares and what one unit of its fixed
  * work is. Units are what `wall_s` times: a round of queries, a cold
  * pass of the curation chain, or one ingest cycle.
  */
trait Workload {
  def name: String
  /** Input preparation that is cached across runs and excluded from set-up time. */
  def cachedInputs(spark: SparkSession): Unit = ()
  def start(spark: SparkSession): Unit = ()
  def stop(spark: SparkSession): Unit = ()
  /** Work done before a unit, outside its timing (curation clears the memos). */
  def beforeUnit(spark: SparkSession, cold: Boolean): Unit = ()
  def unit(spark: SparkSession, index: Int): Seq[Op]
  /** Wall time of one warm unit on the reference box (4 vCPU); sizes a run. */
  def nominalUnitSeconds: Double
  /** Records landed by units so far (ingest only). */
  def landedRows: Long = 0L
  def extraReport(spark: SparkSession): Seq[(String, Double, String)] = Nil
  /** Counts the workload keeps itself (validate layer), read around traced units. */
  def counters: Map[String, Double] = Map.empty
  /** Whether a traced run's extra unit runs right after clearing the memos. */
  def memoProbeCold: Boolean = true
}

object Modules {
  private val packs: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Web" -> Web.queries, "Crm" -> Crm.queries, "Pos" -> graft.pipeline.Pos.queries,
    "Inventory" -> graft.pipeline.Inventory.queries, "Analytics" -> graft.pipeline.Analytics.queries,
    "Bucketed" -> graft.store.Bucketed.queries, "CatalogTable" -> graft.store.CatalogTable.queries,
    "ZOrder" -> graft.store.ZOrder.queries, "Dedup" -> graft.llm.Dedup.queries,
    "Similarity" -> graft.llm.Similarity.queries, "TextAnalysis" -> graft.llm.TextAnalysis.queries,
    "Suffix" -> graft.llm.Suffix.queries, "CorpusSuffix" -> graft.llm.CorpusSuffix.queries,
    "Bpe" -> graft.llm.Bpe.queries, "Graph" -> graft.ops.Graph.queries,
    "Linkage" -> graft.ops.Linkage.queries)

  /** Source files whose job time the traced run reports. */
  val Files: Seq[String] = Seq("Dedup", "Similarity", "TextAnalysis", "Suffix", "Bpe", "Graph", "Linkage",
    "Analytics", "Web", "Crm", "Pos", "Inventory", "Orchestrate", "Upsert", "Lake", "Versioned",
    "MicroBatch", "Checkpoints")

  def of(query: String): String = packs.collectFirst { case (m, q) if q.contains(query) => m }.getOrElse("SparkEntry")
}

/** Read-side workloads: registered queries over the generated tables,
  * each checked by row count and content digest against `expected`.
  */
abstract class QueryWorkload(dir: String, seed: Long, expected: Map[String, Digest.Result],
                             record: Option[java.io.PrintWriter], inject: Set[String],
                             dump: Option[String]) extends Workload {
  def queries: Seq[String]
  protected def dataDir: String = dir

  protected def queryOp(spark: SparkSession, q: String): Op = {
    val fn = SparkEntry.queries(q)
    Op(q, Modules.of(q), t => {
      val df = t.build(if (inject(q)) throw new IllegalStateException("injected failure") else fn(spark, dataDir))
      val rows = t.action(df.collect())
      () => {
        val got = Digest.of(rows)
        record.foreach(w => w.synchronized(w.println(s"$name\t$q\t${got.rows}\t${got.hash}")))
        // record mode: keep the result and the oracle SQL for the DuckDB cross-check
        dump.filter(d => !Files.exists(Paths.get(s"$d/$q"))).foreach { d =>
          SparkEntry.oracleSql.get(q).foreach { sql =>
            df.write.parquet(s"$d/$q")
            Files.write(Paths.get(s"$d/$q.sql"), sql.getBytes("UTF-8"))
          }
        }
        expected.get(q) match {
          case None if record.isDefined => None
          case None => Some("no expected value")
          case Some(e) if e == got => None
          case Some(e) => Some(s"expected ${e.rows} rows/${e.hash}, got ${got.rows} rows/${got.hash}")
        }
      }
    })
  }

  protected def order(index: Int): Seq[String] = new Random(seed * 7919L + index).shuffle(queries)
  def unit(spark: SparkSession, index: Int): Seq[Op] = order(index).map(queryOp(spark, _))
}

/** `dashboard`: short warm read queries — the reference's Athena/QuickSight
  * surface — one round per unit in a seed-shuffled order. Per-query fixed
  * cost (planning, codegen, job scheduling) dominates these.
  */
final class Dashboard(dir: String, seed: Long, expected: Map[String, Digest.Result],
                      record: Option[java.io.PrintWriter], inject: Set[String], dump: Option[String])
    extends QueryWorkload(dir, seed, expected, record, inject, dump) {
  val name = "dashboard"
  val nominalUnitSeconds = 8.5
  val queries: Seq[String] = Seq(
    "web_engagement", "web_sessionize", "crm_loyalty_metrics", "pos_sales_kpi",
    "inv_dedup_latest", "scd2_customer_history", "sales_by_region",
    "events_cohort_retention", "zorder_keys")
}

/** `curation`: the heavy offline chain over the replicated corpus. Every
  * unit starts with `Engine.clearCaches`, so the session memos are built
  * again and shared along the chain, as in one curation job.
  */
final class Curation(dir: String, seed: Long, copies: Int, expected: Map[String, Digest.Result],
                     record: Option[java.io.PrintWriter], inject: Set[String])
    extends QueryWorkload(dir, seed, expected, record, inject, None) {
  val name = "curation"
  val nominalUnitSeconds = 9.0
  val queries: Seq[String] = Seq(
    "llm_dedup_exact", "llm_dedup_minhash", "llm_dedup_clusters", "graph_components",
    "er_customer_clusters")
  // chain order is fixed: which op builds a shared memo depends on it
  override protected def order(index: Int): Seq[String] = queries
  private var scaled: String = _
  override protected def dataDir: String = scaled
  override def cachedInputs(spark: SparkSession): Unit = scaled = ScaleBench.ensureScaled(spark, dir, copies)
  override def beforeUnit(spark: SparkSession, cold: Boolean): Unit = if (cold) Engine.clearCaches(spark)
  override def memoProbeCold: Boolean = false
}

/** `ingest`: the write path of the four reference pipelines. Each unit is
  * one cycle: land a generated batch, run the POS and inventory batch
  * jobs, then drain the two long-lived streaming queries. Every cycle
  * writes into the same growing lake.
  */
final class Ingest(batches: String, work: String, triggerMs: Long, inject: Set[String]) extends Workload {
  val name = "ingest"
  val nominalUnitSeconds = 5.0
  // invariants.tsv: a `now_epoch` line, a header line, then one line of
  // cumulative expected values per generated cycle
  private val (nowEpoch, cycles) = {
    val lines = Files.readAllLines(Paths.get(s"$batches/invariants.tsv")).asScala.toSeq
    val header = lines(1).split('\t').toSeq
    (lines.head.split('\t')(1).toDouble, lines.drop(2).map(l => header.zip(l.split('\t')).toMap))
  }
  private val landing = s"$work/landing"
  private val lake = s"$work/lake"
  private var web: org.apache.spark.sql.streaming.StreamingQuery = _
  private var crm: org.apache.spark.sql.streaming.StreamingQuery = _
  private var nextCycle = 0
  private var landed = 0L
  private var landedBytes = 0L

  Files.createDirectories(Paths.get(work))
  Seq("pos", "inventory", "web", "crm").foreach(d => Files.createDirectories(Paths.get(s"$landing/$d")))

  override def start(spark: SparkSession): Unit = {
    web = MicroBatch.ingest(spark, s"$landing/web", Schemas.weblogs, df => Web.ingest(df), "event_time",
      s"$lake/web_processed", s"$lake/web_quarantine", s"$work/chk/web", triggerMs)
    crm = MicroBatch.ingest(spark, s"$landing/crm", Schemas.crm, Crm.cleanRecords, "event_ts",
      s"$lake/crm_processed", s"$lake/crm_dlq", s"$work/chk/crm", triggerMs)
  }

  override def stop(spark: SparkSession): Unit = {
    Option(web).foreach(_.stop()); Option(crm).foreach(_.stop())
  }

  override def landedRows: Long = landed

  private var quarantinedFiles = 0L
  private val rejectedRows = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
  override def counters: Map[String, Double] = Map(
    "validate.quarantined_files" -> quarantinedFiles.toDouble,
    "validate.rejected_rows" -> rejectedRows.values.sum.toDouble)

  /** Copies one generated batch into the landing area: written under a
    * dot-name, which file sources skip, then renamed into place.
    */
  private def land(cycle: Int, kind: String): Unit = {
    val listing = Files.list(Paths.get(f"$batches/$cycle%04d/$kind"))
    val files = try listing.iterator().asScala.toSeq.sortBy(_.toString) finally listing.close()
    files.foreach { f =>
      val bytes = Files.readAllBytes(f)
      landedBytes += bytes.length
      landed += bytes.count(_ == '\n') - (if (kind == "pos") 1 else 0)
      val tmp = Paths.get(s"$landing/$kind/.${f.getFileName}")
      Files.write(tmp, bytes)
      Files.move(tmp, tmp.resolveSibling(f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def count(spark: SparkSession, read: => DataFrame): Long =
    try read.count() catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  def unit(spark: SparkSession, index: Int): Seq[Op] = {
    require(nextCycle < cycles.size, s"only ${cycles.size} generated ingest cycles")
    val c = nextCycle
    nextCycle += 1
    val want = cycles(c)
    def n(k: String): Long = want(k).toLong
    def fail[T](name: String)(f: => T): T =
      if (inject(name)) throw new IllegalStateException("injected failure") else f
    Seq(
      Op("pos_batch", "Orchestrate", t => {
        t.build(land(c, "pos"))
        val rep = t.action(fail("pos_batch")(Orchestrate.runPosBatch(spark, s"$landing/pos", lake)))
        quarantinedFiles += rep.quarantinedFiles
        () => {
          val total = spark.read.parquet(s"$lake/kpi").agg(sum(col("total_sales"))).head().getDouble(0)
          val exp = want("pos_total_sales").toDouble
          if (rep.error.isDefined) rep.error
          else if (math.abs(total - exp) > 0.005 + 1e-9 * math.abs(exp)) Some(s"KPI total_sales $total != $exp")
          else None
        }
      }),
      Op("inventory_batch", "Orchestrate", t => {
        t.build(land(c, "inventory"))
        val rep = t.action(fail("inventory_batch")(
          Orchestrate.runInventoryBatch(spark, s"$landing/inventory", lake, nowEpoch)))
        quarantinedFiles += rep.quarantinedFiles
        () => {
          val ids = Versioned.read(spark, s"$lake/inventory_state").count()
          if (rep.error.isDefined) rep.error
          else if (ids != n("inventory_ids")) Some(s"inventory state rows $ids != ${n("inventory_ids")}")
          else None
        }
      }),
      Op("web_drain", "MicroBatch", t => {
        t.build(land(c, "web"))
        t.action(fail("web_drain")(web.processAllAvailable()))
        () => drained(spark, "web_processed", "web_quarantine", n("web_landed"), n("web_rejected"))
      }),
      Op("crm_drain", "MicroBatch", t => {
        t.build(land(c, "crm"))
        t.action(fail("crm_drain")(crm.processAllAvailable()))
        () => drained(spark, "crm_processed", "crm_dlq", n("crm_landed"), n("crm_rejected"))
      }))
  }

  private def drained(spark: SparkSession, clean: String, bad: String, landedRows: Long,
                      rejected: Long): Option[String] = {
    val c = count(spark, spark.read.parquet(s"$lake/$clean"))
    val q = count(spark, spark.read.json(s"$lake/$bad"))
    rejectedRows(bad) = q
    if (c + q != landedRows || q != rejected) Some(s"$clean $c + $bad $q != landed $landedRows (rejected $rejected)")
    else None
  }

  /** Bytes the engine wrote into the lake (landing files moved into the
    * archive and rejected zones are not counted) per landed input byte.
    */
  override def extraReport(spark: SparkSession): Seq[(String, Double, String)] = {
    val walk = Files.walk(Paths.get(lake))
    val written = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filterNot(p => p.toString.contains("/archive/") || p.toString.contains("/rejected/"))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .map(Files.size).sum
    finally walk.close()
    Seq(("lake_bytes_per_input_byte", written.toDouble / math.max(1L, landedBytes), "B/B"))
  }
}
