package graft.pipeline

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.{Lake, Upsert}
import graft.validate.{Rule, Validators}

// (Inventory/Pos provide the per-pipeline transforms; this module owns the
// control flow between them.)

/** The reference's Step-Function orchestration (SURVEY.md §3.1: validate →
  * Choice on processed_files > 0 → transform → merge → notify/archive, with
  * Retry/Catch) collapsed into ordinary control flow around Spark actions.
  * SNS notifications become the `notify` callback; state-machine Retry
  * becomes `withRetry` (the reference's 3-5 attempts with backoff,
  * api.py:19, producer.py:25).
  */
object Orchestrate {

  final case class RunReport(
      processedFiles: Long,
      quarantinedFiles: Long,
      transformed: Boolean,
      error: Option[String])

  /** Retry with exponential backoff, capped (ref producer.py:25: cap 30 s;
    * test-friendly baseDelayMs).
    */
  def withRetry[T](attempts: Int = 3, baseDelayMs: Long = 100, capMs: Long = 30000)(f: => T): T = {
    var delay = baseDelayMs
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        case NonFatal(e) =>
          last = e
          i += 1
          if (i < attempts) { Thread.sleep(delay); delay = math.min(delay * 2, capMs) }
      }
    }
    throw last
  }

  private def baseName(p: String): String =
    graft.store.FileLedger.basename(p)

  /** input_file_name() returns a URI-encoded path ("my data" →
    * "my%20data"); decode percent escapes only (NOT URLDecoder, which
    * also corrupts legitimate '+' into spaces) so names compare equal to
    * the Fs listing's basenames and an encodable character can't dodge
    * quarantine.
    */
  private def percentDecode(s: String): String =
    if (!s.contains('%')) s
    else {
      val out = new java.io.ByteArrayOutputStream(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
        } else { out.write(c.toInt); i += 1 }
      }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** One-job file gate: the basenames of the files holding a row that
    * violates any rule (`Validators.violatingKeys` over the combined scan,
    * keyed by input file name; no exchange). A zero-row file has no
    * violating row, so a header-only CSV / empty JSONL is valid-but-empty.
    */
  private def violatingFiles(df: DataFrame, rules: Seq[Rule]): Set[String] =
    Validators.violatingKeys(df, substring_index(input_file_name(), "/", -1), rules)
      .map(percentDecode)

  /** POS batch run (§3.1): file-level validate (whole file quarantined on
    * any violation), Choice on surviving files, transform + KPI additive
    * merge, archive, notify on failure — single-writer, replayable.
    */
  def runPosBatch(
      spark: SparkSession,
      landingDir: String,
      lakeRoot: String,
      notify: String => Unit = _ => ()): RunReport = {
    try {
      val files = graft.store.Fs.list(landingDir)
        .filter(e => e.isFile && e.name.endsWith(".csv")).map(_.path)
      if (files.isEmpty) {
        notify("no input files")
        return RunReport(0, 0, transformed = false, None)
      }
      // Reject un-archivable names at discovery: a processed file that
      // archiveByFilenameDate cannot move stays in landing and double-counts
      // through the additive KPI merge on the next run.
      val (named, badName) = files.partition(Lake.matchesPosName)
      Lake.moveFiles(badName, Lake.zone(lakeRoot, Lake.Zones.Rejected))
      if (named.isEmpty) {
        notify("all files quarantined")
        return RunReport(0, badName.size, transformed = false, None)
      }
      // file gate, one job over all files: required fields non-null per row
      val required = Seq("transaction_id", "store_id", "product_id", "quantity", "revenue", "timestamp")
      val rules = required.map(c => Rule(c, col(c).isNotNull))
      val bad = violatingFiles(Pos.readCsv(spark, named), rules)
      val (valid, quarantined) = named.partition(f => !bad(baseName(f)))
      quarantined.foreach { f =>
        Lake.archiveByFilenameDate(Seq(f), Lake.zone(lakeRoot, Lake.Zones.Rejected))
      }
      // Choice state: zero processed files → notify and stop (ASL :63-73)
      if (valid.isEmpty) {
        notify("all files quarantined")
        return RunReport(0, quarantined.size + badName.size, transformed = false, None)
      }
      val raw = Pos.readCsv(spark, valid)
      val (curated, kpi) = Pos.transform(raw)
      withRetry() {
        Lake.writeDatePartitioned(curated, "date", s"$lakeRoot/curated", org.apache.spark.sql.SaveMode.Append)
      }
      val kpiPath = s"$lakeRoot/kpi"
      // partition-scoped persistence: the delta's dates prune the read
      // AND bound the rewrite — untouched KPI history is never touched
      withRetry() {
        Upsert.additivePartitioned(spark, kpiPath, kpi,
          Seq("product_id"), "total_sales", "date")
      }
      valid.foreach { f =>
        Lake.archiveByFilenameDate(Seq(f), Lake.zone(lakeRoot, Lake.Zones.Archive))
      }
      RunReport(valid.size, quarantined.size + badName.size, transformed = true, None)
    } catch {
      case NonFatal(e) => // Catch state → SNS fail (ASL :183-191)
        notify(s"transformation_error: ${e.getMessage}")
        RunReport(0, 0, transformed = false, Some(e.getMessage))
    }
  }

  /** Inventory batch run (SURVEY.md §2 P8/J2/J4; ref inventory ASL):
    * whole-file business-rule gate → latest-per-key dedup and
    * replace-on-match upsert into the state table (one keyed aggregate) →
    * archive. `nowEpoch` is injected so the not-too-future rule is
    * replayable.
    */
  def runInventoryBatch(
      spark: SparkSession,
      landingDir: String,
      lakeRoot: String,
      nowEpoch: Double,
      notify: String => Unit = _ => ()): RunReport = {
    try {
      val files = graft.store.Fs.list(landingDir)
        .filter(e => e.isFile && e.name.endsWith(".jsonl")).map(_.path)
      if (files.isEmpty) { notify("no input files"); return RunReport(0, 0, transformed = false, None) }
      // file gate, one job over all files. Required-field rules subsume the
      // old per-file missingColumns check: a schema'd JSON read always
      // exposes the declared columns, and a record missing a field
      // surfaces as null.
      val requiredRules = Seq("inventory_id", "product_id", "warehouse_id", "stock_level", "last_updated")
        .map(c => Rule(s"missing_$c", col(c).isNotNull))
      val bad = violatingFiles(
        spark.read.schema(graft.schema.Schemas.inventory).json(files: _*),
        Inventory.inventoryRules(nowEpoch) ++ requiredRules)
      val (valid, quarantined) = files.partition(f => !bad(baseName(f)))
      Lake.moveFiles(quarantined, Lake.zone(lakeRoot, Lake.Zones.Rejected))
      if (valid.isEmpty) { notify("all files quarantined"); return RunReport(0, quarantined.size, transformed = false, None) }
      val raw = spark.read.schema(graft.schema.Schemas.inventory).json(valid: _*)
      // managed merge target in the versioned layout: downstream readers
      // (and the next run's own read-back) resolve the CURRENT pointer,
      // so a reader concurrent with the overwrite sees the old or new
      // state, never a missing path. A state dir written by the OLD
      // in-place layout is adopted as v_00000001 first — without that,
      // `exists` is false over a legacy table and the first post-upgrade
      // run would silently abandon previously merged state.
      val statePath = s"$lakeRoot/inventory_state"
      graft.store.Versioned.adoptLegacy(statePath)
      // dedup and replace-on-match in one keyed aggregate. The state was
      // written from `raw`'s projection, so its schema pins the snapshot
      // read (no footer-inference job).
      val state =
        if (graft.store.Versioned.exists(statePath))
          Some(graft.store.Versioned.read(spark, statePath, raw.schema))
        else None
      val merged = Inventory.mergeLatest(state, raw, "inventory_id", Seq("last_updated"))
      // no staging checkpoint needed: the plan reads snapshot v_n and
      // writes v_n+1 — distinct paths, so Spark's self-read guard is moot
      withRetry() { graft.store.Versioned.overwrite(merged, statePath) }
      Lake.moveFiles(valid, Lake.zone(lakeRoot, Lake.Zones.Archive))
      RunReport(valid.size, quarantined.size, transformed = true, None)
    } catch {
      case NonFatal(e) =>
        notify(s"transformation_error: ${e.getMessage}")
        RunReport(0, 0, transformed = false, Some(e.getMessage))
    }
  }
}
