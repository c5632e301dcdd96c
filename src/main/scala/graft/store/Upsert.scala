package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE-upsert emulation over plain parquet (SURVEY.md §2.6 J4/J5).
  *
  * No ACID table format ships in this environment (no Delta jar), so the
  * two MERGE shapes the reference uses are re-expressed as pure relational
  * algebra. Both are shuffle-on-key plans that scale linearly: the anti
  * join and the re-aggregation hash-partition on the merge key, and when the
  * target is partitioned by a date column only touched partitions need
  * rewriting (`additivePartitioned`'s stage-and-swap).
  *
  * Single-writer assumption documented in the reference's orchestration
  * (Step Functions MaxConcurrentRuns 1) carries over.
  */
object Upsert {

  /** J4: replace-on-match (ref inventory_transform.py:265-277,
    * whenMatchedUpdateAll / whenNotMatchedInsertAll):
    * rows of `existing` whose key appears in `updates` are replaced.
    * `updates` must already be deduplicated per key (latest-wins — J2).
    * Its callers are the registered J4 query (`Inventory.upsertReplace`)
    * and tests; the inventory batch run folds the same rule into its
    * latest-per-key aggregate instead (`Inventory.mergeLatest`), which
    * saves the anti join's exchanges.
    */
  def replaceOnMatch(existing: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(updates)

  /** SCD Type-2 history apply — the MERGE shape the reference's family
    * lacks: dimension changes never overwrite, they close the old row
    * (`valid_to` = effective day) and open a new version. Per update
    * key: attributes equal → no-op; changed → close + insert; unseen
    * key → insert open row; untouched current rows pass through.
    * Comparison is null-safe per compare column. One full-outer join
    * on the key (updates must be deduplicated per key — J2), unions of
    * narrow projections after — linear, shuffle-on-key, the same scale
    * shape as `replaceOnMatch`.
    */
  def scd2Apply(current: DataFrame, updates: DataFrame, keys: Seq[String],
                compareCols: Seq[String], effectiveDay: Long): DataFrame = {
    val open = current.filter(col("valid_to").isNull)
    val closed = current.filter(col("valid_to").isNotNull)
    val u = updates.select(
      keys.map(c => col(c).as(s"u_$c")) ++ compareCols.map(c => col(c).as(s"u_$c")): _*)
    val cond = keys.map(k => col(k) === col(s"u_$k")).reduce(_ && _)
    val j = open.join(u, cond, "full")
    val matched = keys.map(k => col(s"u_$k").isNotNull).reduce(_ && _) &&
      keys.map(k => col(k).isNotNull).reduce(_ && _)
    val changed = !compareCols.map(c => col(c) <=> col(s"u_$c")).reduce(_ && _)
    val keep = j.filter(!matched || !changed)
      .filter(keys.map(k => col(k).isNotNull).reduce(_ && _))
      .select(current.columns.map(col): _*)
    val closedNow = j.filter(matched && changed)
      .select(current.columns.map {
        case "valid_to" => lit(effectiveDay).as("valid_to")
        case c => col(c)
      }: _*)
    val openedNow = j.filter(matched && changed)
      .select((keys ++ compareCols).map(c => col(s"u_$c").as(c))
        :+ lit(effectiveDay).as("valid_from")
        :+ lit(null).cast("long").as("valid_to"): _*)
    val inserted = j.filter(keys.map(k => col(k).isNull).reduce(_ && _))
      .select((keys ++ compareCols).map(c => col(s"u_$c").as(c))
        :+ lit(effectiveDay).as("valid_from")
        :+ lit(null).cast("long").as("valid_to"): _*)
    closed.unionByName(keep).unionByName(closedNow)
      .unionByName(openedNow.select(current.columns.map(col): _*))
      .unionByName(inserted.select(current.columns.map(col): _*))
  }

  /** J5: additive merge (ref transfom_pos.py:140-152,
    * total_sales = target.total_sales + source.total_sales):
    * valid as a re-aggregation precisely because the update rule is
    * additive — union then sum per key.
    */
  def additive(existing: DataFrame, delta: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    existing.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(sum(col(valueCol)).as(valueCol))

  /** J5 at rest, partition-scoped: the additive merge persisted to a
    * hive-partitioned KPI table, touching ONLY the delta's partitions.
    * The whole-table form (additive + full swap) rereads and rewrites
    * the entire KPI history every batch — at real history sizes that is
    * a per-batch full rewrite for a delta touching a handful of recent
    * dates. Stage and swap, in one pass over the delta:
    *  1. the delta's per-key aggregate is written once, partitioned, to
    *     `<table>/_staging/<id>/`;
    *  2. that dir's listing names the touched partitions — no emptiness
    *     probe, no collect of partition values (an empty delta writes no
    *     partition dir and publishes nothing);
    *  3. the partitions the table has are merged: their live dirs and
    *     staged dirs, read schema-pinned as explicit paths, are
    *     re-aggregated into a second staging dir;
    *  4. only then is anything published, back to back: a partition the
    *     table lacks by renaming its staged dir into place, a merged one
    *     by swapping it in (`Lake.swapPartition`).
    * Untouched partitions are never read, never shuffled, never
    * rewritten — their files stay byte-identical (LakeSpec asserts
    * mtimes). No session conf is involved, so an un-tuned session is as
    * safe as a tuned one. The table root's `_SUCCESS` is refreshed on
    * every commit that published something.
    *
    * Single writer (the table's sibling lock refuses a live second one).
    * Windows: while a touched partition is swapped, a reader listing the
    * table finds that one dir missing for two renames. A crash in that
    * gap leaves the old dir aside under `_staging`, and the next call
    * (or `Lake.compactPartitions`) renames it back before anything else
    * (`Lake.withPartitionSwaps`); any other crash leaves only
    * unpublished staging, deleted by that same step. A failed job
    * publishes nothing, so a retry or replay of the batch is exact. Only
    * a crash part-way through the renames of step 4 leaves the batch
    * partly applied, and a replay adds the published part again: the
    * at-least-once caveat of every additive merge here (T5), no wider
    * than the renames of a Spark job commit.
    */
  def additivePartitioned(spark: org.apache.spark.sql.SparkSession, tableDir: String,
                          delta: DataFrame, keys: Seq[String], valueCol: String,
                          partitionCol: String): Unit =
      Lake.withPartitionSwaps(tableDir) {
    val fullKeys = keys :+ partitionCol
    val deltaAgg = delta.groupBy(fullKeys.map(col): _*).agg(sum(col(valueCol)).as(valueCol))
      .select(fullKeys.map(col) :+ col(valueCol): _*)
    val schema = deltaAgg.schema
    val staged = Lake.stagingDir(tableDir)
    deltaAgg.write.partitionBy(partitionCol).parquet(staged)
    val touched = Lake.partitionDirs(staged, partitionCol)
    val (live, fresh) = touched.partition(e => Fs.exists(s"$tableDir/${e.name}"))
    // every job runs before the first rename: a failed merge leaves the
    // table as it was, so a retry or replay of the same delta is exact
    val merged = Lake.stagingDir(tableDir)
    if (live.nonEmpty) {
      def read(base: String): DataFrame = spark.read.schema(schema).option("basePath", base)
        .parquet(live.map(e => s"$base/${e.name}"): _*)
      // cast back to the pinned types: a re-sum widens decimals
      additive(read(tableDir), read(staged), fullKeys, valueCol)
        .select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
        .write.partitionBy(partitionCol).parquet(merged)
    }
    fresh.foreach(e => Lake.swapPartition(tableDir, staged, e.name))
    live.foreach(e => Lake.swapPartition(tableDir, merged, e.name))
    if (touched.nonEmpty) Fs.writeString(s"$tableDir/_SUCCESS", "")
  }

  /** At-rest ledger for the partition-scoped streaming merge, keyed on
    * CONTENT (the applied SOURCE FILES), not on batch ids: one marker
    * per applied landing file under `<table>/_ledger/`
    * (underscore-prefixed, so Spark's file discovery never sees it as
    * data — the same trick as `_manifest`). Marker name = SHA-256 of the
    * file path (paths carry separators/escapes no filename can), marker
    * content = the path itself, for operators reading the ledger.
    *
    * A batch id is only a valid dedup key while the streaming checkpoint
    * that numbered it is intact: after a checkpoint wipe, the source
    * renumbers and re-bundles — a replayed "batch 0" may mix
    * already-applied files with never-applied ones, so skipping or
    * applying on the id either loses data or double-counts it. File
    * markers make the merge idempotent under ANY renumbering: the caller
    * filters each batch to rows from unledgered files (the same
    * content-keyed discipline as `winnowIngestStream`'s doc-id
    * anti-join, at file grain). Membership is one file-exists probe and
    * recording is a tmp-write + atomic rename; both are driver-side
    * metadata ops bounded by files-per-batch, nothing scales with rows.
    *
    * The residual window is a crash BETWEEN the data commit and the
    * marker renames — the transactional-log gap every non-ACID table
    * has; single-writer, documented, one batch wide.
    */
  def fileLedgerContains(tableDir: String, file: String): Boolean =
    fileLedgerHasMarker(tableDir, file) ||
      fileLedgerHwm(tableDir).exists(FileLedger.basename(file) <= _)

  /** Marker-file probe alone — callers that batch many files hoist one
    * `fileLedgerHwm` read and use this per file.
    */
  def fileLedgerHasMarker(tableDir: String, file: String): Boolean =
    Fs.exists(s"$tableDir/_ledger/${fileLedgerKey(file)}")

  /** The ledger's compacted high-watermark, if one has been written:
    * every landing file whose basename is lexicographically at or below
    * it is applied (see `fileLedgerCompact`).
    */
  def fileLedgerHwm(tableDir: String): Option[String] =
    Fs.readStringIfExists(s"$tableDir/_ledger/HWM").map(_.trim).filter(_.nonEmpty)

  /** Retire marker files behind a high-watermark so the `_ledger` dir
    * stops growing with stream age — the marker-file twin of the
    * in-snapshot `FileLedger` compaction, under the same monotone
    * landing-name contract. `landedBasenames` is the landing dir's
    * current listing; the watermark only advances over names it proves
    * are all applied, so in-flight files hold it back. Crash order is
    * safe either way: HWM is published first (tmp + atomic rename), and
    * a crash mid-retirement just leaves markers at or below the
    * watermark for the next compaction to delete — a lingering marker
    * only re-affirms containment.
    */
  def fileLedgerCompact(tableDir: String, landedBasenames: Set[String]): Unit = {
    val dir = s"$tableDir/_ledger"
    if (!Fs.exists(dir)) return
    val markers = Fs.list(dir)
      .filter { e =>
        e.name.length == 64 && e.name.forall(c => c.isDigit || ('a' to 'f').contains(c))
      }
    // marker CONTENT is the full landing path `fileLedgerRecord` wrote
    val byBase = markers.map { m =>
      FileLedger.basename(Fs.readString(m.path)) -> m.path
    }
    val prev = FileLedger.State(fileLedgerHwm(tableDir), byBase.map(_._1).toSet)
    val next = FileLedger.compact(prev, Set.empty, landedBasenames)
    // HWM publish = pointer flip (atomic POSIX/HDFS; tiny-object copy
    // on S3 — Fs atomicity matrix), then marker retirement is pure reclaim
    next.hwm.filterNot(prev.hwm.contains).foreach { w =>
      Fs.writeStringAtomic(s"$dir/HWM", w)
    }
    next.hwm.foreach { w =>
      byBase.filter(_._1 <= w).foreach(p => Fs.deleteIfExists(p._2))
    }
  }

  def fileLedgerRecord(tableDir: String, file: String): Unit =
    Fs.writeStringAtomic(s"$tableDir/_ledger/${fileLedgerKey(file)}", file)

  private def fileLedgerKey(file: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(file.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Whether `<table>/_ledger` holds pre-file-grain BATCH-ID markers
    * (all-digit names; file keys are 64 hex chars). A batch id cannot be
    * mapped back to the files it covered, so the file-grain dedup cannot
    * know which landing files such a ledger already applied — continuing
    * would re-apply them on the next redelivery and double-count.
    * Callers check once at stream start and fail fast with a migration
    * message instead.
    */
  def ledgerHasLegacyBatchIds(tableDir: String): Boolean =
    Fs.list(s"$tableDir/_ledger").exists { e =>
      e.name.nonEmpty && e.name.length < 64 && e.name.forall(_.isDigit)
    }

  /** Exactly-once upgrade of the additive merge: the reference's MERGE
    * double-counts on replay (T5, at-least-once). Tagging each delta with
    * its batch id and keeping the applied-batch ledger alongside the state
    * makes replays no-ops.
    *
    * The ledger is a driver-held manifest (Set of batch ids — one tiny id
    * per micro-batch, the same cardinality as a streaming commit log),
    * loaded ONCE next to the state: membership is a Set lookup, where the
    * former DataFrame ledger cost a filter+count Spark job — a driver
    * round-trip per micro-batch — at high trigger rates.
    */
  final case class LedgeredState(state: DataFrame, appliedBatches: Set[String]) {
    /** The manifest as a single-column DataFrame, to persist with the state. */
    def ledger: DataFrame = {
      val spark = state.sparkSession
      import spark.implicits._
      appliedBatches.toSeq.toDF("batch_id")
    }
  }

  object LedgeredState {
    /** Rehydrate from a persisted state + ledger (one collect at startup,
      * not one per merge).
      */
    def load(state: DataFrame, ledger: DataFrame): LedgeredState =
      LedgeredState(state,
        ledger.select(col("batch_id")).collect().map(_.getString(0)).toSet)
  }

  def additiveIdempotent(
      current: LedgeredState, delta: DataFrame, batchId: String,
      keys: Seq[String], valueCol: String): LedgeredState =
    if (current.appliedBatches(batchId)) current
    else LedgeredState(
      additive(current.state, delta, keys, valueCol),
      current.appliedBatches + batchId)
}
