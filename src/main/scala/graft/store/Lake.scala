package graft.store

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.Cleansing

/** Zoned lake storage (SURVEY.md §2.2 K1–K4, K8, K10).
  *
  * Zone discipline mirrors the reference: raw → validated → processed →
  * rejected/quarantine → archive (inventory_validate.py:24-27). Writes are
  * hive-partitioned snappy parquet — the same layout the reference
  * hand-rolls per micro-batch (transformation.py:131-168) but expressed as
  * `partitionBy`, which Spark turns into a distributed, partition-pruned
  * layout for free.
  *
  * Filesystem seam: the move/archive/migrate helpers below go through
  * [[Fs]] (Hadoop `FileContext`), so a table path may be local, HDFS,
  * or object storage by scheme. Every call is a bounded driver-side
  * listing or a single rename. Atomicity, per Fs's matrix: the staged
  * two-move swaps (`atomicOverwrite`/`compact`/`optimize`) assume an
  * atomic DIRECTORY rename — true on POSIX and HDFS, FALSE on S3
  * (copy+delete, O(objects)); on an object store those swaps must be
  * replaced by the pointer-flip layout [[Versioned]] provides (which
  * is why every uncoordinated-reader table here already sits behind
  * it). Per-file moves (`moveFiles`, archive helpers) are atomic on
  * POSIX/HDFS and small-object copies on S3 — correct under the
  * single-writer contract either way.
  */
object Lake {

  object Zones {
    val Raw = "raw"
    val Validated = "validated"
    val Processed = "processed"
    val Rejected = "rejected"
    val Dlq = "dlq"
    val Archive = "archive"
  }

  def zone(root: String, z: String): String = s"$root/$z"

  /** K1: partitioned parquet append of a (micro)batch keyed by event time:
    * year/month/day/hour dirs exactly like the reference's layout
    * (transformation.py:163-165).
    */
  def appendPartitioned(df: DataFrame, tsCol: String, dest: String): Unit = {
    val withParts = Cleansing.partitionCols(col(tsCol)).foldLeft(df) {
      case (d, (name, c)) => d.withColumn(name, c)
    }
    withParts.write
      .partitionBy("year", "month", "day", "hour")
      .mode(SaveMode.Append)
      .parquet(dest)
  }

  /** K2: date-partitioned parquet write (ref inventory_transform.py:279-283). */
  def writeDatePartitioned(df: DataFrame, dateCol: String, dest: String,
                           mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.partitionBy(dateCol).mode(mode).parquet(dest)

  /** ORC interchange — the second columnar format warehouses exchange
    * (Hive/Trino estates are ORC-first): same partitioned layout and
    * pushdown contract as the parquet writers, so a table can be handed
    * to an ORC consumer or ingested from one without a staging hop.
    * LakeSpec asserts the round-trip AND that predicates reach the ORC
    * scan (pushdown parity is the point — a format hop must not cost
    * the pruning).
    */
  def writeOrcPartitioned(df: DataFrame, partCol: String, dest: String,
                          mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.partitionBy(partCol).mode(mode).orc(dest)

  def readOrc(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(dir)

  /** K4: quarantine sink — rejected records with reasons as JSON lines
    * (ref transformation.py:170-176 writes one JSON per failure; at scale a
    * JSONL directory is the same contract without the per-object overhead).
    */
  def quarantine(rejected: DataFrame, dest: String): Unit =
    rejected.write.mode(SaveMode.Append).json(dest)

  /** K6: DLQ sink — failed record + error, append-only JSON directory
    * (ref lambda_function.py:120-156).
    */
  def dlq(failed: DataFrame, dest: String): Unit =
    failed.write.mode(SaveMode.Append).json(dest)

  /** P2 side sink: records bearing undeclared keys, verbatim + the key
    * names, for schema-evolution review (ref api.py:125-135 routes them to
    * an `extra_columns` area instead of dropping the keys silently).
    */
  def writeExtras(extras: DataFrame, dest: String): Unit =
    extras.write.mode(SaveMode.Append).json(dest)

  /** K5: keyed producer sink (ref api.py:101-116 / producer.py:121-143 put
    * records onto Kinesis with a partition key). Kinesis semantics — each
    * key hashes to exactly one shard, a shard preserves arrival order — map
    * to: hash the key into `shards` buckets, co-locate each bucket with
    * repartition, write one hive dir per shard. A keyed consumer reads its
    * shard directory and sees every record for its keys. Hash-sharding (not
    * partitionBy(key)) keeps the directory count bounded at scale: millions
    * of session ids must not become millions of directories.
    */
  def writeKeyed(df: DataFrame, keyCol: String, dest: String, shards: Int = 8): Unit =
    df.withColumn("shard", pmod(xxhash64(col(keyCol)), lit(shards)))
      .repartition(col("shard"))
      .write.partitionBy("shard").mode(SaveMode.Append).parquet(dest)

  /** K8: validation summary (one small JSON, drives the downstream branch
    * — ref validate.py:107-132).
    */
  def writeSummary(summary: DataFrame, dest: String): Unit =
    summary.coalesce(1).write.mode(SaveMode.Overwrite).json(dest)

  /** Crash recovery for the two-move swap `atomicOverwrite`/`compact`
    * perform: a crash between "table → .old" and "staged → table" leaves
    * the canonical path missing with the data stranded at `<dir>.old`.
    * Called at the start of every swap (and usable standalone on
    * startup): if exactly that state is found, the backup is restored,
    * so the swap windows are self-healing across restarts.
    */
  def recoverSwap(dir: String): Unit =
    if (!Fs.exists(dir) && Fs.exists(dir + ".old"))
      Fs.rename(dir + ".old", dir)

  /** J4 at rest: table swap — write the merged result to a temp dir, then
    * move it over the target. The parquet analogue of the reference's
    * Delta MERGE transaction boundary. SINGLE-WRITER, NO-CONCURRENT-
    * READER contract: the two moves are each atomic but the pair is not —
    * between them the table path does not exist, so a concurrent reader
    * can fail with path-not-found. A crash in that window is recovered by
    * `recoverSwap` on the next swap (or at startup).
    *
    * Use this form only where plain `spark.read.parquet(dest)`
    * compatibility of the canonical path is required and readers are
    * coordinated. Where readers are NOT coordinated, use
    * [[Versioned.overwrite]]: versioned snapshot dirs + an atomic
    * pointer flip remove the missing-path window entirely (the
    * scd2 stream table and the inventory merge state use it).
    */
  def atomicOverwrite(spark: SparkSession, result: DataFrame, dest: String): Unit = {
    Fs.requireAtomicDirRename(dest, "Lake.atomicOverwrite")
    Versioned.withSiblingLock(dest) {
      recoverSwap(dest)
      val tmp = dest + ".staging"
      result.write.mode(SaveMode.Overwrite).parquet(tmp)
      val bak = dest + ".old"
      Fs.delete(bak)
      if (Fs.exists(dest)) Fs.rename(dest, bak)
      Fs.rename(tmp, dest)
      Fs.delete(bak)
    }
  }

  /** Small-file compaction: streaming appends write one file per
    * micro-batch per partition dir, and a day of 1-minute triggers turns
    * every partition into ~1440 tiny files — the classic lake pathology
    * (scan task per file, NameNode/listing pressure). Rewrite the table
    * to ~`targetRowsPerFile` rows per file and swap atomically; the data
    * (and the hive partition layout, via the partition columns in the
    * frame) is byte-identical, only the file count changes. Runs as one
    * job; at cluster scale, run it per partition predicate instead
    * (`where`) so only cold partitions rewrite.
    *
    * Same SINGLE-WRITER, NO-CONCURRENT-READER swap contract as
    * `atomicOverwrite` (each move is atomic, the pair is not); a crash
    * between the moves is healed by `recoverSwap` on the next call.
    */
  def compact(spark: SparkSession, tableDir: String,
              targetRowsPerFile: Long = 1000000L,
              partitionCols: Seq[String] = Nil): Unit = {
    Fs.requireAtomicDirRename(tableDir, "Lake.compact")
    Versioned.withSiblingLock(tableDir) {
    recoverSwap(tableDir)
    val df = spark.read.parquet(tableDir)
    val rows = df.count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
    val out =
      if (partitionCols.nonEmpty)
        // repartition by partition cols: each output task holds whole
        // partition dirs, so files-per-partition-dir stays ~1
        df.repartition(nFiles, partitionCols.map(org.apache.spark.sql.functions.col): _*)
      else df.repartition(nFiles)
    val tmp = tableDir + ".compacting"
    val writer = out.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp)
    val bak = tableDir + ".old"
    Fs.delete(bak)
    Fs.rename(tableDir, bak)
    Fs.rename(tmp, tableDir)
    Fs.delete(bak)
  }
  }

  /** INCREMENTAL compaction: rewrite only the partition dirs whose
    * small-file count crossed `maxFilesPerPartition` — the per-partition
    * form of `compact` and the one that survives scale. A streaming
    * table accretes files only in the partitions it currently writes
    * (today's dates); whole-table compaction re-reads and re-writes
    * years of already-compact history to fix them, every maintenance
    * run. Here the hot dirs are found by a FILE LISTING (driver-side
    * metadata, zero data read); each is read DIRECTLY, its file columns
    * re-packed to one file in `_staging/<id>/<dirName>`, and swapped in
    * under the dir's own escaped name ([[swapPartition]]). Cold
    * partitions are never read, never rewritten — their files stay
    * byte-identical (LakeSpec asserts). Because the dir is the unit, no
    * partition value is ever parsed, typed or filtered on: null dirs
    * (`__HIVE_DEFAULT_PARTITION__`), timestamps and escaped names
    * compact like any other. Same single-writer contract, crash
    * recovery and reader window as `Upsert.additivePartitioned`.
    *
    * Returns the (unescaped) partition values it compacted (bounded:
    * partitions needing work, not rows).
    */
  def compactPartitions(spark: SparkSession, tableDir: String, partitionCol: String,
                        maxFilesPerPartition: Int = 4): Seq[String] =
      withPartitionSwaps(tableDir) {
    val hot = partitionDirs(tableDir, partitionCol)
      .filter(e => Fs.list(e.path).count(_.name.endsWith(".parquet")) > maxFilesPerPartition)
      .map(e => (e, org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(e.name.stripPrefix(s"$partitionCol="))))
      .sortBy(_._2)
    val staging = stagingDir(tableDir)
    hot.foreach { case (e, _) =>
      // the staged dir becomes the partition dir itself, so no _SUCCESS
      spark.read.parquet(e.path).coalesce(1).write
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .parquet(s"$staging/${e.name}")
      swapPartition(tableDir, staging, e.name)
    }
    hot.map(_._2)
  }

  // ---- partition-dir swaps -------------------------------------------------

  private val Staging = "_staging"
  // under a staging dir, where a partition dir (`<col>=<value>`) cannot
  // take the same name whatever its value
  private val Aside = "_aside"

  /** Run one partition commit of `tableDir` under its sibling writer
    * lock: first [[recoverPartitionSwaps]], then `f`, which stages under
    * [[stagingDir]] and publishes with [[swapPartition]], then drop the
    * staging root — and the table dir itself if this commit created it
    * and published nothing into it. Refuses a store whose directory
    * rename is not atomic (Fs's matrix): there a crash part-way through
    * moving a live dir aside would leave no complete copy to restore.
    */
  private[store] def withPartitionSwaps[T](tableDir: String)(f: => T): T = {
    Fs.requireAtomicDirRename(tableDir, "Lake.withPartitionSwaps")
    Versioned.withSiblingLock(tableDir) {
      val created = !Fs.exists(tableDir)
      recoverPartitionSwaps(tableDir)
      val out = f
      Fs.delete(s"$tableDir/$Staging")
      if (created && Fs.list(tableDir).isEmpty) Fs.delete(tableDir)
      out
    }
  }

  /** The `<partitionCol>=<value>` dirs directly under `dir`. */
  private[store] def partitionDirs(dir: String, partitionCol: String): Seq[Fs.Entry] =
    Fs.list(dir).filter(e => e.isDir && e.name.startsWith(s"$partitionCol="))

  /** A fresh staging dir for one partition commit, `<table>/_staging/<id>`:
    * underscore-prefixed, so Spark's file discovery never lists it as
    * table data, and on the table's own filesystem, so publishing a
    * staged partition dir is a rename, never a copy.
    */
  private[store] def stagingDir(tableDir: String): String =
    s"$tableDir/$Staging/${java.util.UUID.randomUUID()}"

  /** Publish `<staging>/<dirName>` (`staging` from [[stagingDir]]) as the
    * partition dir `<table>/<dirName>`. A new partition is one rename. An
    * existing one is swapped: live → `<staging>/_aside/<dirName>`,
    * staged → live, delete the aside. Single writer. Between the two
    * renames a reader listing the table finds the partition dir missing
    * (two metadata ops wide); a crash there leaves the old data at the
    * aside path, which [[recoverPartitionSwaps]] moves back. Each rename
    * is a commit only where a directory rename is atomic
    * ([[withPartitionSwaps]] checks) — the same assumption Spark's
    * dynamic partition overwrite makes.
    */
  private[store] def swapPartition(tableDir: String, staging: String, dirName: String): Unit = {
    val live = s"$tableDir/$dirName"
    val staged = s"$staging/$dirName"
    if (!Fs.exists(live)) Fs.rename(staged, live)
    else {
      val aside = s"$staging/$Aside/$dirName"
      Fs.mkdirs(s"$staging/$Aside")
      Fs.rename(live, aside)
      Fs.rename(staged, live)
      Fs.delete(aside)
    }
  }

  /** Crash recovery for [[swapPartition]], run at the start of every
    * partition commit ([[withPartitionSwaps]]): an aside dir whose live
    * partition dir is missing is the only copy of that partition and is
    * renamed back; everything else under `<table>/_staging` is an
    * unpublished leftover and is deleted.
    */
  private def recoverPartitionSwaps(tableDir: String): Unit = {
    val root = s"$tableDir/$Staging"
    for {
      st <- Fs.list(root) if st.isDir
      a <- Fs.list(s"${st.path}/$Aside") if a.isDir
      live = s"$tableDir/${a.name}"
      if !Fs.exists(live)
    } Fs.rename(a.path, live)
    Fs.delete(root)
  }

  /** The full table-maintenance pass, Delta's `OPTIMIZE ... ZORDER BY`
    * on plain parquet: rewrite to ~`targetRowsPerFile` rows per file
    * (compaction), range-clustered by the Morton key of (colA, colB)
    * (z-order), with the min/max manifest built alongside — after the
    * atomic swap, `readSkippingRanges` prunes 2-D boxes on the fresh
    * layout. Same single-writer swap contract and crash recovery as
    * `compact`; the manifest travels inside the swapped directory, so
    * readers never see a layout/manifest mismatch.
    */
  def optimize(spark: SparkSession, tableDir: String, colA: String, colB: String,
               targetRowsPerFile: Long = 1000000L, bits: Int = 21): Unit = {
    Fs.requireAtomicDirRename(tableDir, "Lake.optimize")
    Versioned.withSiblingLock(tableDir) {
    recoverSwap(tableDir)
    val rows = spark.read.parquet(tableDir).count()
    val nFiles = math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
    val tmp = tableDir + ".compacting"
    ZOrder.writeZOrdered(spark.read.parquet(tableDir), tmp, colA, colB, bits, nFiles)
    val bak = tableDir + ".old"
    Fs.delete(bak)
    Fs.rename(tableDir, bak)
    Fs.rename(tmp, tableDir)
    Fs.delete(bak)
  }
  }

  /** Data skipping on NON-partition columns: a per-file min/max manifest,
    * the mechanism Delta/Iceberg call file skipping. Hive partitioning
    * (K1/K2) already prunes directories by the partition key; the
    * manifest extends that to any clustered column — write sorted or
    * range-partitioned by the column (compact() with a range
    * repartition does this), and each file covers a narrow value range,
    * so a range predicate touches few files. The manifest lives at
    * `<table>/_manifest` — underscore-prefixed paths are invisible to
    * Spark's file discovery, so plain readers of the table see only
    * data.
    *
    * Build cost is one aggregation over (file, col) pairs; at cluster
    * scale this piggybacks on the write (parquet footers already hold
    * these stats — the manifest lifts them to ONE small table so the
    * driver prunes without touching any footer, the same listing-cost
    * argument as partition pruning).
    */
  def writeManifest(spark: SparkSession, tableDir: String, statCols: Seq[String]): Unit = {
    val df = spark.read.parquet(tableDir)
    val aggs = statCols.flatMap(c => Seq(
      org.apache.spark.sql.functions.min(col(c)).as(s"min_$c"),
      org.apache.spark.sql.functions.max(col(c)).as(s"max_$c")))
    // paths are stored RELATIVE to the table dir (everything after the
    // last "<dirname>/"), so the manifest survives the atomic dir swap
    // maintenance performs (optimize writes it inside the staging dir)
    val base = java.util.regex.Pattern.quote(FileLedger.basename(tableDir.stripSuffix("/")))
    df.groupBy(regexp_replace(input_file_name(), s"^.*$base/", "").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$tableDir/_manifest")
  }

  /** Range-pruned read: keep only files whose [min,max] overlaps
    * [lo, hi] (driver-side manifest filter — the manifest is file-count
    * sized), then scan just those. Row-exact: the value filter is
    * re-applied, skipping only changes which FILES are read. Files are
    * resolved via the manifest; a table written after the manifest
    * build must rebuild it (single-writer contract, like compact()).
    */
  def readSkipping(spark: SparkSession, tableDir: String, statCol: String,
                   lo: Any, hi: Any): DataFrame =
    readSkippingRanges(spark, tableDir, Seq((statCol, lo, hi)))

  /** Multi-column range-pruned read: a file survives only if EVERY
    * range overlaps its [min,max] — the conjunction is where clustered
    * layouts earn their keep (a z-ordered table bounds BOTH columns per
    * file, so a small 2-D box touches few files; see store/ZOrder).
    */
  def readSkippingRanges(spark: SparkSession, tableDir: String,
                         ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "at least one range required")
    val manifest = spark.read.parquet(s"$tableDir/_manifest")
    val overlap = ranges.map { case (c, lo, hi) =>
      col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi)
    }.reduce(_ && _)
    val files = manifest.filter(overlap)
      .select(col("file")).collect().map(r => s"$tableDir/${r.getString(0)}")
    // basePath keeps hive partition columns in the schema when reading
    // explicit file paths — without it a pruned read of a partitioned
    // table silently drops them, and the re-applied filter below on a
    // partition column fails (r5 verdict #4)
    val pruned =
      if (files.isEmpty) spark.read.parquet(tableDir).limit(0)
      else spark.read.option("basePath", tableDir).parquet(files.toIndexedSeq: _*)
    ranges.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .foldLeft(pruned)((df, p) => df.filter(p))
  }

  /** K10: archive — move processed input files under archive/<date>/, date
    * parsed from the filename (ref transfom_pos.py:56-110's
    * `pos_YYYYMMDD_HHMMSS.csv` regex).
    */
  private val PosName = raw".*pos_(\d{4})(\d{2})(\d{2})_\d{6}\.csv".r

  /** Whether a path carries the reference's archivable POS name. Files that
    * don't match must be rejected at discovery: archiveByFilenameDate skips
    * them, so a processed-but-unarchived file would be reprocessed next run
    * and the additive KPI merge would double-count its revenue.
    */
  def matchesPosName(path: String): Boolean = PosName.matches(path)

  /** Plain file move into a zone (discovery-time rejection, side areas). */
  def moveFiles(files: Seq[String], destDir: String): Seq[String] =
    files.map { f =>
      val target = s"$destDir/${FileLedger.basename(f)}"
      Fs.mkdirs(destDir)
      Fs.renameOverwrite(f, target)
      target
    }

  /** Archive every landing data file whose basename sits at or below
    * the replay ledger's watermark — those files are fully applied
    * (that is what the watermark certifies) and can never be needed
    * again except as history. This is the retention half of the
    * compacted-ledger design: `FileLedger.landedBasenames` lists the
    * landing dir every batch, and archival is what keeps that listing
    * bounded by the open frontier instead of stream age. Files above
    * the watermark (in-flight or out-of-order applied) are never
    * touched, so a checkpoint wipe after archival still replays only
    * files the ledger covers. Returns the archived paths.
    */
  def archiveBehindWatermark(landingDir: String, archiveDir: String,
                             hwm: String): Seq[String] = {
    // one definition of "landing data file" — FileLedger's — so archival
    // and watermark advancement can never disagree about what counts
    val files = FileLedger.landedBasenames(landingDir).toSeq
      .filter(_ <= hwm)
      .map(b => s"$landingDir/$b")
    moveFiles(files, archiveDir)
  }

  def archiveByFilenameDate(files: Seq[String], archiveRoot: String): Seq[String] =
    files.flatMap { f =>
      f match {
        case PosName(y, m, d) =>
          val dir = s"$archiveRoot/$y-$m-$d"
          val target = s"$dir/${FileLedger.basename(f)}"
          Fs.mkdirs(dir)
          Fs.renameOverwrite(f, target)
          Some(target)
        case _ => None
      }
    }

  /** `java.nio.Path` compat shims over the [[Fs]] seam for the
    * remaining local-path call sites (stream sweeps, session-scoped
    * cache roots); same semantics, one FS client.
    */
  private[graft] def listDir(p: Path): Seq[Path] =
    Fs.list(p.toString).map(e => java.nio.file.Paths.get(e.path))

  private[graft] def deleteRecursive(p: Path): Unit = Fs.delete(p.toString)

  /** In-place upgrade of a table from the flat layout (part files at
    * the dir root, `partCol` as a plain data column) to hive
    * partitioning by `partCol`. Resuming a stream over a flat table
    * without this would mix the two layouts: partition discovery
    * degrades and `partCol` comes back null for the root-level rows —
    * which silently breaks any partition-valued filter (the ledger
    * complement read). Returns true when a migration (or the completion
    * of a crashed one) ran.
    *
    * Crash safety, single writer: root part files are first SWEPT into
    * a `_flat_legacy` staging dir (per-file atomic moves; Spark readers
    * skip underscore dirs, so a half-swept table still reads as
    * whatever subset remains at the root plus the already-partitioned
    * rows — never duplicated). The rewrite is a dynamic partition
    * OVERWRITE from the complete staged set, so a crashed rewrite just
    * re-runs: same input, same partitions replaced. Completion is
    * published by atomically renaming the staging dir away — a crash
    * at any earlier point leaves `_flat_legacy` (and possibly root
    * files) for the next call to resume; a crash after leaves only a
    * `_flat_trash` dir to re-delete.
    */
  def migrateFlatPartitions(spark: SparkSession, dir: String, partCol: String,
                            fillMissing: Option[String] = None): Boolean =
      Versioned.withSiblingLock(dir) {
    if (!Fs.exists(dir)) return false
    val legacy = s"$dir/_flat_legacy"
    val trash = s"$dir/_flat_trash"
    Fs.delete(trash)
    Fs.list(dir)
      .filter(_.isFile)
      .filter { e => e.name.endsWith(".parquet") || e.name == "_SUCCESS" }
      .foreach { e =>
        if (e.name == "_SUCCESS") Fs.deleteIfExists(e.path)
        else {
          Fs.mkdirs(legacy)
          Fs.renameOverwrite(e.path, s"$legacy/${e.name}")
        }
      }
    if (!Fs.exists(legacy)) return false
    if (Fs.list(legacy).isEmpty) { Fs.delete(legacy); return false }
    val flat = spark.read.parquet(legacy)
    // a flat table from before the partition column existed at all
    // (e.g. the closed-sessions table predating batch keys) migrates
    // under the caller's sentinel value
    val staged =
      if (flat.columns.contains(partCol)) flat
      else flat.withColumn(partCol, lit(fillMissing.getOrElse(
        throw new IllegalStateException(
          s"flat table at $dir lacks '$partCol' and no fillMissing value was given"))))
    staged
      .write.partitionBy(partCol)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite).parquet(dir)
    Fs.rename(legacy, trash)
    Fs.delete(trash)
    true
  }

  // ---- registered query ---------------------------------------------------

  /** One ORC build per (session, source dir, source fingerprint) — the
    * format hop is the one-off cost: repeat invocations read the
    * already-written table, an in-place rewrite of orders rebuilds via
    * the fingerprint. Driver-local scratch by design.
    */
  private val orcBuilt = new SessionMemo[(String, Long), String](1, (_, root) => ScratchDirs.release(root))

  private def orcRoot(spark: SparkSession, dir: String): String =
    orcBuilt.get(spark, (dir, Snapshot.fingerprint(dir, "orders.parquet"))) {
      val root = ScratchDirs.create("graft_orc")
      writeOrcPartitioned(graft.Tables.orders(spark, dir), "o_orderstatus", s"$root/orders")
      root
    }

  /** ORC interchange round-trip through the ORACLE gate: orders hops
    * parquet → partitioned ORC → back, then filters and aggregates; the
    * oracle runs the identical SQL over the ORIGINAL parquet, so a green
    * hash proves the format hop is lossless (values, nulls, partition
    * column re-materialization) — not just readable. The non-partition
    * predicate reaches the ORC scan as a PushedFilter and the partition
    * predicate prunes directories (both asserted in LakeSpec).
    */
  def orcRoundtripQuery(spark: SparkSession, dir: String): DataFrame = {
    val back = readOrc(spark, s"${orcRoot(spark, dir)}/orders")
    back.filter(col("o_orderstatus") =!= "P" && col("o_totalprice") > 100000.0)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        graft.expr.Exact.moneySum(col("o_totalprice")).as("total_price"),
        min(col("o_orderdate")).cast("date").as("first_date"),
        max(col("o_orderdate")).cast("date").as("last_date"))
      .orderBy(col("o_orderstatus"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orc_roundtrip" -> (orcRoundtripQuery _))

  val oracles: Map[String, String] = Map(
    "orc_roundtrip" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_price,
        |  CAST(MIN(o_orderdate) AS DATE) AS first_date,
        |  CAST(MAX(o_orderdate) AS DATE) AS last_date
        |FROM orders
        |WHERE o_orderstatus <> 'P' AND o_totalprice > 100000
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)
}
