package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Lock-free table overwrite: versioned directories + an atomically
  * swapped current-pointer file — the snapshot mechanism every table
  * format (Delta's `_last_checkpoint`, Iceberg's `version-hint.text`,
  * Hive's ACID base dirs) uses to give readers a consistent view while
  * a writer replaces the table.
  *
  * `Lake.atomicOverwrite` swaps IN PLACE (canonical path = the data
  * dir), which keeps plain `spark.read.parquet(dir)` compatibility but
  * has an unavoidable two-move window where the canonical path does not
  * exist — its documented no-concurrent-reader caveat. Here the
  * canonical path always exists: writers stage a complete new
  * `v_########` dir and then flip `CURRENT` with one atomic rename;
  * a reader resolves the pointer and scans an immutable snapshot dir
  * that no writer will ever mutate. Concurrent readers across unlimited
  * swaps see either the old or the new version, never a missing path
  * (VersionedSpec drives 100 swaps under a reader thread).
  *
  * All metadata ops go through the [[Fs]] seam. Deployability (Fs's
  * atomicity matrix): the pointer flip is a FILE rename — atomic on
  * POSIX and HDFS; on S3 a direct pointer PUT is the atomic equivalent
  * and the rename form stays correct for a single writer. The staged
  * snapshot dir is never renamed at all (it is written in place and
  * only ever referenced by the pointer), so THIS table layout — unlike
  * the in-place `Lake` swaps — carries no directory-rename assumption
  * and is the object-store-deployable form.
  *
  * Retention: `overwrite` keeps the last `keep` superseded versions and
  * deletes older ones. A reader that resolved the pointer keeps reading
  * its (immutable) snapshot even after newer flips — it only needs the
  * snapshot to outlive the read, so `keep` × writer-cadence must exceed
  * the slowest reader. At production scale make vacuuming time-based
  * (delete versions older than the max query runtime), exactly like
  * `VACUUM`'s retention horizon in Delta.
  *
  * Crash safety, single writer (the same contract the reference's
  * MaxConcurrentRuns-1 orchestration gives): a crash mid-write leaves an
  * orphan version dir that `CURRENT` never references; the next
  * overwrite deletes and rewrites it. A crash between "write pointer
  * temp" and "rename" leaves only a stale temp file. No recovery step is
  * ever required to read — the pointer always names a complete snapshot.
  */
object Versioned {

  private val Pointer = "CURRENT"

  private def vname(n: Long): String = f"v_$n%08d"

  // ---- single-writer enforcement --------------------------------------

  private val LockName = "_WRITER_LOCK"

  /** How long a writer's lock file is presumed live. The guarded writes
    * are bounded-state snapshots (frontier-sized ledgers, open-session
    * tables), seconds not hours, so a lock older than the lease is a
    * crashed writer's leftover and is broken with a stderr warning; a
    * YOUNGER lock is a live contender and the caller fails fast —
    * the misdeployed-second-writer contract. Tests/operators can tune
    * via -Dgraft.writer.lease.ms.
    */
  private def leaseMs: Long =
    sys.props.get("graft.writer.lease.ms").map(_.toLong).getOrElse(30L * 60 * 1000)

  /** Reentrancy: the lock is a per-TABLE writer claim, and one logical
    * writer may nest (compactLedgeredTable holds the state dir's lock
    * across its own Versioned.overwrite of the same dir).
    */
  private val held = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  private lazy val localHost: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: Exception => "unknown-host" }

  /** Staleness verdict, pid-liveness first, lease second:
    *  - a SAME-HOST pid that is provably ALIVE is never stale — a
    *    legitimately long rewrite (whole-table compact/optimize) must
    *    not have its lock broken just because it outran the lease;
    *  - a same-host pid that is provably DEAD is stale immediately —
    *    a kill -9 mid-write must not block the restarted writer for a
    *    whole lease (restart-after-crash is the common path);
    *  - anything unverifiable (another host, unparseable/torn content,
    *    vanished file) falls back to the lease age.
    * Residual: a recycled same-host pid reads as alive and blocks until
    * an operator deletes the lock — the conservative direction.
    */
  private def lockIsStale(lock: String): Boolean = {
    val parts = Fs.readStringIfExists(lock).map(_.split('@')).getOrElse(Array.empty)
    val sameHost = parts.length < 3 || parts(2) == localHost
    val pidAlive: Option[Boolean] =
      if (!sameHost) None
      else parts.headOption.flatMap(p => scala.util.Try(p.toLong).toOption)
        .map { pid =>
          val h = ProcessHandle.of(pid)
          h.isPresent && h.get().isAlive
        }
    pidAlive match {
      case Some(alive) => !alive
      case None =>
        Fs.mtime(lock).map(System.currentTimeMillis() - _).forall(_ > leaseMs)
    }
  }

  /** Best-effort single-writer lock/lease around a table mutation: an
    * exclusive `_WRITER_LOCK` create under `root`, held for the
    * duration of `f`. Contention with a live lock is a LOUD refusal —
    * a second concurrent writer would corrupt the read-modify-write
    * sequences this guards (snapshot folds, blessing flips), so it
    * must fail fast rather than interleave; staleness is decided
    * pid-liveness-first, lease second ([[lockIsStale]]). Best-effort by
    * design: the create is not a true mutex on every store
    * (Fs.createExclusive), and crash-correctness NEVER depends on it —
    * every guarded primitive is already crash-safe single-writer; the
    * lock only converts a deployment error (two writers) from silent
    * corruption into an immediate error.
    */
  def withWriterLock[T](root: String)(f: => T): T =
    withLockFile(s"$root/$LockName")(f)

  /** The same lock/lease discipline with the lock file BESIDE the
    * guarded directory (`<dir>.lock`) — for the in-place swap family
    * ([[Lake.atomicOverwrite]]/`compact`/`optimize`), whose mutation
    * MOVES the directory itself, so a lock inside it would travel with
    * the swap. Distinct lock FILE ⇒ distinct reentrancy key: holding a
    * dir's in-dir writer lock does not implicitly grant its sibling
    * swap lock (cross-process they are independent files, so treating
    * them as one in-process would skip a real acquisition).
    */
  def withSiblingLock[T](dir: String)(f: => T): T =
    withLockFile(s"${dir.stripSuffix("/")}.lock")(f)

  private def withLockFile[T](lock: String)(f: => T): T = {
    if (held.get()(lock)) return f
    // lock content: pid@epoch-ms@host — createExclusive creates missing
    // parent dirs itself, so no separate mkdirs is needed
    val myClaim = s"${ProcessHandle.current().pid()}@${System.currentTimeMillis()}@$localHost"
    def tryAcquire(): Boolean = Fs.createExclusive(lock, myClaim)
    if (!tryAcquire()) {
      if (!lockIsStale(lock))
        throw new IllegalStateException(
          s"another LIVE writer holds $lock. This table is " +
            "single-writer; refusing to interleave. If the previous writer " +
            "is known dead, delete the lock file or lower " +
            "-Dgraft.writer.lease.ms.")
      // Stale: break it via rename-aside — the rename is the arbiter
      // (exactly one contender's rename of the same src can succeed), so
      // two contenders judging the same lock stale cannot both break-
      // then-acquire: the rename loser falls through to tryAcquire and
      // sees the winner's fresh lock.
      Console.err.println(s"[versioned] breaking stale writer lock $lock")
      val aside = s"$lock.stale.${java.util.UUID.randomUUID()}"
      try { Fs.rename(lock, aside); Fs.deleteIfExists(aside) }
      catch { case _: Exception => () } // lost the rename race — fine
      if (!tryAcquire())
        throw new IllegalStateException(
          s"lost the race re-acquiring $lock after breaking a stale lease — " +
            "a live contender exists; refusing.")
    }
    held.set(held.get() + lock)
    try f
    finally {
      held.set(held.get() - lock)
      // ownership-checked release: if OUR lock was (wrongly or rightly)
      // broken and replaced while we ran, deleting blindly would free
      // the CURRENT holder's lock and let a third writer in silently
      if (Fs.readStringIfExists(lock).contains(myClaim)) Fs.deleteIfExists(lock)
    }
  }

  /** The live version number, if the table exists. */
  def currentVersion(root: String): Option[Long] =
    Fs.readStringIfExists(s"$root/$Pointer").map(_.trim.toLong)

  /** Absolute path of the live snapshot dir, if the table exists. */
  def currentPath(root: String): Option[String] =
    currentVersion(root).map(n => s"$root/${vname(n)}")

  def exists(root: String): Boolean = currentPath(root).isDefined

  /** Read the live snapshot. The returned frame is pinned to the
    * resolved version dir: later overwrites never mutate it, so the
    * plan can be consumed at leisure (subject to the retention horizon).
    */
  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(livePath(root))

  /** [[read]] with the snapshot's schema given by the caller, which
    * saves the Spark job a schema-less parquet read runs to infer it
    * from the file footers.
    */
  def read(spark: SparkSession, root: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(livePath(root))

  private def livePath(root: String): String =
    currentPath(root).getOrElse(throw new IllegalStateException(s"no versioned table at $root"))

  /** Every version still on disk, ascending — the set `readVersion` can
    * time-travel to (current plus the retained superseded snapshots).
    */
  def listVersions(root: String): Seq[Long] = {
    if (!Fs.exists(root)) Seq.empty
    else {
      val cur = currentVersion(root)
      Fs.list(root).iterator
        .map(_.name)
        .filter(_.startsWith("v_"))
        .map(_.drop(2).toLong)
        // an on-disk version NEWER than the pointer is a crashed writer's
        // orphan, not a snapshot — never surface it as readable
        .filter(n => cur.exists(n <= _))
        .toSeq.sorted
    }
  }

  /** Time travel: read a specific retained snapshot — what Delta calls
    * `VERSION AS OF`. Fails loudly for expired or never-written versions.
    */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    if (!listVersions(root).contains(version))
      throw new IllegalStateException(
        s"version $version of $root is not retained (have: ${listVersions(root).mkString(",")})")
    spark.read.parquet(s"$root/${vname(version)}")
  }

  /** Time-based retention, the production complement of `overwrite`'s
    * count-based `keep` (Delta's `VACUUM RETAIN n HOURS`): delete
    * superseded snapshots whose files are all older than `retainMillis`,
    * never the current one. Run it on the writer's cadence with a horizon
    * longer than the slowest reader and in-flight reads stay safe at any
    * overwrite frequency.
    */
  def vacuum(root: String, retainMillis: Long, nowMillis: Long = System.currentTimeMillis()): Seq[Long] = {
    val cur = currentVersion(root).getOrElse(return Seq.empty)
    val expired = listVersions(root).filter(_ < cur).filter { n =>
      val newest = Fs.listFilesRecursive(s"$root/${vname(n)}")
        .foldLeft(0L)((m, e) => math.max(m, e.mtime))
      nowMillis - newest > retainMillis
    }
    expired.foreach(n => Fs.delete(s"$root/${vname(n)}"))
    expired
  }

  /** Adopt a pre-versioned IN-PLACE parquet table (the layout
    * `Lake.atomicOverwrite` maintains: part files at the root, no
    * pointer) as snapshot v_00000001 — the upgrade path for state dirs
    * written before they moved to the versioned layout. Without this, a
    * caller checking `exists` sees `false` over a legacy table and
    * silently abandons previously merged state (the old part files
    * linger beside fresh v_ dirs, never read again).
    *
    * Returns true when an adoption (or the completion of a crashed one)
    * happened. Crash safety under the single-writer contract hangs on an
    * explicit `_ADOPTING` marker written BEFORE the first move (file
    * listing order is unspecified, so no moved file — not even _SUCCESS —
    * can serve as the "moves started" signal without a lost-file window):
    * a crash anywhere between marker and pointer flip leaves the marker,
    * and the next call resumes — moves whatever still sits at the root
    * into the same v dir and flips the pointer. Without the marker, a
    * v_00000001 next to (or without) legacy root files is a crashed
    * `overwrite`'s staging — never adopted, never mixed into; it stays an
    * orphan for `overwrite` to clean. The per-file moves are file
    * renames (atomic POSIX/HDFS; on S3 each is a small-object copy —
    * adoption is a one-time upgrade run under the single-writer
    * contract, not a read-path dependency).
    */
  def adoptLegacy(root: String): Boolean = {
    val marker = s"$root/_ADOPTING"
    if (currentVersion(root).isDefined) {
      // crash between pointer flip and marker cleanup: finish the cleanup
      Fs.deleteIfExists(marker)
      return false
    }
    if (!Fs.exists(root)) return false
    def rootDataFiles = Fs.list(root)
      .filter(_.isFile)
      .filter { e => e.name.endsWith(".parquet") || e.name == "_SUCCESS" }
    val target = s"$root/${vname(1L)}"
    val pending = rootDataFiles
    val resuming = Fs.exists(marker)
    // not a legacy table: no data files at the root and no adoption to
    // finish (an empty dir, or a crashed first overwrite's orphan v dir)
    if (!resuming && pending.forall(_.name == "_SUCCESS")) return false
    if (!resuming) {
      // fresh adoption: any pre-existing v_00000001 is a crashed
      // overwrite's partial staging — rebuild, never mix into it
      Fs.delete(target)
      Fs.writeString(marker, "")
    }
    Fs.mkdirs(target)
    pending.foreach(e => Fs.renameOverwrite(e.path, s"$target/${e.name}"))
    Fs.writeStringAtomic(s"$root/$Pointer", "1")
    Fs.deleteIfExists(marker)
    true
  }

  /** Replace the table: stage the full result as the next version dir,
    * flip the pointer atomically, expire versions older than the last
    * `keep` superseded ones. Returns the new version number. Runs under
    * [[withWriterLock]]: a concurrent second writer fails fast instead
    * of racing version numbering / retention.
    */
  def overwrite(df: DataFrame, root: String, keep: Int = 3): Long = withWriterLock(root) {
    require(keep >= 1, "keep >= 1: the just-superseded version must survive in-flight readers")
    val next = currentVersion(root).getOrElse(0L) + 1L
    val target = s"$root/${vname(next)}"
    Fs.delete(target) // orphan from a crashed writer, if any
    df.write.mode(SaveMode.Overwrite).parquet(target)
    Fs.writeStringAtomic(s"$root/$Pointer", next.toString)
    // expire: everything at or below (next - 1 - keep)
    val horizon = next - 1L - keep
    if (horizon > 0) {
      Fs.list(root).iterator
        .filter(_.name.startsWith("v_"))
        .filter(_.name.drop(2).toLong <= horizon)
        .foreach(e => Fs.delete(e.path))
    }
    next
  }
}
