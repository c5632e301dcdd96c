package graft.store

import java.io.{FileNotFoundException, InputStreamReader, BufferedReader}
import java.nio.charset.StandardCharsets
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** The storage-layer filesystem seam: every driver-side metadata
  * operation the store/stream primitives perform (pointer flips, staged
  * renames, ledger markers, partition sweeps, landing listings) goes
  * through here, routed to `org.apache.hadoop.fs.FileContext` — the
  * Hadoop client Spark already ships. Paths are plain strings; a path
  * with a scheme (`hdfs://…`, `s3a://…`) resolves to that filesystem,
  * a schemeless path resolves against `fs.defaultFS` (local `file:///`
  * in this build, the cluster's default FS under spark-submit). The
  * Hadoop configuration is the active Spark session's
  * (`spark.hadoop.*` included) when one exists, else a bare
  * `Configuration()` reading `core-site.xml` from the classpath.
  *
  * `FileContext` (not `FileSystem`) for two load-bearing reasons:
  *  - `rename(src, dst, Options.Rename.OVERWRITE)` is public and
  *    well-specified (fail if dst exists without OVERWRITE; replace a
  *    FILE atomically with it) — `FileSystem.rename`'s overload is
  *    deprecated/protected and its plain form silently returns false
  *    into-dir semantics;
  *  - the local implementation is [[NioRawLocalFs]], Hadoop's raw
  *    `RawLocalFs` without forked shell commands ([[LocalFs]]): no
  *    checksum side files, so directories written through this seam and
  *    through `java.nio`/Spark look identical (no `.crc` pollution, no
  *    stale-checksum read failures when tests touch files directly).
  *
  * == Atomicity matrix (what each primitive may assume where) ==
  *
  * | operation                | POSIX local | HDFS | S3/S3A |
  * |--------------------------|-------------|------|--------|
  * | file rename (OVERWRITE)  | atomic      | atomic | NON-atomic copy+delete |
  * | dir rename               | atomic      | atomic (O(1) metadata) | NON-atomic, O(objects) copy |
  * | single-file create/PUT   | not atomic (write+close) | visible at close | atomic PUT at close |
  * | delete / list            | no atomicity assumed anywhere | — | listing may lag writes (now strongly consistent on S3) |
  *
  * Consequences, stated per primitive family:
  *  - '''Pointer flips''' ([[Versioned.overwrite]]'s `CURRENT`,
  *    [[Upsert.fileLedgerCompact]]'s `HWM`): tmp-write + file rename
  *    OVERWRITE — atomic on POSIX and HDFS. On S3 the rename degrades
  *    to copy+delete, but the S3-native replacement is STRONGER, not
  *    weaker: a single-object overwrite PUT of the pointer is itself
  *    atomic, so `writeStringAtomic` on an `s3a://` path could write
  *    the object directly (readers see old or new content, never a
  *    torn write). The tmp+rename form is kept because it is also
  *    correct there (the copy is of a tiny pointer object) and keeps
  *    one code path; the residual S3 window is a reader observing the
  *    tmp object's non-existence — which no reader here does (readers
  *    only resolve the canonical pointer name).
  *  - '''Staged-directory swaps''' ([[Lake.atomicOverwrite]],
  *    [[Lake.compact]], [[Lake.optimize]], the partition commits of
  *    [[Upsert.additivePartitioned]] and [[Lake.compactPartitions]],
  *    `compactLedgeredTable`'s staged partition move,
  *    [[Versioned.adoptLegacy]]'s sweep):
  *    valid on POSIX and HDFS where a dir rename is one metadata op.
  *    On S3 a "dir rename" is an O(objects) copy — NOT a commit
  *    primitive. The deployable form there is exactly what
  *    [[Versioned]] already is: immutable snapshot dirs + a pointer
  *    flip (see above), which is why every uncoordinated-reader table
  *    in this build sits behind `Versioned` and the in-place swaps
  *    are documented single-writer/no-concurrent-reader conveniences.
  *  - '''Ledger markers''' ([[Upsert.fileLedgerRecord]]): tmp + rename
  *    per marker; on S3 a direct PUT of the marker object is atomic
  *    and the rename form remains correct (single-writer).
  *  - '''Listings/sweeps''' (`partitionValues`, landing listings,
  *    orphan sweeps): bounded, driver-side, single-directory reads —
  *    no atomicity assumed; S3 ListObjectsV2 is strongly consistent
  *    since 2020, so watermark advancement over a listing holds there.
  *
  * Local scratch (bench/test temp roots, `Files.createTempDirectory`
  * caches for the ORC/bucketed/IVF memo tables) deliberately stays on
  * `java.nio` — those are driver-local caches, not table storage.
  */
object Fs {

  /** One child of a directory listing. `path` is scheme-stripped for
    * local/default-FS entries (stable across java.nio and Hadoop
    * listings) and fully qualified for remote schemes.
    */
  final case class Entry(path: String, name: String, isDir: Boolean,
                         mtime: Long, len: Long) {
    def isFile: Boolean = !isDir
  }

  /** (origin session if any, conf, default FileContext). Keyed by the
    * ORIGIN SESSION, not a came-from-a-session flag: a cache built
    * before any SparkSession existed upgrades once a session appears
    * (otherwise a pre-flight exists probe would permanently pin a bare
    * `Configuration()` without the session's `spark.hadoop.*`
    * credentials or the cluster `fs.defaultFS`), AND a later DIFFERENT
    * session — new credentials, new defaultFS — re-derives instead of
    * serving the first session's conf forever (r15 verdict hardening).
    * Once a session-derived conf exists it never downgrades to bare.
    */
  @volatile private var cachedEnv: (Option[SparkSession], Configuration, FileContext) = null

  private def env: (Option[SparkSession], Configuration, FileContext) = {
    val sess = SparkSession.getActiveSession
    val cur = cachedEnv
    if (cur != null && (sess.isEmpty || cur._1.contains(sess.get))) return cur
    val c = sess.map(_.sessionState.newHadoopConf()).getOrElse(new Configuration())
    // The local AbstractFileSystem binding is a ChecksumFs (Hadoop's
    // LocalFs, or Engine.session's NioLocalFs) that shadows every file
    // with a `.name.crc` sibling and fails reads over files other writers
    // (java.nio, Spark tasks) touched since. Bind the raw local FS
    // instead, the fork-free NioRawLocalFs: table dirs written through
    // this seam and through Spark/java.nio stay byte-identical. This
    // mutates OUR conf copy only, never Spark's.
    c.set("fs.AbstractFileSystem.file.impl", classOf[NioRawLocalFs].getName)
    val e = (sess, c, FileContext.getFileContext(c))
    cachedEnv = e
    e
  }

  /** Test hook: drop the cached env so a conf mutation made directly on
    * `sparkContext.hadoopConfiguration` (e.g. registering a mock scheme)
    * is picked up by the next derivation.
    */
  private[graft] def resetEnvCacheForTests(): Unit = cachedEnv = null

  private def conf: Configuration = env._2

  private def fc(path: String): FileContext = {
    val uri = new HPath(path).toUri
    if (uri.getScheme == null) env._3 else FileContext.getFileContext(uri, conf)
  }

  private def hp(path: String): HPath = new HPath(path)

  private def plain(p: HPath): String = {
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath else p.toString
  }

  private def entry(st: FileStatus): Entry =
    Entry(plain(st.getPath), st.getPath.getName, st.isDirectory,
      st.getModificationTime, st.getLen)

  def exists(path: String): Boolean = fc(path).util.exists(hp(path))

  def isDirectory(path: String): Boolean =
    try fc(path).getFileStatus(hp(path)).isDirectory
    catch { case _: FileNotFoundException => false }

  def isFile(path: String): Boolean =
    try fc(path).getFileStatus(hp(path)).isFile
    catch { case _: FileNotFoundException => false }

  /** Non-recursive children of `dir`; empty for a missing path. */
  def list(dir: String): Seq[Entry] =
    try fc(dir).util.listStatus(hp(dir)).toIndexedSeq.map(entry)
    catch { case _: FileNotFoundException => Seq.empty }

  /** Every regular file under `dir`, recursively; empty if missing. */
  def listFilesRecursive(dir: String): Seq[Entry] = {
    val c = fc(dir)
    if (!c.util.exists(hp(dir))) return Seq.empty
    val it = c.util.listFiles(hp(dir), true)
    val buf = Seq.newBuilder[Entry]
    while (it.hasNext) buf += entry(it.next())
    buf.result()
  }

  def readString(path: String): String = {
    val in = fc(path).open(hp(path))
    try {
      val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      val sb = new StringBuilder
      val buf = new Array[Char](8192)
      var n = r.read(buf)
      while (n >= 0) { sb.appendAll(buf, 0, n); n = r.read(buf) }
      sb.toString
    } finally in.close()
  }

  def readStringIfExists(path: String): Option[String] =
    try Some(readString(path)) catch { case _: FileNotFoundException => None }

  /** Plain create-or-replace write (visible at close; atomic PUT on S3,
    * write-then-close locally). For publish-style writes that must
    * never expose a torn file under a canonical name on POSIX/HDFS,
    * use [[writeStringAtomic]].
    */
  def writeString(path: String, content: String): Unit = {
    val out = fc(path).create(hp(path),
      EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Publish a small control file under its canonical name: write
    * `.<name>.tmp` beside it, then one rename with OVERWRITE. Atomic
    * on POSIX and HDFS; on S3 the rename is a (tiny) copy+delete and
    * the direct PUT above is the atomic equivalent — see the class
    * doc's pointer-flip row. Single-writer: the fixed temp name means
    * concurrent writers would clobber each other's staging (they are
    * excluded by contract; see [[Versioned]]).
    */
  def writeStringAtomic(path: String, content: String): Unit = {
    val p = hp(path)
    val parent = Option(p.getParent).getOrElse(
      throw new IllegalArgumentException(s"no parent for $path"))
    val tmp = new HPath(parent, s".${p.getName}.tmp")
    writeString(tmp.toString, content)
    renameOverwrite(tmp.toString, path)
  }

  /** Rename failing if `dst` exists — `java.nio.Files.move`'s default.
    * One metadata op on POSIX/HDFS for files and directories; on S3 a
    * directory rename is an O(objects) copy (class doc).
    */
  def rename(src: String, dst: String): Unit =
    fc(src).rename(hp(src), hp(dst), Options.Rename.NONE)

  /** Rename replacing an existing `dst` file (REPLACE_EXISTING +
    * ATOMIC_MOVE equivalent). OVERWRITE refuses a non-empty dir dst,
    * exactly as `Files.move` does.
    *
    * Per-store dispatch, the same move Delta's LogStore makes: the
    * LOCAL connector's OVERWRITE rename is delete-then-rename in
    * `AbstractFileSystem` (a real missing-dst window — VersionedSpec's
    * concurrent reader catches it), while POSIX `rename(2)` replaces
    * atomically; so local paths take `java.nio`'s ATOMIC_MOVE and
    * remote schemes take `FileContext.rename(OVERWRITE)` — atomic
    * server-side on HDFS, copy+delete on S3 (class-doc matrix).
    *
    * Cross-device local moves (a landing dir and a lake zone on
    * different mounts) cannot be atomic anywhere — `rename(2)` itself
    * returns EXDEV — so ATOMIC_MOVE falls back to copy+delete there.
    * That is safe for every caller: the same-directory pointer
    * publishes ([[writeStringAtomic]], `CURRENT` flips) stage the tmp
    * BESIDE the destination and so can never cross a mount, which
    * means the fallback is only ever taken by the bulk-move family
    * (archive/quarantine/landing moves) where pre-seam `Files.move`
    * had exactly this copy+delete behavior.
    */
  def renameOverwrite(src: String, dst: String): Unit = {
    val scheme = fc(dst).makeQualified(hp(dst)).toUri.getScheme
    if (scheme == null || scheme == "file") {
      val s = java.nio.file.Paths.get(plain(hp(src)))
      val d = java.nio.file.Paths.get(plain(hp(dst)))
      try java.nio.file.Files.move(s, d,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.AtomicMoveNotSupportedException =>
          java.nio.file.Files.move(s, d,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      ()
    } else fc(src).rename(hp(src), hp(dst), Options.Rename.OVERWRITE)
  }

  /** Recursive delete, idempotent on a missing path. */
  def delete(path: String): Unit = {
    val c = fc(path)
    if (c.util.exists(hp(path))) { c.delete(hp(path), true); () }
  }

  /** Delete a single file if present; true when something was deleted. */
  def deleteIfExists(path: String): Boolean = {
    val c = fc(path)
    c.util.exists(hp(path)) && c.delete(hp(path), false)
  }

  def mkdirs(path: String): Unit =
    fc(path).mkdir(hp(path), FsPermission.getDirDefault, true)

  /** Create `path` with `content` only if absent. Returns false when it
    * already exists. True `O_EXCL` on the local scheme (`java.nio`
    * `CREATE_NEW` — same per-scheme dispatch as [[renameOverwrite]]:
    * the Hadoop local connector's CreateFlag.CREATE is a metadata
    * check-then-create with a same-millisecond double-win window),
    * `O_EXCL`-grade on HDFS via `CreateFlag.CREATE`, and a conditional
    * PUT where the object-store connector supports one.
    *
    * If OUR create won the race but the content write/close then failed
    * (disk full, interrupt), the partial file is deleted before the
    * error propagates — otherwise it would sit there as a torn claim of
    * this process's own live pid, which `lockIsStale` would report live
    * until process exit (r15 advice).
    */
  def createExclusive(path: String, content: String): Boolean = {
    val scheme = fc(path).makeQualified(hp(path)).toUri.getScheme
    if (scheme == null || scheme == "file") {
      val p = java.nio.file.Paths.get(plain(hp(path)))
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val ch =
        try java.nio.file.Files.newOutputStream(p,
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.nio.file.FileAlreadyExistsException => return false }
      // the create won exclusively; a failure past this point must not
      // leave a torn claim under our own pid
      try {
        try ch.write(content.getBytes(StandardCharsets.UTF_8))
        finally ch.close()
        true
      } catch {
        case e: java.io.IOException =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.io.IOException => () }
          throw e
      }
    } else {
      val out =
        try fc(path).create(hp(path), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.io.IOException if exists(path) => return false
        }
      try {
        try out.write(content.getBytes(StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          try deleteIfExists(path) catch { case _: java.io.IOException => () }
          throw e
      }
    }
  }

  def mtime(path: String): Option[Long] =
    try Some(fc(path).getFileStatus(hp(path)).getModificationTime)
    catch { case _: FileNotFoundException => None }

  // ---- directory-rename commit gate --------------------------------------

  /** Schemes whose DIRECTORY rename is one atomic metadata op (class-doc
    * matrix): POSIX local, HDFS (and viewfs mounts over it). Everything
    * else — s3/s3a/gs/abfs/wasb object stores, unknown schemes — treats
    * a dir rename as an O(objects) copy+delete, which is not a commit
    * primitive.
    */
  private val AtomicDirRenameSchemes = Set("file", "hdfs", "viewfs")

  /** The scheme `path` resolves to: its own URI scheme, else the
    * default FS's. Pure string/URI work for scheme-ful paths — no
    * connector is instantiated, so the gate below refuses BEFORE any
    * store connection or staging write.
    */
  def schemeOf(path: String): String = {
    val u = hp(path).toUri
    if (u.getScheme != null) u.getScheme
    else Option(env._3.makeQualified(hp(path)).toUri.getScheme).getOrElse("file")
  }

  /** The fully qualified URI form of `path` — the shape catalog DDL
    * (`LOCATION`) and other scheme-carrying strings must use, so the
    * reference resolves through the same store the seam wrote (a bare
    * path string would rebind to whatever default FS the READER's
    * session carries).
    */
  def qualified(path: String): String =
    fc(path).makeQualified(hp(path)).toUri.toString

  /** True where the in-place swap family may treat a directory rename as
    * atomic. Overridable for stores known safe via
    * `-Dgraft.fs.atomicDirRenameSchemes=scheme1,scheme2` (e.g. a
    * rename-atomic HDFS-compatible store like Ozone's ofs).
    */
  def supportsAtomicDirRename(path: String): Boolean = {
    val s = schemeOf(path).toLowerCase
    AtomicDirRenameSchemes.contains(s) ||
      sys.props.get("graft.fs.atomicDirRenameSchemes").toSeq
        .flatMap(_.split(',')).map(_.trim.toLowerCase).filter(_.nonEmpty)
        .contains(s)
  }

  /** Refuse the in-place directory-swap commit on stores where it would
    * silently degrade to a non-atomic O(objects) copy. Self-enforcing
    * form of the atomicity matrix's staged-directory-swap row: the
    * deployable shape on object stores is [[Versioned]] (immutable
    * snapshot dirs + one atomic pointer flip), not a knob default.
    */
  def requireAtomicDirRename(path: String, op: String): Unit =
    if (!supportsAtomicDirRename(path))
      throw new UnsupportedOperationException(
        s"$op commits by renaming a directory in place; on scheme " +
        s"'${schemeOf(path)}' ($path) that rename is a NON-atomic " +
        "O(objects) copy+delete, not a commit primitive. Deploy this " +
        "table as a graft.store.Versioned snapshot (immutable snapshot " +
        "dirs + atomic pointer flip) there instead — or, if this " +
        "store's directory rename is known to be atomic, allow it with " +
        s"-Dgraft.fs.atomicDirRenameSchemes=${schemeOf(path)}")
}
