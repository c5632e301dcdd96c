package graft.store

import java.util.{LinkedHashMap => JLinkedHashMap, WeakHashMap}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A session-scoped memo: the one place the engine keeps an artifact it
  * builds once per session and reads many times (a checkpointed pair
  * graph, an at-rest index root, a catalog registration, a sizing count).
  *
  * `get(spark, key)(build)` holds a lock per memo AND per session, so a
  * cold key is built once however many threads ask (single-flight), and
  * eviction, build and insert are one atomic step. The lock is never
  * shared between memos: a build may itself read another memo (the IVF
  * index build runs a stream), so a lock wider than one memo could
  * deadlock. On a miss the memo first evicts its least recently used
  * entries down to `capacity - 1`, running `release` on each, and only
  * then builds — a one-entry memo keyed by `(dir, fingerprint)` frees
  * the stale artifact before paying for its replacement, and a build
  * that throws leaves the memo empty, so the next call rebuilds.
  *
  * Sessions are WEAK keys: a memo never pins a session that nothing else
  * references. A `DataFrame` value still reaches its own session, so a
  * frame memo (like a plan-keyed one) lives until `clear` or until its
  * context stops. Entries of stopped contexts are pruned — and released,
  * best effort — on every access. Every memo registers itself, so
  * `SessionMemo.clearAll` (behind `Engine.clearCaches`) reaches all of
  * them without a hand-kept list.
  */
final class SessionMemo[K, V](capacity: Int,
                              release: (SparkSession, V) => Unit = (_: SparkSession, _: V) => ()) {
  require(capacity >= 1, s"capacity must be positive: $capacity")

  // per session: entries in access order (eldest = least recently used);
  // the entry map is also that session's lock. Guarded by `sessions`.
  private val sessions = new WeakHashMap[SparkSession, JLinkedHashMap[K, V]]()

  SessionMemo.registry.add(this)

  def get(spark: SparkSession, key: K)(build: => V): V = {
    val entries = entriesOf(spark)
    entries.synchronized {
      Option(entries.get(key)).getOrElse {
        evictTo(spark, entries, capacity - 1)
        val v = build
        entries.put(key, v)
        v
      }
    }
  }

  /** Release and drop every entry of `spark`. */
  def clear(spark: SparkSession): Unit =
    peek(spark).foreach(e => e.synchronized(evictTo(spark, e, 0)))

  /** The live values of `spark`, least recently used first. */
  def values(spark: SparkSession): Seq[V] =
    peek(spark).fold(Seq.empty[V])(e => e.synchronized(e.values.asScala.toList))

  /** Sessions with a slot in this memo (weak keys already collected excluded). */
  private[graft] def sessionCount: Int = sessions.synchronized(sessions.size)

  private def peek(spark: SparkSession): Option[JLinkedHashMap[K, V]] =
    sessions.synchronized(Option(sessions.get(spark)))

  private def entriesOf(spark: SparkSession): JLinkedHashMap[K, V] = {
    val (stopped, entries) = sessions.synchronized {
      val dead = sessions.keySet.asScala.filter(_.sparkContext.isStopped).toList
      (dead.map(s => s -> sessions.remove(s)),
        sessions.computeIfAbsent(spark, _ => new JLinkedHashMap[K, V](16, 0.75f, true)))
    }
    // a stopped context took its blocks and catalog with it; release is
    // still worth trying for what outlives it (scratch roots on disk)
    stopped.foreach { case (s, e) =>
      e.synchronized(e.values.asScala.foreach(v =>
        try release(s, v) catch { case NonFatal(_) => () }))
    }
    entries
  }

  private def evictTo(spark: SparkSession, entries: JLinkedHashMap[K, V], n: Int): Unit = {
    val it = entries.values.iterator
    while (entries.size > n) {
      val v = it.next()
      it.remove()
      release(spark, v)
    }
  }
}

object SessionMemo {
  private val registry = new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_, _]]()

  /** Every memo constructed so far (an object's memos register when it initializes). */
  private[graft] def all: Seq[SessionMemo[_, _]] = registry.asScala.toList

  /** Release and drop every entry `spark` holds in any memo. */
  def clearAll(spark: SparkSession): Unit = registry.forEach(_.clear(spark))
}

/** Driver-local scratch roots for the memos' at-rest builds. A root is
  * OWNED iff it was made here: `release` deletes owned roots only (a
  * root adopted from elsewhere, like a shared replay cache entry, is left
  * alone), and one JVM-exit hook deletes every owned root still live —
  * including those of sessions that were collected without a clear.
  */
object ScratchDirs {
  private val live = TrieMap.empty[String, Unit]

  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => live.keys.foreach(Fs.delete)))

  /** A fresh owned directory under `java.io.tmpdir`, named `prefix` + random digits. */
  def create(prefix: String): String = {
    exitHook
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    live.put(root, ())
    root
  }

  def release(root: String): Unit = if (live.remove(root).isDefined) Fs.delete(root)
}
