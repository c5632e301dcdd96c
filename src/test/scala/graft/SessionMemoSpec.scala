package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.store.SessionMemo

/** The one session-scoped memo every engine artifact goes through:
  * single-flight builds, release-before-rebuild, failed builds leave no
  * entry, per-session bounds, weak session keys, and a registry that
  * `Engine.clearCaches` drains completely.
  */
class SessionMemoSpec extends SparkSpec {

  private def inThreads(n: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]
    val start = new CountDownLatch(1)
    val threads = (0 until n).map(i => new Thread(() =>
      try { start.await(); body(i) } catch { case t: Throwable => errors.add(t) }))
    threads.foreach(_.start()); start.countDown(); threads.foreach(_.join())
    assert(errors.isEmpty, s"worker failed: ${errors.peek()}")
  }

  test("8 threads on a cold key build once and all get the same value") {
    // the shared session must be created here, not in a worker: creation
    // makes it the active session of the creating thread only
    val session = spark
    val memo = new SessionMemo[String, Object](1)
    val builds = new AtomicInteger
    val got = new ConcurrentLinkedQueue[Object]
    inThreads(8) { _ =>
      got.add(memo.get(session, "k") { builds.incrementAndGet(); Thread.sleep(50); new Object })
    }
    assert(builds.get == 1, s"${builds.get} builds for one cold key")
    assert(got.size == 8 && got.asScala.forall(_ eq got.peek()))
  }

  test("a key change releases the old value exactly once, before the new build") {
    val log = new ConcurrentLinkedQueue[String]
    val memo = new SessionMemo[String, String](1, (_, v) => log.add(s"release $v"))
    assert(memo.get(spark, "a") { log.add("build a"); "A" } == "A")
    assert(memo.get(spark, "a") { log.add("build a"); "A2" } == "A") // hit: no build
    assert(memo.get(spark, "b") { log.add("build b"); "B" } == "B")
    assert(memo.get(spark, "b") { log.add("build b"); "B2" } == "B")
    assert(log.asScala.toList == List("build a", "release A", "build b"))
    memo.clear(spark)
    memo.clear(spark)
    assert(log.asScala.toList == List("build a", "release A", "build b", "release B"))
  }

  test("a build that throws leaves the memo empty, and the next call rebuilds") {
    val released = new ConcurrentLinkedQueue[String]
    val memo = new SessionMemo[String, String](1, (_, v) => released.add(v))
    memo.get(spark, "a")("A")
    intercept[IllegalStateException] {
      memo.get(spark, "b")(throw new IllegalStateException("build failed"))
    }
    assert(memo.values(spark).isEmpty, "a failed build left an entry")
    assert(released.asScala.toList == List("A"), "the stale value must still be freed first")
    assert(memo.get(spark, "b")("B") == "B")
    assert(memo.values(spark) == Seq("B"))
  }

  test("a 65th key evicts only in the noisy session, least recently used first") {
    val memo = new SessionMemo[Int, Int](64)
    val quiet = spark.newSession()
    memo.get(quiet, 0)(0)
    (1 to 64).foreach(i => memo.get(spark, i)(i))
    assert(memo.get(spark, 1)(-1) == 1) // a hit refreshes key 1
    memo.get(spark, 65)(65)
    assert(memo.values(spark) == (3 to 64) ++ Seq(1, 65), "evicted other than the LRU key")
    assert(memo.values(quiet) == Seq(0), "the noisy session evicted the quiet one's entry")
  }

  test("a String-valued entry of a dropped newSession() is collected") {
    val memo = new SessionMemo[String, String](1)
    def fill(): java.lang.ref.WeakReference[SparkSession] = {
      val s = spark.newSession()
      memo.get(s, "k")("v")
      new java.lang.ref.WeakReference(s)
    }
    val ref = fill()
    memo.get(spark, "k")("v") // the live session keeps its slot
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (memo.sessionCount > 1 && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "the memo pinned a dropped session")
    assert(memo.sessionCount == 1)
    assert(memo.values(spark) == Seq("v"))
  }

  test("Engine.clearCaches empties every registered memo; no released value is returned again") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, lit}
    val dir = java.nio.file.Files.createTempDirectory("memo_clear").toString
    val twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq((0L, twin), (1L, twin + " lambda"), (2L, "pack ice and arctic shipping lanes"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/documents.parquet")
    Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    // populate engine memos, including the three count memos
    graft.llm.Dedup.queries("llm_dedup_minhash")(spark, dir).count()
    graft.llm.Dedup.containmentPairs(docs, "text", "doc_id").count()
    graft.pipeline.Analytics.queries("basket_pairs")(spark, dir).count()
    graft.llm.Similarity.pqLuts(
      spark.range(4).select(col("id").as("vec_id"), array(lit(1.0f), lit(0.0f)).as("embedding")),
      Array.fill(2)(Array(Array(0L), Array(500L)))).count()
    val counts = Seq(graft.llm.Similarity.querySideCounts, graft.llm.Dedup.candEstCache,
      graft.pipeline.Analytics.liCountCache)
    assert(counts.forall(_.values(spark).nonEmpty))

    // a probe memo stamps each release; a value released before a get
    // started must never come back from it
    val clock = new AtomicLong
    val releasedAt = new ConcurrentHashMap[Object, java.lang.Long]
    val probe = new SessionMemo[String, Object](1, (_, v) => releasedAt.put(v, clock.incrementAndGet()))
    val first = probe.get(spark, "k")(new Object)
    val other = spark.newSession()
    probe.get(other, "k")(new Object)
    Engine.clearCaches(spark)
    val nonEmpty = SessionMemo.all.filter(_.values(spark).nonEmpty)
    assert(nonEmpty.isEmpty, s"${nonEmpty.size} memos kept entries after clearCaches")
    assert(releasedAt.containsKey(first))
    assert(probe.values(other).size == 1, "clearCaches reached another session")
    assert(!(probe.get(spark, "k")(new Object) eq first))

    // the same under contention: readers racing repeated clears
    inThreads(5) { t =>
      (1 to 200).foreach { _ =>
        if (t == 0) Engine.clearCaches(spark)
        else {
          val startedAt = clock.get
          val v = probe.get(spark, "k")(new Object)
          val r = releasedAt.get(v)
          assert(r == null || r > startedAt, "a released value was returned again")
        }
      }
    }
    Engine.clearCaches(spark)
    probe.clear(other)
    graft.store.Lake.deleteRecursive(java.nio.file.Paths.get(dir))
  }
}
