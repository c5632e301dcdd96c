package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session-scoped state in one place: `store/SessionMemo.scala`
  * owns the only JVM-exit hook (`ScratchDirs`) and the only
  * session-keyed maps. A hand-rolled copy elsewhere would again need its
  * own stale check, free, exit hook and clear wiring.
  */
class SessionMemoGuardSpec extends AnyFunSuite {
  private val sessionKeyedMap =
    raw"(TrieMap|ConcurrentHashMap|WeakHashMap)\s*(\.\s*empty\s*)?\[\s*\(?\s*(org\.apache\.spark\.sql\.)?SparkSession\b".r

  private def sources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "SessionMemo.scala")
      .toSeq

  test("no exit hook or SparkSession-keyed map outside SessionMemo.scala") {
    assert(sources.nonEmpty)
    val offenders = sources.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      (if (text.contains("addShutdownHook")) Seq(s"$p: addShutdownHook") else Nil) ++
        sessionKeyedMap.findAllIn(text).map(m => s"$p: $m")
    }
    assert(offenders.isEmpty,
      s"session-scoped state outside graft.store.SessionMemo:\n${offenders.mkString("\n")}")
  }

  test("the guard's pattern catches the shapes it is meant to") {
    Seq("TrieMap.empty[SparkSession, (String, Long, String)]",
      "scala.collection.concurrent.TrieMap\n    .empty[(SparkSession, LogicalPlan, Long), Long]",
      "new java.util.WeakHashMap[SparkSession, V]",
      "new ConcurrentHashMap[org.apache.spark.sql.SparkSession, Object]()")
      .foreach(s => assert(sessionKeyedMap.findFirstIn(s).isDefined, s))
    assert(sessionKeyedMap.findFirstIn("TrieMap.empty[String, Object]").isEmpty)
  }
}
