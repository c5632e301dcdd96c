package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session construction in `Engine.session`: a main that builds its
  * own SparkSession silently gets Spark's 100-entry codegen cache (the
  * cache is JVM-wide and sized by the first session), so every warm pass
  * over a larger working set recompiles. `Verify` and `BenchSweep` are the
  * driver harness's own builders and stay as they are.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {
  private val builderCall = raw"SparkSession\s*\.\s*builder\b".r
  private val allowed = Set("Engine.scala", "Verify.scala", "BenchSweep.scala")

  private def sources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .toSeq

  test("no SparkSession.builder() in src/main/scala outside Engine.scala and the harness mains") {
    assert(sources.nonEmpty)
    val offenders = sources.filter { p =>
      builderCall.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined
    }
    assert(offenders.isEmpty,
      s"build sessions through graft.Engine.session:\n${offenders.mkString("\n")}")
  }

  test("the guard's pattern catches the shapes it is meant to") {
    Seq("SparkSession.builder()", "SparkSession\n      .builder()",
      "org.apache.spark.sql.SparkSession.builder().getOrCreate()")
      .foreach(s => assert(builderCall.findFirstIn(s).isDefined, s))
    assert(builderCall.findFirstIn("SparkSession.active").isEmpty)
  }
}
