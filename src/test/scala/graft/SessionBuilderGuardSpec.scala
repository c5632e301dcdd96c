package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps session construction in `Engine.session`: a main that builds its
  * own SparkSession silently gets Spark's 100-entry codegen cache (the
  * cache is JVM-wide and sized by the first session), so every warm pass
  * over a larger working set recompiles, and Hadoop's forking local
  * filesystem. The harness mains take theirs from `BenchSweep.buildSession`,
  * which calls `Engine.session`. The set of mains is closed too: the
  * diagnostic mains that once built sessions of their own were folded
  * into `graft.Profile`.
  */
class SessionBuilderGuardSpec extends AnyFunSuite {
  private val builderCall = raw"SparkSession\s*\.\s*builder\b".r
  private val allowed = Set("Engine.scala")

  private def sources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .toSeq

  test("no SparkSession.builder() in src/main/scala outside Engine.scala") {
    assert(sources.nonEmpty)
    val offenders = sources.filter { p =>
      builderCall.findFirstIn(new String(Files.readAllBytes(p), "UTF-8")).isDefined
    }
    assert(offenders.isEmpty,
      s"build sessions through graft.Engine.session:\n${offenders.mkString("\n")}")
  }

  test("src/main/scala defines no main outside the harness mains and graft.Profile") {
    // a new diagnostic becomes a Profile record field, not another main
    val mains = Set("Bench.scala", "Verify.scala", "HotBucketBench.scala", "Profile.scala")
    val offenders = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !mains(p.getFileName.toString))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains("def main("))
      .toSeq
    assert(offenders.isEmpty,
      s"add a field to graft.Profile's record instead of a new main:\n${offenders.mkString("\n")}")
  }

  test("the SPARK_GRAFT_CONF overlay parses key=value entries and rejects one without =") {
    assert(BenchSweep.confOverlay("k=v;k2=v=w") == Seq("k" -> "v", "k2" -> "v=w"))
    assert(BenchSweep.confOverlay("").isEmpty)
    val e = intercept[IllegalArgumentException](BenchSweep.confOverlay("k=v;k"))
    assert(e.getMessage.contains("'k'"))
    intercept[IllegalArgumentException](BenchSweep.confOverlay("=v"))
  }

  test("the guard's pattern catches the shapes it is meant to") {
    Seq("SparkSession.builder()", "SparkSession\n      .builder()",
      "org.apache.spark.sql.SparkSession.builder().getOrCreate()")
      .foreach(s => assert(builderCall.findFirstIn(s).isDefined, s))
    assert(builderCall.findFirstIn("SparkSession.active").isEmpty)
  }
}
