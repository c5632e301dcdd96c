package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** Child JVM entry for [[CodegenCacheSpec]]: the codegen class cache is
  * JVM-wide and sized once, so only a fresh JVM whose first session is
  * `Engine.session` shows the size the engine sets. Runs [[Plans]]
  * whole-stage plans that differ only in a literal (so each compiles its
  * own class), then the first plan again, and prints the compile counts
  * of both phases.
  */
object CodegenCacheProbe {
  /** More distinct plans than Spark's default cache of 100 holds. */
  val Plans = 150

  def main(args: Array[String]): Unit = {
    val spark = Engine.session(appName = "codegen-cache", master = "local[2]",
      shufflePartitions = 2, warehouseDir = Some(Files.createTempDirectory("cgwh").toString))
    def plan(i: Int): Long =
      spark.range(0, 1000, 1, 2).filter(col("id") % 1000 =!= lit(i)).count()
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    (0 until Plans).foreach(plan)
    val c1 = compiles
    plan(0)
    println(s"COMPILES ${c1 - c0} ${compiles - c1}")
    spark.stop()
  }
}

/** The engine's sessions keep their generated classes across passes:
  * Spark's default 100-entry LRU evicted every class of a working set
  * larger than that, so each JVM-warm pass recompiled all of it.
  */
class CodegenCacheSpec extends SparkSpec {
  test("a plan re-run after more distinct plans than Spark's default cache holds does not recompile") {
    val log = Files.createTempFile("codegen-cache", ".log").toFile
    val p = ChildJvm.launch("graft.CodegenCacheProbe", Nil, log)
    def out = new String(Files.readAllBytes(log.toPath))
    assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), s"probe never exited:\n$out")
    assert(p.exitValue() == 0, s"probe failed:\n$out")
    val m = raw"COMPILES (\d+) (\d+)".r.findFirstMatchIn(out).getOrElse(fail(s"no counts:\n$out"))
    assert(m.group(1).toInt >= CodegenCacheProbe.Plans,
      s"the ${CodegenCacheProbe.Plans} plans compiled only ${m.group(1)} classes")
    assert(m.group(2).toInt == 0, s"re-running the first plan compiled ${m.group(2)} classes")
  }

  test("the engine's session sizes the codegen cache and keeps stage ids out of class names") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == Engine.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }
}
