package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.graft.ListenerBridge

import graft.llm.Dedup

class ProfileSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val recordKeys = Set("sec", "cold_s", "warm_s", "rows", "jobs", "stages", "tasks",
    "shuffle_write", "shuffle_read", "spill_mem", "spill_disk", "exec_run_ms", "exec_gc_ms",
    "exchanges", "reused_exchanges", "joins_sorts", "job_detail", "stage_detail")

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)

  test("a registered query's record: listener totals, per-job and per-stage detail, join/sort lines, plan file") {
    val out = Files.createTempDirectory("graft-profile")
    val planFile = out.resolve("sales_by_nation.txt")
    val r = parse(Profile.record(spark, "sales_by_nation", dir, Some(planFile))._2)
    assert(r.fieldNames.asScala.toSet == recordKeys)
    assert(r.get("jobs").asInt >= 1)
    assert(r.get("job_detail").size == r.get("jobs").asInt)
    assert(r.get("stage_detail").size == r.get("stages").asInt)
    assert(r.get("exchanges").asInt >= 1 && r.get("reused_exchanges").asInt >= 0)
    val joins = r.get("joins_sorts").elements.asScala.map(_.asText).toSeq
    assert(joins.exists(_.contains("Join")), s"no join line in $joins")
    assert(Files.readString(planFile).contains("== Physical Plan =="))
  }

  test("a lazy-form query's record shows the joins its eager checkpoint hides") {
    val r = parse(Profile.record(spark, "llm_winnow_overlap", dir)._2)
    assert(r.fieldNames.asScala.toSet == recordKeys)
    assert(r.get("jobs").asInt >= 1)
    val joins = r.get("joins_sorts").elements.asScala.map(_.asText).toSeq
    assert(joins.exists(_.contains("ShuffledHashJoin")), s"lazy plan not shown: $joins")
  }

  test("the containment record's corpus statistics equal a direct document-frequency count") {
    val q = "llm_dedup_containment"
    val r = parse(Profile.record(spark, q, dir)._2)
    assert(r.fieldNames.asScala.toSet == recordKeys + "corpus")
    assert(r.get("rows").asLong == SparkEntry.queries(q)(spark, dir).count())
    val dfs = Tables.documents(spark, dir)
      .select(explode(Dedup.shingles(col("text"), Dedup.ContainmentN)).as("g"))
      .groupBy("g").count().collect().map(_.getLong(1)).toSeq
    val (kept, capped) = (dfs.filter(d => d > 1 && d <= Dedup.ContainmentMaxDf),
      dfs.filter(_ > Dedup.ContainmentMaxDf))
    val want = Map("posting_rows" -> dfs.sum, "shingle_types" -> dfs.size.toLong,
      "retained_types" -> kept.size.toLong, "sum_df2" -> kept.map(d => d * d).sum,
      "capped_types" -> capped.size.toLong, "capped_rows" -> capped.sum)
    val corpus = r.get("corpus")
    assert(corpus.fieldNames.asScala.map(k => k -> corpus.get(k).asLong).toMap == want)
    assert(want("sum_df2") > 0)
  }

  test("a linear query's scale record at k = 2 has twice its 1× rows and metamorphic ok") {
    val q = "llm_dedup_exact"
    assert(Profile.ScaleTargets.toMap.get(q).contains(Profile.Linear))
    val (r1, _) = Profile.record(spark, q, dir)
    val r = parse(Profile.record(spark, q, ScaleBench.ensureScaled(spark, dir, 2),
      scale = Some(2 -> r1))._2)
    assert(r.fieldNames.asScala.toSet == recordKeys + "metamorphic")
    assert(r1 > 0 && r.get("rows").asLong == 2 * r1)
    assert(r.get("metamorphic").asText == "ok")
    assert(r.get("warm_s").asDouble <= r.get("sec").asDouble)
  }

  test("every lazy form releases the blocks it pins once its plan is read") {
    val sc = spark.sparkContext
    Profile.lazyForms.keys.toSeq.sorted.foreach { q =>
      Profile.lazyPlan(spark, q, dir) // builds the session memos the form reads
      val pre = sc.getPersistentRDDs.keySet
      Profile.lazyPlan(spark, q, dir)
      val left = sc.getPersistentRDDs.keySet.toSet -- pre
      assert(left.isEmpty, s"$q left persistent RDDs $left")
    }
  }

  test("an unknown query name is rejected before any job runs") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalArgumentException](
        Profile.selected(Seq("sales_by_nation", "no_such_query")))
      assert(e.getMessage.contains("no_such_query"))
      intercept[NoSuchElementException](Profile.record(spark, "no_such_query", dir))
      ListenerBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0)
    assert(Profile.selected(Nil) == SparkEntry.queries.keys.toSeq.sorted)
  }
}
