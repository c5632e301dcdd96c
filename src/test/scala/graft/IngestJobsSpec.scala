package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types._
import graft.pipeline.{Orchestrate, Web}
import graft.store.{Fs, Versioned}
import graft.stream.MicroBatch

/** Spark jobs per ingest call, pinned with a listener: the per-job fixed
  * cost dominates the ingest cycle, so a job that only prepares a write
  * (an emptiness probe, a collect of partition values, a checkpoint, a
  * footer-inference read) is a regression even when the output is right.
  */
class IngestJobsSpec extends SparkSpec with JobCount {
  import spark.implicits._

  private val posHeader = "transaction_id,store_id,product_id,quantity,revenue,discount_applied,timestamp\n"

  test("POS batch: a fresh date commits in ≤ 5 jobs with no write-preparation job; the same date merges") {
    val root = Files.createTempDirectory("ingest_jobs_pos").toString
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val lake = s"$root/lake"
    Files.writeString(Paths.get(s"$landing/pos_20240715_120000.csv"), posHeader +
      "T1,101,2001,2,50.5,0.1,1721033100.0\nT2,102,2001,3,75.0,,1721033200.0\nT3,101,2002,1,9.5,,1721033300.0\n")
    val (r1, fresh) = jobsOf(Orchestrate.runPosBatch(spark, landing, lake))
    assert(r1.transformed && r1.error.isEmpty, r1.toString)
    assert(fresh.size <= 5, fresh.mkString("\n"))
    // the file gate: one job, no shuffle stage
    val gate = fresh.filter(_.site.startsWith("collect at Validators"))
    assert(gate.size == 1 && gate.head.stages == 1, fresh.mkString("\n"))
    val prep = fresh.map(_.site).filter(s =>
      s.startsWith("isEmpty at") || s.startsWith("localCheckpoint at") || s.startsWith("collect at Upsert"))
    assert(prep.isEmpty, prep.mkString("\n"))
    def totals = spark.read.parquet(s"$lake/kpi")
      .select($"product_id", $"date".cast("string"), $"total_sales")
      .as[(Int, String, Double)].collect().toSet
    assert(totals == Set((2001, "2024-07-15", 125.5), (2002, "2024-07-15", 9.5)))

    // second batch, same date: the merge path re-aggregates live + staged.
    // The checkpointed dynamic-overwrite merge ran 12 jobs for this batch.
    Files.writeString(Paths.get(s"$landing/pos_20240715_180000.csv"), posHeader +
      "T4,101,2001,1,10.0,,1721055600.0\nT5,103,2003,1,1.25,,1721055700.0\n")
    val (r2, merged) = jobsOf(Orchestrate.runPosBatch(spark, landing, lake))
    assert(r2.transformed && r2.error.isEmpty, r2.toString)
    assert(merged.size > fresh.size, "the same-date batch did not take the merge path")
    assert(merged.size <= 7, merged.mkString("\n"))
    val mergePrep = merged.map(_.site).filter(s =>
      s.startsWith("isEmpty at") || s.startsWith("localCheckpoint at") || s.startsWith("collect at Upsert"))
    assert(mergePrep.isEmpty, mergePrep.mkString("\n"))
    assert(totals == Set((2001, "2024-07-15", 135.5), (2002, "2024-07-15", 9.5),
      (2003, "2024-07-15", 1.25)))
    assert(!Files.exists(Paths.get(s"$lake/kpi/_staging")))
  }

  test("inventory batch: the second run merges in ≤ 3 jobs, without a footer-inference job") {
    val root = Files.createTempDirectory("ingest_jobs_inv").toString
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val now = 1697059200.0
    def land(name: String, rows: (Int, Int, Double)*): Unit =
      Files.writeString(Paths.get(s"$landing/$name"), rows.map { case (id, stock, ts) =>
        s"""{"inventory_id": $id, "product_id": ${100 + id}, "warehouse_id": 201, "stock_level": $stock, "restock_threshold": 2, "last_updated": $ts}"""
      }.mkString("", "\n", "\n"))
    land("inv_1.jsonl", (1, 100, now), (2, 5, now))
    assert(Orchestrate.runInventoryBatch(spark, landing, s"$root/lake", now).transformed)
    land("inv_2.jsonl", (1, 70, now + 60), (4, 7, now + 60))
    val (r2, jobs) = jobsOf(Orchestrate.runInventoryBatch(spark, landing, s"$root/lake", now))
    assert(r2.transformed && r2.error.isEmpty, r2.toString)
    // schema inference is a plain job outside any SQL execution; every
    // other Versioned job is part of the overwrite's write
    val inference = jobs.filter(j => !j.sql && j.site.contains("at Versioned.scala"))
    assert(inference.isEmpty, jobs.mkString("\n"))
    // the gate, the merge aggregate's one exchange, the write
    assert(jobs.size <= 3, jobs.mkString("\n"))
    val state = Versioned.read(spark, s"$root/lake/inventory_state")
      .select("inventory_id", "stock_level").as[(Int, Int)].collect().toMap
    assert(state == Map(1 -> 70, 2 -> 5, 4 -> 7))
  }

  test("stream ingest: an all-rejected batch writes no clean file and keeps the processed table readable") {
    val root = Files.createTempDirectory("ingest_jobs_stream").toString
    val in = s"$root/landing"; Files.createDirectories(Paths.get(in))
    val processed = s"$root/processed"
    val schema = StructType(Seq(
      StructField("session_id", StringType), StructField("user_id", StringType),
      StructField("page", StringType), StructField("device_type", StringType),
      StructField("browser", StringType), StructField("event_type", StringType),
      StructField("timestamp", DoubleType)))
    def rec(session: String, page: String) =
      s"""{"session_id":$session,"user_id":"42","page":"$page","device_type":"m","browser":"C","event_type":"Click","timestamp":1721033100.0}"""
    def dataFiles = Fs.listFilesRecursive(processed).filter(_.name.endsWith(".parquet")).map(_.path).toSet
    val q = MicroBatch.ingest(spark, in, schema, Web.ingest(_), "event_time",
      processed, s"$root/quarantine", s"$root/ckpt", triggerMs = 100L)
    try {
      Files.writeString(Paths.get(s"$in/b1.jsonl"), rec("\"s-1\"", "/a") + "\n")
      q.processAllAvailable()
      val before = dataFiles
      assert(before.nonEmpty && spark.read.parquet(processed).count() == 1)
      // every record lacks its session id: all rejected
      Files.writeString(Paths.get(s"$in/b2.jsonl"),
        Seq(rec("null", "/b"), rec("null", "/c"), rec("null", "/d")).mkString("\n") + "\n")
      q.processAllAvailable()
      assert(dataFiles == before, "an all-rejected batch wrote a clean data file")
      assert(spark.read.json(s"$root/quarantine").count() == 3)
      assert(spark.read.parquet(processed).count() == 1)
    } finally { q.stop(); q.awaitTermination() }
  }
}
