package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.LongType

import graft.llm.Dedup
import graft.store.Checkpoints

/** Spark jobs on the curation read path, pinned with a listener: a table
  * read, the verified near-dup memo build and the connected-components
  * pair materialization each pay only for the exchanges they need.
  */
class CurationJobsSpec extends SparkSpec with JobCount {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "supplier", "customer", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  test("Tables.read starts no job and reads the schema Spark infers, for all ten tables") {
    tables.foreach { t =>
      val (df, jobs) = jobsOf(Tables.read(spark, dir, t))
      assert(jobs.isEmpty, s"$t: ${jobs.mkString("\n")}")
      assert(df.schema == spark.read.parquet(Tables.path(dir, t)).schema, t)
    }
  }

  test("footer schema: TIMESTAMP(NANOS) reads as Long nanos, as inference does under nanosAsLong") {
    val root = Files.createTempDirectory("footer_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$root/events.parquet"))
      .withConf(new Configuration()).withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("event_id", 1L).append("ts", 1700000000123456789L))
    } finally w.close()
    val (df, jobs) = jobsOf(Tables.read(spark, root, "events"))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(df.schema("ts").dataType == LongType)
    assert(df.schema == spark.read.parquet(Tables.path(root, "events")).schema)
    assert(Tables.events(spark, root).selectExpr("unix_micros(ts)").as[Long].collect()
      .toSeq == Seq(1700000000123456L))
  }

  test("footer schema of a Spark-written table dir; partitioned dirs, missing paths and mergeSchema fall back") {
    val root = Files.createTempDirectory("footer_dirs").toString
    val rows = (0 until 40).map(i => (i.toLong, s"t$i", i % 3)).toDF("doc_id", "text", "part")
    rows.repartition(3).write.parquet(s"$root/flat.parquet")
    val (flat, jobs) = jobsOf(Tables.read(spark, root, "flat"))
    assert(jobs.isEmpty, jobs.mkString("\n"))
    assert(flat.schema == spark.read.parquet(s"$root/flat.parquet").schema)
    assert(flat.count() == 40)
    rows.write.partitionBy("part").parquet(s"$root/byPart.parquet")
    assert(Tables.footerSchema(spark, s"$root/byPart.parquet").isEmpty)
    assert(Tables.read(spark, root, "byPart").schema ==
      spark.read.parquet(s"$root/byPart.parquet").schema)
    assert(Tables.footerSchema(spark, s"$root/missing.parquet").isEmpty)
    val merge = "spark.sql.parquet.mergeSchema"
    val prev = spark.conf.getOption(merge)
    spark.conf.set(merge, "true")
    try assert(Tables.footerSchema(spark, s"$root/flat.parquet").isEmpty)
    finally prev.fold(spark.conf.unset(merge))(spark.conf.set(merge, _))
  }

  test("the verified near-dup memo build runs at most 6 jobs") {
    val (ck, jobs) = jobsOf(Dedup.verifiedPairsPlan(spark, dir).localCheckpoint())
    try {
      assert(jobs.size <= 6, jobs.mkString("\n"))
      assert(ck.count() > 0)
    } finally Checkpoints.free(ck)
  }

  test("union-find connected components: the pair frame is materialized and counted in one job") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 6L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 5L)
    // no upstream stage: one materialize-and-count job, one collect
    val (local, jobs) = jobsOf(Dedup.connectedComponents(pairs))
    assert(jobs.size == 2 && jobs.count(_.site.startsWith("collect at")) == 1, jobs.mkString("\n"))
    assert(local.as[(Long, Long)].collect().toMap == want)
    // one upstream exchange: its stage, then the same two jobs
    val (shuffled, jobs2) = jobsOf(Dedup.connectedComponents(pairs.repartition(2, $"id_a")))
    assert(jobs2.size == 3, jobs2.mkString("\n"))
    assert(shuffled.as[(Long, Long)].collect().toMap == want)
  }

  test("union-find labels arrive sorted: a renaming orderBy(id) plans no exchange and no sort, over several slices") {
    // 40 000 ids = two 32 768-id slices; pairs (2i, 2i + 1)
    val n = 40000L
    val pairs = spark.range(0, n / 2).select(($"id" * 2).as("id_a"), ($"id" * 2 + 1).as("id_b"))
    val cc = Dedup.connectedComponents(pairs)
    val out = cc.select($"id".as("doc_id"), $"cluster_id").orderBy($"doc_id").as[(Long, Long)]
    val rows = out.collect()
    assert(rows.map(_._1).toSeq == (0L until n))
    assert(rows.forall { case (id, c) => c == id - id % 2 })
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort ["), plan)
    assert(cc.rdd.getNumPartitions == 2)
    // narrow id types keep the declaration: ints sort as ints
    val ints = Dedup.connectedComponents(Seq((7, 9), (3, 4), (4, 9)).toDF("id_a", "id_b"))
      .orderBy($"id").as[(Int, Int)]
    assert(ints.collect().toSeq == Seq((3, 3), (4, 3), (7, 3), (9, 3)))
    assert(!ints.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("er_customer_clusters and llm_dedup_exact run at most 3 jobs each") {
    Seq("er_customer_clusters", "llm_dedup_exact").foreach { q =>
      val (rows, jobs) = jobsOf(SparkEntry.queries(q)(spark, dir).collect())
      assert(rows.nonEmpty, q)
      assert(jobs.size <= 3, s"$q:\n${jobs.mkString("\n")}")
    }
  }
}
