package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.store.{Fs, Lake, Upsert}

/** Crash recovery of the stage-and-swap partition commit
  * (`Upsert.additivePartitioned`, `Lake.compactPartitions`): each test
  * builds the on-disk state a crash leaves under `<table>/_staging/<id>`,
  * then asserts the next commit loses no live partition, publishes
  * nothing unfinished and leaves no `_staging` dir behind.
  */
class PartitionSwapSpec extends SparkSpec {
  import spark.implicits._

  private def kpi(rows: Seq[(Int, String, Double)]) =
    rows.toDF("product_id", "d", "total_sales")
      .select($"product_id", to_date($"d").as("date"), $"total_sales")

  private def merge(tbl: String, rows: (Int, String, Double)*): Unit =
    Upsert.additivePartitioned(spark, tbl, kpi(rows), Seq("product_id"), "total_sales", "date")

  private def table(tbl: String): Set[(Int, String, Double)] =
    spark.read.parquet(tbl).select($"product_id", $"date".cast("string"), $"total_sales")
      .as[(Int, String, Double)].collect().toSet

  /** A table with two days, 07-01 and 07-02, committed normally. */
  private def seeded(tag: String): String = {
    val tbl = s"${Files.createTempDirectory(tag)}/kpi"
    merge(tbl, (1, "2024-07-01", 10.0), (2, "2024-07-02", 20.0))
    tbl
  }

  /** The staged write of a commit that never finished: `_staging/<id>`
    * holding `rows` partitioned like the table.
    */
  private def staged(tbl: String, id: String, rows: (Int, String, Double)*): String = {
    val dir = s"$tbl/_staging/$id"
    kpi(rows).write.partitionBy("date").parquet(dir)
    dir
  }

  private def assertClean(tbl: String): Unit = {
    assert(!Fs.exists(s"$tbl/_staging"), "staging dir left behind")
    assert(!Fs.exists(s"$tbl.lock"), "writer lock left behind")
  }

  test("crash during the staged write: the partial stage is dropped, live partitions survive") {
    val tbl = seeded("swap_crash_write")
    val dir = staged(tbl, "a", (3, "2024-07-03", 99.0))
    // a torn write: no _SUCCESS, task output still under _temporary
    Fs.deleteIfExists(s"$dir/_SUCCESS")
    Fs.mkdirs(s"$dir/_temporary/0/task_0")
    merge(tbl, (1, "2024-07-01", 5.0))
    assert(table(tbl) == Set((1, "2024-07-01", 15.0), (2, "2024-07-02", 20.0)))
    assertClean(tbl)
  }

  test("crash after some fresh partitions were published: the rest are dropped, none lost") {
    val tbl = seeded("swap_crash_fresh")
    val dir = staged(tbl, "b", (3, "2024-07-03", 3.0), (4, "2024-07-04", 4.0))
    // the crashed commit had renamed 07-03 into place, not yet 07-04
    Fs.rename(s"$dir/date=2024-07-03", s"$tbl/date=2024-07-03")
    merge(tbl, (2, "2024-07-02", 1.0))
    assert(table(tbl) == Set((1, "2024-07-01", 10.0), (2, "2024-07-02", 21.0),
      (3, "2024-07-03", 3.0)))
    assertClean(tbl)
  }

  test("crash between moving the live dir aside and swapping the new one in: the aside is restored") {
    val tbl = seeded("swap_crash_aside")
    val before = Fs.list(s"$tbl/date=2024-07-02").map(e => (e.name, e.len)).toSet
    val dir = staged(tbl, "c", (2, "2024-07-02", 999.0))
    Fs.mkdirs(s"$dir/_aside")
    Fs.rename(s"$tbl/date=2024-07-02", s"$dir/_aside/date=2024-07-02")
    assert(!Fs.exists(s"$tbl/date=2024-07-02"))
    merge(tbl, (1, "2024-07-01", 5.0))
    // the old 07-02 is back, file for file; the unpublished merge is not
    assert(Fs.list(s"$tbl/date=2024-07-02").map(e => (e.name, e.len)).toSet == before)
    assert(table(tbl) == Set((1, "2024-07-01", 15.0), (2, "2024-07-02", 20.0)))
    assertClean(tbl)
  }

  test("a staged partition whose value looks like an aside name is dropped, not published") {
    val tbl = seeded("swap_crash_aside_name")
    val dir = staged(tbl, "d", (5, "2024-07-05", 5.0))
    // a string partition value may end in anything; only `_aside/` marks an aside
    Fs.rename(s"$dir/date=2024-07-05", s"$dir/date=2024-07-05.aside")
    merge(tbl, (1, "2024-07-01", 5.0))
    assert(!Fs.exists(s"$tbl/date=2024-07-05"))
    assert(table(tbl) == Set((1, "2024-07-01", 15.0), (2, "2024-07-02", 20.0)))
    assertClean(tbl)
  }

  test("a merge job that fails publishes no partition; the retry sums each date once") {
    val tbl = seeded("swap_failed_merge")
    val corrupt = Paths.get(s"$tbl/date=2024-07-02/part-99999-corrupt.parquet")
    Files.writeString(corrupt, "not a parquet file")
    // 07-03 is fresh (a rename), 07-02 exists (a merge job over the corrupt dir)
    intercept[Exception](merge(tbl, (3, "2024-07-03", 3.0), (2, "2024-07-02", 1.0)))
    assert(!Fs.exists(s"$tbl/date=2024-07-03"), "a fresh partition was published before the merge job")
    Files.delete(corrupt)
    merge(tbl, (3, "2024-07-03", 3.0), (2, "2024-07-02", 1.0))
    assert(table(tbl) == Set((1, "2024-07-01", 10.0), (2, "2024-07-02", 21.0),
      (3, "2024-07-03", 3.0)))
    assertClean(tbl)
  }

  test("a store without atomic directory rename is refused before anything is written") {
    for (commit <- Seq[() => Any](
        () => merge("s3a://bucket/kpi", (1, "2024-07-01", 1.0)),
        () => Lake.compactPartitions(spark, "s3a://bucket/t", "d"))) {
      val e = intercept[UnsupportedOperationException](commit())
      assert(e.getMessage.contains("Lake.withPartitionSwaps") && e.getMessage.contains("s3a"), e.getMessage)
    }
  }

  test("compaction runs the same recovery before it swaps") {
    val root = Files.createTempDirectory("swap_crash_compact").toString
    val t = s"$root/t"
    for (i <- 1 to 6) Seq((i, "2024-07-02")).toDF("x", "d").write.partitionBy("d").mode("append").parquet(t)
    Seq((0, "2024-07-01")).toDF("x", "d").write.partitionBy("d").mode("append").parquet(t)
    Fs.mkdirs(s"$t/_staging/z/_aside")
    Fs.rename(s"$t/d=2024-07-01", s"$t/_staging/z/_aside/d=2024-07-01")
    assert(Lake.compactPartitions(spark, t, "d", maxFilesPerPartition = 4) == Seq("2024-07-02"))
    assert(spark.read.parquet(t).as[(Int, String)].collect().toSet ==
      ((1 to 6).map(i => (i, "2024-07-02")) :+ ((0, "2024-07-01"))).toSet)
    assertClean(t)
  }

  test("an empty delta publishes nothing and creates no table") {
    val tbl = s"${Files.createTempDirectory("swap_empty")}/kpi"
    merge(tbl)
    assert(!Files.exists(Paths.get(tbl)))
    val seededTbl = seeded("swap_empty_seeded")
    val before = Fs.listFilesRecursive(seededTbl).map(e => (e.path, e.mtime)).toSet
    merge(seededTbl)
    assert(Fs.listFilesRecursive(seededTbl).map(e => (e.path, e.mtime)).toSet == before)
    assertClean(seededTbl)
  }
}
