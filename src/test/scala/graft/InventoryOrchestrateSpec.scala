package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.pipeline.{Crm, Inventory, Orchestrate}
import graft.store.Upsert

class InventoryOrchestrateSpec extends SparkSpec with PropertyCheck {
  import spark.implicits._

  test("inventory run: file gate, latest-wins dedup, replace upsert across two batches") {
    val root = Files.createTempDirectory("inv_orch").toString
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val now = 1697059200.0
    Files.writeString(Paths.get(s"$landing/inv_1.jsonl"),
      """{"inventory_id": 1, "product_id": 101, "warehouse_id": 201, "stock_level": 100, "restock_threshold": 20, "last_updated": 1697059200.0}
        |{"inventory_id": 1, "product_id": 101, "warehouse_id": 201, "stock_level": 90, "restock_threshold": 20, "last_updated": 1697062800.0}
        |{"inventory_id": 2, "product_id": 102, "warehouse_id": 201, "stock_level": 5, "restock_threshold": null, "last_updated": 1697059200.0}
        |""".stripMargin)
    Files.writeString(Paths.get(s"$landing/inv_bad.jsonl"),
      """{"inventory_id": 3, "product_id": 103, "warehouse_id": 201, "stock_level": -4, "restock_threshold": 1, "last_updated": 1697059200.0}
        |""".stripMargin) // negative stock → whole file rejected
    val r1 = Orchestrate.runInventoryBatch(spark, landing, s"$root/lake", now)
    assert(r1.processedFiles == 1 && r1.quarantinedFiles == 1 && r1.transformed)
    val state1 = graft.store.Versioned.read(spark, s"$root/lake/inventory_state")
      .select("inventory_id", "stock_level").as[(Int, Int)].collect().toMap
    assert(state1 == Map(1 -> 90, 2 -> 5)) // latest-per-key won
    assert(Files.exists(Paths.get(s"$root/lake/rejected/inv_bad.jsonl")))

    // second batch updates key 1, inserts key 4
    Files.writeString(Paths.get(s"$landing/inv_2.jsonl"),
      """{"inventory_id": 1, "product_id": 101, "warehouse_id": 201, "stock_level": 70, "restock_threshold": 20, "last_updated": 1697070000.0}
        |{"inventory_id": 4, "product_id": 104, "warehouse_id": 202, "stock_level": 7, "restock_threshold": 2, "last_updated": 1697070000.0}
        |""".stripMargin)
    val r2 = Orchestrate.runInventoryBatch(spark, landing, s"$root/lake", now)
    assert(r2.processedFiles == 1 && r2.transformed)
    val state2 = graft.store.Versioned.read(spark, s"$root/lake/inventory_state")
      .select("inventory_id", "stock_level").as[(Int, Int)].collect().toMap
    assert(state2 == Map(1 -> 70, 2 -> 5, 4 -> 7)) // replaced on match, inserted new
  }

  test("inventory run: a batch row replaces its state row even when older; absent keys keep theirs") {
    val root = Files.createTempDirectory("inv_older").toString
    val landing = s"$root/landing"; Files.createDirectories(Paths.get(landing))
    val now = 1697059200.0
    def land(name: String, rows: (Int, Int, Double)*): Unit =
      Files.writeString(Paths.get(s"$landing/$name"), rows.map { case (id, stock, ts) =>
        s"""{"inventory_id": $id, "product_id": ${100 + id}, "warehouse_id": 201, "stock_level": $stock, "restock_threshold": 2, "last_updated": $ts}"""
      }.mkString("", "\n", "\n"))
    land("inv_1.jsonl", (1, 100, now), (2, 5, now), (3, 9, now))
    assert(Orchestrate.runInventoryBatch(spark, landing, s"$root/lake", now).transformed)
    // key 1 arrives with a last_updated an hour before its state row's
    land("inv_2.jsonl", (1, 70, now - 3600), (1, 60, now - 7200), (4, 7, now))
    assert(Orchestrate.runInventoryBatch(spark, landing, s"$root/lake", now).transformed)
    val state = graft.store.Versioned.read(spark, s"$root/lake/inventory_state")
      .select("inventory_id", "stock_level", "last_updated").as[(Int, Int, Double)].collect()
    assert(state.map(r => r._1 -> r._2).toMap == Map(1 -> 70, 2 -> 5, 3 -> 9, 4 -> 7))
    assert(state.find(_._1 == 1).get._3 == now - 3600)
  }

  private def invRows(rows: Seq[(Int, Int, Double)]): DataFrame =
    rows.toDF("inventory_id", "stock_level", "last_updated")

  test("latestPerKey: tied order values pick one winner under any input order and partition count") {
    val rows = Seq((1, 10, 5.0), (1, 30, 5.0), (1, 20, 5.0), (1, 99, 4.0),
      (2, 7, 1.0), (2, 3, 1.0), (3, 1, 2.0))
    def winners(in: Seq[(Int, Int, Double)], parts: Int) =
      Inventory.latestPerKey(invRows(in).repartition(parts), "inventory_id", Seq("last_updated"))
        .as[(Int, Int, Double)].collect().toSet
    val expected = Set((1, 30, 5.0), (2, 7, 1.0), (3, 1, 2.0))
    for (seed <- 1 to 4; parts <- Seq(1, 3, 7))
      assert(winners(new scala.util.Random(seed).shuffle(rows), parts) == expected, s"seed $seed, $parts partitions")
  }

  test("property: mergeLatest ≡ window latest-per-key + replaceOnMatch on tie-free batches") {
    // the row_number window and anti-join merge this aggregate replaced
    def windowLatest(df: DataFrame): DataFrame =
      df.withColumn("rn", row_number().over(
          Window.partitionBy($"inventory_id").orderBy($"last_updated".desc)))
        .filter($"rn" === 1).drop("rn")
    val row = Gen.zip(Gen.chooseNum(0, 6), Gen.chooseNum(0, 100), Gen.chooseNum(0, 50).map(_.toDouble))
    forAll(Gen.listOfN(8, row), Gen.listOfN(10, row)) { (st, up) =>
      val state = invRows(st.distinctBy(_._1))
      // tie-free: no two batch rows of one key share a last_updated
      val batch = invRows(up.distinctBy(r => (r._1, r._3)))
      val got = Inventory.mergeLatest(Some(state), batch, "inventory_id", Seq("last_updated"))
        .as[(Int, Int, Double)].collect().sorted
      val want = Upsert.replaceOnMatch(state, windowLatest(batch), Seq("inventory_id"))
        .as[(Int, Int, Double)].collect().sorted
      assert(got.toSeq == want.toSeq)
      assert(Inventory.mergeLatest(None, batch, "inventory_id", Seq("last_updated"))
        .as[(Int, Int, Double)].collect().sorted.toSeq == windowLatest(batch).as[(Int, Int, Double)].collect().sorted.toSeq)
    }
  }

  test("CRM alert evaluator fires at and above threshold only") {
    val base = java.time.Instant.parse("2024-07-15T10:00:00Z")
    def mk(n: Int) = (1 to n).map(i =>
      (java.sql.Timestamp.from(base.plusSeconds(i * 60L)), 1)).toDF("ts", "rating")
    assert(Crm.evaluateAlert(mk(10), "ts", "rating", base).isDefined)
    assert(Crm.evaluateAlert(mk(9), "ts", "rating", base).isEmpty)
    // negatives outside the window don't count
    val outside = (1 to 20).map(i =>
      (java.sql.Timestamp.from(base.plusSeconds(4000L + i)), 1)).toDF("ts", "rating")
    assert(Crm.evaluateAlert(outside, "ts", "rating", base).isEmpty)
  }
}
