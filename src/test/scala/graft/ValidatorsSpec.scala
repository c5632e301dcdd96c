package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.validate.{Rule, Validators}

class ValidatorsSpec extends SparkSpec with PropertyCheck {
  import spark.implicits._

  private val rules = Seq(
    Rule("neg_id", col("id") > 0),
    Rule("blank_name", Validators.requiredNonBlank(col("name"))))

  test("split routes rows with first-failing-rule reason") {
    val df = Seq((1, "ok"), (-1, "x"), (2, "  "), (-5, null)).toDF("id", "name")
    val (valid, rejected) = Validators.split(df, rules)
    assert(valid.as[(Int, String)].collect().toSet == Set((1, "ok")))
    val reasons = rejected.select($"id", $"reject_reason").as[(Int, String)].collect().toMap
    assert(reasons == Map(-1 -> "neg_id", 2 -> "blank_name", -5 -> "neg_id"))
  }

  test("property: valid ∪ rejected is a disjoint cover of the input") {
    val rowGen = Gen.zip(Gen.chooseNum(-5, 5), Gen.oneOf("a", "", "  ", "b", null))
    forAll(Gen.listOfN(30, rowGen)) { rows =>
      val df = rows.zipWithIndex.map { case ((id, nm), i) => (i, id, nm) }.toDF("pk", "id", "name")
      val (valid, rejected) = Validators.split(df, rules)
      val v = valid.select("pk").as[Int].collect().toSet
      val r = rejected.select("pk").as[Int].collect().toSet
      assert(v.intersect(r).isEmpty)
      assert(v.union(r) == rows.indices.toSet)
    }
  }

  test("fileSummary counts violations per rule; null fails the rule") {
    val df = Seq((1, "ok"), (-1, "x"), (2, " "), (0, null)).toDF("id", "name")
    val row = Validators.fileSummary(df, rules).head()
    assert(row.getLong(0) == 4) // total
    assert(row.getLong(1) == 2) // neg_id: -1, 0
    assert(row.getLong(2) == 2) // blank_name: " ", null
  }

  test("property: violatingKeys ≡ the keys of the rows split rejects, under any partitioning") {
    val rowGen = Gen.zip(Gen.oneOf("f1", "f2", "f3", "f4"), Gen.chooseNum(-2, 5), Gen.oneOf("a", "", null))
    forAll(Gen.listOfN(20, rowGen), Gen.chooseNum(1, 5)) { (rows, parts) =>
      val df = rows.toDF("file", "id", "name").repartition(parts)
      val want = Validators.split(df, rules)._2.select("file").as[String].collect().toSet
      assert(Validators.violatingKeys(df, $"file", rules) == want)
    }
  }

  test("missing/extra column detection (P2/P6)") {
    val df = Seq((1, "a")).toDF("id", "extra1")
    assert(Validators.missingColumns(df, Seq("id", "name")) == Seq("name"))
    assert(Validators.extraColumns(df, Seq("id")) == Seq("extra1"))
  }

  test("routeExtras routes records with undeclared keys; conforming rows untouched (P2)") {
    val raw = Seq(
      """{"id":1,"name":"a"}""",
      """{"id":2,"name":"b","surprise":true,"debug":"x"}""",
      """{"id":3}""",
      """not json at all""").toDF("payload")
    val (conforming, extras) = Validators.routeExtras(raw, "payload", Seq("id", "name"))
    // conforming keeps the raw payload byte-for-byte (incl. the non-JSON row,
    // which the corrupt-record path owns)
    assert(conforming.as[String].collect().toSet ==
      Set("""{"id":1,"name":"a"}""", """{"id":3}""", "not json at all"))
    val e = extras.select($"payload", $"extra_columns").as[(String, Seq[String])].collect()
    assert(e.length == 1)
    assert(e.head._1.contains("\"id\":2") && e.head._2.toSet == Set("surprise", "debug"))
    // side sink round-trip: extras land in the side area with their key names
    val dest = java.nio.file.Files.createTempDirectory("extras").toString + "/extra_columns"
    graft.store.Lake.writeExtras(extras, dest)
    val back = spark.read.json(dest)
    assert(back.count() == 1)
    assert(back.select(explode($"extra_columns")).as[String].collect().toSet == Set("surprise", "debug"))
  }

  test("conformTo: missing columns null-typed, casts applied, extras dropped, declared order") {
    import org.apache.spark.sql.types._
    val declared = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("score", DoubleType)))   // new column absent in old data
    val old = Seq(("7", "a", "junk")).toDF("id", "name", "legacy_col")
    val out = graft.validate.Validators.conformTo(old, declared)
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    assert(out.schema("id").dataType == IntegerType)
    assert(out.schema("score").dataType == DoubleType)
    val row = out.collect().head
    assert(row.getInt(0) == 7 && row.getString(1) == "a" && row.isNullAt(2))
    // union across schema versions now works without branches
    val neu = Seq((8, "b", 0.5)).toDF("id", "name", "score")
    assert(out.unionByName(graft.validate.Validators.conformTo(neu, declared)).count() == 2)
  }
}
