package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.store.Skew

/** Skew salting and bucketed co-located joins (builder brief scale tools). */
class SkewBucketSpec extends SparkSpec with PropertyCheck {
  import spark.implicits._

  private def activeRoot: Option[String] = store.Bucketed.built.values(spark).headOption.map(_._3)

  test("salted join equals plain join on skewed data") {
    // hot key: 90% of big side is key 1
    val big = ((1 to 900).map(i => (1, s"v$i")) ++ (1 to 100).map(i => (i % 7 + 2, s"w$i")))
      .toDF("k", "payload")
    val small = (1 to 10).map(i => (i, s"dim$i")).toDF("k", "dim")
    val plain = big.join(small, Seq("k")).select("k", "payload", "dim")
      .as[(Int, String, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), factor = 8)
      .select("k", "payload", "dim").as[(Int, String, String)].collect().toSet
    assert(salted == plain)
  }

  test("property: salted join ≡ plain join for any factor") {
    val rows = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0, 4), Gen.alphaStr.map(_.take(3))))
    val factors = Gen.chooseNum(1, 6)
    forAll(rows, factors) { (bigRows, factor) =>
      val big = bigRows.toDF("k", "payload")
      val small = (0 to 4).map(i => (i, s"d$i")).toDF("k", "dim")
      val plain = big.join(small, Seq("k")).collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      val salted = Skew.saltedJoin(big, small, Seq("k"), factor).collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
      assert(salted == plain) // multiset equality: no row lost or duplicated
    }
  }

  test("salted join shuffles on (key, salt) when neither side broadcasts") {
    // at bench SF the big side fits the broadcast threshold, so the
    // registered query's plan hides the scale shape; force the shuffle
    // path and prove the join key actually widens with the salt — the
    // mechanism that spreads one hot key across `factor` tasks
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val big = (1 to 500).map(i => (1, s"v$i")).toDF("k", "payload")
      val small = (1 to 10).map(i => (i, s"d$i")).toDF("k", "dim")
      val salted = Skew.saltedJoin(big, small, Seq("k"), factor = 8)
      salted.count()
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("_salt"), s"salt column absent from plan:\n$plan")
      assert(Seq("SortMergeJoin", "ShuffledHashJoin").exists(plan.contains),
        s"expected a shuffled join:\n$plan")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("keyHistogram surfaces the hot key first") {
    val df = ((1 to 50).map(_ => Tuple1(7)) ++ (1 to 5).map(Tuple1(_))).toDF("k")
    val top = Skew.keyHistogram(df, Seq("k"), topN = 1).as[(Int, Long)].head()
    assert(top == ((7, 50L)))
  }

  test("approx_count_distinct tracks the exact count within its error bound") {
    // the query itself carries the tolerance verdicts (that's what the
    // oracle hash-gates); here: every flag is 1 and the exact columns
    // agree with the standalone exact query
    val got = pipeline.Analytics.approxUniques(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Int, Int)].collect()
    assert(got.nonEmpty)
    got.foreach { case (et, _, _, uOk, pOk) =>
      assert(uOk == 1 && pOk == 1, s"$et: sketch outside tolerance")
    }
    val exact = pipeline.Analytics.exactUniques(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2, r._3)).toSet == exact)
  }

  test("registered bucketed query: join and aggregation both reuse the bucket layout") {
    // force the shuffled-join path (the tiny dim would broadcast and hide
    // the bucket story); the whole query must then plan with zero hash
    // exchanges: the join reads co-located buckets and the groupBy's
    // clustering keys contain the bucket key, so the write-time shuffle
    // is the ONLY one that ever happens
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val df = store.Bucketed.spendBucketedQuery(spark, "/root/testdata/sf0.001")
      val rows = df.collect()
      assert(rows.length > 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a non-broadcast join:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucket layout not reused (hash exchange present):\n$plan")
      // repeated invocation must reuse the built tables, not rewrite:
      // same root, file set untouched (disk stays flat across calls)
      val root = activeRoot.get
      def listing = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .toArray.map(_.toString).sorted.toSeq
      val before = listing
      val again = store.Bucketed.spendBucketedQuery(spark, "/root/testdata/sf0.001")
      assert(again.count() == rows.length)
      assert(activeRoot.contains(root), "root changed on re-invocation")
      assert(listing == before, "re-invocation rewrote the bucketed tables")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("bucketed memo invalidates on in-place source rewrite; clearCaches drops tables and root") {
    val dir = java.nio.file.Files.createTempDirectory("bucket_src").toString
    def seed(factor: Double): Unit = Seq("orders", "customer").foreach { t =>
      val src = Tables.read(spark, "/root/testdata/sf0.001", t)
      (if (t == "orders") src.withColumn("o_totalprice", col("o_totalprice") * factor) else src)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    seed(1.0)
    val first = store.Bucketed.spendBucketedQuery(spark, dir)
      .agg(sum("total_spend")).as[Double].head()
    val root1 = activeRoot.get
    // rewrite orders IN PLACE (same dir, new files): the fingerprint must
    // catch it and rebuild — stale bucketed results were a correctness bug
    seed(2.0)
    val second = store.Bucketed.spendBucketedQuery(spark, dir)
      .agg(sum("total_spend")).as[Double].head()
    assert(math.abs(second - 2.0 * first) < 1e-6 * math.abs(first),
      s"stale bucketed result served: first=$first second=$second")
    assert(!activeRoot.contains(root1), "memo not rebuilt")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root1)),
      "evicted bucket root not deleted")
    // clearCaches is the explicit escape hatch: tables unregistered, root gone
    val root2 = activeRoot.get
    Engine.clearCaches(spark)
    assert(activeRoot.isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root2)), "bucket root not deleted")
    assert(spark.catalog.listTables().collect()
      .forall(t => !t.name.startsWith("graft_b_")), "catalog registrations not dropped")
    store.Lake.deleteRecursive(java.nio.file.Paths.get(dir))
  }

  test("bucketed table names carry the session's UUID tag, not an identity hash") {
    // an identity-hash suffix can be reused after GC (or collide), so one
    // session's DROP TABLE IF EXISTS could take another's live table
    val (orders, customer) = store.Bucketed.tableNames(spark)
    assert(orders.matches("graft_b_orders_[0-9a-f]{32}"), orders)
    assert(customer == "graft_b_customer_" + orders.stripPrefix("graft_b_orders_"))
    assert(store.Bucketed.tableNames(spark) == ((orders, customer)), "tag not stable per session")
    assert(store.Bucketed.tableNames(spark.newSession())._1 != orders)
  }

  test("bucketed tables join without a shuffle exchange") {
    val n = 1000
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    Tables.lineitem(spark, "/root/testdata/sf0.001")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    Tables.orders(spark, "/root/testdata/sf0.001")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    val joined = spark.table("b_lineitem")
      .join(spark.table("b_orders"),
        col("l_orderkey") === col("o_orderkey"))
    joined.count() // materialize
    val plan = joined.queryExecution.executedPlan.toString
    // co-located buckets: the join runs with zero shuffle exchanges
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected shuffle in:\n$plan")
    assert(joined.count() > 0)
  }
}
