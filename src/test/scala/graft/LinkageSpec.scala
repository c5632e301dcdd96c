package graft

import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.ops.Linkage

class LinkageSpec extends SparkSpec with PropertyCheck with AdaptiveSparkPlanHelper {
  import org.scalacheck.Gen
  import spark.implicits._

  // two true entities with typo'd aliases, one near-name in a different
  // segment, one isolated record, and a degenerate "UNKNOWN" block
  private def recs = Seq(
    (1L, "acme corp", "A"),
    (2L, "acme corq", "A"),  // edit 1 of #1, same segment -> match
    (3L, "acme corp", "B"),  // edit 0 of #1 but segment differs -> no match
    (4L, "bolt llc!", "A"),
    (5L, "bolt llc?", "A"),  // edit 1 of #4 -> match
    (6L, "bolt lcc?", "A"),  // edit 1 of #5, edit 2 of #4 -> chains via #5
    (7L, "zeta gmbh", "A")
  ).toDF("id", "name", "seg")

  private def block = expr("substring(name, 1, 4)")

  test("candidatePairs: within-block only, id_a < id_b, payload prefixed") {
    val p = Linkage.candidatePairs(recs, "id", block, Seq("name", "seg"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // acme block = {1,2,3}, bolt block = {4,5,6}, zeta alone
    assert(p == Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L)))
  }

  test("candidatePairs: oversized blocks are dropped whole (skew guard)") {
    val big = (0 until 50).map(i => (100L + i, s"same prefix $i", "A"))
    val df = (recs.as[(Long, String, String)].collect().toSeq ++ big)
      .toDF("id", "name", "seg")
    val p = Linkage.candidatePairs(df, "id", block, Seq("name"), maxBlock = 10)
      .select($"id_a").distinct().as[Long].collect().toSet
    assert(p.forall(_ < 100L), "the 50-record 'same' block must yield no pairs")
  }

  test("candidatePairs: candidate generator plans as an equi-join, never cartesian") {
    val plan = Linkage.candidatePairs(recs, "id", block, Seq("name"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("match rule: edit<=1 AND segment agreement; clusters chain transitively") {
    val pairs = Linkage.candidatePairs(recs, "id", block, Seq("name", "seg"))
      .withColumn("d", levenshtein($"a_name", $"b_name"))
      .filter($"d" <= 1 && $"a_seg" === $"b_seg")
      .select($"id_a", $"id_b")
    assert(pairs.as[(Long, Long)].collect().toSet ==
      Set((1L, 2L), (4L, 5L), (5L, 6L)))
    // 4-6 are edit distance 2 yet share a cluster THROUGH 5 — the
    // transitive semantics the CC step exists for
    val cl = graft.llm.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cl(4L) == 4L && cl(5L) == 4L && cl(6L) == 4L)
    assert(cl(1L) == 1L && cl(2L) == 1L)
    assert(!cl.contains(7L), "singletons are not cluster members")
  }

  test("blockClusters ≡ iterative connectedComponents over the matched candidate pairs") {
    val pairs = Linkage.candidatePairs(recs, "id", block, Seq("name", "seg"))
      .filter(Linkage.erMatch("name", "seg"))
    val local = Linkage.blockClusters(recs, "id", block, Seq("name", "seg"),
        Linkage.erMatch("name", "seg"))
      .as[(Long, Long)].collect().toMap
    assert(local == Map(1L -> 1L, 2L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
    // the round loop, forced: the default bound would finish this graph
    // through the same UnionFind as blockClusters
    val global = graft.llm.Dedup.connectedComponentsWith(
        pairs.select($"id_a", $"id_b"), localMaxEdgeRows = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == global)
    // path-compressed union by min: a chain 6~7~8~9 (each step one edit,
    // the ends three apart) takes its min whatever the pair order
    val chain = Seq((9L, "xxxx bbb"), (7L, "xxxx aab"), (8L, "xxxx abb"), (6L, "xxxx aaa"),
        (2L, "yyyy b"), (1L, "yyyy a"))
      .toDF("id", "name").withColumn("seg", lit("A"))
    val got = Linkage.blockClusters(chain, "id", block, Seq("name", "seg"),
        Linkage.erMatch("name", "seg"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 6L, 1L -> 1L, 2L -> 1L))
  }

  test("blockClusters runs its scoring in one stage of spark.sql.shuffle.partitions tasks") {
    val plan = Linkage.blockClusters(recs, "id", block, Seq("name", "seg"),
      Linkage.erMatch("name", "seg"))
    plan.collect()
    val exchanges = collect(plan.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(e => (e.numPartitions, e.shuffleOrigin)) ==
      Seq((spark.conf.get("spark.sql.shuffle.partitions").toInt, REPARTITION_BY_NUM)),
      plan.queryExecution.executedPlan.toString)
    assert(collect(plan.queryExecution.executedPlan) { case r: AQEShuffleReadExec => r }.isEmpty,
      plan.queryExecution.executedPlan.toString)
  }

  test("sortedNeighborhood: exactly the w successors in sort order, layout-invariant") {
    val df = Seq(
      (10L, "alpha", "A"), (11L, "beta", "A"), (12L, "gamma", "A"),
      (13L, "delta", "A"), (14L, "epsilon", "A")
    ).toDF("id", "name", "seg")
    // sort order by name: alpha(10) beta(11) delta(13) epsilon(14) gamma(12)
    val got = Linkage.sortedNeighborhoodPairs(df, "id", $"name", Seq("name"), w = 2)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 11L), (10L, 13L), (11L, 13L), (11L, 14L),
      (13L, 14L), (13L, 12L), (14L, 12L)))
    // candidate count is exactly n·w minus the tail shortfall
    assert(got.size == 5 * 2 - 3)
    val again = Linkage.sortedNeighborhoodPairs(df.repartition(5), "id", $"name",
      Seq("name"), w = 2).select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == again)
  }

  test("sortedNeighborhood catches a block-straddling match the key blocking misses") {
    // "acme corp" vs "acmf corp": typo in position 4 — INSIDE the 4-char
    // blocking prefix, so key blocking separates them; in sort order they
    // are adjacent
    val df = Seq((1L, "acme corp", "A"), (2L, "acmf corp", "A"), (3L, "zzz", "A"))
      .toDF("id", "name", "seg")
    val blocked = Linkage.candidatePairs(df, "id", block, Seq("name"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!blocked.contains((1L, 2L)), "key blocking must miss the in-prefix typo")
    val snm = Linkage.sortedNeighborhoodPairs(df, "id", $"name", Seq("name"), w = 1)
      .withColumn("d", levenshtein($"a_name", $"b_name")).filter($"d" <= 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(snm.contains((1L, 2L)), "sort order keeps the typo'd record adjacent")
  }

  test("sortedNeighborhood property: pairs are exactly the w successors of a driver-side sort") {
    val gen = for {
      n <- Gen.choose(2, 25)
      w <- Gen.choose(1, 4)
      // duplicate-heavy keys: ties must break on id deterministically
      keys <- Gen.listOfN(n, Gen.oneOf("aa", "ab", "ba", "bb", "c"))
    } yield (w, keys.zipWithIndex.map { case (k, i) => (i.toLong, k) })
    forAll(gen) { case (w, rows) =>
      val df = rows.toDF("id", "name")
      val got = Linkage.sortedNeighborhoodPairs(df, "id", $"name", Seq("name"), w)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val order = rows.sortBy { case (id, k) => (k, id) }.map(_._1)
      val expect = order.zipWithIndex.flatMap { case (a, i) =>
        order.slice(i + 1, i + 1 + w).map(b => (a, b))
      }.toSet
      assert(got == expect, s"w=$w rows=$rows")
    }
  }

  test("blockClusters property: ≡ candidatePairs + match rule + connected components") {
    // random block corpora: oversized blocks (dropped whole), null block
    // keys, null ids (counted by the gate, paired with nothing), null
    // names and segments; names one or two edits apart inside a block
    val maxBlock = 6
    val rec = for {
      name <- Gen.frequency(9 -> Gen.listOfN(3, Gen.oneOf('a', 'b')).map(_.mkString), 1 -> Gen.const(null))
      seg <- Gen.frequency(4 -> Gen.oneOf("A", "B"), 1 -> Gen.const(null))
      nullId <- Gen.frequency(9 -> false, 1 -> true)
    } yield (name, seg, nullId)
    val gen = for {
      sizes <- Gen.listOfN(4, Gen.frequency(4 -> Gen.choose(1, maxBlock), 1 -> Gen.choose(maxBlock + 1, 9)))
      blocks <- Gen.sequence[List[List[(String, String, Boolean)]], List[(String, String, Boolean)]](
        sizes.map(n => Gen.listOfN(n, rec)))
      nullBlock <- Gen.choose(-1, 3)
    } yield blocks.zipWithIndex.flatMap { case (rs, b) =>
      rs.map { case (name, seg, nullId) =>
        (nullId, if (b == nullBlock) null else s"g$b", name, seg) }
    }.zipWithIndex.map { case ((nullId, g, name, seg), i) =>
      (if (nullId) None else Some(i.toLong * 7 % 101), g, name, seg)
    }
    forAll(gen) { rows =>
      val df = rows.toDF("id", "g", "name", "seg")
      val rule = Linkage.erMatch("name", "seg")
      val got = Linkage.blockClusters(df, "id", $"g", Seq("name", "seg"), rule, maxBlock)
        .as[(Long, Long)].collect().toSeq.sorted
      val pairs = Linkage.candidatePairs(df, "id", $"g", Seq("name", "seg"), maxBlock)
        .filter(rule).select($"id_a", $"id_b")
      val want = graft.llm.Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got == want, rows.toString)
    }
  }

  test("registered customer queries: pairs differ in one trailing digit, clusters = min custkey") {
    val dir = "/root/testdata/sf0.001"
    val p = Linkage.customerPairs(spark, dir)
    val rows = p.as[(Long, Long, Int)].collect()
    assert(rows.nonEmpty)
    // every matched pair: same 100-block, edit distance exactly 1
    assert(rows.forall(_._3 == 1))
    assert(rows.forall { case (a, b, _) => a / 100 == b / 100 })
    val cl = Linkage.customerClusters(spark, dir).as[(Long, Long)].collect()
    assert(cl.nonEmpty && cl.forall { case (k, c) => c <= k })
  }

  test("golden records: one row per merged cluster, min-custkey survivorship") {
    val dir = "/root/testdata/sf0.001"
    val members = Linkage.customerClusters(spark, dir).as[(Long, Long)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val g = Linkage.customerGoldenRecords(spark, dir)
      .as[(Long, Long, String, String, Double)].collect()
    assert(g.map(_._1).toSet == members.keySet, "one golden row per cluster")
    g.foreach { case (master, n, canonical, _, _) =>
      assert(n >= 2 && n == members(master).size, s"cluster $master size")
      assert(master == members(master).min)
      // canonical name = the min member's name (synthetic names embed the key)
      assert(canonical == f"Customer#$master%09d", canonical)
    }
  }

  test("incremental: every twin links its original, prospects link nothing") {
    val dir = "/root/testdata/sf0.001"
    val out = Linkage.customerIncremental(spark, dir)
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    assert(out.forall(_._1 < 20000000L), "prospect blocks exist nowhere in the master")
    val linked = out.map(r => (r._1, r._2)).toSet
    val twinIds = Tables.customer(spark, dir).filter($"c_custkey" % 40 === 0)
      .select($"c_custkey").as[Long].collect()
    assert(twinIds.nonEmpty)
    twinIds.foreach { k =>
      assert(linked.contains((k + 10000000L, k)), s"twin of $k must link its original") }
  }
}
