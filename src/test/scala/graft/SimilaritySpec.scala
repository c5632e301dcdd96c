package graft

import org.apache.spark.sql.functions._
import graft.llm.Similarity

class SimilaritySpec extends SparkSpec with PropertyCheck {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)), // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal to 0
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)) // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine: identity 1, orthogonal 0, opposite -1") {
    val q = vecs.filter($"vec_id" === 0).select($"embedding".as("q"))
    val got = vecs.crossJoin(q)
      .select($"vec_id", Similarity.cosine($"embedding", $"q").as("sim"))
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(0L) - 1.0) < 1e-12)
    assert(math.abs(got(2L)) < 1e-12)
    assert(math.abs(got(4L) + 1.0) < 1e-12)
    assert(got(1L) > 0.99)
  }

  test("brute-force knn ranks the closest vector first") {
    val got = Similarity.bruteForceKnn(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    assert(got.find(_._2 == 1).map(_._1).contains(1L))
  }

  test("filtered kNN: label predicate pre-filters, every eligible query fills its k") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val labels = emb.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val got = Similarity.queries("llm_knn_filtered")(spark, dir)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (q, n, _) => labels(q) == labels(n) },
      "a neighbor crossed the label predicate")
    // pre-filter guarantee: rank count per query = min(k, same-label pool)
    val pool = labels.values.groupBy(identity).view.mapValues(_.size).toMap
    got.groupBy(_._1).foreach { case (q, rows) =>
      val expected = math.min(5, pool(labels(q)) - 1)
      assert(rows.length == expected, s"query $q: ${rows.length} != $expected")
    }
  }

  test("IVF with full probing matches brute force exactly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 4)
    val brute = Similarity.bruteForceKnn(emb, queries, k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivfFull = Similarity.ivfKnn(emb, queries, nlist = 8, nprobe = 8, k = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivfFull == brute)
  }

  test("embedding near-dups (banded LSH): identical + planted near-dup found; exact verify filters") {
    val emb = Seq(
      (0L, Array(0.3f, -0.2f, 0.9f, 0.1f)),
      (1L, Array(0.3f, -0.2f, 0.9f, 0.1f)), // exact duplicate of 0
      (2L, Array(-0.5f, 0.8f, 0.0f, -0.3f)),
      (3L, Array(0.31f, -0.19f, 0.89f, 0.11f)) // near-dup of 0
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupsLsh(emb, bitsPerBand = 4, bands = 8, minCosine = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // identical → identical sign bits → every band collides
    assert(pairs.contains((0L, 3L)) == pairs.contains((1L, 3L))) // symmetry w.r.t. dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("banded LSH at bucket overflow: planted pair survives, degenerate mass is capped") {
    val rnd = new scala.util.Random(7)
    val dim = 64
    def unit(): Array[Float] = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val background = (0L until 60L).map(i => (i, unit()))
    val base = unit()
    val planted = base.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) 0.02f else -0.02f) }
    val w = unit()
    val mass = (200L until 300L).map(i => (i, w.clone())) // 100 identical copies → oversized buckets
    val emb = (background ++ Seq((100L, base), (101L, planted)) ++ mass).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupsLsh(emb, bitsPerBand = 8, bands = 25,
        minCosine = 0.95, maxBucket = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the planted near-identical pair (cosine ≈ 0.999, miss prob ~1e-24) is found
    assert(pairs.contains((100L, 101L)), s"planted pair missing from $pairs")
    // the 100-copy mass exceeds maxBucket in every band → capped out (exact
    // dedup upstream owns identical-vector masses), and nothing quadratic ran
    assert(!pairs.exists(p => p._1 >= 200L && p._2 >= 200L))
    // background random pairs at dim 64 stay far below 0.95 → no false pairs
    assert(pairs.filter(p => p._1 < 100L && p._2 < 100L).isEmpty)
  }

  test("LSH-fed clusters: every planted twin triple is recovered as one cluster") {
    val rows = Similarity.embedClustersLshQuery(spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect()
    val byCluster = rows.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1).toSet }
    // 12 planted ids, each with two bumped twins → 12 clusters of exactly
    // {v, v+offA, v+offB}, and nothing from the raw corpus (max pairwise
    // cosine ≈ 0.5 is far below the 0.95 regime). Twin offsets derive
    // from the corpus's max vec_id (first free id and the next block).
    val maxId = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .agg(max($"vec_id".cast("long"))).as[Long].head()
    assert(byCluster.keySet == (0L until 12L).toSet, s"clusters: ${byCluster.keySet}")
    for (v <- 0L until 12L)
      assert(byCluster(v) == Set(v, v + maxId + 1, v + maxId + 13),
        s"cluster $v members: ${byCluster(v)}")
  }

  test("hyperplaneParams sizes bits to corpus and bands to the miss target") {
    val (bits, bands) = Similarity.hyperplaneParams(500, 0.95)
    assert(bits == 8 && bands == 25)
    val (bitsBig, bandsBig) = Similarity.hyperplaneParams(1000000000L, 0.95)
    assert(bitsBig == 26) // E[bucket] ≈ 16 even at 1e9 vectors
    assert(bandsBig > 0)
    val p = 1.0 - math.acos(0.95) / math.Pi
    val miss = math.pow(1.0 - math.pow(p, bitsBig), bandsBig)
    assert(miss <= 1e-6)
  }

  test("auto-LSH oracle params: the baked bands table and sf counts pin hyperplaneParams") {
    // the AUTO oracles (llm_embed_*_lsh_auto) bake bands-per-bits as a
    // CASE table computed from hyperplaneParams — re-derive every entry
    // here across the FULL n-range each bits value covers (both range
    // endpoints), so the SQL table and the Scala function cannot drift
    for ((b, bands) <- Similarity.AutoBandsTable) {
      val nLow = (16L << (b - 1)) + 1 // smallest n mapping to bits=b (b > 8)
      val nHigh = 16L << b            // largest
      assert(Similarity.hyperplaneParams(nHigh, 0.95) == (b, bands),
        s"bits=$b high endpoint drifted")
      if (b > 8)
        assert(Similarity.hyperplaneParams(nLow, 0.95) == (b, bands),
          s"bits=$b low endpoint drifted")
    }
    // the twin-augmented counts the driver's sf dirs actually produce
    // (embeddings: 500 at sf0.001/sf0.01, 2000 at sf0.1; +24 twins) —
    // both land on the (8, 25) cell the curves and the pinned twin use
    assert(Similarity.hyperplaneParams(500 + 24, 0.95) == (8, 25))
    assert(Similarity.hyperplaneParams(2000 + 24, 0.95) == (8, 25))
  }

  test("IVF assignment plan has no shuffle and no corpus explosion") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assigned = Similarity.ivfAssign(emb, emb.filter($"vec_id" < 8))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert(!plan.contains("Generate"), s"unexpected explode in:\n$plan")
    assert(assigned.count() == emb.count()) // one row per corpus vector, not ×nlist
  }

  test("IVF with partial probing achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 8)
    val brute = Similarity.bruteForceKnn(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfKnn(emb, queries, nlist = 16, nprobe = 4, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("embedding quality gate counts NaN, zero-norm and dimension drift exactly") {
    val bad = Seq(
      (10L, Array(1.0f, 2.0f, 3.0f, 4.0f)),            // clean
      (11L, Array(0.0f, 0.0f, 0.0f, 0.0f)),            // zero norm
      (12L, Array(1.0f, Float.NaN, 0.0f, 0.0f)),       // NaN element
      (13L, Array(1.0f, 2.0f))                         // dimension drift
    ).toDF("vec_id", "embedding")
    val row = Similarity.embeddingQuality(bad)
      .as[(Long, Long, Long, Long)].head()
    assert(row == ((4L, 2L, 1L, 1L)))
    // the real corpus is clean: one dim, no NaN, no zero vectors
    val real = Similarity.embeddingQuality(Tables.embeddings(spark, "/root/testdata/sf0.001"))
      .as[(Long, Long, Long, Long)].head()
    assert(real._2 == 1L && real._3 == 0L && real._4 == 0L)
  }

  test("k-means trainer: deterministic, input-order-invariant, and SSE-reducing") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val trained = Similarity.trainCentroidCodes(emb, nlist = 8, sampleSize = 100, iters = 3)
    val reordered = Similarity.trainCentroidCodes(
      emb.orderBy($"vec_id".desc), nlist = 8, sampleSize = 100, iters = 3)
    assert(trained.map(_.toSeq).toSeq == reordered.map(_.toSeq).toSeq,
      "training must not depend on input row order")
    // Lloyd's monotonicity over the training sample (init = iters 0)
    val init = Similarity.trainCentroidCodes(emb, nlist = 8, sampleSize = 100, iters = 0)
    val sample = emb
      .select($"vec_id".cast("long").as("vid"), $"embedding")
      .withColumn("h", ($"vid" * lit(2654435761L)) % lit(1L << 32))
      .orderBy($"h", $"vid").limit(100)
      .select($"embedding").as[Seq[Float]].collect()
      .map(_.map(x => math.round(x.toDouble * 65536)).toArray)
    def sse(cents: Array[Array[Long]]): Double =
      sample.map { q =>
        cents.map(c => q.indices.map(i => { val t = (q(i) - c(i)).toDouble; t * t }).sum).min
      }.sum
    assert(sse(trained) < sse(init),
      s"3 Lloyd rounds should cut sample SSE: ${sse(trained)} vs ${sse(init)}")
  }

  test("trained centroids: same recall at a fraction of the scan when data order is adversarial") {
    // 4 well-separated clusters in R^16; the FIRST 16 ids all sit in
    // cluster 0, so first-nlist centroids cover one cluster. Bad
    // centroids then CONCENTRATE each far cluster into ~one list —
    // recall survives by accident, but a probe scans whole clusters,
    // which at scale is brute force wearing an index costume. The
    // trained index must match recall while scanning a fraction of the
    // candidates (and be independent of data order, the r3 weakness).
    val rnd = new scala.util.Random(11)
    val dim = 16
    def point(cluster: Int): Array[Float] = {
      val v = new Array[Float](dim)
      v(cluster * 4) = 1.0f
      (0 until dim).foreach(i => v(i) += (rnd.nextGaussian() * 0.05).toFloat)
      v
    }
    val pts = (0L until 16L).map(i => (i, point(0))) ++
      (16L until 100L).map(i => (i, point(1 + (i % 3).toInt)))
    val emb = pts.toDF("vec_id", "embedding")
    val queries = emb.filter($"vec_id".isin(20L, 21L, 50L, 80L))
    val truth = Similarity.bruteForceKnn(emb, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    // recall, total candidates scanned (Σ probed-list sizes), max list size
    def evalIndex(ids: Array[Int], vecs: Array[Array[Double]], nprobe: Int): (Double, Long, Long) = {
      val res = Similarity.ivfKnnWith(emb, queries, ids, vecs, nprobe, k = 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = res.intersect(truth).size.toDouble / truth.size
      val sizes = emb.select(
          element_at(graft.llm.VectorExprs.nearestCentroids($"embedding", ids, vecs, 1), 1).as("cid"))
        .groupBy("cid").count().as[(Int, Long)].collect().toMap
      val scanned = queries.select(
          explode(graft.llm.VectorExprs.nearestCentroids($"embedding", ids, vecs, nprobe)).as("cid"))
        .as[Int].collect().map(sizes.getOrElse(_, 0L)).sum
      (recall, scanned, sizes.values.max)
    }
    val (fIds, fVecs) = Similarity.collectCentroids(emb.filter($"vec_id" < 16))
    val (firstRecall, firstScanned, firstMaxList) = evalIndex(fIds, fVecs, nprobe = 4)
    val vecs = Similarity.trainCentroidsKMeans(emb, nlist = 16, sampleSize = 100, iters = 3)
    val (trainedRecall, trainedScanned, trainedMaxList) = evalIndex(vecs.indices.toArray, vecs, nprobe = 4)
    assert(trainedRecall >= 0.9 && trainedRecall >= firstRecall - 0.05,
      s"trained recall $trainedRecall vs first-nlist $firstRecall")
    assert(trainedScanned < firstScanned,
      s"trained index should scan fewer candidates: $trainedScanned vs $firstScanned")
    // the scale pathology: bad centroids swallow a whole cluster into one
    // list (probe = cluster scan, one straggler task owns it at 100 TB)
    assert(trainedMaxList * 2 <= firstMaxList,
      s"trained max list $trainedMaxList vs first-nlist $firstMaxList")
  }

  test("IVF index at rest: partition-pruned probes return exactly the in-memory answer") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val codes = Similarity.trainCentroidCodes(emb, nlist = 16, sampleSize = 100, iters = 3)
    val idx = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.buildIvfIndex(emb, codes, idx)
    val queries = emb.filter($"vec_id" < 8)
    val indexed = Similarity.ivfKnnIndexed(spark, idx, queries, nprobe = 4, k = 5)
    val vecs = codes.map(_.map(_ / 65536.0))
    val inMem = Similarity.ivfKnnWith(emb, queries, vecs.indices.toArray, vecs, nprobe = 4, k = 5)
    assert(
      indexed.select("query_id", "neighbor_id", "rank", "sim_r")
        .as[(Long, Long, Int, Double)].collect().toSet ==
      inMem.select("query_id", "neighbor_id", "rank", "sim_r")
        .as[(Long, Long, Int, Double)].collect().toSet)
    // pruning is structural: the probe filter lands on the PARTITION
    // layout (directories skipped at listing), not a post-scan predicate
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("centroid_id"),
      s"probe filter did not reach the partition layout:\n$plan")
  }

  test("blocked all-pairs equals the single-broadcast baseline, each pair exactly once") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = Similarity.bruteForcePairs(emb, 0.35)
      .select("id_a", "id_b", "sim_r").as[(Long, Long, Double)].collect().toSet
    assert(base.nonEmpty, "fixture must produce pairs for the equality to mean anything")
    for (nBlocks <- Seq(1, 3, 7)) {
      val rows = Similarity.bruteForcePairsBlocked(emb, 0.35, nBlocks)
        .select("id_a", "id_b", "sim_r").as[(Long, Long, Double)].collect()
      // exactly once: hash slices partition the id space, and a pair lands
      // only in the scan whose slice holds its larger id
      assert(rows.length == rows.toSet.size, s"duplicate pairs at nBlocks=$nBlocks")
      assert(rows.toSet == base, s"blocked($nBlocks) diverges from baseline")
    }
  }

  test("blocked all-pairs REFUSES a corpus above the quadratic-scan gate") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    // the gate trips BEFORE any pair fan-out, naming the LSH twin
    val ex = intercept[IllegalArgumentException] {
      Similarity.bruteForcePairsBlocked(emb, 0.35, 4, maxRows = n - 1)
    }
    assert(ex.getMessage.contains("QUADRATIC") &&
      ex.getMessage.contains("llm_embed_neardup_lsh"), ex.getMessage)
    // at (or under) the bound the scan proceeds unchanged
    assert(Similarity.bruteForcePairsBlocked(emb, 0.35, 4, maxRows = n).count() > 0)
  }

  test("PQ/residual paths REFUSE a query set above the driver-artifact gate") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val books = Similarity.trainPqCodebooks(emb, 2, 4, 64, 2)
    // the gate trips BEFORE any LUT is collected to the driver
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqLuts(emb, books, maxQueryRows = n - 1)
    }
    assert(e1.getMessage.contains("DRIVER-HELD") && e1.getMessage.contains("small side"),
      e1.getMessage)
    // residual IVFPQ collects coarse terms FIRST — its own gate must trip
    val coarse = Array(Array.fill(8)(1000L), Array.fill(8)(-1000L))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.knnIvfPqResidual(emb, emb, coarse, books, 1, 3, maxQueryRows = n - 1)
    }
    assert(e2.getMessage.contains("knnIvfPqResidual"), e2.getMessage)
    // at (or under) the bound both proceed unchanged
    assert(Similarity.pqLuts(emb, books, maxQueryRows = n).count() == n)
  }

  test("quantized-sample hash survives index-scale ids and equals the mod-2^32 formula") {
    // scaled corpora offset vec_id by 10⁹ per copy; vid·2654435761 then
    // overflows int64 under ANSI mode (the x10 embedding curve found it
    // live) — the split multiply must neither throw nor change h
    val hugeIds = (0L until 100L).map(i => i * 1000000000L + 123456789L)
    def corpus(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.zipWithIndex.map { case (v, i) => (v, Array(i.toFloat)) }
        .toDF("vec_id", "embedding")
    val sample = Similarity.collectQuantizedSample(corpus(hugeIds), 16)
    assert(sample.length == 16)
    // h is a pure function of vid mod 2^32: reducing the ids must pick
    // the SAME sample rows in the same order (h values here are distinct,
    // so the vid tiebreak never engages)
    val k = BigInt(2654435761L); val m = BigInt(1L) << 32
    val hs = hugeIds.map(v => (BigInt(v) % m) * k % m)
    assert(hs.distinct.size == hs.size)
    val reduced = Similarity.collectQuantizedSample(
      corpus(hugeIds.map(v => v % (1L << 32))), 16)
    assert(sample.map(_.toSeq).toSeq == reduced.map(_.toSeq).toSeq,
      "split multiply changed the sample order vs the mod-2^32 formula")
  }

  test("query-side gate memoizes the count per (plan, session); the bound compares per call") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = Similarity.trainPqCodebooks(emb, 2, 4, 64, 2)
    Similarity.querySideCounts.clear(spark)
    assert(Similarity.querySideCounts.values(spark).size == 0)
    // first probe pays the count job and warms the memo
    assert(Similarity.pqLuts(emb.filter($"vec_id" < 4), books).count() == 4)
    assert(Similarity.querySideCounts.values(spark).size == 1)
    // a FRESH DataFrame over the same logical plan hits the same memo key —
    // still one entry means the memo returned without a count job
    assert(Similarity.pqLuts(emb.filter($"vec_id" < 4), books).count() == 4)
    assert(Similarity.querySideCounts.values(spark).size == 1)
    // the memo stores the COUNT, not the verdict: a tighter bound against
    // the same (memoized) plan still refuses
    val e = intercept[IllegalArgumentException] {
      Similarity.pqLuts(emb.filter($"vec_id" < 4), books, maxQueryRows = 3)
    }
    assert(e.getMessage.contains("DRIVER-HELD"), e.getMessage)
    // a different query plan is a different key
    assert(Similarity.pqLuts(emb.filter($"vec_id" < 5), books).count() == 5)
    assert(Similarity.querySideCounts.values(spark).size == 2)
    Similarity.querySideCounts.clear(spark)
    assert(Similarity.querySideCounts.values(spark).size == 0)
  }

  test("overflow oracle rig engages the cap: the planted family oversizes buckets, classes collapse") {
    // llm_embed_neardup_lsh_ovf's green hash is only meaningful if the
    // planted 100-member family actually OVERFLOWS buckets at the pinned
    // (8, 25) banding — pin that here so a corpus or banding change
    // can't silently turn the overflow oracle into a plain capped run
    val fam = Similarity.plantHotFamily(
      Tables.embeddings(spark, "/root/testdata/sf0.001"))
    val stats = Similarity.nearDupCandidateStats(fam, 8, 25)
    assert(stats.droppedBuckets > 0 && stats.largestBucket > 64,
      s"hot family does not oversize any bucket: $stats")
    assert(stats.oversizedRows > 0)
    // the three planted exact-dup classes (ids ≡ mod 97 within the
    // family) are bit-identical vectors — the overflow's class collapse
    // must see exactly one distinct embedding per class
    val emb = fam.filter($"vec_id".isin(0L, 97L, 1L, 98L, 2L, 99L))
      .select($"vec_id", $"embedding").as[(Long, Seq[Double])].collect().toMap
    assert(emb(0L) == emb(97L) && emb(1L) == emb(98L) && emb(2L) == emb(99L))
    assert(emb(0L) != emb(1L))
    // and the registered overflow query keeps every family member in
    // the pair graph (member recall 1.0 — the cap alone loses them)
    val pairs = Similarity.nearDupLshOverflowQuery(spark, "/root/testdata/sf0.001")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val members = pairs.iterator.filter { case (a, b) => a < 100 && b < 100 }
      .flatMap { case (a, b) => Iterator(a, b) }.toSet
    assert(members == (0L until 100L).toSet,
      s"overflow query lost family members: ${((0L until 100L).toSet -- members).take(5)}")
  }

  test("gate memo eviction is per-session: a 65th plan evicts only the noisy session") {
    val books = Similarity.trainPqCodebooks(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), 2, 4, 64, 2)
    val other = spark.newSession()
    Similarity.querySideCounts.clear(spark)
    Similarity.querySideCounts.clear(other)
    // warm ONE entry in the quiet session
    def q(s: org.apache.spark.sql.SparkSession, n: Int) =
      s.range(n).select(col("id").as("vec_id"),
        org.apache.spark.sql.functions.array(lit(1.0f), lit(0.0f)).as("embedding"))
    Similarity.pqLuts(q(other, 3), books)
    assert(Similarity.querySideCounts.values(other).size == 1)
    // 70 distinct plans in the noisy session cross its own 64-entry
    // bound and trigger ITS eviction...
    (1 to 70).foreach(i => Similarity.pqLuts(q(spark, i), books))
    assert(Similarity.querySideCounts.values(spark).size <= 65)
    // ...while the quiet session's warm entry survives (the r17 global
    // clear() wiped every session here)
    assert(Similarity.querySideCounts.values(other).size == 1)
    Similarity.querySideCounts.clear(spark)
    Similarity.querySideCounts.clear(other)
  }

  test("gate memo re-counts after a same-plan source rewrite (fingerprint key)") {
    val books = Similarity.trainPqCodebooks(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), 2, 4, 64, 2)
    val dir = java.nio.file.Files.createTempDirectory("gate_fp").toString
    def write(n: Int): Unit =
      spark.range(n).select(col("id").as("vec_id"),
          org.apache.spark.sql.functions.array(lit(1.0f), lit(0.0f)).as("embedding"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
    def queries() = spark.read.parquet(dir)
    Similarity.querySideCounts.clear(spark)
    write(4)
    assert(Similarity.pqLuts(queries(), books, maxQueryRows = 10).count() == 4)
    // REWRITE the source in place: the canonicalized plan of a fresh
    // read is identical, so the pre-r18 plan-only key would reuse the
    // stale count of 4 and let 100 rows through the 10-row gate
    write(100)
    val e = intercept[IllegalArgumentException] {
      Similarity.pqLuts(queries(), books, maxQueryRows = 10)
    }
    assert(e.getMessage.contains("100 rows"), e.getMessage)
    Similarity.querySideCounts.clear(spark)
  }

  test("knnIvfPqResidual's raised maxQueryRows reaches the LUT build (no inner default gate)") {
    // > the 100k default, so an unforwarded inner pqLuts gate would refuse
    val nq = 100016L
    val queries = spark.range(nq).select(
      col("id").as("vec_id"),
      array((col("id") % 7).cast("float"), lit(1.0f)).as("embedding"))
    val corpus = spark.range(4).select(
      col("id").as("vec_id"),
      array((col("id") % 3).cast("float"), lit(2.0f)).as("embedding"))
    val coarse = Array(Array(1000L, 1000L), Array(-1000L, -1000L))
    val books = Array.fill(2)(Array(Array(0L), Array(500L)))
    Similarity.querySideCounts.clear(spark)
    // at the default bound this query set is refused up front...
    val e = intercept[IllegalArgumentException] {
      Similarity.knnIvfPqResidual(corpus, queries, coarse, books, 1, 1)
    }
    assert(e.getMessage.contains("knnIvfPqResidual"), e.getMessage)
    // ...and the caller's raised knob governs the WHOLE path: the run
    // completes end-to-end instead of an inner gate re-refusing at 100k
    val got = Similarity.knnIvfPqResidual(corpus, queries, coarse, books, 1, 1,
      maxQueryRows = nq)
    assert(got.count() > 0)
    Similarity.querySideCounts.clear(spark)
  }

  test("hot vector family: candidates stay under the cap's linear bound, family loss is measurable") {
    // 13000 spread-out vectors; HotBucketBench's production transform
    // rewrites the 130 ids ≡ 7 (mod 100) to one shared template family —
    // decisively past maxBucket=64 (a family NEAR the cap can leak
    // members into side buckets and pull the hot one back under it) —
    // the adversarial case copy-scaling can't produce (ScaleBench's
    // documented bound)
    // NB: background dims must be a REAL hash of (id, dim) — an affine
    // formula mod P makes nearby residues into genuine near-dup vectors
    // (the whole vector shifts by a near-constant) and a small modulus
    // collapses ids onto few distinct vectors; both flood the buckets
    val base = spark.range(13000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), i), lit(1000L)) / lit(500.0)) - lit(1.0))
          .cast("float"))
        .as("embedding"))
    // plus one planted OFF-family near-dup: id 90011 = id 11 bumped in dim 0
    val twin = base.filter($"vec_id" === 11).select(
      lit(90011L).as("vec_id"),
      transform($"embedding", (x, i) => (x + when(i === 0, 0.01f).otherwise(0.0f))
        .cast("float")).as("embedding"))
    val corpus = HotBucketBench.hotEmbeddings(base.union(twin))
    val (bits, bands) = Similarity.hyperplaneParams(13001L, 0.9)
    val famExpected = 130L * 129 / 2
    val stats = Similarity.nearDupCandidateStats(corpus, bits, bands)
    // the cap's guarantee, checked not argued: admitted candidates stay
    // under the linear bound, and the dropped volume includes at least
    // one full hot band's quadratic mass (raw CROSSING the bound needs
    // ~630k+ rows at 1% hotness — that growth-class curve is
    // HotBucketBench's artifact; the spec asserts the accounting)
    assert(stats.cappedPairs <= stats.pairBound,
      s"capped ${stats.cappedPairs} > bound ${stats.pairBound}")
    assert(stats.rawPairs - stats.cappedPairs >= famExpected,
      s"hot family mass not dropped: $stats")
    assert(stats.droppedBuckets > 0 && stats.largestBucket >= 100,
      s"expected oversized family buckets, got $stats")
    // recall accounting on the capped family is measurable and honest:
    // the 130-member family loses pairs (its buckets are degenerate)...
    val pairs = Similarity.embeddingNearDupsLsh(corpus, bits, bands, minCosine = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val famFound = pairs.count { case (a, b) => a % 100 == 7 && b % 100 == 7 }
    assert(famFound < famExpected,
      s"capped family reported full recall ($famFound/$famExpected) — cap not engaged?")
    // ...while the planted off-family near-dup pair is still found
    assert(pairs.contains((11L, 90011L)),
      s"off-family twin lost; found ${pairs.length} pairs")
    // overflow path (opt-in): capped family members all reach a
    // representative (member recall 1.0) at linear volume, and the
    // capped baseline's pairs are preserved
    val ovPairs = Similarity.embeddingNearDupsLsh(corpus, bits, bands,
        minCosine = 0.9, overflowReps = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val famIds = (0 until 13000).map(_.toLong).filter(_ % 100 == 7).toSet
    val ovFamMembers = ovPairs.iterator
      .filter { case (a, b) => famIds(a) && famIds(b) }
      .flatMap { case (a, b) => Iterator(a, b) }.toSet
    assert(ovFamMembers == famIds,
      s"overflow lost family members: ${(famIds -- ovFamMembers).take(5)}…")
    assert(ovPairs.length.toLong <= stats.pairBound + stats.overflowBound(64),
      s"overflow pairs ${ovPairs.length} exceed the linear bounds $stats")
    assert(pairs.toSet.subsetOf(ovPairs.toSet))
  }

  test("auto-sized LSH keeps recall where the pinned 8-bit banding degenerates") {
    // 60k 64-dim vectors: expected 8-bit bucket occupancy 60000/256 ≈ 234,
    // decisively past the 64 cap even for rare signature patterns (at 16
    // dims / 30k a rare-signature tail bucket kept the twin alive), so the
    // pinned config drops the planted pair — the silent recall collapse
    // the 20×/40× embedding curve measured (planted clusters 36 → 9 → 0).
    // hyperplaneParams sizes bits to the corpus (12 bits → occupancy ~15)
    // and the same planted twin is found again.
    val base = spark.range(60000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), i), lit(1000L)) / lit(500.0)) - lit(1.0))
          .cast("float")).as("embedding"))
    val twin = base.filter($"vec_id" === 5).select(
      lit(95005L).as("vec_id"),
      transform($"embedding", (x, i) => (x + when(i === 0, 0.01f).otherwise(0.0f))
        .cast("float")).as("embedding"))
    val corpus = base.union(twin).localCheckpoint()
    val pinned = Similarity.embeddingNearDupsLsh(corpus,
      bitsPerBand = 8, bands = 25, minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // a handful of tail-bucket pairs can survive the cap; the planted
    // twin — whose buckets sit at the ~117 mean occupancy — cannot
    assert(!pinned.contains((5L, 95005L)),
      s"pinned banding unexpectedly kept the twin (${pinned.length} pairs)")
    val auto = Similarity.embeddingNearDupsLshAuto(corpus, minCosine = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(auto.contains((5L, 95005L)),
      s"auto-sized banding lost the planted twin; found ${auto.mkString(",")}")
  }

  test("deployable auto path: overflowReps rescues the hot family auto-sizing alone drops") {
    // auto-sizing targets AVERAGE occupancy (n/2^bits ≈ 16), so a 130-
    // member near-dup family oversizes its buckets at the derived banding
    // just as it does at any pinned one — the r18 gap: the production
    // entry point had no way to invoke the overflow rescue. Same rig as
    // the pinned overflow spec; this asserts the COMPOSITION.
    val base = spark.range(13000).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((pmod(xxhash64(col("id"), i), lit(1000L)) / lit(500.0)) - lit(1.0))
          .cast("float"))
        .as("embedding"))
    val corpus = HotBucketBench.hotEmbeddings(base).localCheckpoint()
    val famIds = (0 until 13000).map(_.toLong).filter(_ % 100 == 7).toSet
    val plain = Similarity.embeddingNearDupsLshAuto(corpus, minCosine = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val plainFam = plain.count { case (a, b) => famIds(a) && famIds(b) }
    assert(plainFam < famIds.size * (famIds.size - 1) / 2,
      s"plain auto cap unexpectedly kept the full hot family ($plainFam pairs)")
    val ov = Similarity.embeddingNearDupsLshAuto(corpus, minCosine = 0.9,
        overflowReps = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val members = ov.iterator
      .filter { case (a, b) => famIds(a) && famIds(b) }
      .flatMap { case (a, b) => Iterator(a, b) }.toSet
    assert(members == famIds,
      s"auto+overflow lost family members: ${(famIds -- members).take(5)}…")
    // the capped baseline's pairs survive the composition unchanged
    assert(plain.toSet.subsetOf(ov.toSet))
  }

  test("blocked all-pairs broadcasts a slice, never the full corpus") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Similarity.bruteForcePairsBlocked(emb, 0.35, 4)
      .queryExecution.executedPlan.toString
    // every broadcast build side must sit above the slice filter (pmod of
    // the id hash), proving peak broadcast memory is O(n/nBlocks)
    val builds = plan.split("BroadcastExchange").length - 1
    assert(builds == 4, s"expected 4 slice broadcasts, got $builds in:\n$plan")
    assert(plan.contains("pmod"), s"broadcast sides are not slice-filtered:\n$plan")
  }

  test("uint8 quantization: endpoints hit 0/255, order preserved, constant dim -> 0") {
    val vecs = Seq(
      (0L, Array(0.0f, 10.0f, 7.0f)),
      (1L, Array(4.0f, 30.0f, 7.0f)),
      (2L, Array(8.0f, 20.0f, 7.0f))
    ).toDF("vec_id", "embedding")
    val codes = Similarity.quantizeUint8(vecs)
      .orderBy($"vec_id").as[(Long, Seq[Int])].collect().map(_._2)
    // dim0 spans [0,8]: endpoints 0 and 255, midpoint ~ 4/8*255 ≈ 128 (half-up)
    assert(codes(0)(0) == 0 && codes(2)(0) == 255 && codes(1)(0) == 128)
    // dim1 spans [10,30]: min->0, max->255, 20 -> 128 (half-up on 127.5)
    assert(codes(0)(1) == 0 && codes(1)(1) == 255 && codes(2)(1) == 128)
    // constant dimension quantizes to 0 everywhere (no 0/0)
    assert(codes.forall(_(2) == 0))
    // order within a dimension is preserved
    assert(codes(0)(0) < codes(1)(0) && codes(1)(0) < codes(2)(0))
  }

  test("quantized kNN: top-1 agrees with the exact dot-product ranking it approximates") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // exact dot-product kNN in double (same metric the ADC scan targets)
    val q = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val exact = emb.select($"vec_id".as("neighbor_id"), $"embedding".as("c_emb"))
      .join(broadcast(q), $"query_id" =!= $"neighbor_id")
      .withColumn("dot", aggregate(
        zip_with($"q_emb", $"c_emb", (a, b) => a.cast("double") * b),
        lit(0.0d), (acc, v) => acc + v))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"dot".desc, $"neighbor_id")))
      .filter($"rn" === 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val quant = Similarity.knnQuantized(emb, nQueries = 4, k = 3)
      .filter($"rank" === 1)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    // uint8 error is tiny relative to neighbor gaps; demand at least 3/4
    // top-1 agreement (close competitors may legitimately swap)
    val agree = exact.keySet.count(k => exact(k) == quant(k))
    assert(agree >= 3, s"top-1 agreement $agree/4: exact=$exact quant=$quant")
  }

  test("PQ training: codes in range, deterministic, input-order-invariant") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = Similarity.trainPqCodebooks(emb, m = 4, nlist = 8, sampleSize = 40, iters = 2)
    val again = Similarity.trainPqCodebooks(
      emb.orderBy($"vec_id".desc), m = 4, nlist = 8, sampleSize = 40, iters = 2)
    assert(books.length == 4 && books.forall(_.length == 8))
    assert(books.zip(again).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } },
      "PQ training must not depend on input row order")
    val codes = Similarity.pqEncode(emb, books).as[(Long, Seq[Int])].collect()
    assert(codes.forall { case (_, cs) => cs.length == 4 && cs.forall(c => c >= 0 && c < 8) })
  }

  test("PQ ADC kernel equals the composed LUT-lookup form") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val books = Similarity.trainPqCodebooks(emb, m = 4, nlist = 8, sampleSize = 40, iters = 2)
    val coded = Similarity.pqEncode(emb, books)
      .select($"vec_id".as("neighbor_id"), $"codes")
    val luts = Similarity.pqLuts(emb.filter($"vec_id" < 4), books)
    val both = coded.join(broadcast(luts), $"query_id" =!= $"neighbor_id")
      .withColumn("kernel", graft.llm.VectorExprs.pqAdc($"codes", $"lut"))
      .withColumn("composed", aggregate(
        zip_with($"codes", $"lut", (c, l) => element_at(l, c + 1)),
        lit(0L), (acc, v) => acc + v))
    assert(both.filter($"kernel" =!= $"composed").count() == 0)
    assert(both.count() > 0)
  }

  test("IVFPQ: neighbors come only from probed lists, scores are exact LUT sums") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter($"vec_id" < 4)
    val cents = Similarity.trainCentroidsKMeans(emb, nlist = 8, sampleSize = 40, iters = 2)
    val books = Similarity.trainPqCodebooks(emb, m = 4, nlist = 8, sampleSize = 40, iters = 2)
    val ids = cents.indices.toArray
    val got = Similarity.knnIvfPq(emb, queries, cents, books, nprobe = 3, k = 5)
      .select($"query_id", $"neighbor_id", $"score").as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // membership: every neighbor's assigned list is among its query's probes
    val assigned = emb.select($"vec_id",
        element_at(graft.llm.VectorExprs.nearestCentroids($"embedding", ids, cents, 1), 1).as("cid"))
      .as[(Long, Int)].collect().toMap
    val probes = queries.select($"vec_id",
        graft.llm.VectorExprs.nearestCentroids($"embedding", ids, cents, 3).as("cids"))
      .as[(Long, Seq[Int])].collect().toMap
    got.foreach { case (q, n, _) =>
      assert(probes(q).contains(assigned(n)), s"neighbor $n of query $q outside probed lists")
    }
    // exactness: each score re-derives from the neighbor's codes and the
    // query's LUT (no float anywhere in the scan)
    val codes = Similarity.pqEncode(emb, books).as[(Long, Seq[Int])].collect().toMap
    val luts = Similarity.pqLuts(queries, books)
      .as[(Long, Seq[Seq[Long]])].collect().toMap
    got.foreach { case (q, n, score) =>
      val want = codes(n).zipWithIndex.map { case (c, s) => luts(q)(s)(c) }.sum
      assert(score == want, s"score mismatch for ($q,$n): $score != $want")
    }
  }

  test("residual PQ reconstructs clustered data better than flat PQ") {
    // clustered corpus: coarse centroids absorb the cluster means, so
    // residual codebooks spend their 16 codes on within-cluster detail
    // while flat codebooks must span the whole space — the reason real
    // IVFPQ encodes residuals
    // 16 cluster means per subspace overwhelm an 8-code flat codebook
    // (flat error ~ inter-cluster distance for the unrepresented mass)
    // but not a 16-list coarse index (residual error ~ the 0.5 noise)
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextGaussian().toFloat * 10f))
    val pts = (0L until 160L).map { i =>
      val c = centers((i % 16).toInt)
      (i, c.map(x => x + rnd.nextGaussian().toFloat * 0.5f))
    }
    val emb = pts.toDF("vec_id", "embedding")
    val flatBooks = Similarity.trainPqCodebooks(emb, m = 4, nlist = 8, sampleSize = 160, iters = 4)
    val (coarse, resBooks) = Similarity.trainResidualPq(
      emb, nlist = 16, kmIters = 4, m = 4, pqNlist = 8, pqIters = 4, sampleSize = 160)
    val coarseD = coarse.map(_.map(_ / 65536.0))
    val flat = Similarity.pqEncode(emb, flatBooks).as[(Long, Seq[Int])].collect().toMap
    val res = emb.select($"vec_id", $"embedding",
        element_at(graft.llm.VectorExprs.nearestCentroids(
          $"embedding", coarseD.indices.toArray, coarseD, 1), 1).as("cid"))
      .select($"vec_id", $"cid",
        graft.llm.VectorExprs.residualPqCodes($"embedding", $"cid", coarse, resBooks).as("codes"))
      .as[(Long, Int, Seq[Int])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def qz(v: Array[Float]): Array[Long] =
      v.map(x => if (x < 0) -math.round(-x * 65536.0) else math.round(x * 65536.0))
    var flatErr = 0.0
    var resErr = 0.0
    pts.foreach { case (id, v) =>
      val q = qz(v)
      val sub = 16
      for (s <- 0 until 4; i <- 0 until sub) {
        val fRec = flatBooks(s)(flat(id)(s))(i)
        val (cid, rCodes) = res(id)
        val rRec = coarse(cid)(s * sub + i) + resBooks(s)(rCodes(s))(i)
        flatErr += math.pow(q(s * sub + i) - fRec, 2)
        resErr += math.pow(q(s * sub + i) - rRec, 2)
      }
    }
    assert(resErr < flatErr * 0.5,
      s"residual coding should at least halve reconstruction error: $resErr vs $flatErr")
  }

  test("sign projection kernel equals the composed higher-order form") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val outDim = 8
    val qz = transform($"embedding", x => round(x.cast("double") * 65536).cast("long"))
    def mix(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val h1 = (k * 2654435761L) % 4294967296L
      val h2 = (h1.bitwiseXOR(shiftright(h1, 16)) * 40503L) % 4294967296L
      (h2.bitwiseXOR(shiftright(h2, 16)) * 1566083941L) % 4294967296L
    }
    val composed = transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(sequence(lit(0), size($"embedding") - 1), lit(0L), (acc, i) =>
        acc + when(mix(i.cast("long") * outDim + j + 1) < 2147483648L,
          element_at(qz, i + 1)).otherwise(-element_at(qz, i + 1))))
    val both = emb.select(
      graft.llm.VectorExprs.signProject($"embedding", outDim).as("kernel"),
      composed.as("composed"))
    assert(both.filter(to_json($"kernel") =!= to_json($"composed")).count() == 0)
    assert(both.count() > 0)
  }

  test("sign projection preserves norms and neighborhoods (JL), deterministically") {
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val base = unit()
    val nearDup = base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
    val others = (2L until 40L).map(i => (i, unit()))
    val emb = (Seq((0L, base), (1L, nearDup)) ++ others).toDF("vec_id", "embedding")
    val proj = Similarity.projectSign(emb, outDim = 32)
      .select($"vec_id", $"proj".cast("array<double>").as("p"))
    def cosOf(a: Long, b: Long): Double = proj.filter($"vec_id" === a)
      .join(proj.filter($"vec_id" === b).select($"p".as("p2")))
      .select(Similarity.cosine($"p", $"p2")).as[Double].head()
    // the planted near-identical pair survives projection…
    assert(cosOf(0L, 1L) > 0.9, s"planted pair lost: ${cosOf(0L, 1L)}")
    // …while independent vectors stay far ON AVERAGE (E[cos] = 0; a
    // single pair can spike — var is 1/32 on top of the true cosine's
    // own 1/64 — so assert the mean |cos| over disjoint pairs)
    val meanAbs = proj.as("a")
      .join(proj.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .filter(col("a.vec_id") >= 2 && col("a.vec_id") % 2 === 0)
      .select(abs(Similarity.cosine(col("a.p"), col("b.p"))).as("c"))
      .agg(avg($"c")).as[Double].head()
    assert(meanAbs < 0.35, s"independent pairs too close on average: $meanAbs")
    // norm preservation: E[||p||²] = outDim · ||qz||², so the mean ratio
    // over the corpus concentrates near 1
    val ratio = proj
      .join(emb.select($"vec_id",
        transform($"embedding", x => round(x.cast("double") * 65536).cast("long")).as("qz")), "vec_id")
      .select(
        (aggregate($"p", lit(0.0d), (a, x) => a + x * x) / 32.0d /
         aggregate($"qz".cast("array<double>"), lit(0.0d), (a, x) => a + x * x)).as("r"))
      .agg(avg($"r")).as[Double].head()
    assert(ratio > 0.6 && ratio < 1.4, s"norm ratio off: $ratio")
  }

  test("PQ ADC ranking: cluster members outrank everything else") {
    // four tight clusters in 8-dim; with m=2 subspaces the trained
    // codebooks separate them, so a member's ADC top-5 IS its cluster
    val rnd = new scala.util.Random(7)
    def point(cluster: Int): Array[Float] = {
      val base = Array.tabulate(8)(i => if (i % 4 == cluster) 10.0f else 0.0f)
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f)
    }
    val pts = (0L until 24L).map(i => (i, point((i % 4).toInt)))
    val emb = pts.toDF("vec_id", "embedding")
    val got = Similarity.knnPq(emb, nQueries = 4, m = 2, nlist = 4,
        sampleSize = 24, iters = 3, k = 5)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (q <- 0L until 4L)
      assert(got(q).forall(n => n % 4 == q % 4),
        s"query $q pulled a foreign-cluster neighbor: ${got(q)}")
  }

  test("k-center: farthest-point picks span the clusters, assignment is exact") {
    // three tight clusters far apart + one outlier; k=4 must pick one
    // representative per region (greedy FPS guarantee), starting at vid 0
    def v(x: Double, y: Double): Array[Float] =
      (Array(x, y) ++ Array.fill(6)(0.0)).map(_.toFloat)
    val emb = Seq(
      0L -> v(0, 0), 1L -> v(0.01, 0), 2L -> v(0, 0.01),          // cluster A
      10L -> v(10, 0), 11L -> v(10.01, 0),                        // cluster B
      20L -> v(0, 10), 21L -> v(0, 10.01),                        // cluster C
      30L -> v(7, 7)                                              // outlier D
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(emb, 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val centers = got.map(_._2).toSet
    // one center per region: 0 seeds, then the three far regions follow
    assert(centers.contains(0L) && centers.size == 4, centers.toString)
    assert(Set(10L, 11L).exists(centers), centers.toString)
    assert(Set(20L, 21L).exists(centers), centers.toString)
    assert(centers.contains(30L), centers.toString)
    // every point is assigned within its own region: radius < inter-cluster gap
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 == 0L && byId(2L)._2 == 0L)
    // exact integer distance: vid 1's offset 0.01f quantizes to
    // round(float32(0.01) * 2^16) and the squared distance is that squared
    val q001 = math.round(0.01f.toDouble * 65536)
    assert(byId(1L)._3 == q001 * q001, s"${byId(1L)._3} != ${q001 * q001}")
    // members of a tight cluster sit far from other centers: coverage radius
    // (max assigned dist) is tiny next to the inter-cluster scale
    val radius = got.map(_._3).max
    val gap = math.round(10.0 * 65536).toDouble
    assert(radius < gap * gap / 100, s"radius $radius")
    // determinism: rerun equals
    val again = Similarity.kCenterSelect(emb, 4)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == again.toSeq)
  }

  test("semdedup: near-twins pruned to the lowest id, distinct vectors survive") {
    def v(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(8 - xs.length)(0.0)).map(_.toFloat).toArray
    val emb = Seq(
      0L -> v(1.0, 0.0),            // cluster around e1
      1L -> v(0.9992, 0.04),        //   cos(0,1) ≈ 0.9999 → dup of 0
      2L -> v(0.8, 0.6),            //   cos(0,2) = 0.8    → kept
      10L -> v(0.0, 0.0, 1.0),      // cluster around e3
      11L -> v(0.0, 0.0, 0.9999, 0.014), // cos(10,11) ≈ 1 → dup of 10
      12L -> v(0.0, 0.0, 0.8, 0.6)  //   kept
    ).toDF("vec_id", "embedding")
    val got = Similarity.semDedup(emb, nlist = 2, sampleSize = 6, iters = 2, tau = 0.95)
      .as[(Long, Int, Boolean)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 10L, 11L, 12L))
    // regardless of k-means geometry, near-identical pairs co-cluster and
    // the higher id of each pair is the one pruned
    val dropped = got.filterNot(_._3).map(_._1).toSet
    assert(dropped == Set(1L, 11L), s"dropped $dropped")
    val cl = got.map(r => r._1 -> r._2).toMap
    assert(cl(0L) == cl(1L) && cl(10L) == cl(11L))
  }

  test("k-center equals an independent driver replica on random corpora (property)") {
    import org.scalacheck.Gen
    // coords on a /64 grid: ×2^16 quantization is exactly k·1024 — no
    // rounding boundary can differ between engine and replica
    val gen = for {
      n <- Gen.choose(5, 14)
      pts <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-64, 64)))
    } yield pts.zipWithIndex.map { case (p, i) =>
      (i.toLong, p.map(x => (x / 64.0).toFloat).toArray)
    }
    forAll(gen) { pts =>
      val k = 3
      val got = Similarity
        .kCenterSelect(pts.toDF("vec_id", "embedding").repartition(5), k)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      // independent replica: quantize, greedy FPS, argmin assignment
      val q = pts.map { case (id, arr) =>
        id -> arr.map(x => math.round(x.toDouble * 65536): Long)
      }.toMap
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      var chosen = Vector(pts.map(_._1).min)
      while (chosen.size < k) {
        val next = q.toSeq.map { case (id, v) =>
          (chosen.map(c => d2(v, q(c))).min, id)
        }.maxBy { case (md, id) => (md, -id) }._2
        chosen = chosen :+ next
      }
      val exp = q.toSeq.map { case (id, v) =>
        val (dist, _, cvid) = chosen.zipWithIndex
          .map { case (c, r) => (d2(v, q(c)), r, c) }.min
        (id, cvid, dist)
      }.sortBy(_._1)
      assert(got == exp, s"\ngot $got\nexp $exp")
    }
  }

  test("standardize: z-scores center and scale per dimension, constant dims to zero") {
    val emb = Seq(
      1L -> Array(1.0f, 10.0f, 5.0f),
      2L -> Array(2.0f, 20.0f, 5.0f),
      3L -> Array(3.0f, 30.0f, 5.0f),
      4L -> Array(4.0f, 40.0f, 5.0f)
    ).toDF("vec_id", "embedding")
    val z = Similarity.standardize(emb)
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, csv) => id -> csv.split(",").map(_.toLong / 10000.0) }
    // constant dim 2 → all zeros
    assert(z.forall(_._2(2) == 0.0))
    // dims 0 and 1 are affine copies of each other → identical z columns
    z.foreach { case (_, v) => assert(math.abs(v(0) - v(1)) < 2e-4, v.mkString(",")) }
    // mean ≈ 0, population std ≈ 1 per non-constant dim
    for (d <- 0 to 1) {
      val col = z.map(_._2(d))
      assert(math.abs(col.sum / col.length) < 1e-3)
      val varc = col.map(x => x * x).sum / col.length
      assert(math.abs(varc - 1.0) < 1e-3, s"dim $d var $varc")
    }
    // symmetric input → symmetric z around the two middle points
    assert(z(0)._2(0) == -z(3)._2(0) && z(1)._2(0) == -z(2)._2(0))
  }

  test("standardize: near-constant dimension whose variance rounds negative clamps to 0, not NaN") {
    // n=10, code 2255512575 ×9 + (code+3) ×1: the exact DECIMAL sums
    // cast to double make ss − n·mean² = −8192 (var −819.2, verified by
    // IEEE simulation; codes kept < 2^31.5 so xq² stays in long) — sqrt
    // would be NaN, which the std===0 guard misses (NaN compares false)
    // and Spark's legacy NaN→long cast would then export as
    // engine-specific garbage. greatest(…,0) routes it to the
    // documented standardize-to-0 path.
    val xq0 = 2255512575L
    val v0 = xq0 / 65536.0
    val v1 = (xq0 + 3) / 65536.0
    val emb = ((1L to 9L).map(i => (i, Array(v0, 1.0 * i))) :+ (10L, Array(v1, 20.0)))
      .toDF("vec_id", "embedding")
    val z = Similarity.standardize(emb)
      .as[(Long, String)].collect().sortBy(_._1)
      .map { case (id, csv) => id -> csv.split(",").map(_.toLong) }
    // the near-constant dim exports 0 for every row — no NaN artifacts
    assert(z.forall(_._2(0) == 0L), z.map(_._2(0)).mkString(","))
    // the genuinely varying dim still standardizes normally
    assert(z.map(_._2(1)).distinct.length > 1)
  }

  test("hubness: in-degree counts over the candidate graph, antihubs kept at zero") {
    // vid 0 sits at the centroid of a spread cloud → everyone's neighbor;
    // vid 99 points away from all → no τ-candidate at all → in-degree 0
    def v(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(8 - xs.length)(0.0)).map(_.toFloat).toArray
    // each cloud point perturbs its OWN axis: cos(cloud, cloud) = 1/1.09
    // < cos(center, cloud) = 1/√1.09 — the center is everyone's rank-1
    val cloud = (1L to 6L).map { i =>
      val arr = Array.fill(8)(0.0f); arr(0) = 1.0f; arr(i.toInt) = 0.3f
      (i, arr)
    }
    val emb = ((0L, v(1.0, 0.0, 0.0)) +: cloud :+ ((99L, v(-1.0, 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.bruteForcePairs(emb, 0.35)
    val got = Similarity.hubnessOverPairs(emb, pairs, 2)
      .select($"vec_id", $"in_degree")
      .as[(Long, Long)].collect().toMap
    assert(got(0L) >= 6, s"central point in-degree ${got(0L)}") // near-universal neighbor
    assert(got(99L) == 0L)                                      // antihub reported at zero
    // 99 has no τ-candidate (cos < 0) so only the 7 connected vectors
    // carry a top-2 list; every edge lands on some in-degree
    assert(got.values.sum == 7 * 2)
  }

  test("hubness registered plan never moves the embedding column (no corpus broadcast)") {
    val dir = "/root/testdata/sf0.001"
    Similarity.pairCache.clear(spark)
    val qe = Similarity.hubnessQuery(spark, dir).queryExecution
    val plan = qe.executedPlan.toString
    // the embedding column is consumed entirely inside the memoized
    // blocked pair scan (bounded 1/nBlocks slice broadcasts, then
    // checkpointed); the registered plan itself carries only
    // (id, id, sim) triples — so no attribute named embedding appears
    // anywhere, let alone under a BroadcastExchange. This is the shape
    // that survives 100 TB: the old form broadcast every vector as the
    // kNN query side.
    assert(!plan.contains("embedding#") && !plan.contains("q_emb#") &&
      !plan.contains("c_emb#"), s"registered hubness plan still moves embeddings:\n$plan")
  }

  test("label centroids: exact integer class means, member counts") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 7), (2L, Array(3.0f, 0.0f), 7),   // mean (2, 0)
      (3L, Array(0.0f, 1.0f), 8), (4L, Array(0.0f, 2.0f), 8),
      (5L, Array(0.0f, 4.0f), 8)                                 // mean (0, 7/3)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(emb)
      .as[(Int, Long, String)].collect().sortBy(_._1)
      .map(r => r._1 -> ((r._2, r._3.split(",").map(_.toLong)))).toMap
    assert(got(7)._1 == 2 && got(8)._1 == 3)
    assert(got(7)._2.toSeq == Seq(2 * 65536L, 0L))
    // 7/3 quantized: round((65536+131072+262144)/3.0) — the m-step rounding
    assert(got(8)._2.toSeq == Seq(0L, math.round((65536L + 131072L + 262144L) / 3.0)))
  }

  test("hard negatives: cross-label only, margins against the hardest positive") {
    def v(xs: Double*): Array[Float] =
      (xs ++ Seq.fill(8 - xs.length)(0.0)).map(_.toFloat).toArray
    val emb = Seq(
      (0L, v(1.0, 0.0), 0),          // anchor
      (1L, v(0.9, 0.43589), 0),      // positive, cos ≈ 0.90
      (2L, v(0.95, 0.31225), 1),     // negative ABOVE the positive (hard)
      (3L, v(0.6, 0.8), 1),          // negative below (semi-hard)
      (4L, v(0.0, 1.0), 2)           // orthogonal negative
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb, numAnchors = 1, k = 3)
      .orderBy($"rank")
      .as[(Long, Long, Int, Int, Double, Double, Boolean)].collect()
    // only cross-label ids, ranked by similarity
    assert(got.map(_._2).toSeq == Seq(2L, 3L, 4L), got.mkString(","))
    assert(got.map(_._4).toSeq == Seq(1, 2, 3))
    // the harder-than-positive negative has a NEGATIVE margin and is not
    // semi-hard; the others sit below the positive
    val byId = got.map(r => r._2 -> r).toMap
    assert(byId(2L)._6 < 0 && !byId(2L)._7, byId(2L).toString)
    assert(byId(3L)._6 > 0 && byId(3L)._7)
    assert(byId(4L)._6 > 0 && byId(4L)._7)
    // margin = pos_sim - sim exactly (rounded at the same place)
    assert(math.abs((byId(3L)._5 + byId(3L)._6) - (byId(2L)._5 + byId(2L)._6)) < 2e-4)
  }
}
