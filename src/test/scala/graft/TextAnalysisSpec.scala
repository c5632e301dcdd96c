package graft

import graft.llm.TextAnalysis

class TextAnalysisSpec extends SparkSpec with PropertyCheck {
  import spark.implicits._

  private def winnowOf(texts: (Long, String)*): Map[Long, Seq[(Long, Long)]] = {
    import org.apache.spark.sql.functions._
    texts.toSeq.toDF("doc_id", "text")
      .select($"doc_id",
        explode(graft.llm.Fingerprints.winnowSet(col("text"), 8, 4)).as("v"))
      .select($"doc_id", expr("v div 4294967296").as("pos"), ($"v" % 4294967296L).as("fp"))
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(_._1).toSeq).toMap
  }

  test("winnowing: shared ≥ w+k-1 byte run guarantees a shared fingerprint; density bounded") {
    val shared = "zqxvjwkpbdfghmzy" // 16 bytes ≥ w+k-1 = 11, rare chars
    val a = s"left padding text $shared and some tail"
    val b = s"совершенно другой префикс $shared other end"
    val got = winnowOf(1L -> a, 2L -> b)
    val fpsA = got(1L).map(_._2).toSet
    val fpsB = got(2L).map(_._2).toSet
    assert((fpsA & fpsB).nonEmpty, "guaranteed shared fingerprint missing")
    // density: selections ≤ windows and ≥ grams/(w) rough floor; and no
    // adjacent duplicate positions (consecutive-dedup)
    for ((_, sel) <- got) {
      assert(sel.map(_._1) == sel.map(_._1).distinct)
      assert(sel.nonEmpty && sel.size <= a.length)
    }
    // positions in range, fps strictly 32-bit
    got.values.flatten.foreach { case (pos, fp) =>
      assert(pos >= 0 && fp >= 0 && fp < 4294967296L)
    }
  }

  test("winnowing edges: shorter than k selects nothing; k..k+w-2 bytes selects exactly one") {
    val got = winnowOf(1L -> "short", 2L -> "exactly8", 3L -> "ninebytes")
    assert(!got.contains(1L))           // 5 bytes < k=8 → empty → explode drops
    assert(got(2L).size == 1)           // 1 gram, window shrinks to 1
    assert(got(3L).size == 1)           // 2 grams, window shrinks to 2 → one min
    assert(got(2L).head._1 == 0L)
  }

  test("winnow overlap report surfaces exactly the planted pair, not the unrelated corpus") {
    import org.apache.spark.sql.functions._
    val run = "the quick brown fox jumps over the lazy dog while seventeen zebras watch intently from afar"
    val rnd = new scala.util.Random(7)
    def noise(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    // docs 1 and 2 share a long verbatim run amid distinct noise; the
    // rest of the corpus is unrelated noise of similar length
    // the shared run must dominate the smaller doc: the report's
    // containment floor (MinOverlap) is met only when ≥ half the
    // smaller doc's fingerprints are shared
    val docs = (Seq(
      (1L, s"${noise(20)} $run ${noise(14)}"),
      (2L, s"${noise(17)} $run ${noise(21)}")
    ) ++ (3L to 30L).map(i => (i, noise(130)))).toDF("doc_id", "text")
    val got = TextAnalysis.winnowOverlap(docs, "text", "doc_id")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), got.toString)
  }

  test("property: WinnowSet matches an independent BigInt reference on random texts") {
    import org.scalacheck.Gen
    val M = (BigInt(1) << 61) - 1
    // independent reimplementation: BigInt modular arithmetic (no shared
    // code with Mod61's 128-bit fold), direct per-gram hashing (no
    // rolling update), naive window scan
    def reference(s: String, k: Int, w: Int): Seq[Long] = {
      val bytes = s.getBytes("UTF-8")
      val n = bytes.length - k + 1
      if (n <= 0) return Seq.empty
      val fp = (0 until n).map { i =>
        var h = BigInt(0)
        for (j <- 0 until k) h = (h * 257 + (bytes(i + j) & 0xff)) mod M
        for (c <- Seq(BigInt(2177342782468422681L), BigInt(194409311614856021L),
          BigInt(1609587929392839161L))) h = (h * h + c) mod M
        (h mod BigInt(4294967296L)).toLong
      }
      val ws = math.min(w, n)
      var last = -1
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (s0 <- 0 to n - ws) {
        val window = (s0 until s0 + ws)
        val mn = window.map(fp).min
        val pos = window.filter(p => fp(p) == mn).max // rightmost min
        if (pos != last) { out += pos.toLong * 4294967296L + fp(pos); last = pos }
      }
      out.toSeq
    }
    // biased alphabet → frequent hash ties and repeated grams
    val textGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', ' ')).map(_.mkString))
    forAll(Gen.listOfN(8, textGen)) { texts =>
      import org.apache.spark.sql.functions._
      val got = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select($"doc_id", graft.llm.Fingerprints.winnowSet(col("text"), 8, 4).as("vs"))
        .as[(Long, Seq[Long])].collect().toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == reference(t, 8, 4), s"text ${t.take(40)}…")
      }
    }
  }

  test("winnowing is local: an edit changes no selection outside its neighborhood") {
    val base = (0 until 400).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    val edited = base.updated(200, 'Z')
    val got = winnowOf(1L -> base, 2L -> edited)
    // selections whose gram [pos, pos+k) is at least w+k away from the
    // edit must be identical — winnowing decisions depend only on a
    // w+k-1-byte neighborhood
    def far(sel: Seq[(Long, Long)]) = sel.filter(p => p._1 + 8 + 4 < 200 - 4 || p._1 > 200 + 4 + 8)
    assert(far(got(1L)) == far(got(2L)))
    assert(got(1L) != got(2L)) // and the edit itself is visible
  }

  test("repetition metrics: spam scores high, varied text low, values exact") {
    val docs = Seq(
      (1L, "buy now buy now buy now buy now buy now"),       // 10 tokens, 2 distinct
      (2L, "a genuinely varied sentence with unique words throughout it all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(docs, "text", "doc_id")
      .as[(Long, Int, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val (n1, dup1, big1) = got(1L)
    assert(n1 == 10 && dup1 == 1.0 - 2.0 / 10)
    // 9 bigrams: "buy now" x5, "now buy" x4 -> top share 5/9
    assert(big1 == 5.0 / 9)
    val (n2, dup2, big2) = got(2L)
    assert(n2 == 10 && dup2 == 0.0 && big2 == 1.0 / 9)
  }

  test("repetition keeps single-token docs with a null bigram share") {
    val solo = TextAnalysis.repetition(
        Seq((9L, "alone")).toDF("doc_id", "text"), "text", "doc_id")
      .select("n_tokens", "top_bigram_frac").collect().head
    assert(solo.getInt(0) == 1 && solo.isNullAt(1))
  }

  test("unigram commonness: df math exact, rare-vocab docs score lowest") {
    val corpus = Seq(
      (0L, "the cat sat"),            // the:df3 cat:df2 sat:df1
      (1L, "the cat ran ran"),        // ran:df1 (tf 2)
      (2L, "the xylophone quetzal")   // two df-1 rarities
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.unigramCommonness(corpus, "text", "doc_id")
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect()
    // doc0: tokens 3, sum_df = 3+2+1 = 6, commonness = 6/(3*3)
    assert(rows(0) == ((0L, 3L, 6L, 6.0 / 9)))
    // doc1: tokens 4, sum_df = 3+2+1+1 = 7 (ran tf=2 counts twice)
    assert(rows(1) == ((1L, 4L, 7L, 7.0 / 12)))
    // doc2: tokens 3, sum_df = 3+1+1 = 5
    assert(rows(2) == ((2L, 3L, 5L, 5.0 / 9)))
    // rare-vocabulary docs score lowest
    val scores = rows.map(_._4)
    assert(scores(2) < scores(1) && scores(1) < scores(0))
  }

  test("vocab coverage: ranks by frequency, prefix sums reach 1.0") {
    val docs = Seq((1L, "a a a b b c"), (2L, "a b  ")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabCoverage(docs, "text", topN = 10)
      .as[(Int, String, Long, Double)].collect().toList
    assert(got == List(
      (1, "a", 4L, 0.5), (2, "b", 3L, 0.875), (3, "c", 1L, 1.0)))
  }

  test("vocab coverage: topN truncation preserves the prefix of the full curve") {
    val docs = Seq((1L, "x x x y y z w")).toDF("doc_id", "text")
    val full = TextAnalysis.vocabCoverage(docs, "text", topN = 10)
      .as[(Int, String, Long, Double)].collect().toList
    val cut = TextAnalysis.vocabCoverage(docs, "text", topN = 2)
      .as[(Int, String, Long, Double)].collect().toList
    assert(cut == full.take(2))
  }

  test("OOV by source: rates match hand counts under a tiny vocab") {
    val docs = Seq(
      (1L, "a a a b", "s1"),
      (2L, "a b c d", "s2"),
      (3L, "e e e e", "s3")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.oovBySource(docs, "text", "source", vocabN = 2)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // freqs: a=4, e=4, b=2, c=1, d=1 → top-2 (freq desc, token) = {a, e}
    assert(got("s1") == ((4L, 1L, 0.25)))
    assert(got("s2") == ((4L, 3L, 0.75)))
    assert(got("s3") == ((4L, 0L, 0.0)))
  }

  test("PII report counts planted PII; redaction zeroes the report") {
    val docs = Seq(
      (1L, "mail me at a.b+c@example.org or bob@x.io, ssn 123-45-6789"),
      (2L, "call 555-123-4567 twice: 555-123-4567"),
      (3L, "clean text with no identifiers at all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.piiReport(docs, "text", "doc_id")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) == ((2L, 1L, 0L, 3L)), s"got ${got(1L)}")
    assert(got(2L) == ((0L, 0L, 2L, 2L)), s"got ${got(2L)}")
    assert(got(3L) == ((0L, 0L, 0L, 0L)))
    // measurement after scrubbing: incidence must be exactly zero
    val scrubbed = docs.select($"doc_id", graft.llm.Corpus.redactPii($"text").as("text"))
    val after = TextAnalysis.piiReport(scrubbed, "text", "doc_id")
      .filter($"n_pii" > 0).count()
    assert(after == 0)
  }

  test("CMS heavy hitters: estimates dominate truth; the heavy token ranks first") {
    // alpha in every doc (tf 50); beta/gamma split the rest; w$i are singletons
    val docs = Seq.tabulate(50)(i =>
      (i.toLong, s"alpha w$i " + (if (i % 2 == 0) "beta" else "gamma")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.cmsHeavyHitters(docs, "text", topK = 60)
      .as[(String, Long, Long)].collect()
    assert(got.length == 53) // alpha, beta, gamma, 50 singletons
    // the CMS one-sided error guarantee: estimate never undercounts
    assert(got.forall { case (_, est, t) => est >= t },
      got.filter { case (_, est, t) => est < t }.mkString(", "))
    assert(got.head._1 == "alpha" && got.head._3 == 50L)
    // deterministic hash → identical sketch on re-run
    val again = TextAnalysis.cmsHeavyHitters(docs, "text", topK = 60)
      .as[(String, Long, Long)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("gopherFilter: each rule rejects its own planted violation") {
    val ok = "the cat sat on a mat and then the dog ran to the gate while " +
      "a bird flew over the wide green field near the old mill by the river " +
      "and all of them kept moving along the winding path toward town"
    val docs = Seq(
      (0L, ok), // passes every rule
      (1L, "the cat sat on a mat"), // too few tokens
      (2L, Seq.fill(30)("xx").mkString(" ")), // avg word len 2 < 3, all dup
      (3L, ok.replaceAll("\\b(the|a|and|of|to)\\b", "big")), // no stopwords
      (4L, ("the a " * 20).trim) // dup_token_frac ≈ 0.95
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(docs, "text", "doc_id")
      .as[(Long, Long, Int, Int, Int, Int, Int)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got(0L) == ((1, 1, 1, 1, 1)), s"got ${got(0L)}")
    assert(got(1L)._1 == 0 && got(1L)._5 == 0, s"got ${got(1L)}")
    assert(got(2L)._2 == 0 && got(2L)._4 == 0 && got(2L)._5 == 0, s"got ${got(2L)}")
    assert(got(3L)._3 == 0 && got(3L)._5 == 0, s"got ${got(3L)}")
    assert(got(4L)._4 == 0 && got(4L)._5 == 0, s"got ${got(4L)}")
  }

  test("perplexity bucketing is partition-invariant with bounded cuts (property)") {
    import org.scalacheck.Gen
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    val gen = for {
      n <- Gen.choose(4, 12)
      docs <- Gen.listOfN(n, Gen.nonEmptyListOf(Gen.oneOf(words)).map(_.take(8)))
    } yield docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    forAll(gen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val a = TextAnalysis.perplexityBuckets(df, "text", "doc_id")
        .as[(Long, Long, Double, String)].collect().sortBy(_._1).toSeq
      // quantized-BIGINT accumulation: physical layout can never change a
      // bucket — rerun over a different partitioning must be identical
      val b = TextAnalysis.perplexityBuckets(df.repartition(7), "text", "doc_id")
        .as[(Long, Long, Double, String)].collect().sortBy(_._1).toSeq
      assert(a == b)
      val n = docs.size
      val byB = a.groupBy(_._4).view.mapValues(_.size).toMap
      assert(byB.getOrElse("head", 0) <= math.ceil(n / 3.0).toInt)
      assert(byB.getOrElse("head", 0) + byB.getOrElse("middle", 0)
        <= math.ceil(2 * n / 3.0).toInt)
    }
  }

  test("grouped quality quantiles: lower-discrete semantics against a sort replica") {
    // 7 docs in one source with varied quality, 1 in another
    val texts = Seq(
      "a", "ab cd", "the cat is here now", "the and is of to the and is of to",
      "one two three four five six seven eight nine ten eleven twelve",
      "the morning light settles across the quiet harbor town and boats drift out",
      "zz yy xx ww vv uu tt ss rr qq pp oo nn mm"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t, "srcA") } :+
      ((100L, "the quick brown fox jumps over it", "srcB"))
    val docs = texts.toDF("doc_id", "text", "source")
    val got = TextAnalysis.qualityQuantilesBySource(docs)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // replicate: sort the quantized scores, take value at ceil(q*n)
    def q(text: String): Long = {
      val t = text.trim.split("\\s+").length
      val stop = "\\b(the|and|is|of|to)\\b".r.findAllIn(text.toLowerCase).length
      val awl = text.length.toDouble / t
      math.round((0.4 * math.min(1.0, t / 100.0) + 0.3 * math.min(1.0, stop * 10.0 / t) +
        (if (awl >= 3.0 && awl <= 10.0) 0.3 else 0.0)) * 1e6)
    }
    val sorted = texts.filter(_._3 == "srcA").map(t => q(t._2)).sorted
    def disc(p: Double) = sorted(math.ceil(p * sorted.size).toInt - 1) / 1e6
    val a = got("srcA")
    assert(a._2 == 7)
    assert((a._3, a._4, a._5) == ((disc(0.25), disc(0.5), disc(0.75))), a.toString)
    val b = got("srcB") // single doc: all quantiles are its own score
    assert(b._2 == 1 && b._3 == b._4 && b._4 == b._5)
  }

  test("data card: per-source rollup counts dups, english share, quantized mean quality") {
    val docs = Seq(
      (0L, "the cat and the dog is nice here", "srcA"),
      (1L, "THE  cat and the dog is nice   here", "srcA"), // norm-dup of 0
      (2L, "der hund und die katze ist gut", "srcA"),
      (3L, "the quick brown fox jumps over it", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.dataCard(docs)
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    val a = got("srcA"); val b = got("srcB")
    assert(a._2 == 3 && b._2 == 1)                 // n_docs
    assert(a._3 == 8 + 8 + 7 && b._3 == 7)         // whitespace token counts
    assert(a._4 == 2 && b._4 == 1, s"$a $b")       // en predictions (doc 2 is de)
    assert(a._5 == 2 && b._5 == 0)                 // both members of the dup pair count
    // mean quality = mean of the ×1e6-quantized per-doc scores
    def q(text: String): Double = {
      val t = text.trim.split("\\s+").length
      val stop = "\\b(the|and|is|of|to)\\b".r.findAllIn(text.toLowerCase).length
      val awl = text.length.toDouble / t
      0.4 * math.min(1.0, t / 100.0) + 0.3 * math.min(1.0, stop * 10.0 / t) +
        (if (awl >= 3.0 && awl <= 10.0) 0.3 else 0.0)
    }
    val expB = math.round(q("the quick brown fox jumps over it") * 1e6) / 1e6
    assert(math.abs(b._6 - expB) < 1e-9, s"${b._6} != $expB")
    assert(a._6 > 0.0 && a._6 <= 1.0)
  }

  test("perplexity buckets: quantized bits exact, value-monotone thirds") {
    val texts = Seq(
      0L -> "the the the the",         // all head-frequency tokens
      1L -> "the cat the cat",
      2L -> "the cat sat here",
      3L -> "some other words too",
      4L -> "rare quetzal one",
      5L -> "xylophone zygote unique") // all df-1 rarities
    val docs = texts.toDF("doc_id", "text")
    val got = TextAnalysis.perplexityBuckets(docs, "text", "doc_id")
      .as[(Long, Long, Double, String)].collect().sortBy(_._1)

    // replicate the quantized-term formula for doc 0 off-engine
    val corpus = texts.map(_._2.split(" ").toSeq)
    val cnt = corpus.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTotal = corpus.flatten.size
    val v = cnt.size
    def bitsOf(doc: Seq[String]): Double = {
      val nllQ = doc.groupBy(identity).map { case (t, occ) =>
        val p = (cnt(t) + 1.0) / (nTotal + v)
        math.round(occ.size * -(math.log(p) / math.log(2.0)) * 65536.0)
      }.sum
      nllQ.toDouble / 65536.0 / doc.size
    }
    assert(got(0)._3 == bitsOf(corpus(0)), s"bits ${got(0)._3} != ${bitsOf(corpus(0))}")
    assert(got.forall(_._2 == 4) || got.exists(_._2 == 3)) // token counts present

    // rare-token docs score strictly higher than common-token docs
    assert(got(5)._3 > got(0)._3)
    // buckets are value-monotone: every head bit <= every middle <= every tail
    val byBucket = got.groupBy(_._4).view.mapValues(_.map(_._3).toSeq).toMap
    for (h <- byBucket.getOrElse("head", Seq.empty); m <- byBucket.getOrElse("middle", Seq.empty))
      assert(h <= m)
    for (m <- byBucket.getOrElse("middle", Seq.empty); t <- byBucket.getOrElse("tail", Seq.empty))
      assert(m <= t)
    // head is a value-closed prefix of at most ceil(n/3) docs
    assert(byBucket.getOrElse("head", Nil).size <= 2)
    assert(got(0)._4 == "head" && got(5)._4 == "tail")
  }

  test("registered winnow probe path: postings scan is band-partition-pruned") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // the exact postings root and query set llm_winnow_probe uses — the
    // eager checkpoint in winnowProbe severs the returned frame from the
    // scan, so the assert runs on the split-out lazy plan
    val root = TextAnalysis.winnowPostingsRoot(spark, dir)
    val queries = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(25L)) === 7)
    val (q, plan) = TextAnalysis.winnowProbePlan(
      spark, s"$root/postings", queries, "text", "doc_id", nBands = 16,
      minShared = 4, dfCap = Some(64))
    try {
      // sparkPlan, not executedPlan: under AQE the latter is an opaque
      // AdaptiveSparkPlanExec until execution; partition filters are
      // already bound at planning
      val scans = plan.queryExecution.sparkPlan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft_winnow")) => s
      }
      assert(scans.nonEmpty, "postings scan missing from the probe plan")
      scans.foreach { s =>
        assert(s.partitionFilters.exists(_.references.exists(_.name == "band")),
          s"band partition filter missing: ${s.partitionFilters}")
      }
      // and the registered query itself returns candidates incl. self-hits
      assert(TextAnalysis.winnowProbeQuery(spark, dir).count() > 0)
    } finally graft.store.Checkpoints.free(q)
  }

  test("approx length quantiles: exact columns match a driver sort, flags hold on edge groups") {
    import spark.implicits._
    // groups exercising the seams: n=1, all-equal values, and a spread
    val docs = (Seq((1L, "s1", 7L)) ++
      (2 to 9).map(i => (i.toLong, "s2", 42L)) ++
      (10 to 109).map(i => (i.toLong, "s3", i.toLong))
    ).toDF("doc_id", "source", "n_chars")
    val got = graft.llm.TextAnalysis.lengthQuantilesApprox(docs)
      .as[(String, Long, Long, Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    def brute(vals: Seq[Long], q: Double): Long =
      vals.sorted.apply(math.ceil(vals.size * q).toInt - 1)
    val bySrc = Map(
      "s1" -> Seq(7L),
      "s2" -> (2 to 9).map(_ => 42L),
      "s3" -> (10 to 109).map(_.toLong))
    for ((src, vals) <- bySrc) {
      val (_, n, p50, p90, f50, f90) = got(src)
      assert(n == vals.size)
      assert(p50 == brute(vals, 0.5), s"$src p50: got $p50")
      assert(p90 == brute(vals, 0.9), s"$src p90: got $p90")
      assert(f50 && f90, s"$src flags: $f50/$f90")
    }
  }
}
