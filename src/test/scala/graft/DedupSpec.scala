package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.llm.{Dedup, Fingerprints}

class DedupSpec extends SparkSpec with PropertyCheck {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again until done " * 4
  private val nearDup = base.replace("lazy", "sleepy") // one-token edit
  private val distinct1 = "completely different content about spark query engines and shuffles at scale today"
  private val distinct2 = "yet another unrelated string of words forming its own little document entirely"

  private def docs = Seq(
    (0L, base), (1L, nearDup), (2L, distinct1), (3L, distinct2), (4L, base)
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min id") {
    val got = Dedup.exact(docs, "text", "doc_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 2L), (1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("minhash est-jaccard: high for near-dups, low for distinct docs") {
    val sigs = docs.select($"doc_id",
      Dedup.minhashSignature(Dedup.tokens($"text"), 3, 32).as("sig"))
    val a = sigs.select($"doc_id".as("ia"), $"sig".as("sa"))
    val b = sigs.select($"doc_id".as("ib"), $"sig".as("sb"))
    val est = a.crossJoin(b).filter($"ia" < $"ib")
      .select($"ia", $"ib", Dedup.estJaccard($"sa", $"sb", 32).as("est"))
      .as[(Long, Long, Double)].collect()
      .map { case (x, y, e) => (x, y) -> e }.toMap
    assert(est((0L, 4L)) == 1.0) // identical
    assert(est((0L, 1L)) > 0.5) // near-dup
    assert(est((0L, 2L)) < 0.3) // unrelated
    assert(est((2L, 3L)) < 0.3)
  }

  test("minhashPairs surfaces the planted near-dup pair via LSH") {
    val pairs = Dedup.minhashPairs(docs, "text", "doc_id", minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 4L)))
    assert(!pairs.contains((2L, 3L)))
  }

  /** 13000 docs of unique tokens; HotBucketBench rewrites the 130 ids
    * ≡ 7 (mod 100) to one template family — decisively past maxBucket=64
    * (a family NEAR the cap can leak members out of the hot bucket via
    * its per-doc tail token and pull the bucket back under the cap) —
    * plus one planted OFF-family near-dup pair (ids ≢ 7 mod 100).
    */
  private def hotCorpus = {
    val toks = (0 until 10).map(j => concat(lit("t"), col("id"), lit(s"x$j"), col("id")))
    val base = spark.range(13000).select(
      col("id").as("doc_id"), concat_ws(" ", toks: _*).as("text"))
    val shared = (0 until 12).map(j => s"planted$j common$j tokens$j").mkString(" ")
    val twins = Seq((90011L, shared + " alpha"), (90012L, shared + " beta"))
      .toDF("doc_id", "text")
    HotBucketBench.hotDocs(base.unionByName(twins))
  }

  /** The two-operator composition [[Dedup.verifiedNearDups]] replaces. */
  private def composedNearDups(df: org.apache.spark.sql.DataFrame) =
    Dedup.jaccardVerify(
        Dedup.minhashPairs(df, "text", "doc_id", minJaccard = 0.5).select("id_a", "id_b"),
        df, "text", "doc_id", 3)
      .filter($"jaccard" >= 0.8)
      .select("id_a", "id_b", "jaccard")

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().sorted.toSeq

  test("verifiedNearDups equals jaccardVerify(minhashPairs(…)) row for row on the hot-bucket corpus") {
    val corpus = hotCorpus
    val got = sortedRows(Dedup.verifiedNearDups(corpus, "text", "doc_id"))
    assert(got == sortedRows(composedNearDups(corpus)))
    assert(got.exists { case (a, b, _) => a == 90011L && b == 90012L }, got.take(5).toString)
  }

  test("verifiedNearDups equals jaccardVerify(minhashPairs(…)) row for row on random corpora") {
    val vocab = (0 until 40).map(i => s"w$i")
    val word = Gen.oneOf(vocab)
    // a few templates, each doc a template with up to three token edits,
    // so pairs land on both sides of the est and exact thresholds
    val corpus = for {
      templates <- Gen.listOfN(3, Gen.choose(4, 24).flatMap(Gen.listOfN(_, word)))
      n <- Gen.choose(2, 30)
      docs <- Gen.listOfN(n, for {
        t <- Gen.oneOf(templates)
        edits <- Gen.listOfN(3, Gen.zip(Gen.choose(0, 30), word))
        k <- Gen.choose(0, 3)
      } yield edits.take(k).foldLeft(t) { case (acc, (i, w)) =>
        if (i < acc.length) acc.updated(i, w) else acc
      }.mkString(" "))
    } yield docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
    forAll(corpus) { rows =>
      val df = rows.toDF("doc_id", "text")
      val got = sortedRows(Dedup.verifiedNearDups(df, "text", "doc_id"))
      assert(got == sortedRows(composedNearDups(df)), rows.toString)
    }
  }

  test("hot doc family: minhash band-cap keeps candidates under the linear bound, loss measured") {
    val corpus = hotCorpus
    val famExpected = 130L * 129 / 2
    val stats = Dedup.minhashCandidateStats(corpus, "text", "doc_id")
    assert(stats.cappedPairs <= stats.pairBound,
      s"capped ${stats.cappedPairs} > bound ${stats.pairBound}")
    // the cap dropped at least one full hot band's quadratic mass (the
    // family's k² growth — raw CROSSING the linear bound needs ~630k+
    // rows at 1% hotness; that growth-class curve is HotBucketBench's
    // artifact, the spec asserts the accounting and the drop)
    assert(stats.rawPairs - stats.cappedPairs >= famExpected,
      s"hot family mass not dropped: $stats")
    assert(stats.droppedBuckets > 0 && stats.largestBucket >= 100, stats.toString)
    val pairs = Dedup.minhashPairs(corpus, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val famFound = pairs.count { case (a, b) => a % 100 == 7 && b % 100 == 7 }
    assert(famFound < famExpected,
      s"capped family reported full recall ($famFound) — cap not engaged?")
    assert(pairs.contains((90011L, 90012L)),
      s"off-family planted pair lost; found ${pairs.length} pairs")
    // overflow path (opt-in): every capped family member still reaches a
    // representative — member recall 1.0 where the plain cap loses the
    // family — at a volume bounded by oversizedRows·reps (linear)
    val ovPairs = Dedup.minhashPairs(corpus, "text", "doc_id", overflowReps = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val famIds = (0 until 13000).map(_.toLong).filter(_ % 100 == 7).toSet
    val ovFamMembers = ovPairs.iterator
      .filter { case (a, b) => famIds(a) && famIds(b) }
      .flatMap { case (a, b) => Iterator(a, b) }.toSet
    assert(ovFamMembers == famIds,
      s"overflow lost family members: ${(famIds -- ovFamMembers).take(5)}…")
    assert(ovPairs.length.toLong <= stats.pairBound + stats.overflowBound(64),
      s"overflow pairs ${ovPairs.length} exceed the linear bounds $stats")
    // the overflow path only ADDS pairs — the capped baseline is intact
    assert(pairs.toSet.subsetOf(ovPairs.toSet))
  }

  test("simhash overflow: capped chunk buckets still pair members with representatives") {
    // a 600-member near-identical family (240-token shared template +
    // unique tail token — tail flips only near-tied simhash bits, so
    // pairwise hamming stays well inside maxHamming) floods every one
    // of its (chunk, piece) buckets past maxBucket=256; the plain cap
    // drops them whole, overflow stars members to ≤ reps sig-class
    // representatives at linear volume
    val toks = (0 until 10).map(j => concat(lit("t"), col("id"), lit(s"x$j"), col("id")))
    val famText = Seq.tabulate(240)(i => s"simspan$i word$i").mkString(" ")
    val corpus = spark.range(4000).select(col("id").as("doc_id"),
      when(col("id") < 600,
        concat(lit(famText + " tail"), col("id").cast("string")))
        .otherwise(concat_ws(" ", toks: _*)).as("text"))
    val famIds = (0L until 600L).toSet
    def famMembers(pairs: Array[(Long, Long)]): Set[Long] = pairs.iterator
      .filter { case (x, y) => famIds(x) && famIds(y) }
      .flatMap { case (x, y) => Iterator(x, y) }.toSet
    val capped = Dedup.simhashPairs(corpus, "text", "doc_id")
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val ov = Dedup.simhashPairs(corpus, "text", "doc_id", overflowReps = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // the cap engages (family mostly lost) and overflow restores every
    // member into the pair graph
    assert(famMembers(capped).size < 600,
      s"family not capped: ${famMembers(capped).size} members found without overflow")
    assert(famMembers(ov) == famIds,
      s"overflow lost ${(famIds -- famMembers(ov)).size} family members")
    // overflow only ADDS pairs
    assert(capped.toSet.subsetOf(ov.toSet))
  }

  test("llm_dedup_simhash_ovf rig is not vacuous: family oversizes the pinned cap, overflow rescues it") {
    // the registered query's own planting (plantHotDocs) against the
    // pinned maxBucket: the plain cap must actually ENGAGE (else the
    // oracle row gates nothing) and the overflow must carry the family
    val dir = "/root/testdata/sf0.001"
    val hot = Dedup.plantHotDocs(Tables.documents(spark, dir))
    val stats = Dedup.simhashCandidateStats(hot, "text", "doc_id", maxBucket = 64)
    assert(stats.droppedBuckets > 0 && stats.largestBucket >= 100L,
      s"planted family does not oversize the pinned cap: $stats")
    val famIds = (0L until 100L).toSet
    def famMembers(pairs: Array[(Long, Long)]): Set[Long] = pairs.iterator
      .filter { case (x, y) => famIds(x) && famIds(y) }
      .flatMap { case (x, y) => Iterator(x, y) }.toSet
    val plain = Dedup.simhashPairs(hot, "text", "doc_id", maxHamming = 7,
        maxBucket = 64, sig = Dedup.simhashSql)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val ovf = Dedup.simhashOverflowQuery(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    // NB: the plain cap can still reach family members here — the tail
    // token flips a few sign-0 bits, and the chunks CARRYING those bits
    // split the family into under-cap sub-buckets. Non-vacuousness is
    // therefore (a) oversized buckets exist (above), and (b) the
    // overflow star contributes pairs the capped path cannot — the
    // registered row's hash covers overflow-only rows.
    assert(famMembers(ovf) == famIds,
      s"overflow lost family members: ${(famIds -- famMembers(ovf)).take(5)}…")
    assert(plain.toSet.subsetOf(ovf.toSet))
    assert(ovf.length > plain.length,
      s"overflow added no pairs (plain ${plain.length} = ovf ${ovf.length}) — the gate would be vacuous")
  }

  test("simhash: identical texts → distance 0; near-dups close; distinct far") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(4L)) == 0)
    assert(ham(sh(0L), sh(1L)) < 16)
    assert(ham(sh(0L), sh(2L)) > ham(sh(0L), sh(1L)))
  }

  test("simhashPairs (8×8-bit pigeonhole) is exhaustive vs brute force at hamming ≤ 7") {
    val variants = (0 until 12).map { i =>
      (i.toLong, base.split(" ").updated(i % 8, s"tok$i").mkString(" "))
    }
    val df = (variants :+ (100L, base)).toDF("doc_id", "text")
    val sh = df.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- sh.keys; b <- sh.keys if a < b
      if java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 7
    } yield (a, b)).toSet
    val got = Dedup.simhashPairs(df, "text", "doc_id", maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute, s"pigeonhole missed ${brute.diff(got)} / extra ${got.diff(brute)}")
    assert(brute.nonEmpty) // the planted single-token edits must yield close pairs
  }

  test("jaccardVerify computes exact n-gram jaccard on candidate pairs") {
    val pairs = Seq((0L, 4L), (0L, 2L)).toDF("id_a", "id_b")
    val got = Dedup.jaccardVerify(pairs, docs, "text", "doc_id", 3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got((0L, 4L)) == 1.0)
    assert(got((0L, 2L)) == 0.0)
  }

  test("incremental near-dup: drops batch rewrites of corpus docs, keeps batch-internal dups") {
    val base = "the quick brown fox jumps over the lazy dog while morning light settles across the quiet harbor town"
    val rewrite = base.replace("quiet harbor town", "quiet harbor village") // J ≈ 0.9 vs base
    val fresh = "completely novel reporting about deep sea volcanic vents and the strange life that gathers there"
    val corpus = Seq((0L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, rewrite), // near-dups the corpus → dropped
      (3L, fresh), // genuinely new → kept
      (5L, fresh) // exact dup WITHIN the batch → still kept (in-batch
      // dedup is exact()/minhashQuery's job, not the cross-snapshot gate)
    ).toDF("doc_id", "text")
    val dropped = Dedup.incrementalNearDups(batch, corpus, "text", "doc_id")
      .as[Long].collect().toSet
    assert(dropped == Set(1L), s"got $dropped")
  }

  test("containment finds the quote Jaccard methods are blind to") {
    val quote = "the sly copper fox vaulted the mossy gate before dawn broke over the silent valley"
    val filler = (1 to 40).map(i => s"unrelated filler sentence number $i about rivers mountains and weather patterns").mkString(" ")
    val docs = Seq(
      (0L, quote), // the small quoted doc
      (1L, s"$filler $quote"), // big container: quote buried in 10× filler
      (2L, "completely different text about cooking pasta with garlic and fresh basil leaves tonight")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "text", "doc_id", n = 3, minContainment = 0.9)
      .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)].collect()
    // 0 is fully contained in 1 (containment 1.0); the reverse direction
    // is far below threshold (asymmetry), and 2 matches nothing
    assert(got.map(t => (t._1, t._2)).toSet == Set((0L, 1L)), s"got ${got.toSeq}")
    assert(got.head._3 == 1.0)
    // the blindness claim is real: this pair's Jaccard is tiny, so the
    // Jaccard detector at its 0.8 threshold must NOT see it
    val jacc = Dedup.jaccardVerify(
        Seq((0L, 1L)).toDF("id_a", "id_b"), docs, "text", "doc_id", n = 3)
      .select($"jaccard").as[Double].head()
    assert(jacc < 0.3, s"fixture broken: jaccard $jacc not in the blind zone")
  }

  test("property: incremental near-dup is sound (verified drops only) and finds planted rewrites") {
    // LSH candidate generation is probabilistic, so equality with the
    // naive answer is only guaranteed for CLEARLY-in/CLEARLY-out pairs:
    // the generator plants rewrites (J ≈ 0.9, miss ≤ 1.3e-7) and fresh
    // docs (J ≈ 0), and the exact-verify stage makes every reported drop
    // checkable against the naive Jaccard — soundness is unconditional.
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november")
    val docGen = Gen.pick(10, words).map(_.mkString(" "))
    val g = for {
      corpusDocs <- Gen.listOfN(3, docGen)
      rewriteOf <- Gen.chooseNum(0, 2)
      freshDoc <- docGen.suchThat(d => !corpusDocs.contains(d))
    } yield (corpusDocs, rewriteOf, freshDoc)
    def shingles3(t: String): Set[String] = {
      val toks = t.split(" ").toIndexedSeq
      (0 until math.max(toks.length - 2, 1)).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
    }
    forAll(g) { case (corpusDocs, rewriteOf, freshDoc) =>
      // rewrite = corpus doc + one appended word → shingle set grows by
      // exactly one 3-gram: J = 8/9 ≈ 0.89, LSH miss ≈ 2e-11 (a swapped
      // MIDDLE word would break three 3-grams and land at J ≈ 0.45 —
      // below threshold, not a valid plant). fresh = a random other doc.
      val rewrite = corpusDocs(rewriteOf) + " zulu"
      val corpus = corpusDocs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val batch = Seq((100L, rewrite), (101L, freshDoc)).toDF("doc_id", "text")
      val dropped = Dedup.incrementalNearDups(batch, corpus, "text", "doc_id",
          minJaccard = 0.5)
        .as[Long].collect().toSet
      val naive = Map(100L -> rewrite, 101L -> freshDoc).filter { case (_, t) =>
        corpusDocs.exists { c =>
          val (a, b) = (shingles3(t), shingles3(c))
          a.intersect(b).size.toDouble / a.union(b).size >= 0.5
        }
      }.keySet
      assert(dropped.subsetOf(naive), s"unsound drop: $dropped vs $naive") // soundness
      assert(dropped.contains(100L), "planted rewrite missed") // recall on the clear case
    }
  }

  test("property: containment pairs equal the naive all-ordered-pairs computation") {
    // small vocabulary forces heavy shingle sharing — the worst case for
    // the inverted index — and maxDf above corpus size keeps the cap out
    // of play, so the result must be EXACTLY the quadratic definition
    val vocab = Vector("red", "blue", "fox", "jumps", "river", "stone", "moon", "dog")
    val doc = Gen.chooseNum(3, 9).flatMap(len => Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val corpora = Gen.chooseNum(5, 10).flatMap(k => Gen.listOfN(k, doc))
    def naiveShingles(text: String, n: Int): Set[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").toIndexedSeq
      val nSh = math.max(toks.length - n + 1, 1)
      (0 until nSh).map(i => toks.slice(i, math.min(i + n, toks.length)).mkString(" ")).toSet
    }
    forAll(corpora) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.containmentPairs(docs, "text", "doc_id",
          n = 2, minContainment = 0.5, maxDf = 1000)
        .select($"id_a", $"id_b", $"containment").as[(Long, Long, Double)]
        .collect().map(t => ((t._1, t._2), t._3)).toMap
      val sh = texts.zipWithIndex.map { case (t, i) => i.toLong -> naiveShingles(t, 2) }.toMap
      val want = (for {
        a <- sh.keys; b <- sh.keys if a != b
        c = sh(a).intersect(sh(b)).size.toDouble / sh(a).size
        if c >= 0.5
      } yield (a, b) -> c).toMap
      assert(got.keySet == want.keySet, s"pairs ${got.keySet} != $want")
      got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12) }
    }
  }

  test("containment overflow: viral passage past the df cap still pairs members with reps") {
    // an 80-member family quoting one shared passage: every passage
    // shingle lands df = 80 > maxDf = 16, so the capped index drops them
    // whole and the family's only other shingles are df-1 tails — ZERO
    // capped candidates (the r19 viral-passage blindness). Overflow
    // stars members to ≤ reps shingle-set-class representatives and the
    // exact verify passes all of them at containment ≈ 1.
    val passage = Seq.tabulate(40)(i => s"vp$i vq$i").mkString(" ")
    val corpus = spark.range(300).select(col("id").as("doc_id"),
      when(col("id") < 80, concat(lit(passage + " vtail"), col("id").cast("string")))
        .otherwise(concat_ws(" ",
          (0 until 10).map(j => concat(lit("o"), col("id"), lit(s"w$j"))): _*)).as("text"))
    val famIds = (0L until 80L).toSet
    def famMembers(pairs: Array[(Long, Long)]): Set[Long] = pairs.iterator
      .filter { case (x, y) => famIds(x) && famIds(y) }
      .flatMap { case (x, y) => Iterator(x, y) }.toSet
    val capped = Dedup.containmentPairs(corpus, "text", "doc_id",
        n = 3, minContainment = 0.9, maxDf = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(famMembers(capped).isEmpty,
      s"fixture broken: capped path found family members ${famMembers(capped).take(5)}")
    val ovf = Dedup.containmentPairs(corpus, "text", "doc_id",
        n = 3, minContainment = 0.9, maxDf = 16, overflowReps = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(famMembers(ovf) == famIds,
      s"overflow lost ${(famIds -- famMembers(ovf)).size} family members")
    // overflow only ADDS pairs
    assert(capped.toSet.subsetOf(ovf.toSet))
  }

  test("llm_dedup_containment_ovf rig is not vacuous: passage oversizes the cap, overflow rescues it") {
    val dir = "/root/testdata/sf0.001"
    val hot = Dedup.plantViralDocs(Tables.documents(spark, dir))
    val famIds = (0L until 100L).toSet
    def famMembers(pairs: Array[(Long, Long)]): Set[Long] = pairs.iterator
      .filter { case (x, y) => famIds(x) && famIds(y) }
      .flatMap { case (x, y) => Iterator(x, y) }.toSet
    val plain = Dedup.containmentPairs(hot, "text", "doc_id",
        n = 3, minContainment = 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(famMembers(plain).isEmpty,
      s"planted passage does not defeat the cap: ${famMembers(plain).size} members found")
    val ovf = Dedup.containmentOverflowQuery(spark, dir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(famMembers(ovf) == famIds,
      s"overflow lost family members: ${(famIds -- famMembers(ovf)).take(5)}…")
    assert(plain.toSet.subsetOf(ovf.toSet))
    assert(ovf.length > plain.length,
      s"overflow added no pairs (plain ${plain.length} = ovf ${ovf.length}) — the gate would be vacuous")
  }

  test("rolling fingerprint: deterministic, content-sensitive") {
    val fp = docs.select($"doc_id", Fingerprints.rollingFingerprint($"text", 16).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(4L)) // same content → same fingerprint
    assert(fp(0L) != fp(2L))
    // re-evaluation is stable
    val fp2 = docs.select($"doc_id", Fingerprints.rollingFingerprint($"text", 16).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp == fp2)
  }

  test("connected components: transitive clusters, min-id labels, multi-round chains") {
    // chain 20-21-22-23-24 needs several propagation rounds; 1-2-3 is a
    // transitive triangle-free cluster; (10,11) an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L), (23L, 24L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
    // maxIter caps propagation; strict mode refuses truncated labels,
    // non-strict yields direct-neighbor labels only (the round loop,
    // forced: these graphs are far under the union-find bound)
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponentsWith(chain, maxIter = 1, localMaxEdgeRows = 0).collect()
    }
    val capped = Dedup.connectedComponentsWith(chain, maxIter = 1, strict = false,
        localMaxEdgeRows = 0)
      .as[(Long, Long)].collect().toMap
    assert(capped(2L) == 1L && capped(4L) == 3L)
    // reliable-checkpoint mode (cluster-scale lineage cut) is label-identical
    val ckptDir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val reliable = Dedup.connectedComponentsWith(pairs, checkpointDir = Some(ckptDir),
        localMaxEdgeRows = 0)
      .as[(Long, Long)].collect().toMap
    assert(reliable == got)
  }

  test("connected components property: union-find path ≡ round loop on random graphs") {
    def assertSame(e: Seq[(Long, Long)]): Unit = {
      val df = e.toDF("id_a", "id_b")
      val local = Dedup.connectedComponentsWith(df, localMaxEdgeRows = Long.MaxValue)
      val loop = Dedup.connectedComponentsWith(df, localMaxEdgeRows = 0)
      assert(local.schema == loop.schema, e.toString)
      val got = local.as[(Long, Long)].collect()
      assert(got.length == got.map(_._1).distinct.length, s"one row per id: $e")
      assert(got.toMap == loop.as[(Long, Long)].collect().toMap, e.toString)
    }
    // one component per shape, ids descending along chains so labels
    // must travel; offsets overlap, so shapes also merge
    val shape = for {
      b <- Gen.choose(0, 5).map(_ * 10L)
      n <- Gen.choose(1, 8)
      kind <- Gen.choose(0, 3)
      rnd <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))
    } yield kind match {
      case 0 => (0 until n).map(i => (b + i + 1, b + i.toLong))      // chain
      case 1 => (0 until n).map(i => (b + 9, b + i.toLong))          // star, max-id hub
      case 2 => (0 until n).map(i => (100 + b + 2 * i, 101 + b + 2 * i)) // isolated pairs
      case _ => rnd.map { case (x, y) => (b + x, b + y) }             // random, self-pairs too
    }
    val gen = for {
      k <- Gen.choose(0, 4)
      shapes <- Gen.listOfN(k, shape)
    } yield {
      val e = shapes.flatten
      // duplicate and reversed pairs, and a self-pair on a connected id
      e ++ e.take(2) ++ e.take(2).map(_.swap) ++ e.take(1).map { case (a, _) => (a, a) }
    }
    forAll(gen)(assertSame)
    assertSame(Seq.empty)
    assertSame(Seq((5L, 5L)))
    assertSame(Seq((3L, 2L), (2L, 1L), (1L, 2L), (1L, 2L), (7L, 7L), (9L, 8L), (9L, 6L), (9L, 7L)))
  }

  test("connected components: the union-find bound is 2·pairs ≤ localMaxEdgeRows, at the boundary") {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.ListenerBridge
    val sc = spark.sparkContext
    val group = new AtomicReference[String]("")
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group.get))
          jobs.incrementAndGet()
    }
    // jobs the call itself runs, and its labels
    def run(nPairs: Int, bound: Long): (Int, Map[Long, Long]) = {
      val chain = (0 until nPairs).map(i => (i + 1L, i.toLong)).toDF("id_a", "id_b")
      group.set(s"cc-boundary-$nPairs-$bound")
      ListenerBridge.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group.get, "cc boundary")
      val out = try Dedup.connectedComponentsWith(chain, localMaxEdgeRows = bound)
        finally sc.clearJobGroup()
      ListenerBridge.drain(sc)
      (jobs.get, out.as[(Long, Long)].collect().toMap)
    }
    sc.addSparkListener(listener)
    try {
      val k = 6
      val (atUf, atLabels) = run(k, 2L * k)
      val (ufJobs, _) = run(k, Long.MaxValue)
      val (loopJobsK, _) = run(k, 0L)
      val (aboveJobs, aboveLabels) = run(k + 1, 2L * k)
      val (loopJobs, _) = run(k + 1, 0L)
      assert(atUf == ufJobs, s"2·pairs = bound must take the union-find ($atUf vs $ufJobs jobs)")
      assert(aboveJobs == loopJobs, s"one pair above must run the loop ($aboveJobs vs $loopJobs jobs)")
      assert(ufJobs < loopJobsK, s"union-find $ufJobs jobs, loop $loopJobsK")
      assert(atLabels == (0 to k).map(_.toLong -> 0L).toMap)
      assert(aboveLabels == (0 to k + 1).map(_.toLong -> 0L).toMap)
    } finally sc.removeSparkListener(listener)
  }

  test("incremental dedup: drops corpus dups (incl. normalized), dedups within batch; bloom path identical") {
    val corpus = Seq(
      (0L, "alpha beta gamma"),
      (2L, "delta epsilon zeta"),
      (4L, "unique corpus text")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma"),        // exact corpus dup -> dropped
      (3L, "  Delta   epsilon ZETA "), // normalized corpus dup -> dropped
      (5L, "fresh content one"),
      (7L, "fresh content one"),       // within-batch dup of 5
      (9L, "fresh content two")).toDF("doc_id", "text")
    val expected = Map(5L -> 2L, 9L -> 1L)
    val plain = Dedup.incremental(batch, corpus, "text", "doc_id")
      .select($"keep_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(plain == expected)
    val bloomed = Dedup.incrementalBloom(batch, corpus, "text", "doc_id",
      expectedItems = 100L, numBits = 1024L)
      .select($"keep_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(bloomed == expected) // bloom prefilter: no false negatives, same answer
    // tiny bloom (high fpp): result must STILL be exact — fpp only costs
    // anti-join traffic, never correctness
    val tiny = Dedup.incrementalBloom(batch, corpus, "text", "doc_id",
      expectedItems = 2L, numBits = 8L)
      .select($"keep_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(tiny == expected)
    // bootstrap ingest: EMPTY corpus must keep the whole batch (the
    // bloom aggregate yields null there — must not drop everything)
    val boot = Dedup.incrementalBloom(batch, corpus.limit(0), "text", "doc_id")
      .select($"keep_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(boot == Map(1L -> 1L, 3L -> 1L, 5L -> 2L, 9L -> 1L))
  }

  test("registered-query memo rebuilds when the documents table is rewritten") {
    // the verified-pair graph is memoized per (session, fingerprint);
    // a REWRITE of the source table must rebuild it, not serve stale
    // pairs (r5 advice on the pair memos)
    val root = java.nio.file.Files.createTempDirectory("memo_inval").toString
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$root/documents.parquet")
    val twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    writeDocs(Seq((0L, twin), (1L, twin + " lambda"),
      (2L, "totally different text about arctic shipping lanes and pack ice")))
    val r1 = Dedup.queries("llm_dedup_ngram_jaccard")(spark, root)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r1 == Set((0L, 1L)), s"expected the planted near-dup pair, got $r1")
    writeDocs(Seq((0L, twin),
      (1L, "completely unrelated sentences about volcano monitoring stations"),
      (2L, "a third document, also unlike the others in every way")))
    val r2 = Dedup.queries("llm_dedup_ngram_jaccard")(spark, root)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(r2.isEmpty, s"stale memo served pairs from the overwritten table: $r2")
  }

  test("duplicatedSpans marks exactly the window positions under a shared k-gram") {
    // doc 0 and doc 1 share one exact 4-token span ("w x y z"); doc 2 is
    // all-fresh; doc 3 is too short to hold a single window
    val d = Seq(
      (0L, "a b c w x y z d e"), // 6 windows, positions 4..7 start in span? windows starting at 4 = "w x y z"
      (1L, "p q w x y z r s"), // shares "w x y z"
      (2L, "one two three four five six"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(d, "text", "doc_id", k = 4)
      .orderBy($"doc_id")
      .as[(Long, Int, Long, Option[Double])].collect()
    assert(got(0) == ((0L, 6, 1L, Some(0.166667))))
    assert(got(1) == ((1L, 5, 1L, Some(0.2))))
    assert(got(2) == ((2L, 3, 0L, Some(0.0))))
    assert(got(3) == ((3L, 0, 0L, None)))
  }

  test("stripDuplicatedSpans removes exactly the covered tokens, everywhere") {
    val d = Seq(
      (0L, "a b c w x y z d e"), // "w x y z" shared → tokens 4..7 covered
      (1L, "p q w x y z r s"), // ditto → tokens 3..6 covered
      (2L, "one two three four five six"), // untouched
      (3L, "too short") // no windows → untouched
    ).toDF("doc_id", "text")
    val got = Dedup.stripDuplicatedSpans(d, "text", "doc_id", k = 4)
      .orderBy($"doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(got(0) == ((0L, 9, 4, "a b c d e")))
    assert(got(1) == ((1L, 8, 4, "p q r s")))
    assert(got(2) == ((2L, 6, 0, "one two three four five six")))
    assert(got(3) == ((3L, 2, 0, "too short")))
    // overlapping duplicated windows: covered union, not double-removed
    val ov = Seq((0L, "m n o p q m n o p q"), (1L, "z z1 z2 z3")).toDF("doc_id", "text")
    val g2 = Dedup.stripDuplicatedSpans(ov, "text", "doc_id", k = 4)
      .orderBy($"doc_id").as[(Long, Int, Int, String)].collect()
    // dup windows start at 1,2,6,7 → cover 1..5 and 6..10: everything
    assert(g2(0) == ((0L, 10, 10, "")))
    assert(g2(1)._3 == 0)
  }

  test("ccEdgeParts: uncapped — partition count keeps tracking rows past the old 4096 ceiling") {
    // floor of 2 (SinglePartition cannot seed a join's co-partitioning)
    assert(Dedup.ccEdgeParts(0L) == 2)
    assert(Dedup.ccEdgeParts(1000L) == 2)
    // at the 2M rows/partition target: 10^10 mirrored rows needs 5001
    // partitions — the r20 code clamped this to 4096, growing partitions
    // unboundedly past 8·10^9 rows (r20 verdict #6)
    assert(Dedup.ccEdgeParts(10000000000L) == 5001)
    // far past the old cap: still linear, no ceiling
    assert(Dedup.ccEdgeParts(1000000000000L) == 500001)
    // Int saturation guard only at the absurd end
    assert(Dedup.ccEdgeParts(Long.MaxValue) == Int.MaxValue)
  }

  test("duplicatedSpans counts a span repeated WITHIN one doc as duplicated") {
    val d = Seq(
      (0L, "m n o p q m n o p q"), // "m n o p" occurs at positions 1 and 6
      (1L, "r s t u v w x y z")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(d, "text", "doc_id", k = 4)
      .orderBy($"doc_id")
      .as[(Long, Int, Long, Option[Double])].collect()
    // windows of doc 0: 7 total; "m n o p" (x2) and "n o p q" (x2) are dup'd
    assert(got(0)._3 == 4L, s"expected 4 duplicated windows, got ${got(0)}")
    assert(got(1)._3 == 0L)
  }
}
