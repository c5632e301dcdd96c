package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Fingerprints, VectorExprs}

/** Direct kernel-level checks of the custom Catalyst expressions. */
class VectorExprsSpec extends SparkSpec with PropertyCheck {
  import spark.implicits._

  test("minhash signature: identical token arrays → identical signatures; est ∈ [0,1]") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "q r s t u v w x")).toDF("id", "text")
    val sigs = df.select($"id", Dedup.minhashSignature(Dedup.tokens($"text"), 3, 32).as("sig"))
    val bySig = sigs.as[(Long, Array[Long])].collect().toMap
    assert(bySig(1L).toSeq == bySig(2L).toSeq)
    assert(bySig(1L).toSeq != bySig(3L).toSeq)
    assert(bySig(1L).length == 32)
  }

  test("minhash signature handles degenerate inputs (fewer tokens than shingle size)") {
    val df = Seq((1L, "one"), (2L, "one two"), (3L, "")).toDF("id", "text")
    val got = df.select($"id", Dedup.minhashSignature(Dedup.tokens($"text"), 3, 16).as("sig"))
      .as[(Long, Array[Long])].collect().toMap
    assert(got.values.forall(_.length == 16))
    assert(got(1L).toSeq != got(2L).toSeq)
  }

  test("minhash bands of a signature equal the token-array bands (pinned values, random token arrays)") {
    // the band combine as the token-array expression ran it: lanes of
    // each band folded from the band's seed, consecutive lanes per band
    def tokenArrayBands(sig: Array[Long], bands: Int): Seq[Long] = {
      val golden = 0x9e3779b97f4a7c15L
      val rows = sig.length / bands
      (0 until bands).map { b =>
        (0 until rows).foldLeft(b * golden) { (h, r) =>
          java.lang.Long.rotateLeft(h ^ (sig(b * rows + r) * golden), 27) * 5 + 0x52dce729L
        }
      }
    }
    def bandsOf(toks: Seq[Seq[String]]) = toks.toDF("toks")
      .select(VectorExprs.minhashSig($"toks", 3, 32).as("sig"))
      .select($"sig", VectorExprs.minhashBands($"sig", 16).as("bands"))
      .as[(Array[Long], Array[Long])].collect().toSeq
    // values the token-array MinHashBands(toks, 3, 32, 16) produced
    val pinned = Seq(
      "the quick brown fox jumps over the lazy dog".split(" ").toSeq -> Seq(
        -6926066819149153559L, -7542736753636257084L, 306894217494323166L, -6336775788860562113L,
        -6693769966082857697L, -5092481893974649369L, 6986088726095637027L, -1302304282926473813L,
        1145323324855704435L, -7634801696812319758L, 1944325052639148268L, -6125174174005617710L,
        2962911746453156436L, 8539850823707401279L, -1989928516298068578L, -303527705556193480L),
      Seq("a", "b") -> Seq(
        -2763167337171130691L, 2133646326067429158L, -5071990407019055489L, 6228414760216271453L,
        -2304161038542747507L, -1227639201193285022L, -3485417594268573148L, -8237341791629976038L,
        8707829831153455544L, -7969791206443588334L, -5042834829924857674L, -4450255728373017013L,
        8445083262697169366L, -6822315225136395622L, -9001524618573226927L, 4090877019997248095L),
      Seq("") -> Seq(
        6041831713669534165L, 5758993210692687025L, -1318964699827942672L, -8098147389490189461L,
        7015493366057893184L, -1947992695636318402L, -9150458193003942652L, -6789778402909466679L,
        -5929898315248366804L, -2951659872150102548L, 8302218462292068715L, -8738639964176442531L,
        2333744236133847765L, 1165896082087356429L, -8116263990660490906L, -9048406797781877330L))
    assert(bandsOf(pinned.map(_._1)).map(_._2.toSeq) == pinned.map(_._2))
    val tokenArrays = org.scalacheck.Gen.listOfN(8, org.scalacheck.Gen.choose(0, 40)
      .flatMap(org.scalacheck.Gen.listOfN(_, org.scalacheck.Gen.oneOf("a", "b", "c", "dd", "é", ""))))
    forAll(tokenArrays) { toks =>
      bandsOf(toks).foreach { case (sig, bands) =>
        assert(bands.toSeq == tokenArrayBands(sig, 16))
      }
    }
  }

  test("cosine kernel: self-similarity is 1, works under explode contexts") {
    val df = Seq((1L, Array(0.5f, 0.5f, 0.1f))).toDF("id", "v")
    val got = df.select(VectorExprs.cosineSim($"v", $"v")).as[Double].head()
    assert(math.abs(got - 1.0) < 1e-12)
    // inside a generated (exploded) projection — the path that used to
    // fall back to interpreted evaluation
    val exploded = df
      .select($"id", explode(array(lit(0), lit(1))).as("copy"), $"v")
      .select(VectorExprs.cosineSim($"v", $"v").as("sim"))
      .as[Double].collect()
    assert(exploded.forall(s => math.abs(s - 1.0) < 1e-12))
  }

  test("cosine kernel degenerate inputs: zero norm → 0.0 (not NaN), null elements count as 0") {
    val zero = Seq((1L, Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("id", "a", "b")
    val gotZero = zero.select(VectorExprs.cosineSim($"a", $"b")).as[Double].head()
    assert(gotZero == 0.0 && !gotZero.isNaN)
    val withNull = Seq((1L, Seq[Option[Double]](Some(1.0), None, Some(0.0)), Seq[Option[Double]](Some(1.0), Some(5.0), Some(0.0))))
      .toDF("id", "a", "b")
    val gotNull = withNull.select(VectorExprs.cosineSim($"a", $"b")).as[Double].head()
    // null in a counts as 0 → dot = 1, |a| = 1, |b| = sqrt(26)
    assert(math.abs(gotNull - 1.0 / math.sqrt(26.0)) < 1e-12)
  }

  test("rolling fingerprint edges: empty, shorter-than-window, window-boundary") {
    val df = Seq((1L, ""), (2L, "short"), (3L, "x" * 16), (4L, "x" * 17)).toDF("id", "t")
    val got = df.select($"id", Fingerprints.rollingFingerprint($"t", 16).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 0L) // empty → 0
    assert(got(2L) != 0L)
    // all-equal bytes: every window hash equal, min == full-window hash
    assert(got(3L) == got(4L))
  }

  test("shingles expression matches the SQL shingle strings") {
    val got = Seq(Tuple1("the quick brown fox jumps"))
      .toDF("text")
      .select(Dedup.shingles($"text", 3).as("s"))
      .as[Seq[String]].head()
    assert(got == Seq("the quick brown", "quick brown fox", "brown fox jumps"))
  }

  test("shingle_jaccard ≡ size(array_intersect)/size(array_union) of the shingle arrays (random token arrays)") {
    import org.scalacheck.Gen
    val toks = Gen.choose(0, 12).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "dd", "é", "")))
    val cases = Gen.zip(Gen.choose(1, 4), Gen.listOfN(6, Gen.zip(toks, toks)))
    forAll(cases) { case (n, pairs) =>
      val df = pairs.toDF("a", "b")
        .select(VectorExprs.shingleArray($"a", n).as("sa"), VectorExprs.shingleArray($"b", n).as("sb"),
          VectorExprs.shingleJaccard($"a", $"b", n).as("got"))
      val rows = df.select(
          (size(array_intersect($"sa", $"sb")).cast("double") / size(array_union($"sa", $"sb"))).as("want"),
          $"got")
        .as[(Double, Double)].collect()
      rows.foreach { case (want, got) => assert(got == want, (n, pairs).toString) }
    }
    val nulls = Seq((Some(Seq("a", "b", "c")), Option.empty[Seq[String]])).toDF("a", "b")
      .select(VectorExprs.shingleJaccard($"a", $"b", 3).isNull).as[Boolean].head()
    assert(nulls)
  }

  test("simhash of a permuted token multiset is identical (order-insensitive)") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha")).toDF("id", "t")
    val got = df.select($"id", Dedup.simhash($"t").as("sh")).as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
  }

  test("hyperplane components are sign-balanced (regression: 2^-53 scale left all negative)") {
    // with components uniform in [-1, 1), sign(w · 1⃗) is a fair coin per
    // bit; the buggy scale made every component negative → all 64 sign
    // bits of the all-ones vector came out 0
    val ones = Seq(Tuple1(Array.fill(64)(1.0f))).toDF("embedding")
    val sig = ones.select(VectorExprs.hyperplaneBands($"embedding", 8, 8).as("s"))
      .as[Seq[Long]].head()
    val setBits = sig.zipWithIndex.map { case (s, b) =>
      java.lang.Long.bitCount(s & 0xffL) // low 8 bits = bucket; high bits fold the band index
    }.sum
    assert(setBits >= 10 && setBits <= 54, s"sign bits heavily skewed: $setBits/64")
    // and the negated vector flips every sign bit
    val neg = Seq(Tuple1(Array.fill(64)(-1.0f))).toDF("embedding")
    val sigN = neg.select(VectorExprs.hyperplaneBands($"embedding", 8, 8).as("s"))
      .as[Seq[Long]].head()
    sig.zip(sigN).foreach { case (a, b) => assert((a & 0xffL) == (~b & 0xffL)) }
  }

  test("dup_token_frac kernel ≡ split/array_distinct composable form") {
    val cases = Seq(
      "", " ", "a", "a a", "a b a", "  leading", "trailing  ",
      "tab\tand\nnewline a a", "ünïcode tökens ünïcode", "x " * 50)
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s")
    val toks = split($"s", "\\s+")
    val composable = lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks)
    val rows = df.select($"id", Fingerprints.dupTokenFrac($"s").as("fast"),
      composable.as("slow")).as[(Long, Double, Double)].collect()
    rows.foreach { case (id, fast, slow) =>
      assert(fast == slow, s"case ${cases(id.toInt)}: $fast != $slow")
    }
  }

  test("poly token hash honors its SQL contract (base-257 mod 2^61-1)") {
    import graft.llm.Mod61
    // reference values cross-checked against DuckDB list_reduce in HUGEINT
    def hash(s: String): Long = {
      val b = s.getBytes("UTF-8")
      var h = BigInt(0); val M = (BigInt(1) << 61) - 1
      b.foreach(c => h = (h * 257 + (c & 0xff)) % M)
      h.toLong
    }
    val u = org.apache.spark.unsafe.types.UTF8String.fromString _
    for (s <- Seq("hello", "a", "", "the-quick-brown", "zzz")) {
      val us = u(s)
      assert(Mod61.polyHash(us.getBaseObject, us.getBaseOffset, us.numBytes) == hash(s), s)
    }
    assert(Mod61.polyHash(u("hello").getBaseObject, u("hello").getBaseOffset, 5) == 455418516756L)
    // the 3-round square-mixer matches its BigInt (and thus HUGEINT) replica
    def mixRef(h0: Long): Long = {
      val M = (BigInt(1) << 61) - 1
      var h = BigInt(h0)
      for (c <- Seq(2177342782468422681L, 194409311614856021L, 1609587929392839161L))
        h = (h * h + c) % M
      h.toLong
    }
    for (h <- Seq(0L, 1L, 455418516756L, (1L << 61) - 2))
      assert(Mod61.mix(h) == mixRef(h), s"mix($h)")
    // poly signatures stay inside bits 0..60 and keep order-insensitivity
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "delta gamma beta alpha")).toDF("id", "t")
    val got = df.select($"id", Dedup.simhashSql($"t").as("sh")).as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L) && (got(1L) >>> 61) == 0L)
  }

  test("IntDotProduct ≡ aggregate(zip_with) composable form; nulls as 0; prefix on mismatch") {
    val df = Seq(
      (1L, Seq[Integer](1, 2, 3), Seq[Integer](4, 5, 6)),          // 4+10+18 = 32
      (2L, Seq[Integer](127, -127), Seq[Integer](127, 127)),       // 16129-16129 = 0
      (3L, Seq[Integer](1, null, 3), Seq[Integer](7, 9, null)),    // 7+0+0 = 7
      (4L, Seq[Integer](2, 2, 2), Seq[Integer](5))                 // prefix: 10
    ).toDF("id", "a", "b")
    val got = df.select($"id", VectorExprs.intDot($"a", $"b").as("d"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 32L, 2L -> 0L, 3L -> 7L, 4L -> 10L))
    // equivalence with the higher-order composable form on non-null rows
    val composable = df.filter($"id" <= 2L).select($"id",
      aggregate(zip_with($"a", $"b", (x, y) => (x * y).cast("long")),
        lit(0L), (acc, v) => acc + v).as("d"))
      .as[(Long, Long)].collect().toMap
    assert(composable == got.view.filterKeys(_ <= 2L).toMap)
  }
}
